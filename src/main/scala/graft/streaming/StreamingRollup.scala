package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

import graft.operators.CandleOps

/** Structured-Streaming restatement of the reference's realtime path
  * (SURVEY.md §2.8, §3.1): closed candles arrive on a stream, per-grain
  * OHLCV windows aggregate incrementally, finalized windows append to
  * the rollup store.
  *
  * Semantics mapping (reference → Spark):
  *   - `candle_closed_only=True` (app/data_collector.py:151): the source
  *     emits only finalized 1m candles — the stream is already
  *     event-time-complete per minute.
  *   - incremental MV cascade (app/clickhouse_schema.py:167-206): here a
  *     watermarked tumbling-window aggregation per grain; append mode
  *     emits a bucket exactly once, when the watermark passes its end.
  *   - no-watermark late data in ClickHouse (merged in place whenever it
  *     arrives): the reference's real late-data mechanism is the
  *     reconciliation watchdog (data_quality_check.py:672-681), which we
  *     keep as the batch gap/repair jobs (GapOps + recompute). The
  *     streaming watermark handles the hot path; reconciliation handles
  *     post-watermark stragglers. At-least-once sinks stay correct
  *     because the store is deduped on read (CandleOps.latestByKey) and
  *     rollup recompute is idempotent.
  */
object StreamingRollup {

  /** Watermarked tumbling OHLCV aggregation over a streaming frame.
    * The batch path's aggregate list (`CandleOps.ohlcvAggs`, shared
    * with `CandleOps.ohlcvRollup`) — the equivalence the tests assert.
    * State size is bounded by (#keys × windows inside watermark), not
    * by history.
    *
    * With `withCarriers=true` the stream emits the SAME re-aggregable
    * carrier shape as `CandleOps.ohlcvRollup(withCarriers = true)`
    * (`open_ts`/`close_ts` argmin/argmax carriers + exact long
    * `vol_cents` instead of a double `volume`) — so a store landed by
    * [[toParquetSink]] and compacted can be registered with the
    * RollupRouter and serve routed aggregates exactly like a
    * batch-built carrier store.
    */
  def streamingOhlcv(
      stream: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      grain: String,
      watermark: String,
      withCarriers: Boolean = false
  ): DataFrame =
    windowed(stream, keys, tsCol, grain, watermark,
      CandleOps.ohlcvAggs(col(valueCol), col(tsCol), withCarriers))

  /** `aggs` per key and tumbling event-time window of `grain` over a
    * stream watermarked on `tsCol`, with the window start as
    * `bucket_ts`. In append mode each window is emitted exactly once,
    * when the watermark passes its end.
    */
  private[streaming] def windowed(
      stream: DataFrame,
      keys: Seq[String],
      tsCol: String,
      grain: String,
      watermark: String,
      aggs: Seq[Column]
  ): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(keys.map(col) :+ window(col(tsCol), grain).as("__w"): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_ts", col("__w.start"))
      .drop("__w")

  /** Exactly-once sink into a parquet rollup directory, partitioned by
    * month of bucket (the reference's `PARTITION BY toYYYYMM`,
    * app/clickhouse_schema.py:162) and by batch sequence number.
    *
    * Exactly-once through the layout: each micro-batch lands as its
    * own [[BatchSeqStore]] part behind the store's replay guard, so
    * re-delivery cannot double-append, not even after a compaction
    * absorbed the batch.
    *
    * `bucket_month` stays the outer partition, so month-range pruning
    * is unaffected; readers see a `batch_seq` bookkeeping column they
    * can ignore. Compaction ([[graft.operators.RollupStore
    * .compactPartitions]], the store's OPTIMIZE FINAL analog) folds
    * the per-batch parts into one through [[BatchSeqStore.compact]]
    * on the maintenance cadence.
    */
  def toParquetSink(
      rollup: DataFrame,
      path: String,
      checkpoint: String
  ): DataStreamWriter[Row] = {
    val key = BatchSeqStore.streamKey(checkpoint)
    BatchSeqStore.sink(
      rollup.withColumn("bucket_month", date_format(col("bucket_ts"), "yyyyMM")),
      checkpoint) { (batch, batchId, _) => writeBatch(batch, path, key, batchId) }
  }

  /** One micro-batch's landing ([[toParquetSink]]'s foreachBatch body,
    * separated so the crash-window replay semantics are directly
    * spec-testable): dynamic partition overwrite into this batch's own
    * `(bucket_month, batch_seq)` partitions — idempotent under replay,
    * invisible to every other batch's partitions; skipped when a
    * compaction already absorbed the batch.
    */
  private[graft] def writeBatch(
      batch: DataFrame,
      path: String,
      key: String,
      batchId: Long
  ): Unit = {
    val part = BatchSeqStore.part(key, batchId)
    if (BatchSeqStore.admits(batch.sparkSession, path, part))
      BatchSeqStore.write(batch, path, part, "bucket_month")
  }

  /** Streaming exact dedup at ingest — the streaming half of the
    * ReplacingMergeTree contract (the reference relies on the table
    * engine to collapse re-delivered candles; we drop them before the
    * sink): duplicate key rows arriving within the watermark horizon
    * are suppressed, so an at-least-once upstream (reconnect replays,
    * producer retries) yields exactly-once rows downstream.
    * `dropDuplicatesWithinWatermark` keeps dedup state bounded by the
    * watermark (plain `dropDuplicates` on a stream retains every key
    * seen FOREVER — unusable at 100 TB/day); duplicates farther apart
    * than the watermark fall through to the store's dedup-on-read,
    * same as late data falls through to reconciliation.
    */
  def streamingDedup(
      stream: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      watermark: String
  ): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** R1 — the full cascade as streaming: fan one candle stream out to
    * every grain, each as its own independent query + sink +
    * checkpoint (so one slow grain never backpressures another; the
    * reference's MV cascade is similarly per-view). Returns
    * grain-label → writer; caller starts/awaits them.
    *
    * Each grain aggregates the RAW stream rather than the previous
    * grain's sink (unlike ClickHouse's chained MVs): chaining streaming
    * aggregations would stack watermark delays per level, and the A6
    * commutativity (cascade ≡ direct, unit-tested) makes direct
    * aggregation semantically identical.
    */
  def streamAllGrains(
      stream: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      watermark: String,
      basePath: String,
      grains: Seq[graft.model.Timeframe] = graft.model.Timeframe.RollupGrains
  ): Map[String, DataStreamWriter[Row]] =
    grains.map { g =>
      val agg = streamingOhlcv(stream, keys, tsCol, valueCol, g.sparkInterval, watermark)
      g.label -> toParquetSink(agg,
        s"$basePath/rollup_${g.label}", s"$basePath/ckpt_${g.label}")
    }.toMap
}
