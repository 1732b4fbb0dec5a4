package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.model.Timeframe
import graft.operators.{CandleOps, GapOps, RollupStore}
import graft.streaming.StreamingRollup

/** `candle`: the collector's candle path. Set-up lands the seeded tick
  * history through the streaming backfill (streaming dedup, then the
  * exactly-once 1m parquet rollup store) and builds the 1h rollup
  * store; the client then reads, in a fixed order, a rollup, an EMA
  * member and the missing-bucket watchdog over the seeded `events`
  * table, and a Williams %R screen. The watchdog's gap scan over the
  * landed 1m store is checked against the planted gaps.
  *
  * Inputs (generated from the seed, see gen.py): `events.parquet`,
  * tick files `ticks/part-NN.parquet` in delivery order (duplicate
  * deliveries and late ticks included) and `ticks.properties` with
  * the planted gaps.
  */
final class CandleWorkload(
    spark: SparkSession, h: Harness, progress: ProgressListener, data: String, work: String)
    extends Workload {

  private val grain = Timeframe.parse("1m")
  private val watermark = "2 minutes"
  private val keys = Seq("symbol")
  private val meta = Main.properties(s"$data/ticks.properties")
  private val tickSchema = spark.read.parquet(s"$data/ticks").schema
  private def ticks: DataFrame = spark.read.parquet(s"$data/ticks")
  private def distinctTicks: DataFrame = ticks.dropDuplicates("symbol", "trade_id")
  private val backfillDir = s"$work/backfill"
  private val store = s"$backfillDir/rollup_${grain.label}"
  private val rollup1h = s"$work/rollup_1h"
  /** Deliveries offered to the dedup stage plus the distinct ticks it
    * hands to the rollup stage.
    */
  val offeredRows: Long = meta("offered").toLong + meta("ticks").toLong

  def backfill(): Backfill = {
    val t0 = System.currentTimeMillis()
    val c0 = Cpu.seconds()
    // Two stages, as the engine's streaming operators compose: each
    // defines its own watermark, and Spark refuses a second watermark
    // on one stream. Stage one drops re-delivered ticks and lands the
    // distinct ticks through a parquet file sink; stage two rolls them
    // up into the 1m store, and keeps running until its no-data batch
    // has flushed every window the final watermark closed.
    h.timed("backfill_dedup", "streaming.StreamingRollup", "build") {
      val raw = spark.readStream.schema(tickSchema).parquet(s"$data/ticks")
      StreamingRollup.streamingDedup(raw, Seq("symbol", "trade_id"), "ts", watermark)
        .writeStream.format("parquet").outputMode("append")
        .option("path", s"$backfillDir/ticks")
        .option("checkpointLocation", s"$backfillDir/ckpt_dedup")
        .trigger(Trigger.AvailableNow()).queryName("backfill-dedup")
        .start().awaitTermination()
    }
    h.timed("backfill_rollup", "streaming.StreamingRollup", "build") {
      val deduped = spark.readStream.schema(tickSchema).parquet(s"$backfillDir/ticks")
      StreamingRollup.streamAllGrains(deduped, keys, "ts", "price", watermark, backfillDir, Seq(grain))
        .foreach { case (g, wr) =>
          val q = wr.queryName(s"backfill-$g").trigger(Trigger.ProcessingTime(0L)).start()
          q.processAllAvailable()
          q.stop()
        }
    }
    val wallS = (System.currentTimeMillis() - t0) / 1000.0
    val cpuS = Cpu.seconds() - c0
    // freshness of each landed 1m row: the commit of the micro-batch
    // that wrote it, since the whole history was offered at the start
    val commits = progress.snapshot().filter(_.query == s"backfill-${grain.label}")
      .map(p => p.batchId -> p.commitMs).toMap
    val freshness = spark.read.parquet(store).select("batch_seq").collect().toSeq
      .flatMap(r => commits.get(r.getString(0).split("-").last.toLong))
      .map(c => (c - t0) / 1000.0)
    Backfill(wallS, cpuS, meta("offered").toLong, freshness, Main.dirBytes(store), Main.dirBytes(s"$data/ticks"))
  }

  /** The 1h rollup as a plain month-partitioned store. */
  def build(rep: Int): Unit =
    h.timed("rollup_store_build", "operators.RollupStore", "build") {
      RollupStore.build(distinctTicks, keys, "ts", "price", "1 hour", rollup1h)
    }

  private def q(name: String, layer: String): Query =
    Query(name, layer, () => SparkEntry.queries(name)(spark, data))

  val oracleQueries: Seq[String] = Seq(
    "q_ohlcv_rollup_15m", "q_ewma_vol", "q_missing_buckets", "q_williams_r")

  def ops(pass: Int): Seq[Op] = Seq(
    q("q_ohlcv_rollup_15m", "operators.CandleOps"),
    q("q_ewma_vol", "operators.CandleOps"),
    q("q_missing_buckets", "operators.GapOps"),
    q("q_williams_r", "operators.MicrostructureOps"))

  private def gapScan(): DataFrame =
    GapOps.multiGrainGapScan(spark.read.parquet(store), keys, "bucket_ts", Seq(grain))

  /** The planted gaps, as the gap scan reports them. */
  private def plantedGaps(): DataFrame = {
    import spark.implicits._
    val planted = meta("gaps").split(";").filter(_.nonEmpty).map { g =>
      val Array(s, a, b, n) = g.split(",")
      (s, a, b, n.toLong)
    }.toSeq
    val schema = gapScan().schema
    planted.toDF("symbol", "range_start", "range_end", "n_missing")
      .select(col("symbol"), lit(grain.label).as("grain"),
        to_timestamp(col("range_start")).as("range_start"),
        to_timestamp(col("range_end")).as("range_end"), col("n_missing"))
      .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  /** The streamed 1m store equals a batch rollup of the distinct ticks
    * in both directions: every landed row is the batch row of its
    * bucket, and every bucket the final watermark closed has landed
    * (order-independent checksums). The gap scan over it finds exactly
    * the planted gaps.
    */
  def checks(): Seq[(String, Boolean, String)] = {
    val names = Seq("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    val got = spark.read.parquet(store).select(names.map(col): _*)
    val want = CandleOps.ohlcvRollup(distinctTicks, keys, "ts", "price", grain.sparkInterval)
    val cutoffUs = meta("max_ts_us").toLong - (120L + 60L) * 1000000L
    val closed = unix_micros(col("bucket_ts")) + grain.seconds * 1000000L < cutoffUs
    val Seq(landed, gotClosed) = Checksum.of(got, Seq(lit(true), closed), names)
    val Seq(batchOfLanded, wantClosed) = Checksum.of(
      want.join(got.select(col("symbol"), col("bucket_ts"), lit(true).as("__landed")),
        Seq("symbol", "bucket_ts"), "left"),
      Seq(col("__landed").isNotNull, closed), names)
    val (found, planted) = (Checksum.of(gapScan()), Checksum.of(plantedGaps()))
    Seq(
      ("store_1m_equals_batch", landed == batchOfLanded && gotClosed == wantClosed,
        s"landed=$landed batch=$batchOfLanded closed_landed=$gotClosed closed_batch=$wantClosed"),
      ("gap_scan_finds_planted_gaps", found == planted, s"found=$found planted=$planted"))
  }

  def functionRows(): DataFrame =
    graft.sources.Tables.events(spark, data).select(col("ts"), col("value"), col("props").as("text"))

  def tableReads(): Seq[DataFrame] = Seq(graft.sources.Tables.events(spark, data))
}
