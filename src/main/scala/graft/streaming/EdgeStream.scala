package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{
  ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.operators.GraphOps

/** Streaming maintenance of the co-purchase edge store — the stream
  * twin of [[GraphOps.foldItemEdgeSupports]]: each micro-batch of
  * basket facts is reduced to its pair-support DELTA and lands as its
  * own [[BatchSeqStore]] part; supports are additive over baskets, so
  * the read side SUM-merges the parts into exactly the batch
  * derivation over everything ingested (EdgeStreamSpec asserts stream
  * ≡ batch across micro-batch slicings and across compaction points).
  *
  * Ordering contract: a basket's facts must arrive within ONE
  * micro-batch (what an order-completion feed delivers — a basket is
  * published when it closes). A basket split across batches would
  * count its cross-batch pairs zero times, same as the fold's batch
  * form; route open baskets through a session-window assembler first
  * if the upstream emits item-at-a-time.
  *
  * The per-trigger fold writes ONLY the batch's aggregated pair
  * supports: trigger cost is bounded by the delta's pair volume,
  * independent of the standing store's size (STREAM_STORE_LATENCY_r15
  * steady ratio 1.16 sf10/sf1). Every `compactEvery` parts the fold
  * compacts the store with the same SUM ([[BatchSeqStore.compact]]),
  * amortizing the store-proportional merge over the interval and
  * bounding the read side's fold at compactEvery parts. Sums are not
  * idempotent, so exactly-once rests on the store's part contract (a
  * replay REPLACES its own part) and on its replay guard: a replay of
  * a batch that compaction already absorbed is skipped, and a batch
  * sequence that does not match the store's history fails fast.
  *
  * The compacted part is a plain part, not a bucketed table. Measured
  * on StoreLatency's edge store (one compaction, then five delta
  * folds; sf0.01 and sf0.1 standing stores of 115,729 and 1,196,000
  * supports; `readStore(...).count()`, median of 7 reads, two runs
  * each; 4 vCPUs, `local[2]`): the two-generation bucketed base read
  * in 0.62/0.58 s and 0.75/0.74 s, this read in 0.69/0.74 s and
  * 0.83/0.78 s, and a plain SUM over all parts in 0.31/0.32 s and
  * 2.12/1.90 s. The bucketed base is within the run-to-run spread of
  * this read at sf0.1 and loses to the plain SUM at sf0.01, so the
  * generations, their catalog tables and their epochs went; the plain
  * SUM shuffles the whole store and loses as it grows, hence the
  * merge in [[readStore]].
  *
  * Single-writer contract: one fold/compaction driver per storePath
  * at a time ([[foldBatch]] auto-compacts in the same thread).
  */
object EdgeStream {

  /** Store schema, fixed at (x long, y long, support long):
    * [[GraphOps.itemEdgeSupports]] canonicalizes every item id to
    * long, so the long-id contract is the whole edge chain's,
    * enforced at [[foldBatch]].
    */
  private val Schema = StructType(
    Seq("x", "y", "support").map(StructField(_, LongType)))

  /** Fold the stream of (basket, item) facts into the support store at
    * `storePath`: per-trigger delta parts, compacted every
    * `compactEvery` parts.
    */
  def toSupportStore(
      facts: DataFrame,
      basketCol: String,
      itemCol: String,
      storePath: String,
      checkpoint: String,
      compactEvery: Int = BatchSeqStore.CompactEvery
  ): DataStreamWriter[Row] = {
    val key = BatchSeqStore.streamKey(checkpoint)
    BatchSeqStore.sink(facts, checkpoint) { (batch, batchId, _) =>
      foldBatch(batch, basketCol, itemCol, storePath, batchId, key, compactEvery)
    }
  }

  private def supports(parts: DataFrame): DataFrame =
    parts.groupBy(col("x"), col("y")).agg(sum(col("support")).as("support"))

  /** The standing support table as currently committed (empty frame
    * with the store's schema before the first fold): the SUM of every
    * live part's supports. Once compacted, the store is one part with
    * one row per pair plus the open deltas, so only the compacted rows
    * whose pair a delta touches are summed again: the delta's pairs
    * join into two scans of the compacted part (a broadcast while they
    * are small) instead of the whole store being shuffled.
    */
  def readStore(spark: SparkSession, storePath: String): DataFrame =
    BatchSeqStore.read(spark, storePath, Schema).map { parts =>
      val compacted = BatchSeqStore.parts(spark, storePath).filter(BatchSeqStore.isCompacted)
      val inBase = col(BatchSeqStore.Col).isin(compacted: _*)
      val base = parts.filter(inBase)
      val delta = parts.filter(!inBase)
      if (compacted.isEmpty) supports(parts)
      else {
        val touched = delta.select("x", "y").distinct()
        base.join(touched, Seq("x", "y"), "left_anti").select(col("x"), col("y"), col("support"))
          .unionByName(supports(base.join(touched, Seq("x", "y"), "left_semi").unionByName(delta)))
      }
    }.getOrElse(spark.range(0).select(
      col("id").as("x"), col("id").as("y"), col("id").as("support")))

  /** Fold one batch of facts as batch `batchId` of the sequence
    * `streamKey` (folds made outside a stream share the key "-").
    */
  private[graft] def foldBatch(
      batch: DataFrame,
      basketCol: String,
      itemCol: String,
      storePath: String,
      batchId: Long,
      streamKey: String = "-",
      compactEvery: Int = BatchSeqStore.CompactEvery
  ): Unit = {
    val itemType = batch.schema(itemCol).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(itemType),
      s"EdgeStream: item column '$itemCol' is $itemType; the edge store " +
        "requires integral (long-castable) item ids — GraphOps." +
        "itemEdgeSupports canonicalizes endpoints to long, and a non-" +
        "integral id would fail the fold's join mid-stream. Map string " +
        "ids through a dictionary (e.g. hash or a dimension join) first.")
    val spark = batch.sparkSession
    val part = BatchSeqStore.part(streamKey, batchId)
    if (BatchSeqStore.admits(spark, storePath, part)) {
      val delta = GraphOps.itemEdgeSupports(batch, basketCol, itemCol, pinWidth = false)
        .select(col("x").cast(LongType), col("y").cast(LongType),
          col("support").cast(LongType))
      BatchSeqStore.write(delta, storePath, part)
      BatchSeqStore.compactWhenDue(spark, storePath, compactEvery)(compact(spark, storePath))
    }
  }

  /** Absorb every live part into one compacted part of summed
    * supports ([[BatchSeqStore.compact]]). Honors the single-writer
    * contract (scaladoc above).
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    BatchSeqStore.compact(spark, storePath, Schema, supports)
}
