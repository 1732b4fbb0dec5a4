package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.operators.BloomOps

/** Streaming bloom-filter store — the stream twin of
  * [[graft.operators.BloomOps.bloomWords]]: each micro-batch of keys
  * folds its sparse (word index, or'd bits) contribution into a
  * standing store, and the read side bit_or's across batches into
  * exactly the filter the batch operator builds from the whole key
  * set at once.
  *
  * The OR algebra makes the folded filter independent of batch
  * boundaries and arrival order, and a re-delivered batch re-ORs bits
  * that are already set. Each batch's contribution still lands as its
  * own [[BatchSeqStore]] part behind the store's replay guard, like
  * every other store, so a torn write never leaves a partial part
  * visible next to a committed one; the fold is a pure function of the
  * batch, with no standing-store read. Store maintenance is
  * batch-proportional (≤ min(k·|batch|, numWords) rows per batch); both
  * folds compact their store with the read side's bit_or once it holds
  * [[BatchSeqStore.CompactEvery]] parts, so the read-side fold is
  * ≤ numWords·CompactEvery rows, bounded by the filter's
  * [[BloomOps.MaxWords]] cap.
  */
object BloomStream {

  private val WordSchema = StructType(Seq(
    StructField("__w", IntegerType), StructField("__bits", LongType)))
  private val ShardSchema = StructType(StructField("__shard", IntegerType) +: WordSchema.fields)

  def toBloomStore(
      keys: DataFrame,
      keyCol: String,
      numWords: Int,
      k: Int,
      storePath: String,
      checkpoint: String
  ): DataStreamWriter[Row] =
    BatchSeqStore.sink(keys, checkpoint) { (batch, _, part) =>
      foldBatch(batch, keyCol, numWords, k, storePath, part)
    }

  private[graft] def foldBatch(
      batch: DataFrame,
      keyCol: String,
      numWords: Int,
      k: Int,
      storePath: String,
      part: String
  ): Unit = {
    val spark = batch.sparkSession
    if (BatchSeqStore.admits(spark, storePath, part)) {
      BatchSeqStore.write(BloomOps.bloomWordRows(batch, keyCol, numWords, k), storePath, part)
      BatchSeqStore.compactWhenDue(spark, storePath)(compactWords(spark, storePath))
    }
  }

  /** Fold the plain store's parts into one with the read side's bit_or
    * ([[BatchSeqStore.compact]]); the fold runs it every
    * [[BatchSeqStore.CompactEvery]] parts.
    */
  def compactWords(spark: SparkSession, storePath: String): Unit =
    BatchSeqStore.compact(spark, storePath, WordSchema, orWords)

  private def orWords(rows: DataFrame): DataFrame =
    rows.groupBy(col("__w")).agg(expr("bit_or(__bits)").as("__bits"))

  /** The folded filter as sparse word rows (empty before the first
    * fold): one bit_or re-aggregation across the per-batch
    * contributions.
    */
  def readWordRows(spark: SparkSession, storePath: String): DataFrame =
    BatchSeqStore.read(spark, storePath, WordSchema).map(orWords)
      .getOrElse(spark.range(0).select(col("id").cast("int").as("__w"),
        col("id").as("__bits")))

  /** The folded filter dense — ready for
    * [[BloomOps.flagBatch]]/[[BloomOps.mightContainFromHashes]].
    */
  def readWords(
      spark: SparkSession, storePath: String, numWords: Int): Array[Long] =
    BloomOps.wordsArray(readWordRows(spark, storePath), numWords)

  // ---- sharded store: the 100 TB path --------------------------------
  //
  // The literal path above is bounded by [[BloomOps.MaxWords]] (16 MiB)
  // because readWords COLLECTS the folded filter to the driver and
  // flagBatch plants it in the plan as a literal — per-trigger cost
  // grows with the FILTER (store-proportional: measured 0.98 → 4.15 s
  // sf1 → sf10, STREAM_STORE_LATENCY_r14). The sharded path keeps the
  // filter cluster-resident as the (shard, word, bits) relation the
  // batch operator already ships (BloomOps.bloomShardRows /
  // q_bloom_sharded): the fold appends the batch's shard-row
  // contribution (batch-proportional), the probe JOINS the folded
  // relation (nothing collects, no plan literal), and nShards ·
  // wordsPerShard is bounded by cluster storage, not the driver.

  /** Streaming sink for the SHARDED bloom store: each micro-batch
    * appends its (shard, word, bits) contribution as its own
    * partition. Same OR-algebra exactly-once as the literal path —
    * replays re-OR set bits.
    */
  def toShardedStore(
      keys: DataFrame,
      keyCol: String,
      nShards: Int,
      wordsPerShard: Int,
      k: Int,
      storePath: String,
      checkpoint: String
  ): DataStreamWriter[Row] =
    BatchSeqStore.sink(keys, checkpoint) { (batch, _, part) =>
      foldBatchSharded(batch, keyCol, nShards, wordsPerShard, k, storePath, part)
    }

  private[graft] def foldBatchSharded(
      batch: DataFrame,
      keyCol: String,
      nShards: Int,
      wordsPerShard: Int,
      k: Int,
      storePath: String,
      part: String
  ): Unit = {
    val spark = batch.sparkSession
    if (BatchSeqStore.admits(spark, storePath, part)) {
      BatchSeqStore.write(
        BloomOps.bloomShardRows(batch, keyCol, nShards, wordsPerShard, k), storePath, part)
      BatchSeqStore.compactWhenDue(spark, storePath)(compact(spark, storePath))
    }
  }

  /** The folded sharded filter as a cluster-resident relation (empty
    * before the first fold): one bit_or re-aggregation across the
    * per-batch contributions — never collected, never a plan literal.
    */
  def readShardRows(spark: SparkSession, storePath: String): DataFrame =
    BatchSeqStore.read(spark, storePath, ShardSchema).map(orShards)
      .getOrElse(spark.range(0).select(col("id").cast("int").as("__shard"),
        col("id").cast("int").as("__w"), col("id").as("__bits")))

  /** Probe a batch against the folded sharded store by JOIN — the
    * streaming read side of [[BloomOps.flagBatchSharded]]: probe
    * volume is k rows per distinct batch key, and the store side is a
    * columnar scan + bit_or fold of the word relation, bounded by the
    * filter's bit budget, not by the key count — no driver literal at
    * any store size.
    */
  def probeBatch(
      batch: DataFrame,
      keyCol: String,
      storePath: String,
      nShards: Int,
      wordsPerShard: Int,
      k: Int
  ): DataFrame =
    BloomOps.flagBatchSharded(batch, keyCol,
      readShardRows(batch.sparkSession, storePath),
      nShards, wordsPerShard, k)

  private def orShards(rows: DataFrame): DataFrame =
    rows.groupBy(col("__shard"), col("__w")).agg(expr("bit_or(__bits)").as("__bits"))

  /** Compact the sharded store's parts into one, bounding the read
    * side's fold at (filter bits)/64 rows: [[BatchSeqStore.compact]]
    * with the read side's bit_or; the fold runs it every
    * [[BatchSeqStore.CompactEvery]] parts.
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    BatchSeqStore.compact(spark, storePath, ShardSchema, orShards)
}
