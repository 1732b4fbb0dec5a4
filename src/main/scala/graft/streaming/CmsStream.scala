package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.operators.CmsOps

/** Streaming count-min store — the stream twin of
  * [[graft.operators.CmsOps.cmsCells]]: each micro-batch folds its
  * sparse (depth, cell, count) contribution into a standing store and
  * the read side SUM-folds across batches into exactly the whole-
  * stream sketch.
  *
  * Exactly-once is the PARTITION contract, not algebra: unlike the
  * bloom store's bit_or (where a replayed batch re-ORs set bits), a
  * re-summed batch would double-count — so each batch's contribution
  * lands as its own [[BatchSeqStore]] part, a replay REPLACES its
  * prior contribution instead of adding to it, and the store's replay
  * guard skips a replay of a batch that compaction already absorbed.
  * Counts are mergeable across batches by plain addition, so batch
  * boundaries and arrival order stay invisible.
  * Store maintenance is batch-proportional (≤ min(depth·|batch|,
  * depth·width) rows per batch); the fold compacts the store with the
  * same sum once it holds [[BatchSeqStore.CompactEvery]] parts, so the
  * read fold is bounded by [[CmsOps.MaxCells]]·CompactEvery rows.
  */
object CmsStream {

  private val Schema = StructType(Seq(StructField("__d", IntegerType),
    StructField("__c", IntegerType), StructField("__count", LongType)))

  def toCmsStore(
      keys: DataFrame,
      keyCol: String,
      width: Int,
      depth: Int,
      storePath: String,
      checkpoint: String
  ): DataStreamWriter[Row] =
    BatchSeqStore.sink(keys, checkpoint) { (batch, _, part) =>
      foldBatch(batch, keyCol, width, depth, storePath, part)
    }

  private[graft] def foldBatch(
      batch: DataFrame,
      keyCol: String,
      width: Int,
      depth: Int,
      storePath: String,
      part: String
  ): Unit = {
    val spark = batch.sparkSession
    if (BatchSeqStore.admits(spark, storePath, part)) {
      BatchSeqStore.write(CmsOps.cmsRows(batch, keyCol, width, depth), storePath, part)
      BatchSeqStore.compactWhenDue(spark, storePath)(compact(spark, storePath))
    }
  }

  /** Fold the store's parts into one with the read side's sum
    * ([[BatchSeqStore.compact]]); the fold runs it every
    * [[BatchSeqStore.CompactEvery]] parts.
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    BatchSeqStore.compact(spark, storePath, Schema, sumCells)

  private def sumCells(rows: DataFrame): DataFrame =
    rows.groupBy(col("__d"), col("__c")).agg(sum(col("__count")).as("__count"))

  /** The folded sketch as sparse cell rows (empty before the first
    * fold): one sum re-aggregation across per-batch contributions.
    */
  def readCellRows(spark: SparkSession, storePath: String): DataFrame =
    BatchSeqStore.read(spark, storePath, Schema).map(sumCells)
      .getOrElse(spark.range(0).select(col("id").cast("int").as("__d"),
        col("id").cast("int").as("__c"), col("id").as("__count")))

  /** The folded sketch dense — ready for [[CmsOps.estimateBatch]]. */
  def readCells(
      spark: SparkSession,
      storePath: String,
      width: Int,
      depth: Int
  ): Array[Long] =
    CmsOps.cellsArray(readCellRows(spark, storePath), width, depth)
}
