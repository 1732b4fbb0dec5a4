package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

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
  * lands as its own [[BatchSeqStore]] part, and a replay REPLACES its
  * prior contribution instead of adding to it. Counts are mergeable
  * across batches by plain addition, so batch boundaries and arrival
  * order stay invisible.
  * Store maintenance is batch-proportional (≤ min(depth·|batch|,
  * depth·width) rows per batch); the read fold is bounded by
  * [[CmsOps.MaxCells]]·nBatches rows.
  */
object CmsStream {

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
  ): Unit =
    BatchSeqStore.write(CmsOps.cmsRows(batch, keyCol, width, depth), storePath, part)

  /** The folded sketch as sparse cell rows (empty before the first
    * fold): one sum re-aggregation across per-batch contributions.
    */
  def readCellRows(spark: SparkSession, storePath: String): DataFrame =
    BatchSeqStore.read(spark, storePath)
      .map(_.groupBy(col("__d"), col("__c")).agg(sum(col("__count")).as("__count")))
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
