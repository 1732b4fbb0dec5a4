package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

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
  * lands as a dynamic overwrite of its own `batch_seq=<key>-<id>`
  * partition, and a replay REPLACES its prior contribution instead of
  * adding to it. Counts are mergeable across batches by plain
  * addition, so batch boundaries and arrival order stay invisible.
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
  ): DataStreamWriter[Row] = {
    val key = EdgeStream.streamKey(checkpoint)
    keys.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, keyCol, width, depth, storePath,
          f"$key%s-$batchId%09d")
      }
  }

  private[graft] def foldBatch(
      batch: DataFrame,
      keyCol: String,
      width: Int,
      depth: Int,
      storePath: String,
      part: String
  ): Unit =
    CmsOps.cmsRows(batch, keyCol, width, depth)
      .withColumn("batch_seq", lit(part))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_seq")
      .parquet(storePath)

  /** The folded sketch as sparse cell rows (empty before the first
    * fold): one sum re-aggregation across per-batch contributions.
    */
  def readCellRows(spark: SparkSession, storePath: String): DataFrame =
    if (!exists(spark, storePath))
      spark.range(0).select(col("id").cast("int").as("__d"),
        col("id").cast("int").as("__c"), col("id").as("__count"))
    else
      spark.read.parquet(storePath)
        .groupBy(col("__d"), col("__c"))
        .agg(sum(col("__count")).as("__count"))

  /** The folded sketch dense — ready for [[CmsOps.estimateBatch]]. */
  def readCells(
      spark: SparkSession,
      storePath: String,
      width: Int,
      depth: Int
  ): Array[Long] =
    CmsOps.cellsArray(readCellRows(spark, storePath), width, depth)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.getPath.getName.startsWith("batch_seq="))
  }
}
