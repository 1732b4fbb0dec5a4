package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The exactly-once per-batch store every `foreachBatch` sink here
  * lands through — the Structured Streaming form of the reference's
  * retried inserts collapsed by ReplacingMergeTree: a replayable
  * source plus a sink that is idempotent per batchId.
  *
  * Layout: each micro-batch's rows land under their own
  * `batch_seq=<part>` directory, `part = <key>-<batchId%09d>`, by a
  * dynamic partition overwrite. A replayed batch (crash before the
  * streaming checkpoint committed, whether before, during or after
  * the data write) re-OVERWRITES exactly its own part and touches no
  * other batch's files, so re-delivery never double-lands. The key
  * ([[streamKey]]) scopes parts to one checkpoint's batch sequence:
  * batchIds restart at 0 whenever a checkpoint is replaced, and the
  * fresh sequence must get fresh parts instead of clobbering the old
  * sequence's batch 0.
  *
  * The overwrite mode is set per write, never on the session: a
  * session-wide `partitionOverwriteMode` would turn every other write
  * in the session dynamic too. File-system access goes through the
  * session's Hadoop conf, so stores work on any scheme the session
  * knows.
  */
object BatchSeqStore {

  /** The partition column (and directory prefix) of every part. */
  val Col = "batch_seq"

  private val Prefix = s"$Col="

  /** Batch-sequence identity: a digest of the checkpoint path. The
    * checkpoint IS the sequence — batchIds are only comparable within
    * one checkpoint's lifetime, and a restart of the same query reuses
    * the same checkpoint (so replay detection survives restarts), while
    * a replaced checkpoint yields a new key (so its restarted batch 0
    * is recognized as new work, not a replay).
    */
  private[graft] def streamKey(checkpoint: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** The part a batch of the keyed sequence lands in. */
  def part(key: String, batchId: Long): String = f"$key%s-$batchId%09d"

  /** The directory of `part` under `root`. */
  def dir(root: Path, part: String): Path = new Path(root, Prefix + part)

  /** The part names among one directory listing. */
  def partsOf(listing: Array[FileStatus]): Seq[String] =
    listing.toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(Prefix))
      .map(_.getPath.getName.stripPrefix(Prefix))

  /** Exactly-once sink: append mode, `checkpoint`, run over what is
    * available now; each micro-batch is handed to `body` with the part
    * it lands in.
    */
  def sink(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long, String) => Unit): DataStreamWriter[Row] = {
    val key = streamKey(checkpoint)
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId, part(key, batchId))
      }
  }

  /** Land `df` as `part` of the store at `path`, replacing whatever the
    * part held; `outer` partition columns (present in `df`) nest
    * outside `batch_seq`.
    */
  def write(df: DataFrame, path: String, part: String, outer: String*): Unit =
    df.withColumn(Col, lit(part))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(outer :+ Col: _*)
      .parquet(path)

  /** The parts directly under `path` (empty when the store does not
    * exist yet); a store written with `outer` columns holds its parts
    * one level per outer column deeper.
    */
  def parts(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty else partsOf(fs.listStatus(p))
  }

  /** Every part's rows with their `batch_seq` column, leaving out
    * `except` (nullable: a replaying batch excludes its own part, which
    * partition pruning drops); None while the store has no parts.
    */
  def read(
      spark: SparkSession, path: String, except: String = null): Option[DataFrame] =
    if (parts(spark, path).isEmpty) None
    else {
      val all = spark.read.parquet(path)
      Some(if (except == null) all else all.filter(col(Col) =!= except))
    }

  /** Delete the listed parts (a missing part is no error). */
  def sweep(spark: SparkSession, path: String, parts: Seq[String]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    parts.foreach(part => fs.delete(dir(p, part), true))
  }

  /** Run a sink to completion over currently-available input
    * (test/backfill harness path).
    */
  def runAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    q.awaitTermination()
    q
  }
}
