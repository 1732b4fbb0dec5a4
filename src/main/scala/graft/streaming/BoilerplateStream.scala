package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.TextOps

/** Streaming line-frequency store — the incremental form of
  * [[graft.functions.TextOps.boilerplateScrub]]'s template strip:
  * each micro-batch of documents folds its per-line distinct-doc
  * counts into a standing store, and a batch scrubs against the
  * frequencies of everything ingested in EARLIER batches (the
  * exclusive semantics of the substring/minhash/simhash incremental
  * trio).
  *
  * Count algebra: document ids are unique across an append-only
  * corpus (the ingest contract every incremental store here shares),
  * so each batch's per-line DISTINCT-doc count rows are disjoint
  * contributions and the read-side SUM is exactly the whole-corpus
  * distinct-doc count per line. Like [[CmsStream]], exactly-once is
  * the PARTITION contract, not algebra: sums would double-count on a
  * replay, so each batch's contribution lands as its own
  * [[BatchSeqStore]] part behind the store's replay guard, and a
  * replay REPLACES its prior rows. Store maintenance is
  * batch-proportional (one count row per distinct line hash in the
  * batch — 16 bytes each, never line text); the read fold is one sum
  * re-aggregation over at most [[BatchSeqStore.CompactEvery]] parts,
  * which the fold compacts with the same sum.
  */
object BoilerplateStream {

  private val Schema = StructType(Seq(
    StructField("__h", LongType), StructField("__nd", LongType)))

  def toLineStore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      checkpoint: String
  ): DataStreamWriter[Row] =
    BatchSeqStore.sink(docs, checkpoint) { (batch, _, part) =>
      foldBatch(batch, idCol, textCol, storePath, part)
    }

  private[graft] def foldBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      part: String
  ): Unit = {
    val spark = batch.sparkSession
    // Compact BEFORE landing: the batch's own part then stays live
    // until the next fold, so a scrub recovering this batch can still
    // exclude it. The replay guard runs after the compaction, which
    // may absorb a replayed batch's earlier landing.
    BatchSeqStore.compactWhenDue(spark, storePath)(compact(spark, storePath))
    if (BatchSeqStore.admits(spark, storePath, part))
      BatchSeqStore.write(
        TextOps.lineRows(batch, idCol, textCol)
          .select(col(idCol), col("__h"))
          .groupBy(col("__h"))
          .agg(countDistinct(col(idCol)).as("__nd")),
        storePath, part)
  }

  /** Fold the store's parts into one with the read side's sum
    * ([[BatchSeqStore.compact]]); the fold runs it every
    * [[BatchSeqStore.CompactEvery]] parts.
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    BatchSeqStore.compact(spark, storePath, Schema, sumCounts)

  private def sumCounts(rows: DataFrame): DataFrame =
    rows.groupBy(col("__h")).agg(sum(col("__nd")).as("__nd"))

  /** The folded per-line distinct-doc counts (empty before the first
    * fold): one sum re-aggregation across per-batch contributions.
    * `except` (nullable) excludes a replaying batch's own partition —
    * the same self-exclusion view [[SubstringStream]] reads with.
    */
  def readLineCounts(
      spark: SparkSession,
      storePath: String,
      except: String = null
  ): DataFrame =
    BatchSeqStore.read(spark, storePath, Schema, except).map(sumCounts)
      .getOrElse(spark.range(0).select(col("id").as("__h"), col("id").as("__nd")))

  /** Line hashes whose standing distinct-doc count has reached
    * `minDocs` — the removal set a batch scrubs against.
    */
  def frequentHashes(
      spark: SparkSession,
      storePath: String,
      minDocs: Long,
      except: String = null
  ): DataFrame =
    readLineCounts(spark, storePath, except)
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))

  /** Scrub a batch against the STANDING store (earlier batches only —
    * exclusive, like the substring trio): same output shape as the
    * batch operator ([[TextOps.boilerplateScrub]]). A caller
    * recovering a REPLAYED batch (crash between fold and scrub, or a
    * fold-then-scrub ordering) must pass its own `batch_seq` as
    * `except` so the batch's already-folded lines do not count toward
    * `minDocs` against themselves — the [[SubstringStream]]
    * self-exclusion contract. The exclusion holds until the next
    * fold, which may compact the batch's part into the rest.
    */
  def scrubBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      minDocs: Long,
      except: String = null
  ): DataFrame =
    TextOps.scrubAgainst(batch, idCol, textCol,
      frequentHashes(batch.sparkSession, storePath, minDocs, except))
}
