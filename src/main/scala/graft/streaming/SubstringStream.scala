package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{
  ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.functions.TextOps

/** Streaming exact-substring dedup against a standing shingle-hash
  * store — the stream twin of
  * [[graft.functions.TextOps.substringCrossSpans]] (the r11 substring
  * family's incremental form), completing the incremental-ingest trio
  * alongside the minhash and simhash cross folds.
  *
  * Per micro-batch of documents, two outputs land:
  *   - SPANS: the batch's maximal token spans whose every k-token
  *     window already occurs in the standing corpus (everything
  *     ingested in EARLIER batches — same exclusive semantics as the
  *     batch operator, where the new batch is not part of the
  *     corpus), appended under the batch's own partition of
  *     `spansPath`;
  *   - STORE: the batch's distinct shingle hashes NOT yet in the
  *     store, appended under the batch's own partition of
  *     `storePath`.
  *
  * Store shape — APPEND-ONLY, batch-proportional: because the state
  * is a distinct-hash SET, the fold appends only the hashes absent
  * from the standing store (per-batch parts are DISJOINT by
  * construction, so the store's union is the distinct set and no
  * re-aggregation ever happens on the fold path). Once the store
  * holds [[BatchSeqStore.CompactEvery]] parts, the fold compacts them
  * into one distinct set ([[BatchSeqStore.compact]]), so the standing
  * scan reads a bounded number of parts.
  *
  * Exactly-once through the [[BatchSeqStore]] part contract: both
  * writes land as the batch's own part. A replayed batch recomputes
  * against a standing view that EXCLUDES its own part (else a replay
  * would see its own hashes and flag every span), then overwrites
  * exactly its own two parts — bit-identical, idempotent, no torn
  * state in either crash window. A replay of a batch that compaction
  * already absorbed into the hash store is skipped by the store's
  * replay guard: its hashes no longer sit in a part the view could
  * exclude. The `key` scopes parts to one checkpoint's batch
  * sequence, so a replaced checkpoint restarts cleanly next to an
  * existing store.
  *
  * Scale shape: two paths, one answer, chosen by the size of the
  * batch's shingle positions (24 bytes each: doc id, position, hash)
  * against `spark.sql.autoBroadcastJoinThreshold`
  * ([[graft.api.Par.bySize]]). A slice under the bound — a micro-batch
  * of a few hundred documents — folds on the driver: its positions are
  * collected once, ONE probe of the standing store (the batch's
  * distinct hashes as an `IN` set on the column-pruned scan) returns
  * the `present` hashes, the span merge runs per doc in memory, and
  * both parts land from local relations: four Spark jobs per fold
  * (FoldJobBudgetSpec pins them), where the distributed path runs 11
  * to 13. A slice past the bound (or a
  * threshold of -1) runs distributed over the same cached positions:
  * the standing store is scanned ONCE with no shuffle — the batch's
  * distinct hashes (bounded: a micro-batch) are broadcast into the
  * scan to find which are `present`, and the (still smaller) present
  * set broadcasts back into the positions for the span merge. Nothing
  * corpus-sized ever shuffles; shuffle rows are the batch's 24-byte
  * (hash, doc, pos) triples, never text. Batches whose distinct-hash
  * count exceeds `MaxBroadcastHashes` (5M) fall back to a shuffle join
  * (correct, just not broadcast).
  */
object SubstringStream {

  /** Distinct shingle hashes a broadcast comfortably holds (8 B + key
    * overhead each; 5M ≈ 120 MB build). Above this the per-batch
    * joins degrade to shuffles instead of risking the driver.
    */
  private val MaxBroadcastHashes = 5000000L

  /** Bytes a shingle position (doc id, position, hash) counts against
    * the broadcast threshold when choosing the path.
    */
  private val PositionBytes = 24L

  private val HashSchema = StructType(Seq(StructField("__h", LongType)))
  private val SpanSchema = StructType(
    Seq("doc_id", "span_start", "span_end", "n_tokens").map(StructField(_, LongType)))

  def toShingleStore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      storePath: String,
      spansPath: String,
      checkpoint: String
  ): DataStreamWriter[Row] = {
    val key = BatchSeqStore.streamKey(checkpoint)
    BatchSeqStore.sink(docs, checkpoint) { (batch, batchId, _) =>
      foldBatch(batch, idCol, textCol, k, storePath, spansPath, batchId, key)
    }
  }

  /** The standing distinct-hash set as currently committed (one `__h`
    * column; empty before the first fold).
    */
  def readStoreHashes(spark: SparkSession, storePath: String): DataFrame =
    readStoreExcept(spark, storePath, except = null)

  /** All landed spans: (doc_id, span_start, span_end, n_tokens,
    * batch_seq).
    */
  def readSpans(spark: SparkSession, spansPath: String): DataFrame = {
    val spans = BatchSeqStore.read(spark, spansPath, SpanSchema)
    require(spans.nonEmpty, s"no spans landed at $spansPath")
    spans.get
  }

  private def readStoreExcept(
      spark: SparkSession, storePath: String, except: String): DataFrame =
    BatchSeqStore.read(spark, storePath, HashSchema, except)
      .map(_.select(col("__h")))
      .getOrElse(spark.range(0).select(col("id").as("__h")))

  private[graft] def foldBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      storePath: String,
      spansPath: String,
      batchId: Long,
      key: String
  ): Unit = {
    val spark = batch.sparkSession
    val part = BatchSeqStore.part(key, batchId)
    if (!BatchSeqStore.admits(spark, storePath, part)) return
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(batch.schema(idCol).dataType),
      s"SubstringStream: id column '$idCol' must be integral; spans land it as long")
    // one pass of the batch's shingles feeds both outputs
    val shp = TextOps.shinglePositions(batch, idCol, textCol, k)
      .select(col("doc_id").cast(LongType).as("doc_id"), col("pos"), col("__h"))
    graft.api.Par.bySize(shp, PositionBytes) { rows =>
      foldOnDriver(spark, rows, k, storePath, spansPath, part)
    } { cached =>
      foldDistributed(cached, k, readStoreExcept(spark, storePath, except = part),
        storePath, spansPath, part)
    }
    BatchSeqStore.compactWhenDue(spark, storePath)(compact(spark, storePath))
  }

  /** The fold of a slice that fits on the driver: `rows` are the
    * batch's (doc_id, pos, __h) shingle positions. One probe of the
    * standing store finds the batch hashes it holds; spans and fresh
    * hashes land from local relations.
    */
  private def foldOnDriver(
      spark: SparkSession,
      rows: Array[Row],
      k: Int,
      storePath: String,
      spansPath: String,
      part: String): Unit = {
    val hashes = rows.iterator.map(_.getLong(2)).toSet
    // The probe ships the hashes as an IN-set literal of the scan, no
    // larger than the broadcast the bound allows. Against a broadcast of
    // them as a local relation (one more job), over 23 folds each of
    // 20-doc slices into a 4,500-doc store on local[2], it cost 0.58
    // CPU-s per fold at the median (quartiles 0.50-0.75) against 0.59
    // (0.51-0.84).
    val present: Set[Long] =
      if (hashes.isEmpty) Set.empty
      else BatchSeqStore.read(spark, storePath, HashSchema, except = part).fold(Set.empty[Long]) {
        _.select(col("__h")).where(col("__h").isInCollection(hashes))
          .collect().iterator.map(_.getLong(0)).toSet
      }
    // TextOps.mergeSpans' rule per doc (null ids form one doc): a span
    // starts where the gap to the previous duplicated position
    // exceeds k, and covers k tokens past its last one
    val spans = rows.filter(r => present(r.getLong(2)))
      .groupBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .toSeq.flatMap { case (doc, rs) =>
        val id = doc.map(Long.box).orNull
        val pos = rs.map(_.getInt(1)).sorted
        val out = Seq.newBuilder[Row]
        var (start, last) = (pos.head, pos.head)
        def emit(): Unit = {
          val (s, e) = (start.toLong, (last + k).toLong)
          out += Row(id, s, e, e - s)
        }
        pos.tail.foreach { p =>
          if (p - last > k) { emit(); start = p }
          last = p
        }
        emit()
        out.result()
      }
    val fresh = (hashes -- present).toSeq.map(h => Row(h))
    // one file per part: the standing scan pays per file
    def local(rs: Seq[Row], schema: StructType) =
      spark.createDataFrame(rs.asJava, schema).coalesce(1)
    BatchSeqStore.write(local(spans, SpanSchema), spansPath, part)
    BatchSeqStore.write(local(fresh, HashSchema), storePath, part)
  }

  /** The fold of a slice past the driver bound, over the cached
    * shingle positions `shp`: the standing store scans once in place,
    * the batch's distinct hashes broadcast into it.
    */
  private def foldDistributed(
      shp: DataFrame,
      k: Int,
      standing: DataFrame,
      storePath: String,
      spansPath: String,
      part: String): Unit = {
    val batchHashes = shp.select(col("__h")).distinct().localCheckpoint(true)
    val small = batchHashes.count() <= MaxBroadcastHashes
    def maybeBroadcast(df: DataFrame) = if (small) broadcast(df) else df
    // which batch hashes the standing corpus already holds: the store
    // scans in place, the (bounded) batch set broadcasts into it
    val present = standing
      .join(maybeBroadcast(batchHashes), Seq("__h"))
      .distinct()
      .localCheckpoint(true)
    val spans = TextOps.mergeSpans(
      shp.join(maybeBroadcast(present), Seq("__h"), "left_semi").select(col("doc_id"), col("pos")), k)
    BatchSeqStore.write(spans, spansPath, part)
    val fresh = batchHashes.join(maybeBroadcast(present), Seq("__h"), "left_anti")
    BatchSeqStore.write(fresh, storePath, part)
  }

  /** Fold the hash store's parts into one distinct set
    * ([[BatchSeqStore.compact]]); the fold runs it every
    * [[BatchSeqStore.CompactEvery]] parts.
    */
  def compact(spark: SparkSession, storePath: String): Unit =
    BatchSeqStore.compact(spark, storePath, HashSchema, _.distinct())
}
