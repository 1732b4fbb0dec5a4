package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.GraphOps

/** Streaming maintenance of the co-purchase edge store — the stream
  * twin of [[GraphOps.foldItemEdgeSupports]]: each micro-batch of
  * basket facts is reduced to its pair-support DELTA and appended as
  * its own partition; supports are additive over baskets, so the read
  * side SUM-merges the compacted base with the open deltas into
  * exactly the batch derivation over everything ingested
  * (EdgeStreamSpec asserts stream ≡ batch across micro-batch slicings
  * and across compaction points).
  *
  * Ordering contract: a basket's facts must arrive within ONE
  * micro-batch (what an order-completion feed delivers — a basket is
  * published when it closes). A basket split across batches would
  * count its cross-batch pairs zero times, same as the fold's batch
  * form; route open baskets through a session-window assembler first
  * if the upstream emits item-at-a-time.
  *
  * Store shape — delta partitions + compacted base. The per-trigger
  * fold writes ONLY the batch's aggregated pair supports under a
  * `delta/batch_seq=e<epoch>-<key>-<id>` partition (a
  * [[BatchSeqStore]] part, the epoch prefixed to its name): trigger
  * cost is bounded by the DELTA's pair volume, independent of the
  * standing store's size — at a 100 TB standing table the previous
  * read + full-outer + generation-overwrite shape rewrote the whole
  * support table every trigger (measured store-proportional,
  * STREAM_STORE_LATENCY_r14 steady ratio 4.41 sf10/sf1); this shape
  * is batch-proportional by construction. Every `compactEvery`
  * folds, [[compact]] absorbs the open deltas into the bucketed
  * generation table (gen=0/gen=1 alternation, one file per (x, y)
  * bucket), amortizing the store-proportional merge over the interval
  * and keeping the read side's delta fold bounded by
  * compactEvery · |batch| rows.
  *
  * Epochs make the absorb crash-safe under NON-idempotent addition:
  * compaction writes the merged base to the inactive generation, then
  * atomically flips the manifest to (next gen, epoch+1). Readers
  * count a delta iff its partition name carries the CURRENT epoch, so
  * a crash BEFORE the flip leaves the old base + old-epoch deltas
  * authoritative (the half-written generation is dead and will be
  * overwritten by the retry), and a crash AFTER the flip but before
  * the absorbed partitions are swept leaves them invisible (stale
  * epoch) — never double-counted in either window. Generations are
  * registered as external catalog tables by deterministic name,
  * re-created on demand so a FRESH session recovering from the
  * manifest regains the bucket metadata.
  *
  * Exactly-once: the manifest records (generation, last-applied
  * batchId, stream key, epoch) and is flipped by an atomic rename;
  * [[foldBatch]] skips when the incoming (streamKey, batchId) was
  * already applied. The crash windows compose: a crash BEFORE the
  * manifest write leaves lastApplied at the prior batch and the
  * replay's dynamic partition overwrite REPLACES the half-written
  * delta; a crash AFTER the write but before the streaming checkpoint
  * commits makes the replay hit the already-applied (streamKey,
  * batchId) and skip — even when a compaction absorbed the delta in
  * between (the skip fires before any delta is written).
  *
  * The stream key (a digest of the checkpoint path) scopes the batchId
  * comparison to ONE batch sequence: batchIds restart at 0 whenever a
  * checkpoint is replaced, so a bare `batchId == lastApplied` guard
  * would silently DROP a fresh query's batch 0 against a store whose
  * manifest happens to record 0 (and conversely could double-fold a
  * replay it failed to recognize). With the key: same key + same id →
  * replay, skip; same key + higher id → progress, fold; different key
  * + id 0 → a deliberately new sequence over an existing store, fold
  * and adopt; anything else (same key + LOWER id, or an unknown
  * sequence arriving mid-stream) is a store/checkpoint pairing error
  * and fails fast rather than guessing.
  *
  * Single-writer contract: one fold/compaction driver per storePath
  * at a time ([[foldBatch]] auto-compacts in the same thread;
  * [[compact]] called concurrently with a fold could absorb an
  * in-flight delta under an epoch the fold already read).
  */
object EdgeStream {
  /** Once-per-store dedup for the keyless-fold degradation warning —
    * a long-running legacy stream hits the condition on EVERY
    * micro-batch and would otherwise flood the logs.
    */
  private val warnedKeyless =
    new scala.collection.concurrent.TrieMap[String, Unit]()

  /** Deltas absorbed into the base per compaction cycle. The read
    * side's per-query delta fold is bounded by this many batch-sized
    * partitions; trigger cost stays delta-proportional regardless.
    */
  val DefaultCompactEvery = 16

  /** Fold the stream of (basket, item) facts into the support store at
    * `storePath`: per-trigger delta partitions, compacted into the
    * two-generation bucketed base every `compactEvery` folds.
    */
  def toSupportStore(
      facts: DataFrame,
      basketCol: String,
      itemCol: String,
      storePath: String,
      checkpoint: String,
      compactEvery: Int = DefaultCompactEvery
  ): DataStreamWriter[Row] = {
    val key = BatchSeqStore.streamKey(checkpoint)
    BatchSeqStore.sink(facts, checkpoint) { (batch, batchId, _) =>
      foldBatch(batch, basketCol, itemCol, storePath, batchId, key, compactEvery)
    }
  }

  private def manifest(storePath: String) = new Path(storePath, "CURRENT")

  /** Manifest = "(gen, lastAppliedBatchId, streamKey, epoch)";
    * (-1, -1, null, 0) before the first fold. Tolerates the legacy
    * one- to three-field forms (no epoch = epoch 0, whose stores kept
    * everything in the generation table and have no delta partitions
    * to misread).
    */
  private def readManifest(
      spark: SparkSession, storePath: String): (Int, Long, String, Long) = {
    val m = manifest(storePath)
    val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(m)) return (-1, -1L, null, 0L)
    manifestText(fs, m).trim.split("\\s+") match {
      case Array(g)          => (g.toInt, -1L, null, 0L)
      case Array(g, b)       => (g.toInt, b.toLong, null, 0L)
      case Array(g, b, k)    => (g.toInt, b.toLong, if (k == "-") null else k, 0L)
      case Array(g, b, k, e) => (g.toInt, b.toLong, if (k == "-") null else k, e.toLong)
      case other => throw new IllegalStateException(
        s"corrupt edge-store manifest at $m: '${other.mkString(" ")}'")
    }
  }

  private def manifestText(fs: FileSystem, m: Path): String = {
    val in = fs.open(m)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Flip the manifest the way Spark's streaming metadata log commits
    * (`CheckpointFileManager.createAtomic`: a unique hidden temp file,
    * renamed over CURRENT on close): readers see either the old
    * committed (gen, batchId, key, epoch) or the new one, never a torn
    * write (a truncated CURRENT would otherwise poison every later read
    * of the store). The temp name is unique per writer, so even two
    * misconfigured concurrent folds against one storePath cannot
    * interleave on a shared temp file — last flip wins whole, never
    * torn. The store directory exists by then: the delta or generation
    * write that precedes every flip created it.
    */
  private def writeManifest(
      spark: SparkSession, storePath: String, gen: Int, batchId: Long,
      key: String, epoch: Long): Unit = {
    val m = manifest(storePath)
    val conf = spark.sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(m, conf)
    val text = s"$gen $batchId $key $epoch"
    val out = fm.createAtomic(m, overwriteIfPossible = true)
    try out.write(text.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
    // Spark's FileSystem fallback (a scheme with no AbstractFileSystem)
    // returns quietly when its rename cannot replace CURRENT; a lost
    // flip would let the compaction sweep deltas the manifest still
    // counts, so fail the fold instead
    if (fm.isInstanceOf[FileSystemBasedCheckpointFileManager] &&
        manifestText(m.getFileSystem(conf), m) != text)
      throw new IllegalStateException(
        s"EdgeStream: the manifest flip at $m was not applied — the " +
          "filesystem's rename does not replace an existing file")
  }

  private val NumBuckets = 32

  /** Deterministic per-(store, generation) catalog table name. */
  private def genTable(storePath: String, gen: Int): String =
    s"graft_edge_stream_${Integer.toHexString(storePath.hashCode).replace('-', 'n')}_g$gen"

  /** Ensure the generation's bucketed catalog entry exists (a fresh
    * session recovering from the manifest has the files but not the
    * catalog row; re-creating the EXTERNAL table restores the bucket
    * metadata without touching the files).
    */
  private def ensureRegistered(
      spark: SparkSession,
      storePath: String,
      gen: Int
  ): String = {
    val t = genTable(storePath, gen)
    if (!spark.catalog.tableExists(t))
      spark.sql(
        s"""CREATE TABLE $t (x BIGINT, y BIGINT, support BIGINT)
           |USING parquet OPTIONS (path '$storePath/gen=$gen')
           |CLUSTERED BY (x, y) SORTED BY (x, y) INTO $NumBuckets BUCKETS""".stripMargin)
    t
  }

  private def deltaDir(storePath: String) = s"$storePath/delta"

  private def epochPrefix(epoch: Long) = f"e$epoch%09d-"

  private def deltaPartition(epoch: Long, key: String, batchId: Long): String =
    epochPrefix(epoch) + BatchSeqStore.part(if (key == null) "-" else key, batchId)

  /** The live delta parts of one epoch. */
  private def openDeltas(spark: SparkSession, storePath: String, epoch: Long): Seq[String] =
    BatchSeqStore.parts(spark, deltaDir(storePath)).filter(_.startsWith(epochPrefix(epoch)))

  /** The rows of one epoch's delta parts (call only when some exist). */
  private def deltaRows(spark: SparkSession, storePath: String, epoch: Long): DataFrame =
    spark.read.parquet(deltaDir(storePath))
      .filter(col(BatchSeqStore.Col).startsWith(epochPrefix(epoch)))
      .select(col("x"), col("y"), col("support"))

  /** The standing support table as currently committed (empty frame
    * with the store's schema before the first fold): the compacted
    * bucketed base SUM-merged with the current epoch's open delta
    * partitions. With no open deltas this is the bare bucketed scan;
    * with deltas, the base side joins IN PLACE (bucketed on (x, y))
    * and only the delta fold — bounded by compactEvery batches —
    * shuffles. Store schema is fixed at (x long, y long, support
    * long): [[GraphOps.itemEdgeSupports]] canonicalizes every item id
    * to long, so the long-id contract is the whole edge chain's,
    * enforced at [[foldBatch]].
    */
  def readStore(spark: SparkSession, storePath: String): DataFrame = {
    val (gen, _, _, epoch) = readManifest(spark, storePath)
    if (openDeltas(spark, storePath, epoch).isEmpty) base(spark, storePath, gen)
    else merged(spark, storePath, gen, epoch)
  }

  /** The compacted bucketed base of generation `gen` (empty before the
    * first compaction).
    */
  private def base(spark: SparkSession, storePath: String, gen: Int): DataFrame =
    if (gen < 0)
      spark.range(0).select(
        col("id").as("x"), col("id").as("y"), col("id").as("support"))
    else spark.table(ensureRegistered(spark, storePath, gen))

  /** The base SUM-merged with `epoch`'s open delta parts. */
  private def merged(
      spark: SparkSession, storePath: String, gen: Int, epoch: Long): DataFrame = {
    // shuffle the (small) delta side ONCE, straight into the base's
    // bucket layout: the fold then aggregates and joins without a
    // second exchange
    val ds = deltaRows(spark, storePath, epoch)
      .repartition(NumBuckets, col("x"), col("y"))
      .groupBy(col("x"), col("y"))
      .agg(sum(col("support")).as("__ds"))
    base(spark, storePath, gen).withColumnRenamed("support", "__ss")
      .join(ds, Seq("x", "y"), "full_outer")
      .select(col("x"), col("y"),
        (coalesce(col("__ss"), lit(0L)) + coalesce(col("__ds"), lit(0L)))
          .as("support"))
  }

  private[graft] def foldBatch(
      batch: DataFrame,
      basketCol: String,
      itemCol: String,
      storePath: String,
      batchId: Long,
      streamKey: String = null,
      compactEvery: Int = DefaultCompactEvery
  ): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val itemType = batch.schema(itemCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType).contains(itemType),
      s"EdgeStream: item column '$itemCol' is $itemType; the edge store " +
        "requires integral (long-castable) item ids — GraphOps." +
        "itemEdgeSupports canonicalizes endpoints to long, and a non-" +
        "integral id would fail the fold's join mid-stream. Map string " +
        "ids through a dictionary (e.g. hash or a dimension join) first.")
    val spark = batch.sparkSession
    val (gen, lastApplied, recordedKey, epoch) = readManifest(spark, storePath)
    // degraded-detection warning: without a stream key, "same sequence"
    // is assumed and replay detection is the bare batchId comparison —
    // exactly the silent-drop class the keyed manifest exists to kill
    if (streamKey == null && lastApplied >= 0 &&
        warnedKeyless.putIfAbsent(storePath, ()).isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"EdgeStream: fold against $storePath without a streamKey — replay " +
          "detection degrades to the bare batchId comparison (a fresh " +
          "sequence's batch whose id equals the recorded one is silently " +
          "skipped). Pass BatchSeqStore.streamKey(checkpoint) to make skips " +
          "sequence-scoped.")
    val sameSeq = recordedKey == null || streamKey == null ||
      recordedKey == streamKey
    if (sameSeq) {
      // replayed batch of the recorded sequence: already folded (and
      // possibly already absorbed by a compaction — skipping BEFORE any
      // write is what keeps the replay safe in both cases)
      if (batchId >= 0 && batchId == lastApplied) {
        // first KEYED fold against a keyless (legacy) manifest landing
        // on the skip path: adopt-and-rewrite the manifest with the key
        // so this store leaves the degraded bare-batchId semantics NOW
        // — a later batch of a different sequence must fail fast, not
        // silently fold. (Whether THIS skip was right is legacy-
        // ambiguous; recording the key is what stops the next one.)
        if (recordedKey == null && streamKey != null && lastApplied >= 0) {
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"EdgeStream: adopting legacy keyless manifest at $storePath " +
              s"for stream $streamKey on the skip path (batch $batchId == " +
              "recorded); if this batch belonged to a NEW sequence, the " +
              "legacy semantics dropped it — verify the store against the " +
              "source if the checkpoint was replaced")
          writeManifest(spark, storePath, gen, lastApplied, streamKey, epoch)
        }
        // a crash between the replayed trigger's manifest write and its
        // compaction leaves the absorb threshold exceeded — retry it
        // here so the interrupted maintenance completes
        maybeCompact(spark, storePath, compactEvery)
        return
      }
      // Spark only ever replays the LAST uncommitted batch; a LOWER id
      // from the same sequence means the checkpoint and store were
      // paired with different histories — refuse rather than guess
      if (batchId >= 0 && lastApplied >= 0 && batchId < lastApplied)
        throw new IllegalStateException(
          s"EdgeStream: batch $batchId arrived for store $storePath whose " +
            s"manifest already records batch $lastApplied of the same " +
            s"stream — the checkpoint does not match this store's history")
    } else if (batchId > 0) {
      // an unknown batch sequence arriving MID-stream: its earlier
      // batches were never folded here — fail fast (a fresh sequence
      // legitimately adopting an existing store starts at batch 0)
      throw new IllegalStateException(
        s"EdgeStream: batch $batchId of unrecognized stream $streamKey " +
          s"arrived for store $storePath (manifest records stream " +
          s"$recordedKey at batch $lastApplied) — replace the store or " +
          s"start the new query from batch 0 (fresh checkpoint)")
    }
    // the per-trigger work: ONLY the batch's aggregated pair supports
    // (delta-proportional), landing as this batch's own partition — a
    // replay's dynamic overwrite REPLACES it, never double-counts
    val delta = GraphOps.itemEdgeSupports(batch, basketCol, itemCol, pinWidth = false)
      .select(col("x").cast(LongType), col("y").cast(LongType),
        col("support").cast(LongType))
    BatchSeqStore.write(delta, deltaDir(storePath), deltaPartition(epoch, streamKey, batchId))
    writeManifest(spark, storePath, gen, batchId,
      if (streamKey == null) "-" else streamKey, epoch)
    maybeCompact(spark, storePath, compactEvery)
  }

  private def maybeCompact(
      spark: SparkSession, storePath: String, compactEvery: Int): Unit = {
    val (_, _, _, epoch) = readManifest(spark, storePath)
    if (compactEvery > 0 && openDeltas(spark, storePath, epoch).size >= compactEvery)
      compact(spark, storePath)
  }

  /** Absorb the current epoch's open delta partitions into the
    * bucketed base: merged base → inactive generation, manifest flip
    * to (next gen, epoch+1), then sweep the (now invisible) absorbed
    * partitions. Idempotent and crash-safe at every boundary — a
    * retry before the flip re-merges from unchanged inputs and
    * overwrites the dead half-write; after the flip, stale-epoch
    * partitions are excluded by every reader until swept. Cost is one
    * store-proportional merge per compactEvery folds: the base side
    * reads IN PLACE (bucketed on (x, y)), only the absorbed deltas
    * shuffle. Honors the single-writer contract (scaladoc above).
    */
  def compact(spark: SparkSession, storePath: String): Unit = {
    val (gen, lastApplied, key, epoch) = readManifest(spark, storePath)
    if (openDeltas(spark, storePath, epoch).isEmpty) return
    val next = (gen + 1 + 2) % 2
    graft.sources.BucketedStore.writeBucketedAt(
      merged(spark, storePath, gen, epoch), genTable(storePath, next),
      s"$storePath/gen=$next", bucketCols = Seq("x", "y"),
      numBuckets = NumBuckets, sortCols = Seq("x", "y"))
    writeManifest(spark, storePath, next, lastApplied,
      if (key == null) "-" else key, epoch + 1)
    // best-effort sweep of everything not in the NEW epoch (absorbed
    // partitions plus any stragglers from earlier interrupted sweeps);
    // a failure here only leaves invisible garbage for the next sweep
    BatchSeqStore.sweep(spark, deltaDir(storePath),
      BatchSeqStore.parts(spark, deltaDir(storePath))
        .filterNot(_.startsWith(epochPrefix(epoch + 1))))
  }
}
