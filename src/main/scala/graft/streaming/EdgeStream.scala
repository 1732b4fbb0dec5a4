package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

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
  * `delta/batch_seq=e<epoch>-<key>-<id>` partition (dynamic
  * overwrite, the [[SubstringStream]]/[[CmsStream]] layout): trigger
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
  * batchId, stream key, epoch) and is flipped by an ATOMIC_MOVE;
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
    val key = streamKey(checkpoint)
    facts.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, basketCol, itemCol, storePath, batchId, key,
          compactEvery)
      }
  }

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

  /** Known limit: the manifest is read and flipped through `java.nio`,
    * so the store works on local paths only. The delta and generation
    * files go through the session's Hadoop conf, but a store on another
    * filesystem scheme fails at the manifest.
    */
  private def manifest(storePath: String) =
    java.nio.file.Paths.get(storePath, "CURRENT")

  /** Manifest = "(gen, lastAppliedBatchId, streamKey, epoch)";
    * (-1, -1, null, 0) before the first fold. Tolerates the legacy
    * one- to three-field forms (no epoch = epoch 0, whose stores kept
    * everything in the generation table and have no delta partitions
    * to misread).
    */
  private def readManifest(storePath: String): (Int, Long, String, Long) = {
    val m = manifest(storePath)
    if (!java.nio.file.Files.exists(m)) (-1, -1L, null, 0L)
    else java.nio.file.Files.readString(m).trim.split("\\s+") match {
      case Array(g)          => (g.toInt, -1L, null, 0L)
      case Array(g, b)       => (g.toInt, b.toLong, null, 0L)
      case Array(g, b, k)    => (g.toInt, b.toLong, if (k == "-") null else k, 0L)
      case Array(g, b, k, e) => (g.toInt, b.toLong, if (k == "-") null else k, e.toLong)
      case other => throw new IllegalStateException(
        s"corrupt edge-store manifest at $m: '${other.mkString(" ")}'")
    }
  }

  /** Flip the manifest via unique temp-file + ATOMIC_MOVE: readers see
    * either the old committed (gen, batchId, key, epoch) or the new
    * one, never a torn write (a truncated CURRENT would otherwise
    * poison every later read of the store). The temp name is unique
    * per writer (createTempFile), so even two misconfigured concurrent
    * folds against one storePath cannot interleave on a shared temp
    * file — last flip wins whole, never torn.
    */
  private def writeManifest(
      storePath: String, gen: Int, batchId: Long, key: String,
      epoch: Long): Unit = {
    val m = manifest(storePath)
    java.nio.file.Files.createDirectories(m.getParent)
    val tmp = java.nio.file.Files.createTempFile(m.getParent, "CURRENT", ".tmp")
    java.nio.file.Files.writeString(tmp, s"$gen $batchId $key $epoch")
    java.nio.file.Files.move(tmp, m,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
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
    f"${epochPrefix(epoch)}%s${if (key == null) "-" else key}%s-$batchId%09d"

  /** Names of the live `batch_seq=` partitions under the delta dir,
    * optionally restricted to one epoch's prefix.
    */
  private def listDeltaPartitions(
      spark: SparkSession, storePath: String, epoch: Option[Long]): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(deltaDir(storePath))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else {
      val names = fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_seq="))
        .map(_.stripPrefix("batch_seq="))
      epoch match {
        case Some(e) => names.filter(_.startsWith(epochPrefix(e)))
        case None    => names
      }
    }
  }

  /** The open (current-epoch) delta rows, or None when there are no
    * live delta partitions — so the no-delta read path stays the bare
    * bucketed table scan with zero joins.
    */
  private def readDeltas(
      spark: SparkSession, storePath: String, epoch: Long): Option[DataFrame] =
    if (listDeltaPartitions(spark, storePath, Some(epoch)).isEmpty) None
    else Some(
      spark.read.parquet(deltaDir(storePath))
        .filter(col("batch_seq").startsWith(epochPrefix(epoch)))
        .select(col("x"), col("y"), col("support")))

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
    val (gen, _, _, epoch) = readManifest(storePath)
    val base =
      if (gen < 0)
        spark.range(0).select(
          col("id").as("x"), col("id").as("y"), col("id").as("support"))
      else spark.table(ensureRegistered(spark, storePath, gen))
    readDeltas(spark, storePath, epoch) match {
      case None => base
      case Some(d) =>
        // shuffle the (small) delta side ONCE, straight into the
        // base's bucket layout: the fold then aggregates and joins
        // without a second exchange
        val ds = d.repartition(NumBuckets, col("x"), col("y"))
          .groupBy(col("x"), col("y"))
          .agg(sum(col("support")).as("__ds"))
        base.withColumnRenamed("support", "__ss")
          .join(ds, Seq("x", "y"), "full_outer")
          .select(col("x"), col("y"),
            (coalesce(col("__ss"), lit(0L)) + coalesce(col("__ds"), lit(0L)))
              .as("support"))
    }
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
    val (gen, lastApplied, recordedKey, epoch) = readManifest(storePath)
    // degraded-detection warning: without a stream key, "same sequence"
    // is assumed and replay detection is the bare batchId comparison —
    // exactly the silent-drop class the keyed manifest exists to kill
    if (streamKey == null && lastApplied >= 0 &&
        warnedKeyless.putIfAbsent(storePath, ()).isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"EdgeStream: fold against $storePath without a streamKey — replay " +
          "detection degrades to the bare batchId comparison (a fresh " +
          "sequence's batch whose id equals the recorded one is silently " +
          "skipped). Pass EdgeStream.streamKey(checkpoint) to make skips " +
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
          writeManifest(storePath, gen, lastApplied, streamKey, epoch)
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
    delta
      .withColumn("batch_seq", lit(deltaPartition(epoch, streamKey, batchId)))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_seq")
      .parquet(deltaDir(storePath))
    writeManifest(storePath, gen, batchId,
      if (streamKey == null) "-" else streamKey, epoch)
    maybeCompact(spark, storePath, compactEvery)
  }

  private def maybeCompact(
      spark: SparkSession, storePath: String, compactEvery: Int): Unit = {
    val (_, _, _, epoch) = readManifest(storePath)
    if (compactEvery > 0 &&
        listDeltaPartitions(spark, storePath, Some(epoch)).size >= compactEvery)
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
    val (gen, lastApplied, key, epoch) = readManifest(storePath)
    val open = listDeltaPartitions(spark, storePath, Some(epoch))
    if (open.isEmpty) return
    val base =
      if (gen < 0)
        spark.range(0).select(
          col("id").as("x"), col("id").as("y"), col("id").as("support"))
      else spark.table(ensureRegistered(spark, storePath, gen))
    val ds = spark.read.parquet(deltaDir(storePath))
      .filter(col("batch_seq").startsWith(epochPrefix(epoch)))
      .repartition(NumBuckets, col("x"), col("y"))
      .groupBy(col("x"), col("y")).agg(sum(col("support")).as("__ds"))
    val merged = base.withColumnRenamed("support", "__ss")
      .join(ds, Seq("x", "y"), "full_outer")
      .select(col("x"), col("y"),
        (coalesce(col("__ss"), lit(0L)) + coalesce(col("__ds"), lit(0L)))
          .cast("long").as("support"))
    val next = (gen + 1 + 2) % 2
    graft.sources.BucketedStore.writeBucketedAt(
      merged, genTable(storePath, next), s"$storePath/gen=$next",
      bucketCols = Seq("x", "y"), numBuckets = NumBuckets,
      sortCols = Seq("x", "y"))
    writeManifest(storePath, next, lastApplied,
      if (key == null) "-" else key, epoch + 1)
    // best-effort sweep of everything not in the NEW epoch (absorbed
    // partitions plus any stragglers from earlier interrupted sweeps);
    // a failure here only leaves invisible garbage for the next sweep
    val p = new org.apache.hadoop.fs.Path(deltaDir(storePath))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    listDeltaPartitions(spark, storePath, None)
      .filterNot(_.startsWith(epochPrefix(epoch + 1)))
      .foreach { part =>
        fs.delete(new org.apache.hadoop.fs.Path(p, s"batch_seq=$part"), true)
      }
  }

  /** Convenience: run the sink to completion over currently-available
    * input (test/backfill harness path).
    */
  def runAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    q.awaitTermination()
    q
  }
}
