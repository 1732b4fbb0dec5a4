package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

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
  * Compaction — the background merge of the reference's
  * ReplacingMergeTree/AggregatingMergeTree, and the every-N-batches
  * log compaction of Structured Streaming's file sink — is one
  * protocol, [[compact]]: the live parts (the victims) fold into one
  * `batch_seq=compacted-<n>` part, committed by a single atomic write
  * of the store's `_manifest`. The manifest names the compacted part,
  * its victims, and per stream key the highest batchId absorbed so
  * far. [[parts]] and [[read]] honour it, so no reader sees victims
  * together with the part that absorbed them, and [[admits]] uses the
  * absorbed marks to keep a replay of an absorbed batch from landing
  * again — which is what makes compaction safe for the sum stores.
  * Readers that scan the root directly (a plain `spark.read.parquet`)
  * see both between the compacted part's rename and the victim sweep.
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

  /** Live parts at which a store that compacts itself from its fold
    * compacts: the read side folds at most this many parts.
    */
  val CompactEvery = 16

  private val Prefix = s"$Col="
  private val Compacted = "compacted-"
  private val Staging = ".compact_tmp_"
  private val ManifestName = "_manifest"

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

  /** The (key, batchId) a part was named from; None for a compacted
    * part or a name of another form.
    */
  private def keyAndId(part: String): Option[(String, Long)] = {
    val i = part.lastIndexOf('-')
    if (i <= 0 || part.startsWith(Compacted)) None
    else part.substring(i + 1).toLongOption.map(part.substring(0, i) -> _)
  }

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
    * outside `batch_seq`. A batch with no rows still leaves its (empty)
    * part directory, so the replay guard knows its stream.
    */
  def write(df: DataFrame, path: String, part: String, outer: String*): Unit = {
    df.withColumn(Col, lit(part))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(outer :+ Col: _*)
      .parquet(path)
    val root = new Path(path)
    val fs = fsOf(df.sparkSession, root)
    if (!listed(fs, root).exists(_._2 == part)) fs.mkdirs(new Path(root, Prefix + part))
  }

  /** The replay guard every fold runs before it lands `part`: false
    * when the batch is a replay of one a compaction already absorbed
    * (the batch sits at its key's absorbed mark; landing it again
    * would count it twice), true for new work. A batchId below its
    * key's mark, or a key the store has never seen arriving past batch
    * 0, means the checkpoint and the store were paired with different
    * histories: that fails fast instead of guessing. A store that holds
    * nothing has no history to mismatch.
    */
  def admits(spark: SparkSession, path: String, part: String): Boolean = {
    val (key, id) = keyAndId(part).getOrElse(
      throw new IllegalArgumentException(s"'$part' is not a <key>-<batchId> part name"))
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val m = manifest(fs, root)
    m.marks.get(key) match {
      case Some(mark) if id == mark => false
      case Some(mark) if id < mark => throw new IllegalStateException(
        s"batch $id of stream $key arrived for store $path, whose compaction " +
          s"absorbed batch $mark of that stream — the checkpoint does not " +
          "match this store's history")
      case Some(_) => true
      case None =>
        if (id > 0) {
          val held = listed(fs, root).map(_._2)
          if (held.nonEmpty && !held.exists(p => keyAndId(p).exists(_._1 == key)))
            throw new IllegalStateException(
              s"batch $id of unrecognized stream $key arrived for store $path — " +
                "replace the store or start the new query from batch 0 " +
                "(fresh checkpoint)")
        }
        true
    }
  }

  /** The live parts of the store at `path` (empty when it does not
    * exist yet), at any depth of outer partition columns.
    */
  def parts(spark: SparkSession, path: String): Seq[String] = view(spark, path).live

  /** Every live part's rows with their `batch_seq` column, read with
    * the store's fixed `schema` (no per-read schema inference), leaving
    * out `except` (nullable: a replaying batch excludes its own part,
    * which partition pruning drops); None while the store has no parts.
    */
  def read(
      spark: SparkSession,
      path: String,
      schema: StructType,
      except: String = null): Option[DataFrame] = {
    val v = view(spark, path)
    if (v.live.isEmpty) None
    else {
      val s = if (schema.fieldNames.contains(Col)) schema else schema.add(Col, StringType)
      val onDisk = spark.read.schema(s).parquet(path)
      val hidden = except != null || v.dirs.exists(d => v.manifest.victims(d._2))
      val kept =
        if (!hidden) onDisk
        else onDisk.filter(col(Col).isin(v.live.filterNot(_ == except): _*))
      // between the manifest commit and the rename, the compacted part
      // is still in its staging directory
      Some(if (!v.pending || v.manifest.compacted == except) kept
        else kept.unionByName(spark.read.schema(s)
          .parquet(staging(v.root, v.manifest.compacted).toString)
          .withColumn(Col, lit(v.manifest.compacted))))
    }
  }

  /** Whether `part` is a compacted part. */
  def isCompacted(part: String): Boolean = part.startsWith(Compacted)

  /** Run `compaction` once the store holds `every` live parts (never
    * when `every` is not positive).
    */
  def compactWhenDue(spark: SparkSession, path: String, every: Int = CompactEvery)(
      compaction: => Unit): Unit =
    if (every > 0 && parts(spark, path).size >= every) compaction

  /** Fold every live part of the store at `path` into one
    * `batch_seq=compacted-<n>` part. `fold` maps the victims' rows
    * (read with `schema`, `batch_seq` dropped, `outer` columns kept)
    * to the compacted part's rows; a no-op when the store is empty or
    * is already one compacted part.
    *
    * Steps: (1) recover from any interrupted compaction; (2) list the
    * live parts — the victims, pinned by name, so a batch landing
    * concurrently is neither folded nor swept; (3) fold them into a
    * hidden staging directory; (4) COMMIT: one atomic `_manifest`
    * write naming the compacted part, its victims and the absorbed
    * marks; (5) rename the staged rows into place and (6) sweep the
    * victims. A crash before (4) leaves only a hidden staging
    * directory, which recovery deletes; a crash after it leaves work
    * that recovery finishes, and readers see the committed state in
    * every window. One compactor per store at a time.
    */
  def compact(
      spark: SparkSession,
      path: String,
      schema: StructType,
      fold: DataFrame => DataFrame,
      outer: String*): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val prior = manifest(fs, root)
    if (prior.compacted != null) finish(fs, root, prior)(())
    if (fs.exists(root))
      fs.listStatus(root).filter(_.getPath.getName.startsWith(Staging))
        .foreach(st => fs.delete(st.getPath, true))
    val v = view(fs, root)
    val victims = v.live
    if (victims.isEmpty || (victims.size == 1 && victims.head.startsWith(Compacted))) return
    onCompactStep("listed")
    val n = victims.filter(_.startsWith(Compacted))
      .flatMap(_.stripPrefix(Compacted).toLongOption)
      .foldLeft(0L)(math.max) + 1
    val name = Compacted + n
    val s = if (schema.fieldNames.contains(Col)) schema else schema.add(Col, StringType)
    val rows = spark.read.schema(s).parquet(path)
      .filter(col(Col).isin(victims: _*)).drop(Col)
    val w = fold(rows).write.mode("overwrite")
    (if (outer.isEmpty) w else w.partitionBy(outer: _*)).parquet(staging(root, name).toString)
    val absorbed = victims.flatMap(keyAndId)
      .groupBy(_._1).map { case (k, ids) => k -> ids.map(_._2).max }
    val next = Manifest(name, victims.toSet, prior.marks ++ absorbed.map { case (k, id) =>
      k -> math.max(id, prior.marks.getOrElse(k, -1L))
    })
    onCompactStep("staged")
    commit(spark, root, next)
    onCompactStep("committed")
    finish(fs, root, next)(onCompactStep("renamed"))
  }

  /** Test seam: called with "listed" (victims listed, fold not read
    * yet), "staged" (fold written, manifest not), "committed"
    * (manifest written, staged part not renamed) and "renamed"
    * (victims not yet swept) during [[compact]]; specs throw from it
    * to crash a compaction at that point.
    */
  private[graft] var onCompactStep: String => Unit = _ => ()

  /** Delete the listed parts, at any outer depth (a missing part is no
    * error): the sweep that ends a compaction.
    */
  private[graft] def sweep(spark: SparkSession, path: String, parts: Seq[String]): Unit = {
    val root = new Path(path)
    delete(fsOf(spark, root), root, parts.toSet)
  }

  private def delete(fs: FileSystem, root: Path, parts: Set[String]): Unit =
    listed(fs, root).filter(d => parts(d._2)).foreach(d => fs.delete(d._1, true))

  /** Run a sink to completion over currently-available input
    * (test/backfill harness path).
    */
  def runAvailableNow(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.start()
    q.awaitTermination()
    q
  }

  // ---- the manifest -------------------------------------------------

  /** The last committed compaction: its part, its victims and the
    * highest absorbed batchId per stream key.
    */
  private final case class Manifest(
      compacted: String, victims: Set[String], marks: Map[String, Long])

  private def manifest(fs: FileSystem, root: Path): Manifest = {
    val p = new Path(root, ManifestName)
    if (!fs.exists(p)) return Manifest(null, Set.empty, Map.empty)
    text(fs, p).split("\n").filter(_.nonEmpty).map(_.split(" "))
      .foldLeft(Manifest(null, Set.empty, Map.empty)) {
        case (m, Array("compacted", c)) => m.copy(compacted = c)
        case (m, Array("victim", v)) => m.copy(victims = m.victims + v)
        case (m, Array("mark", k, id)) => m.copy(marks = m.marks + (k -> id.toLong))
        case (_, line) => throw new IllegalStateException(
          s"corrupt batch-seq manifest at $p: '${line.mkString(" ")}'")
      }
  }

  private def text(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Write the manifest the way Spark's streaming metadata log commits
    * (`CheckpointFileManager.createAtomic`: a unique hidden temp file
    * renamed over the manifest on close), so readers see the old
    * manifest or the new one, never a torn write.
    */
  private def commit(spark: SparkSession, root: Path, m: Manifest): Unit = {
    val p = new Path(root, ManifestName)
    val conf = spark.sessionState.newHadoopConf()
    val fm = CheckpointFileManager.create(p, conf)
    val body = (s"compacted ${m.compacted}" +: m.victims.toSeq.sorted.map("victim " + _)) ++
      m.marks.toSeq.sorted.map { case (k, id) => s"mark $k $id" }
    val bytes = body.mkString("", "\n", "\n")
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    try out.write(bytes.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
    // Spark's FileSystem fallback (a scheme with no AbstractFileSystem)
    // returns quietly when its rename cannot replace the manifest; a
    // lost commit would let the sweep delete parts the old manifest
    // still counts, so fail instead
    if (fm.isInstanceOf[FileSystemBasedCheckpointFileManager] &&
        text(p.getFileSystem(conf), p) != bytes)
      throw new IllegalStateException(
        s"BatchSeqStore: the manifest commit at $p was not applied — the " +
          "filesystem's rename does not replace an existing file")
  }

  private def staging(root: Path, compacted: String): Path =
    new Path(root, Staging + compacted.stripPrefix(Compacted))

  /** Finish a committed compaction: move each staged leaf directory to
    * `<outer dirs>/batch_seq=<compacted>`, run `renamed`, sweep the
    * victims. Idempotent.
    */
  private def finish(fs: FileSystem, root: Path, m: Manifest)(renamed: => Unit): Unit = {
    val stage = staging(root, m.compacted)
    def leaves(dir: Path, rel: String): Seq[(Path, String)] = {
      val outer = fs.listStatus(dir).filter(st => st.isDirectory && isOuter(st.getPath.getName))
      if (outer.isEmpty) Seq(dir -> rel)
      else outer.toSeq.flatMap(st => leaves(st.getPath, s"$rel${st.getPath.getName}/"))
    }
    if (fs.exists(stage)) {
      leaves(stage, "").foreach { case (src, rel) =>
        val dst = new Path(root, rel + Prefix + m.compacted)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"compaction rename failed: $src -> $dst")
      }
      if (fs.exists(stage)) fs.delete(stage, true)
    }
    renamed
    delete(fs, root, m.victims)
  }

  // ---- listing --------------------------------------------------------

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  private def isOuter(name: String): Boolean =
    name.contains("=") && !name.startsWith(Prefix) &&
      !name.startsWith(".") && !name.startsWith("_")

  /** Every part directory under `root` with its part name, descending
    * through outer partition directories; hidden directories (staging,
    * Spark's `.spark-staging-*`) are skipped.
    */
  private def listed(fs: FileSystem, root: Path): Seq[(Path, String)] = {
    def under(dir: Path): Seq[(Path, String)] =
      fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(Prefix)) Seq(st.getPath -> name.stripPrefix(Prefix))
        else if (isOuter(name)) under(st.getPath)
        else Nil
      }
    if (fs.exists(root)) under(root) else Nil
  }

  /** The store as a reader sees it: the listed part directories, the
    * committed manifest, and whether its compacted part still sits
    * (wholly or partly) in staging.
    */
  private final case class View(
      root: Path, dirs: Seq[(Path, String)], manifest: Manifest, pending: Boolean) {
    def live: Seq[String] =
      (dirs.map(_._2).filterNot(manifest.victims) ++
        (if (pending) Seq(manifest.compacted) else Nil)).distinct
  }

  private def view(spark: SparkSession, path: String): View = {
    val root = new Path(path)
    view(fsOf(spark, root), root)
  }

  private def view(fs: FileSystem, root: Path): View = {
    val m = manifest(fs, root)
    View(root, listed(fs, root), m,
      m.compacted != null && fs.exists(staging(root, m.compacted)))
  }
}
