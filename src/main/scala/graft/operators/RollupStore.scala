package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchSeqStore

/** Materialized-rollup maintenance over month-partitioned parquet — the
  * Spark restatement of the reference's rollup repair machinery:
  *
  *   - R2 delete+recompute range: ClickHouse issues an async-mutation
  *     `ALTER TABLE ... DELETE` then re-inserts re-aggregated rows
  *     (app/data_quality_check.py:391-457). Parquet has no row deletes;
  *     the equivalent idempotent repair is dynamic partition overwrite:
  *     recompute every month partition that intersects the damaged
  *     window from source truth and atomically swap those partitions.
  *     Coarser-grained than the reference's range delete but
  *     deterministic and duplicate-free by construction — strictly
  *     stronger than the "дубли допустимы" (duplicates tolerated)
  *     contract the reference settles for
  *     (app/data_quality_check.py:340-342).
  *   - R3 verification: count distinct buckets vs expected interval
  *     arithmetic (app/data_quality_check.py:459-485); the reference's
  *     `OPTIMIZE TABLE ... FINAL` force-merge has no analog because
  *     finished rows need no merging.
  *
  * Scale notes: overwrite touches only affected month partitions
  * (partition pruning on both read and write); recompute reads only the
  * damaged window from the base table (predicate pushdown on `tsCol`);
  * `partitionOverwriteMode=dynamic` keeps untouched months intact.
  */
object RollupStore {

  val PartitionCol = "bucket_month"

  private def withMonth(df: DataFrame): DataFrame =
    df.withColumn(PartitionCol, date_format(col("bucket_ts"), "yyyyMM"))

  /** Full build: rollup the base table at `grain` and write it
    * month-partitioned (the initial materialization, G7's empty-rollup
    * bootstrap path).
    */
  def build(
      base: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      grain: String,
      path: String
  ): Unit =
    withMonth(
      CandleOps.ohlcvRollup(base, keys, tsCol, valueCol, grain))
      .write
      .mode("overwrite")
      .partitionBy(PartitionCol)
      .parquet(path)

  /** Carrier build: like [[build]] but keeps the argmin/argmax carrier
    * timestamps and the exact long `vol_cents` volume — the
    * re-aggregable form the cascade (A6) and the RollupRouter optimizer
    * rule consume.
    *
    * When the base frame is a plain file scan (the production shape),
    * the build also drops a route manifest into the rollup dir, so a
    * FRESH session can rebuild its RollupRouter table from the store
    * (`RollupRouter.registerFromStore`) instead of depending on
    * in-process `register()` calls that die with the JVM.
    */
  def buildWithCarriers(
      base: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      grain: String,
      path: String
  ): Unit = {
    withMonth(
      CandleOps.ohlcvRollup(base, keys, tsCol, valueCol, grain, withCarriers = true))
      .write
      .mode("overwrite")
      .partitionBy(PartitionCol)
      .parquet(path)
    for {
      basePath <- org.apache.spark.sql.graft.RollupRouter.sourcePath(base)
      grainSec <- grainSeconds(grain)
    } org.apache.spark.sql.graft.RollupRouter.writeManifest(
      base.sparkSession, basePath, keys, tsCol, valueCol, grainSec, path)
  }

  /** One-shot migration for a pre-cents rollup store — the actionable
    * remedy the RollupRouter's `volume_dec` warning points at: a
    * legacy store carries DECIMAL `volume_dec` instead of the exact
    * long `vol_cents` carrier and silently never routes. This rebuilds
    * the store FROM ITS BASE TABLE (named in the store's own route
    * manifest) via [[buildWithCarriers]] and re-registers the route,
    * so the warned store routes again with exact cents.
    *
    * `vol_cents` is deliberately NOT derived from `volume_dec`
    * (`volume_dec * 100`): that would freeze the legacy DECIMAL(18,2)
    * rounding policy at half-cent boundaries into the new carrier
    * (see [[graft.functions.Cents]]); the base re-aggregation is
    * exact at any magnitude. Cost is one rollup rebuild — the same
    * work the store's original build did.
    *
    * Returns true when rebuilt + re-registered; false when the store
    * already carries `vol_cents` (nothing to do) or has no manifest
    * to name its base (nothing safe to rebuild from — logged).
    */
  def rebuildCarriers(spark: SparkSession, storePath: String): Boolean = {
    import org.apache.spark.sql.graft.RollupRouter
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val root = new org.apache.hadoop.fs.Path(storePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (spark.read.parquet(storePath).columns.contains("vol_cents"))
      return false
    val mp = new org.apache.hadoop.fs.Path(root, RollupRouter.ManifestFile)
    if (!fs.exists(mp)) {
      log.warn(s"rebuildCarriers: no route manifest at $storePath — cannot " +
        "name the base table to rebuild from; run buildWithCarriers " +
        "against the base explicitly")
      return false
    }
    val props = new java.util.Properties()
    val in = fs.open(mp)
    try props.load(in) finally in.close()
    val basePath = props.getProperty("base_path")
    val keys = props.getProperty("key_cols").split(",").toSeq
    val tsCol = props.getProperty("ts_col")
    val valueCol = props.getProperty("value_col")
    val grain = s"${props.getProperty("grain_seconds").toLong} seconds"
    buildWithCarriers(
      spark.read.parquet(basePath), keys, tsCol, valueCol, grain, storePath)
    val n = RollupRouter.registerFromStore(spark, storePath)
    log.info(s"rebuildCarriers: rebuilt $storePath from $basePath with " +
      s"exact vol_cents carriers; $n route(s) re-registered")
    true
  }

  /** Seconds of a `window()`-style fixed-width duration string
    * ("15 minutes", "1 hour"); None for anything month-like or
    * unparsable — fail-safe: no manifest rather than a wrong route.
    */
  private val GrainPattern = """^(\d+)\s+(second|minute|hour|day)s?$""".r
  private[graft] def grainSeconds(grain: String): Option[Long] =
    grain.trim.toLowerCase match {
      case GrainPattern(n, u) =>
        val mult = u match {
          case "second" => 1L
          case "minute" => 60L
          case "hour"   => 3600L
          case "day"    => 86400L
        }
        Some(n.toLong * mult)
      case _ => None
    }

  /** R2 — repair a damaged window: recompute every month partition
    * intersecting [rangeStart, rangeEnd) from the base table and
    * overwrite exactly those partitions.
    */
  def repairRange(
      base: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      grain: String,
      path: String,
      rangeStart: String,
      rangeEnd: String
  ): Unit = {
    val lo = to_timestamp(lit(rangeStart))
    val hi = to_timestamp(lit(rangeEnd))
    // widen to full months so each overwritten partition is complete
    val monthLo = date_trunc("month", lo)
    val monthHi = date_trunc("month", hi + expr("INTERVAL 1 MONTH")) // exclusive
    val window = base.filter(col(tsCol) >= monthLo && col(tsCol) < monthHi)
    val recomputed = withMonth(
      CandleOps.ohlcvRollup(window, keys, tsCol, valueCol, grain))
    recomputed.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol).parquet(path)
  }

  /** Keyed upsert — the MERGE / ReplacingMergeTree-write analog for a
    * plain-parquet store: last-writer-wins by `versionCol` per key,
    * applied with work proportional to the DATA TOUCHED, not the table.
    *
    * Only the month partitions present in the incoming batch are read
    * (partition pruning), merged (union + latest-per-key) and
    * atomically swapped back (dynamic partition overwrite); every other
    * partition's files are untouched. This gives the same read
    * contract as the reference's dedup-on-merge table with bounded
    * write amplification: a batch touching one month rewrites one
    * month. The month list collected to the driver is bounded by the
    * batch's time span (same driver-bounded pattern as
    * [[compactPartitions]]).
    */
  def upsertByKey(
      spark: SparkSession,
      path: String,
      incoming: DataFrame,
      keys: Seq[String],
      tsCol: String,
      versionCol: String
  ): Unit = {
    val inc = incoming.withColumn(PartitionCol, date_format(col(tsCol), "yyyyMM"))
    // Existence via the Hadoop FileSystem of the path's scheme, not
    // java.io.File — the store may live on HDFS/S3, where a local-FS
    // probe would always say "missing" and the write below would fail
    // with errorifexists instead of merging.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val exists = hPath
      .getFileSystem(spark.sessionState.newHadoopConf())
      .exists(hPath)
    val merged0 =
      if (!exists) CandleOps.latestByKey(inc, keys, versionCol)
      else {
        val months = inc.select(PartitionCol).distinct()
          .collect().map(_.get(0).toString).toSeq
        val existing = spark.read.parquet(path)
          .filter(col(PartitionCol).isin(months: _*))
          // partition values read back type-inferred — renormalize
          .withColumn(PartitionCol, col(PartitionCol).cast("string"))
        CandleOps.latestByKey(existing.unionByName(inc), keys, versionCol)
      }
    // Break the read→overwrite lineage on the same path: materialize
    // the merged frame before the dynamic overwrite deletes the files
    // it was computed from (correct under the default committer's
    // staging, but not guaranteed across committers).
    val merged = if (exists) merged0.localCheckpoint(true) else merged0
    merged.write.mode(if (exists) "overwrite" else "errorifexists")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol).parquet(path)
  }

  /** Small-file compaction — the `OPTIMIZE TABLE` analog for streaming
    * sinks: append-mode foreachBatch writers accumulate one file per
    * micro-batch per partition; periodically rewrite each month
    * partition into ~`targetRowsPerFile`-row files. Idempotent and
    * partition-scoped (dynamic overwrite leaves other months alone).
    *
    * LAYOUT-AWARE: a store written by the exactly-once streaming sink
    * ([[graft.streaming.StreamingRollup.toParquetSink]]) is partitioned
    * two levels deep — `bucket_month=M/batch_seq=<key>-<id>` — and a
    * month-level rewrite of only SOME months would leave leaf files at
    * two different partition depths under one root, making every
    * subsequent `spark.read.parquet(path)` fail with
    * conflicting-partition-column errors. When `batch_seq` dirs are
    * detected, each requested month is instead folded into a single
    * synthetic `batch_seq=compacted-<n>` partition, preserving the
    * two-level layout (and the sink's replay contract: a live stream's
    * next micro-batch lands in its own fresh `batch_seq` partition,
    * disjoint from the compacted one).
    *
    * CONCURRENCY CONTRACT: at most ONE compactor per store root at a
    * time (concurrent micro-batch WRITERS are fine — see the victim
    * pinning in [[compactBatchSeqMonths]]). Two concurrent compactors
    * on one store can interleave recovery with each other's staging
    * writes; the orphan sweep's [[OrphanTmpMinAgeMs]] age gate keeps
    * even that violation from deleting a live staging dir, but the
    * fold itself offers no cross-process mutual exclusion — schedule
    * compaction from a single maintenance job, as you would OPTIMIZE.
    */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      months: Seq[String],
      targetRowsPerFile: Long = 1000000L
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val twoLevel = months.exists { m =>
      val md = new org.apache.hadoop.fs.Path(root, s"$PartitionCol=$m")
      fs.exists(md) && BatchSeqStore.partsOf(fs.listStatus(md)).nonEmpty
    }
    if (twoLevel) { compactBatchSeqMonths(spark, fs, root, months, targetRowsPerFile); return }
    val df = spark.read.parquet(path)
      .filter(col(PartitionCol).isin(months: _*))
    // partition values may read back type-inferred (int), not string
    val counts = df.groupBy(col(PartitionCol)).count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val nFiles = math.max(1,
      math.ceil(counts.values.sum.toDouble / targetRowsPerFile).toInt)
    df.repartition(nFiles, col(PartitionCol))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol).parquet(path)
  }

  /** Streaming-sink layout compaction: fold each month's
    * `batch_seq=*` partitions into one `batch_seq=compacted-<n>`.
    *
    * Crash-safe via a write-ahead intent marker per month:
    *   1. list this month's current `batch_seq` dirs (the victims);
    *   2. write the folded rows to a hidden `.compact_tmp_<n>` dir
    *     (dot-prefixed — Spark's file listing never reads it as data);
    *   3. persist the victim list to a hidden `._compact_pending_<n>`
    *     marker;
    *   4. rename tmp → `batch_seq=compacted-<n>` — the COMMIT point;
    *   5. delete the victims, then the marker.
    * Recovery (run at the top of every compaction): a leftover marker
    * whose destination exists (crash in 4-5) finishes the deletes; one
    * whose destination is missing (crash in 2-4) discards tmp + marker
    * — the original partitions were never touched. Either way the next
    * call observes exactly-once rows. A micro-batch landing CONCURRENTLY
    * with compaction is never a victim (step 2 reads exactly the dirs
    * listed in step 1 — not a fresh root listing — so a later commit is
    * neither folded nor deleted) and survives in its own partition.
    * Recovery also reclaims orphan `.compact_tmp_*` dirs left by a
    * crash between steps 2 and 3 (no marker → disk would leak).
    */
  /** Test seam: invoked once per month between the victim listing
    * (step 1) and the fold read (step 2) — the window in which a
    * concurrent micro-batch can commit. Specs use it to prove such a
    * batch is neither folded nor deleted; production leaves it a no-op.
    */
  private[graft] var onAfterVictimList: String => Unit = _ => ()

  private def compactBatchSeqMonths(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      months: Seq[String],
      targetRowsPerFile: Long
  ): Unit = {
    import org.apache.hadoop.fs.Path
    months.foreach { m =>
      val monthDir = new Path(root, s"$PartitionCol=$m")
      if (fs.exists(monthDir)) {
        recoverPendingCompaction(fs, monthDir)
        val parts = BatchSeqStore.partsOf(fs.listStatus(monthDir))
        val victims = parts.map(BatchSeqStore.dir(monthDir, _))
        val alreadyFolded = parts.length == 1 && parts.head.startsWith("compacted-")
        if (victims.nonEmpty && !alreadyFolded) {
          onAfterVictimList(m)
          val gen = parts.flatMap { nm =>
            if (nm.startsWith("compacted-"))
              scala.util.Try(nm.stripPrefix("compacted-").toLong).toOption
            else None
          }.foldLeft(0L)(math.max) + 1
          // read EXACTLY the victim dirs (basePath keeps both partition
          // columns resolvable) — re-reading the root here would race a
          // concurrent micro-batch: one committed between the victim
          // listing above and the read's file-index snapshot would be
          // folded into `compacted-<gen>` yet survive as its own
          // partition (duplicate rows). Pinning the paths makes the
          // folded output contain the victims' rows and nothing else.
          val rows = spark.read
            .option("basePath", root.toString)
            .parquet(victims.map(_.toString): _*)
            .drop(PartitionCol, BatchSeqStore.Col)
          val n = rows.count()
          val nFiles = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
          val tmp = new Path(monthDir, s".compact_tmp_$gen")
          rows.repartition(nFiles).write.mode("overwrite").parquet(tmp.toString)
          val marker = new Path(monthDir, s"._compact_pending_$gen")
          val out = fs.create(marker, true)
          try out.write(victims.map(_.getName).mkString("\n").getBytes("UTF-8"))
          finally out.close()
          val dest = BatchSeqStore.dir(monthDir, s"compacted-$gen")
          if (!fs.rename(tmp, dest))
            throw new java.io.IOException(s"compaction commit rename failed: $tmp -> $dest")
          victims.foreach(p => fs.delete(p, true))
          fs.delete(marker, false)
        }
      }
    }
  }

  /** Finish or roll back a compaction that crashed mid-swap (see
    * [[compactBatchSeqMonths]] step list). Idempotent.
    */
  private def recoverPendingCompaction(
      fs: org.apache.hadoop.fs.FileSystem,
      monthDir: org.apache.hadoop.fs.Path
  ): Unit = {
    import org.apache.hadoop.fs.Path
    fs.listStatus(monthDir)
      .filter(_.getPath.getName.startsWith("._compact_pending_"))
      .foreach { st =>
        val gen = st.getPath.getName.stripPrefix("._compact_pending_")
        val dest = BatchSeqStore.dir(monthDir, s"compacted-$gen")
        if (fs.exists(dest)) {
          // committed: finish deleting the victims it replaced
          val in = fs.open(st.getPath)
          val victims =
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          victims.filter(_.nonEmpty).foreach { name =>
            val p = new Path(monthDir, name)
            if (p.getName != dest.getName) fs.delete(p, true)
          }
        } else {
          // never committed: originals intact, discard the staging dir
          fs.delete(new Path(monthDir, s".compact_tmp_$gen"), true)
        }
        fs.delete(st.getPath, false)
      }
    // a crash between the tmp write (step 2) and the marker write
    // (step 3) leaves a `.compact_tmp_<gen>` with NO marker — hidden
    // from reads but leaking disk forever. Markers were all consumed
    // above, so any surviving tmp dir is such an orphan: reclaim it.
    // AGE-GATED: compaction assumes one compactor per store (see
    // [[compactPartitions]]), but deletion is the one step whose
    // blast radius under a violated assumption is another call's
    // in-flight staging dir (its step-2→3 window), so the sweep only
    // reclaims tmp dirs whose last modification is older than
    // [[OrphanTmpMinAgeMs]] — a genuinely crashed orphan is by
    // definition not being written anymore, while a live staging dir
    // is at most minutes old.
    // age = newest mtime anywhere under the tmp dir, not the dir's
    // own (a long write parks files in deep _temporary subdirs
    // without touching the top-level dir, which would look stale
    // while still very much in flight)
    val now = System.currentTimeMillis()
    def newestMtime(p: Path): Long = {
      var newest = fs.getFileStatus(p).getModificationTime
      val it = fs.listFiles(p, true)
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    fs.listStatus(monthDir)
      .filter { st =>
        st.isDirectory && st.getPath.getName.startsWith(".compact_tmp_") &&
          now - newestMtime(st.getPath) > OrphanTmpMinAgeMs
      }
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Minimum age before a marker-less `.compact_tmp_*` staging dir is
    * treated as a crash orphan and reclaimed (test seam: specs lower
    * it to exercise the sweep without a 15-minute fixture wait).
    */
  private[graft] var OrphanTmpMinAgeMs: Long = 15L * 60 * 1000

  /** R3 — verification: per key, distinct buckets observed in the
    * stored rollup within [rangeStart, rangeEnd) vs the expected count
    * from interval arithmetic. Returns keys that fail.
    */
  def verifyRange(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      grainSeconds: Long,
      rangeStart: String,
      rangeEnd: String
  ): DataFrame = {
    val lo = to_timestamp(lit(rangeStart))
    val hi = to_timestamp(lit(rangeEnd))
    val expected = GapOps.expectedBucketCount(lo, hi, grainSeconds)
    spark.read.parquet(path)
      .filter(col("bucket_ts") >= lo && col("bucket_ts") < hi)
      .groupBy(keys.map(col): _*)
      .agg(countDistinct(col("bucket_ts")).as("observed"))
      .withColumn("expected", expected)
      .filter(col("observed") < col("expected"))
  }
}
