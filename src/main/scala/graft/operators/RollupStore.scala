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

  /** Rows per file a compacted month holds. */
  private val CompactRowsPerFile = 1000000L

  /** Small-file compaction — the `OPTIMIZE TABLE` analog for streaming
    * sinks: append-mode foreachBatch writers accumulate one file per
    * micro-batch per partition; periodically rewrite each month
    * partition into ~1M-row files. Idempotent and
    * partition-scoped (dynamic overwrite leaves other months alone).
    *
    * A store written by the exactly-once streaming sink
    * ([[graft.streaming.StreamingRollup.toParquetSink]]) is partitioned
    * two levels deep — `bucket_month=M/batch_seq=<key>-<id>` — and
    * compacts WHOLE through [[BatchSeqStore.compact]] with an identity
    * fold: every live part of every month folds into one compacted
    * part per month, preserving the two-level layout (a month-level
    * rewrite would leave leaf files at two partition depths under one
    * root), committed by the store's one manifest; `months` scopes
    * only the month-partitioned form. A live stream's next micro-batch
    * lands in its own fresh part beside the compacted one, and a batch
    * committed while the compaction runs is neither folded nor swept.
    * One compactor per store root at a time — schedule compaction from
    * a single maintenance job, as you would OPTIMIZE.
    */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      months: Seq[String]
  ): Unit =
    if (BatchSeqStore.parts(spark, path).nonEmpty) {
      def files(rows: DataFrame) =
        rows.repartition(math.max(1, math.ceil(rows.count().toDouble / CompactRowsPerFile).toInt))
      BatchSeqStore.compact(spark, path, spark.read.parquet(path).schema, files, PartitionCol)
    } else {
      val df = spark.read.parquet(path)
        .filter(col(PartitionCol).isin(months: _*))
      // partition values may read back type-inferred (int), not string
      val counts = df.groupBy(col(PartitionCol)).count()
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      val nFiles = math.max(1,
        math.ceil(counts.values.sum.toDouble / CompactRowsPerFile).toInt)
      df.repartition(nFiles, col(PartitionCol))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(PartitionCol).parquet(path)
    }

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
