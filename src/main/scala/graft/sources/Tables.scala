package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the driver-provided parquet tables (TESTDATA.md).
  *
  * At cluster scale these would be month-partitioned parquet/table-format
  * datasets (`PARTITION BY toYYYYMM(start)` in the reference,
  * app/clickhouse_schema.py:144); the test tables are single files, but
  * every operator downstream is written so partition pruning and
  * predicate pushdown still apply (filters on raw columns, no
  * row-obscuring transforms before the first filter).
  *
  * Schema once: [[read]] infers a table file's schema on its first read
  * and builds every later DataFrame over that file with
  * `spark.read.schema(cached).parquet(path)`. A bare
  * `spark.read.parquet` infers on every call, and in Spark 4.1 that
  * inference reads the footer through an `RDD.collect`, so every table
  * read submitted one Spark job of pure driver time: 0.10-0.16 s of CPU
  * per `events` read against 0.01-0.02 s with the schema given (C1 JVM,
  * 4 vCPUs), one of the 4.5-6 jobs each candle query ran. A cached
  * schema is used only while all of these still match the read:
  *   - the qualified path;
  *   - the path's length and modification time (one `getFileStatus`
  *     through the session's Hadoop conf), so a rewritten file, or a
  *     table directory whose files were replaced, is inferred again;
  *   - the session's set `spark.sql.parquet.*` and
  *     `spark.sql.legacy.parquet.*` confs (so [[ReaderConfs]], which
  *     [[read]] ensures first) and `spark.sql.caseSensitive`.
  * A directory's modification time moves whenever a file is added,
  * removed or renamed in it, which every Spark overwrite does; object
  * stores report no modification time for a directory, so there a
  * directory table rewritten in place keeps its first schema. The
  * cache holds one entry per path; a miss replaces it. Every call
  * still builds a fresh DataFrame: sharing one would share attribute
  * ids and break self-joins.
  */
object Tables {

  /** The session confs every session this repo builds carries: Bench,
    * Verify, the tests and the tools build theirs through
    * [[graft.Session.local]], and the benchmark with
    * `SparkConf.setAll(ReaderConfs)`. `ensure` is the fallback for
    * externally-built sessions (the driver constructs its own and calls
    * `SparkEntry.queries` directly). Check-then-set: a session already
    * carrying the right values is never mutated, so repeated reads are
    * side-effect-free. The parquet reader confs are not available as
    * per-read data-source options (verified against ParquetOptions in
    * Spark 4.1.2), and they are consulted at execution time, not just
    * schema inference — a scoped set/restore around the lazy
    * `spark.read` would break at action time.
    *
    * The codegen cache size is a static conf: `ensure` skips it (it
    * cannot be set on a running session), and an externally-built
    * session keeps Spark's default of 100 entries.
    */
  val ReaderConfs: Seq[(String, String)] = Seq(
    // Parquet `isAdjustedToUTC=false` timestamps would otherwise infer
    // as TIMESTAMP_NTZ (Spark 4 default), which breaks `unix_micros`
    // and every epoch-arithmetic operator downstream. Pin the reader to
    // TIMESTAMP_LTZ: sessions run with timeZone=UTC, so the stored
    // micros are bit-identical either way — and identical to DuckDB's
    // naive-timestamp reading of the same files.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // `events.ts` is parquet TIMESTAMP(NANOS), which Spark's parquet
    // reader otherwise rejects; read it as epoch-nanos long.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Bucketed scans report their sortBy ordering (off by default
    // since 3.1) so a merge join over a bucketed+sorted store elides
    // BOTH the exchange and the sort on the store side. Sound here
    // because BucketedStore.writeBucketedAt guarantees one file per
    // bucket (the only layout whose ordering Spark will then trust).
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    // Keep every repeated pass's generated classes compiled. The
    // CodeGenerator cache is keyed by (class loader, generated source)
    // and split into 4 LRU segments; at Spark's default of 100 entries
    // a corpus dedup pass (~194 distinct classes) evicted each class
    // before the next pass needed it and recompiled all of them in
    // Janino (39% of its CPU samples). At 1000 a whole run's classes
    // (~240 corpus, ~145 candle) stay cached and later passes compile
    // nothing: corpus dedup ops per CPU second +67%, heap peak +12.5%
    // (4 vCPUs, 11 alternating pairs). A static conf, read once per JVM
    // when CodeGenerator first initialises: only a session built with
    // it gets the larger cache (CodegenCacheSpec).
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  private def ensure(spark: SparkSession): Unit =
    ReaderConfs.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k) && !spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)
    }

  /** What a cached schema was inferred under (see the object doc). */
  private final case class Stamp(length: Long, modified: Long, confs: Map[String, String])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensure(spark)
    val path = s"$dir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    } + ("spark.sql.caseSensitive" -> spark.sessionState.conf.caseSensitiveAnalysis.toString)
    val stamp = Stamp(st.getLen, st.getModificationTime, confs)
    val key = st.getPath.toString
    // get, infer, put: the inference job never runs under a lock, and a
    // race costs at most one duplicate inference
    val schema = Option(schemas.get(key)).collect { case (`stamp`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(key, (stamp, s))
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` arrives as epoch-nanos long (see [[ReaderConfs]]);
    * truncate to microseconds — integer `div`, never double division:
    * epoch-nanos (~1.7e18) exceeds 2^53. This matches DuckDB's
    * nanos→micros truncation bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  // NOTE on split counts: these test tables are single parquet files,
  // so compute-heavy text/vector stages run in few tasks. Measured
  // (local[32], sf0.1): explicitly repartitioning them up to core count
  // made every downstream query 5-8x SLOWER — the work (~2 s of md5)
  // is far smaller than 32-way shuffle+task overhead. At 100 TB the
  // scan yields thousands of splits and parallelism comes for free; do
  // not force it here.
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
