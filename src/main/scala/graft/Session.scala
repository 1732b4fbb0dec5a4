package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one run harness: every graft main and the test JVM build their
  * session through [[local]], and everything that times a query runs
  * it through [[consume]] after [[warmUp]], so a number from Bench or
  * ProfileQuery measures the same session shape and the same action.
  */
object Session {

  /** A local session on `cores` threads with `cores` shuffle
    * partitions, AQE coalescing by size rather than by parallelism,
    * UTC, no UI, and [[graft.sources.Tables.ReaderConfs]] (some of
    * which are static confs that only take effect at build time).
    * Callers add their own extras on the builder and set their own
    * log level.
    */
  def local(app: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(new SparkConf().setAll(graft.sources.Tables.ReaderConfs))

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** The timed action: hash EVERY output column into one aggregate
    * (not count()). Under count() Catalyst legitimately eliminates
    * row-neutral work — q_substring_scrub's unique-keyed left span
    * join benched flat at every SF because the join it ships never
    * ran — so the timing measured a pruned twin of the committed plan.
    * A full-column xxhash64 keeps every column (no pruning) and every
    * operator feeding them live, and stays a 1-row driver result.
    * Map-typed columns (hash-on-map is disallowed) ride through
    * to_json first; a frame with no columns is counted.
    */
  def consume(df: DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      val c = col("`" + f.name + "`")
      if (containsMap(f.dataType)) to_json(c) else c
    }
    if (cols.isEmpty) { df.count(); () }
    else {
      df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
        .agg(expr("bit_xor(__h)")).head()
      ()
    }
  }

  /** JVM/session warm-up outside any timed loop (codegen, parquet
    * footer caches, shuffle infra, JIT of the md5/shingle/dot-product
    * hot loops), so the first query to touch each code path isn't
    * charged 5-25 s of spin-up. It runs at sf0.001 — same code paths,
    * ~1% of the data — and ignores a query that fails there. A fatal
    * error (out of memory, an interrupt) still propagates, so a timed
    * loop never runs in a damaged JVM.
    */
  def warmUp(spark: SparkSession): Unit =
    Seq("q_ohlcv_rollup_15m", "q_dedup_groups", "q_knn_kmeans_ivf",
      "q_simhash_neardup", "q_winnow_neardup", "q_copurchase").foreach { q =>
      try consume(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      catch { case scala.util.control.NonFatal(_) => () }
    }
}
