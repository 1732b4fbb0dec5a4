package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Query contract (SURVEY.md §7): the assembled query and oracle maps.
  *
  * Every entry pairs a Spark-first implementation (built on the graft
  * operator library) with an ANSI-SQL oracle executed by DuckDB over the
  * same parquet. Determinism conventions (FIXTURES.md §C): no now()/rand;
  * money/2-dp sums go through pure-IEEE per-row cent quantization
  * ([[graft.functions.Cents]]: floor(v*100+0.5), exact long/HUGEINT
  * accumulation, one division at the end) so neither aggregation order
  * nor an engine-owned double→DECIMAL rounding policy can perturb
  * values across Spark and any DuckDB release; every oracle output
  * column carries an explicit portable CAST (BIGINT/DOUBLE — an uncast
  * HUGEINT converts version-dependently in DuckDB's pandas/arrow
  * layer); ordered outputs carry total-order tiebreaks. Products of
  * 2-dp doubles cast to DECIMAL(25,8) are tie-immune by construction:
  * the exact product has ≤6 decimal places and the double error
  * (≲1e-10 at 1e5 magnitudes) is far below the 5e-9 rounding boundary,
  * so every engine recovers the same exact rational.
  *
  * The queries live in per-family modules under `graft.queries`, each
  * [[graft.queries.Q]] record holding its run function and its oracle.
  */
object SparkEntry {

  /** The records of every family module; a name defined twice fails
    * here instead of one record silently shadowing the other.
    */
  private[graft] def assemble(records: Seq[Q]): Seq[Q] = {
    val twice = records.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query names defined more than once: ${twice.toSeq.sorted.mkString(", ")}")
    records
  }

  private lazy val records: Seq[Q] = assemble(
    CandleQueries.all ++ IndicatorQueries.all ++ EventQueries.all ++
      CorpusQueries.all ++ VectorQueries.all ++ MediaQueries.all ++
      GraphQueries.all ++ TpchQueries.all ++ StatsQueries.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_ohlcv_rollup_15m")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    records.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The named queries; fails naming every name that is not a query,
    * so a misspelt name on a main's command line runs nothing silently.
    */
  def lookup(names: Iterable[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val wanted = names.toSet
    val all = queries
    val unknown = names.filterNot(all.contains).toSeq.distinct
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    all.filter { case (name, _) => wanted(name) }
  }
}
