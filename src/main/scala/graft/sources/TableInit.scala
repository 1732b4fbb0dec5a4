package graft.sources

import org.apache.spark.sql.SparkSession

import graft.model.Timeframe

/** S6 — idempotent schema bootstrap, the analog of the reference's
  * `CREATE DATABASE/TABLE IF NOT EXISTS` startup DDL
  * (app/clickhouse_schema.py:108-121, 232-243). Creates the candle
  * database and the base + per-grain rollup tables as month-partitioned
  * parquet catalog tables. Re-running is a no-op (`IF NOT EXISTS`) —
  * unlike the reference, rollup definitions are code, not catalog
  * state, so nothing needs the reference's destructive drop+recreate of
  * views on startup.
  */
object TableInit {

  val CandleColumns: String =
    """exchange STRING, symbol STRING, interval STRING,
       start TIMESTAMP, stop TIMESTAMP, close_unixtime BIGINT,
       trades INT, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE,
       volume DOUBLE, timestamp TIMESTAMP, receipt_timestamp TIMESTAMP,
       start_month STRING"""

  val RollupColumns: String =
    """exchange STRING, symbol STRING, bucket_ts TIMESTAMP,
       open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE,
       volume DOUBLE, trades BIGINT, bucket_month STRING"""

  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Base candle table: `{db}.candles_raw_{tf}` mirroring the reference
    * naming (app/clickhouse_schema.py:24-26), partitioned by month of
    * `start` (the `PARTITION BY toYYYYMM(start)` analog).
    */
  def ensureBaseTable(spark: SparkSession, db: String, timeframe: Timeframe): Unit = {
    ensureDatabase(spark, db)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS `$db`.candles_raw_${timeframe.label}
         ($CandleColumns)
         USING parquet PARTITIONED BY (start_month)""")
  }

  /** Rollup tables `{db}.candles_{label}` for every grain in the
    * reference cascade (app/clickhouse_schema.py:29).
    */
  def ensureRollupTables(
      spark: SparkSession,
      db: String,
      grains: Seq[Timeframe] = Timeframe.RollupGrains
  ): Unit = {
    ensureDatabase(spark, db)
    grains.foreach { g =>
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS `$db`.candles_${g.label}
           ($RollupColumns)
           USING parquet PARTITIONED BY (bucket_month)""")
    }
  }
}
