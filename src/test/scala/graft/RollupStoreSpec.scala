package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model.Timeframe
import graft.operators.RollupStore
import graft.sources.TableInit

/** R2/R3 integration: build → corrupt → repair restores source truth
  * and only touches intersecting month partitions; verification
  * arithmetic flags shortfalls. Plus S6 idempotent bootstrap.
  */
class RollupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // two months of hourly data for one symbol
  private lazy val base = (0 until 24 * 59).map { h =>
    ("BTC", new Timestamp(ts("2024-01-01 00:00:00").getTime + h * 3600000L), 100.0 + h % 17)
  }.toDF("symbol", "t", "price")

  test("R2 repairRange restores a damaged month from source truth") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup").toString
    val path = s"$dir/rollup_1d"
    RollupStore.build(base, Seq("symbol"), "t", "price", "1 day", path)
    val before = spark.read.parquet(path)
    val total = before.count()
    assert(total == 59)

    // corrupt: rewrite January with garbage (half the buckets dropped,
    // values zeroed) — simulates the reference's damaged-range scenario
    val garbage = before
      .filter($"bucket_month" === "202401" && dayofmonth($"bucket_ts") <= 15)
      .withColumn("close", lit(0.0))
    garbage.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket_month").parquet(path)
    assert(spark.read.parquet(path).filter($"bucket_month" === "202401").count() == 15)

    // repair just January; February must stay untouched
    RollupStore.repairRange(base, Seq("symbol"), "t", "price", "1 day",
      path, "2024-01-05 00:00:00", "2024-01-20 00:00:00")
    val after = spark.read.parquet(path)
    assert(after.count() == total)
    assert(after.filter($"close" === 0.0).count() == 0)

    // repaired content equals a fresh rollup of the source
    val fresh = graft.operators.CandleOps.ohlcvRollup(
      base, Seq("symbol"), "t", "price", "1 day")
    val cols = Seq("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    assert(after.select(cols.map(col): _*).orderBy("bucket_ts").collect()
      .sameElements(fresh.select(cols.map(col): _*).orderBy("bucket_ts").collect()))
  }

  test("upsertByKey merges last-writer-wins and rewrites only touched months") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val path = s"$dir/store"
    def row(sym: String, t: String, price: Double, ver: Long) =
      (sym, ts(t), price, ver)
    val v1 = Seq(
      row("BTC", "2024-01-10 00:00:00", 100.0, 1L),
      row("BTC", "2024-02-10 00:00:00", 200.0, 1L),
      row("ETH", "2024-01-15 00:00:00", 10.0, 1L)
    ).toDF("symbol", "t", "price", "ver")
    RollupStore.upsertByKey(spark, path, v1, Seq("symbol", "t"), "t", "ver")
    assert(spark.read.parquet(path).count() == 3)
    val febFilesBefore = new java.io.File(s"$path/bucket_month=202402")
      .listFiles().map(_.getName).toSet

    // batch 2: update one January row, insert one new January row —
    // February must not be rewritten
    val v2 = Seq(
      row("BTC", "2024-01-10 00:00:00", 111.0, 2L),
      row("SOL", "2024-01-20 00:00:00", 5.0, 2L)
    ).toDF("symbol", "t", "price", "ver")
    RollupStore.upsertByKey(spark, path, v2, Seq("symbol", "t"), "t", "ver")

    val after = spark.read.parquet(path)
    assert(after.count() == 4) // 3 + 1 insert, update deduped
    val btcJan = after.filter($"symbol" === "BTC" && $"bucket_month" === 202401).head()
    assert(btcJan.getAs[Double]("price") == 111.0 && btcJan.getAs[Long]("ver") == 2L)
    val febFilesAfter = new java.io.File(s"$path/bucket_month=202402")
      .listFiles().map(_.getName).toSet
    assert(febFilesAfter == febFilesBefore, "untouched month was rewritten")

    // idempotent: replaying the same batch changes nothing
    RollupStore.upsertByKey(spark, path, v2, Seq("symbol", "t"), "t", "ver")
    assert(spark.read.parquet(path).count() == 4)
    assert(spark.read.parquet(path)
      .filter($"symbol" === "BTC" && $"bucket_month" === 202401)
      .head().getAs[Double]("price") == 111.0)
  }

  test("R3 verifyRange flags shortfalls and passes complete ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup3").toString
    val path = s"$dir/rollup_1h"
    RollupStore.build(base, Seq("symbol"), "t", "price", "1 hour", path)
    val ok = RollupStore.verifyRange(spark, path, Seq("symbol"), 3600L,
      "2024-01-01 00:00:00", "2024-01-10 00:00:00")
    assert(ok.count() == 0)
    // a range extending past the data's end is short
    val short = RollupStore.verifyRange(spark, path, Seq("symbol"), 3600L,
      "2024-01-01 00:00:00", "2024-06-01 00:00:00")
    assert(short.count() == 1)
  }

  test("S6 bootstrap is idempotent and creates all cascade tables") {
    val db = "graft_test_db"
    TableInit.ensureBaseTable(spark, db, Timeframe.parse("1m"))
    TableInit.ensureRollupTables(spark, db)
    TableInit.ensureBaseTable(spark, db, Timeframe.parse("1m")) // re-run: no-op
    TableInit.ensureRollupTables(spark, db)
    val tables = spark.sql(s"SHOW TABLES IN $db").select("tableName").as[String].collect().toSet
    assert(tables.contains("candles_raw_1m"))
    assert(Timeframe.RollupGrains.forall(g => tables.contains(s"candles_${g.label}")))
  }
}
