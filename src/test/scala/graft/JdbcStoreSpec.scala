package graft

import java.util.Properties

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.JdbcStore
import graft.streaming.{BatchSeqStore, StreamingRollup}

/** The JDBC warehouse boundary against embedded Derby: at-least-once
  * appends (redelivery duplicates rows) + read-side last-writer-wins
  * (B2) restoring exactly-once reads — the engine's restatement of the
  * reference's ClickHouse insert + ReplacingMergeTree dedup contract.
  */
class JdbcStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(name: String): (String, Properties) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    (s"jdbc:derby:$dir/db;create=true", props)
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("withRetry retries transient failures and propagates the final one") {
    var calls = 0
    val out = JdbcStore.withRetry(maxRetries = 3, backoffMs = 0L) {
      calls += 1
      if (calls < 3) sys.error(s"transient $calls")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    var calls2 = 0
    val e = intercept[RuntimeException] {
      JdbcStore.withRetry(maxRetries = 1, backoffMs = 0L) {
        calls2 += 1
        sys.error(s"hard $calls2")
      }
    }
    assert(e.getMessage == "hard 2" && calls2 == 2)
  }

  test("redelivered batch duplicates rows; readLatest restores the B2 contract") {
    val (url, props) = freshDb("jdbc_batch")
    val batch = Seq(
      ("BTC", ts("2024-03-01 08:00:00"), 100.0, 1L),
      ("BTC", ts("2024-03-01 08:15:00"), 101.0, 2L),
      ("ETH", ts("2024-03-01 08:00:00"), 50.0, 1L)
    ).toDF("symbol", "bucket_ts", "close", "version")
    JdbcStore.writeAppend(batch, url, "rollup", props)
    // the at-least-once case: the same batch re-delivered wholesale,
    // plus a genuinely newer version of one key
    JdbcStore.writeAppend(batch, url, "rollup", props)
    val newer = Seq(("BTC", ts("2024-03-01 08:00:00"), 105.0, 3L))
      .toDF("symbol", "bucket_ts", "close", "version")
    JdbcStore.writeAppend(newer, url, "rollup", props)

    assert(JdbcStore.readTable(spark, url, "rollup", props).count() == 7)
    val latest = JdbcStore
      .readLatest(spark, url, "rollup", props,
        keys = Seq("symbol", "bucket_ts"), versionCol = "version")
      .select("symbol", "bucket_ts", "close")
      .as[(String, java.sql.Timestamp, Double)].collect().toSet
    assert(latest == Set(
      ("BTC", ts("2024-03-01 08:00:00"), 105.0),
      ("BTC", ts("2024-03-01 08:15:00"), 101.0),
      ("ETH", ts("2024-03-01 08:00:00"), 50.0)))
  }

  test("streaming rollup lands in the JDBC table and matches the batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val (url, props) = freshDb("jdbc_stream")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jdbc_ckpt").toString
    val ticks = Seq(
      Tick("BTC", ts("2024-03-01 08:01:00"), 100.0),
      Tick("BTC", ts("2024-03-01 08:07:00"), 103.0),
      Tick("BTC", ts("2024-03-01 08:16:00"), 99.0),
      Tick("ETH", ts("2024-03-01 08:02:00"), 50.0))
    val source = MemoryStream[Tick]
    source.addData(ticks)
    val streamed = StreamingRollup.streamingOhlcv(
      source.toDF(), Seq("symbol"), "t", "price", "15 minutes", "10 minutes")
    // push the watermark past the windows so append mode emits them
    source.addData(Tick("BTC", ts("2024-03-01 12:00:00"), 1.0))
    BatchSeqStore.runAvailableNow(
      JdbcStore.toJdbcSink(streamed, url, "stream_rollup", props, ckpt))

    val viaJdbc = JdbcStore.readTable(spark, url, "stream_rollup", props)
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "trades")
    val batch = graft.operators.CandleOps.ohlcvRollup(
        ticks.toDF(), Seq("symbol"), "t", "price", "15 minutes")
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "trades")
    assert(viaJdbc.as[(String, java.sql.Timestamp, Double, Double, Double, Double, Long)]
      .collect().toSet ==
      batch.as[(String, java.sql.Timestamp, Double, Double, Double, Double, Long)]
        .collect().toSet)
  }
}
