package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CandleAssembler
import graft.streaming.CandleAssembler.Trade

class CandleAssemblerSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("assembles 1m candles from trades, emitting each bucket exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Trade]
    val candles = CandleAssembler.assemble(
      source.toDS(), grainMs = 60000L, watermark = "30 seconds")
    val q = candles.writeStream.outputMode("append")
      .format("memory").queryName("assembled").start()
    try {
      source.addData(
        Trade("BTC", ts("2024-03-01 08:00:01"), 100.0, 2.0),
        Trade("BTC", ts("2024-03-01 08:00:15"), 105.0, 1.0),
        Trade("BTC", ts("2024-03-01 08:00:50"), 95.0, 1.0),
        Trade("BTC", ts("2024-03-01 08:01:10"), 99.0, 4.0),
        Trade("ETH", ts("2024-03-01 08:00:30"), 10.0, 10.0))
      q.processAllAvailable()
      // advance the watermark far past both buckets
      source.addData(Trade("BTC", ts("2024-03-01 08:10:00"), 1.0, 1.0))
      q.processAllAvailable()

      val out = spark.table("assembled")
        .filter($"bucket_ts" < ts("2024-03-01 08:05:00"))
        .as[CandleAssembler.AssembledCandle]
        .collect().map(c => (c.symbol, c.bucket_ts) -> c).toMap
      assert(out.size == 3)
      val btc0 = out(("BTC", ts("2024-03-01 08:00:00")))
      assert(btc0.open == 100.0 && btc0.close == 95.0)
      assert(btc0.high == 105.0 && btc0.low == 95.0)
      assert(btc0.volume == 4.0 && btc0.trades == 3)
      assert(math.abs(btc0.vwap - (100 * 2 + 105 * 1 + 95 * 1) / 4.0) < 1e-12)
      val btc1 = out(("BTC", ts("2024-03-01 08:01:00")))
      assert(btc1.trades == 1 && btc1.open == 99.0 && btc1.close == 99.0)
      val eth0 = out(("ETH", ts("2024-03-01 08:00:00")))
      assert(eth0.vwap == 10.0 && eth0.volume == 10.0)
    } finally q.stop()
  }

  test("late trade within watermark lands in its candle; sealed buckets stay sealed") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Trade]
    val candles = CandleAssembler.assemble(
      source.toDS(), grainMs = 60000L, watermark = "2 minutes")
    val q = candles.writeStream.outputMode("append")
      .format("memory").queryName("assembled_late").start()
    try {
      source.addData(Trade("BTC", ts("2024-03-01 08:00:10"), 100.0, 1.0))
      q.processAllAvailable()
      // 50s-late trade, still within the 2m watermark: bucket not sealed
      source.addData(Trade("BTC", ts("2024-03-01 08:00:20"), 200.0, 1.0))
      q.processAllAvailable()
      source.addData(Trade("BTC", ts("2024-03-01 08:20:00"), 1.0, 1.0)) // seal
      q.processAllAvailable()
      val c = spark.table("assembled_late")
        .filter($"bucket_ts" === ts("2024-03-01 08:00:00"))
        .as[CandleAssembler.AssembledCandle].head()
      assert(c.trades == 2 && c.high == 200.0)
    } finally q.stop()
  }

  test("a bucket whose trades all have qty 0 publishes volume 0 and vwap = close") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Trade]
    val candles = CandleAssembler.assemble(
      source.toDS(), grainMs = 60000L, watermark = "30 seconds")
    val q = candles.writeStream.outputMode("append")
      .format("memory").queryName("assembled_zero_qty").start()
    try {
      source.addData(
        Trade("BTC", ts("2024-03-01 08:00:05"), 100.0, 0.0),
        Trade("BTC", ts("2024-03-01 08:00:40"), 102.0, 0.0))
      q.processAllAvailable()
      source.addData(Trade("BTC", ts("2024-03-01 08:10:00"), 1.0, 1.0)) // seal
      q.processAllAvailable()
      val c = spark.table("assembled_zero_qty")
        .filter($"bucket_ts" === ts("2024-03-01 08:00:00"))
        .as[CandleAssembler.AssembledCandle].head()
      assert(c.trades == 2 && c.open == 100.0 && c.close == 102.0)
      assert(c.volume == 0.0 && c.vwap == 102.0)
    } finally q.stop()
  }
}
