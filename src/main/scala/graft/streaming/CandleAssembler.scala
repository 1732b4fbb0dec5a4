package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.CandleOps

/** Engine-side candle construction from raw trades — the stage the
  * reference outsources to the exchange (`candle_closed_only=True`
  * hands it pre-built 1m candles, app/data_collector.py:151). A
  * watermarked tumbling-window aggregation per (symbol, bucket): the
  * shared candle ([[CandleOps.ohlc]]: open at the earliest trade, close
  * at the latest), `sum(qty)` volume and `sum(price * qty) / sum(qty)`
  * VWAP, falling back to the close when the volume is 0. Append mode
  * emits each candle exactly once, when the event-time watermark passes
  * the bucket end. Trades with equal timestamps tie in aggregation
  * order.
  *
  * State size: one partial aggregate per open (symbol, bucket) —
  * bounded by watermark horizon x symbol count, independent of trade
  * volume.
  */
object CandleAssembler {

  case class Trade(symbol: String, ts: Timestamp, price: Double, qty: Double)

  case class AssembledCandle(
      symbol: String, bucket_ts: Timestamp,
      open: Double, high: Double, low: Double, close: Double,
      volume: Double, vwap: Double, trades: Long)

  /** @param grainMs bucket width (e.g. 60000 for 1m candles) */
  def assemble(
      trades: Dataset[Trade],
      grainMs: Long,
      watermark: String
  ): Dataset[AssembledCandle] = {
    val (price, qty, volume) = (col("price"), col("qty"), col("volume"))
    StreamingRollup.windowed(trades.toDF(), Seq("symbol"), "ts",
        s"$grainMs milliseconds", watermark,
        CandleOps.ohlc(price, col("ts")) ++ Seq(
          sum(qty).as("volume"),
          sum(price * qty).as("notional"),
          count(lit(1)).as("trades")))
      .select(
        col("symbol"), col("bucket_ts"),
        col("open"), col("high"), col("low"), col("close"), volume,
        when(volume > 0, col("notional") / volume).otherwise(col("close")).as("vwap"),
        col("trades"))
      .as(Encoders.product[AssembledCandle])
  }
}
