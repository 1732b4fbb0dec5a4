package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Candle, Timeframe}
import graft.operators.{CandleOps, GapOps, IngestOps, MicrostructureOps}

/** The user-facing facade: one object that gives a reference-service
  * user everything their ClickHouse tables + watchdog gave them, as
  * composable lazy DataFrames.
  *
  * {{{
  * val candles = CandleTable.fromParquet(spark, "/data/candles_raw_1m")
  * val clean   = candles.validated.deduped          // CHECK + FINAL
  * clean.rollup("15m")                              // A5
  * clean.missingBuckets("1m")                       // the watchdog's gap scan
  * clean.freshness(lit(ts), staleAfter = "2m")      // the 2-minute SLO
  * }}}
  *
  * All methods return lazy plans — nothing executes until an action, so
  * chains optimize as one Catalyst plan.
  */
final class CandleTable private (
    val df: DataFrame,
    val keys: Seq[String],
    val tsCol: String
) {

  private def rekey(newDf: DataFrame): CandleTable =
    new CandleTable(newDf, keys, tsCol)

  /** P3 — drop rows violating the reference's CHECK constraints. */
  def validated: CandleTable = rekey(
    IngestOps.validate(df, IngestOps.candleChecks(
      col("open"), col("high"), col("low"), col("close"),
      col("volume"), col("close_unixtime"),
      keys.map(col))))

  /** B2 — last-writer-wins dedup (the `FINAL` read). */
  def deduped: CandleTable = rekey(
    CandleOps.latestByKey(df, keys :+ tsCol, "receipt_timestamp"))

  /** A5 — OHLCV rollup at a timeframe ('15m', '1h', ... — the
    * reference grammar) keyed by (exchange, symbol): the exact MV
    * aggregation of app/clickhouse_schema.py:179-185 —
    * argMin(open,start), max(high), min(low), argMax(close,start),
    * sum(volume), sum(trades).
    */
  def rollup(timeframe: String): DataFrame = candles(timeframe).drop("vol_cents")

  /** [[rollup]] with the volume as EXACT long cents (each candle's
    * volume quantized per row via [[graft.functions.Cents]] before
    * summation: no rehydrated double is ever re-quantized, lossless at
    * any scale). The cent-exact volume consumers (OBV, MFI, Kyle λ,
    * Amihud, VPIN, volume profile) dispatch on the `vol_cents` column
    * automatically.
    */
  def rollupCents(timeframe: String): DataFrame = candles(timeframe).drop("volume")

  /** The one candle aggregate behind [[rollup]] and [[rollupCents]],
    * carrying both volume forms; each drops the one it does not
    * publish, and column pruning removes that aggregate from the plan.
    */
  private def candles(timeframe: String): DataFrame = {
    val ts = col(tsCol)
    CandleOps.bucketed(df, rkeys, ts, Timeframe.parse(timeframe).sparkInterval,
      CandleOps.ohlc(col("open"), ts, col("high"), col("low"), col("close"), ts) ++ Seq(
        CandleOps.moneySum(col("volume")).as("volume"),
        sum(graft.functions.Cents.cents(col("volume"))).as("vol_cents"),
        sum(col("trades").cast("long")).as("trades")))
  }

  /** G2 — grid buckets with no candle, per key. */
  def missingBuckets(timeframe: String): DataFrame =
    GapOps.missingBuckets(df, keys.filterNot(_ == "interval"), tsCol,
      Timeframe.parse(timeframe).sparkInterval)

  /** G4 — staleness per key against an anchor "now". */
  def freshness(anchor: org.apache.spark.sql.Column, staleAfter: String = "2m"): DataFrame =
    GapOps.freshnessLag(df, keys.filterNot(_ == "interval"), tsCol, anchor,
      Timeframe.parse(staleAfter).seconds * 1000000L)

  /** P4 — backfill chunks from `startDate` up to each key's earliest
    * candle.
    */
  def backfillPlan(startDate: String, timeframe: String, chunkOf: Int): DataFrame = {
    val tf = Timeframe.parse(timeframe)
    GapOps.backfillChunks(df, keys.filterNot(_ == "interval"), tsCol,
      lit(startDate).cast("timestamp"), tf.sparkInterval,
      s"${chunkOf * tf.seconds} seconds")
  }

  /** Inactivity-gap activity sessions per key (native session_window;
    * a new session starts when the market is quiet for more than
    * `gap`) — exact decimal-accumulated `valueCol` totals per session.
    */
  def sessions(gap: String, valueCol: String = "volume"): DataFrame =
    graft.operators.SessionOps.sessionSummaries(
      df, keys.filterNot(_ == "interval"), tsCol, valueCol, gap)

  /** Bollinger bands over the closes of a `timeframe` rollup. */
  def bollinger(timeframe: String, nWindow: Int = 20, k: Int = 2): DataFrame =
    CandleOps.bollinger(rollup(timeframe), keys.filterNot(_ == "interval"),
      "bucket_ts", "close", nWindow, k)

  /** Simple RSI over the closes of a `timeframe` rollup. */
  def rsi(timeframe: String, nWindow: Int = 14): DataFrame =
    CandleOps.rsi(rollup(timeframe), keys.filterNot(_ == "interval"),
      "bucket_ts", "close", nWindow)

  private def rkeys: Seq[String] = keys.filterNot(_ == "interval")

  /** Stochastic oscillator (raw + smoothed %K) over a rollup. */
  def stochastic(timeframe: String, nWindow: Int = 14, smoothN: Int = 3): DataFrame =
    CandleOps.stochastic(rollup(timeframe), rkeys, "bucket_ts", nWindow, smoothN)

  /** Average true range over a rollup. */
  def atr(timeframe: String, nWindow: Int = 14): DataFrame =
    CandleOps.atr(rollup(timeframe), rkeys, "bucket_ts", nWindow)

  /** Donchian channel + close position over a rollup. */
  def donchian(timeframe: String, nWindow: Int = 20): DataFrame =
    CandleOps.donchian(rollup(timeframe), rkeys, "bucket_ts", nWindow)

  /** On-balance volume over a cent-exact rollup. */
  def obv(timeframe: String): DataFrame =
    CandleOps.obv(rollupCents(timeframe), rkeys, "bucket_ts", "close", "vol_cents")

  /** Exact-rational MACD (+ quantized signal line) over a rollup. */
  def macd(timeframe: String, fast: Int = 6, slow: Int = 13, signalN: Int = 5): DataFrame =
    CandleOps.macd(rollup(timeframe), rkeys, "bucket_ts", "close", fast, slow, signalN)

  /** Floor-trader pivot levels from each prior bucket. */
  def pivotPoints(timeframe: String): DataFrame =
    CandleOps.pivotPoints(rollup(timeframe), rkeys, "bucket_ts")

  /** Per-key OLS price trend over a rollup (exact moment sums). */
  def trendSlope(timeframe: String, originTs: String): DataFrame =
    CandleOps.trendSlope(rollup(timeframe), rkeys, "bucket_ts", "close", originTs)

  /** Per-key lag-k close autocorrelation (exact moment sums). */
  def autocorrelation(timeframe: String, k: Int = 1): DataFrame =
    CandleOps.autocorrelation(rollup(timeframe), rkeys, "bucket_ts", "close", k)

  /** Heikin-Ashi candles over a rollup (truncated exact open). */
  def heikinAshi(timeframe: String, nWindow: Int = 12): DataFrame =
    CandleOps.heikinAshi(rollup(timeframe), rkeys, "bucket_ts", nWindow)

  /** Volume-at-price profile over a cent-exact rollup. */
  def volumeProfile(timeframe: String, bucketCents: Long = 100L): DataFrame =
    CandleOps.volumeProfile(rollupCents(timeframe), rkeys, "close", "vol_cents", bucketCents)

  /** Per-key max drawdown of a rollup's closes. */
  def drawdown(timeframe: String): DataFrame =
    CandleOps.drawdown(rollup(timeframe), rkeys, "bucket_ts", "close")

  /** Williams %R over a rollup. */
  def williamsR(timeframe: String, nWindow: Int = 14): DataFrame =
    MicrostructureOps.williamsR(rollup(timeframe), rkeys, "bucket_ts", nWindow)

  /** Aroon up/down via the packed-integer rolling argmax. */
  def aroon(timeframe: String, nWindow: Int = 14): DataFrame =
    MicrostructureOps.aroon(rollup(timeframe), rkeys, "bucket_ts", nWindow)

  /** Money flow index over a cent-exact rollup. */
  def mfi(timeframe: String, nWindow: Int = 14): DataFrame =
    MicrostructureOps.mfi(rollupCents(timeframe), rkeys, "bucket_ts", nWindow)

  /** Commodity channel index (exact own-window mean deviation). */
  def cci(timeframe: String, nWindow: Int = 20): DataFrame =
    MicrostructureOps.cci(rollup(timeframe), rkeys, "bucket_ts", nWindow)

  /** Roll's implied spread from serial move autocovariance. */
  def rollSpread(timeframe: String): DataFrame =
    MicrostructureOps.rollSpread(rollup(timeframe), rkeys, "bucket_ts")

  /** Kyle's lambda: price impact per signed cent of volume. */
  def kyleLambda(timeframe: String): DataFrame =
    MicrostructureOps.kyleLambda(rollupCents(timeframe), rkeys, "bucket_ts")

  /** Amihud-style illiquidity per (key, day). */
  def amihud(timeframe: String): DataFrame =
    MicrostructureOps.amihud(rollupCents(timeframe), rkeys, "bucket_ts")

  /** Lo-MacKinlay variance ratio (random-walk diagnostic). */
  def varianceRatio(timeframe: String, q: Int = 4): DataFrame =
    MicrostructureOps.varianceRatio(rollup(timeframe), rkeys, "bucket_ts", q)

  /** VPIN-style flow toxicity on the volume clock. */
  def vpin(timeframe: String, bucketVolumeCents: Long): DataFrame =
    MicrostructureOps.vpin(rollupCents(timeframe), rkeys, "bucket_ts", bucketVolumeCents)

  /** Brown's double exponential smoothing: level/trend/one-step
    * forecast in micro-cents.
    */
  def holtBrown(timeframe: String, nWindow: Int = 6): DataFrame =
    CandleOps.holtBrown(rollup(timeframe), rkeys, "bucket_ts", "close", nWindow)

  /** EWMA volatility (RiskMetrics) of close-to-close cent moves. */
  def ewmaVolatility(timeframe: String, nWindow: Int = 6): DataFrame =
    CandleOps.ewmaVolatility(rollup(timeframe), rkeys, "bucket_ts", "close", nWindow)

  /** Screened pairwise correlation — the scale path past a few
    * thousand keys (sign-sketch LSH candidates, exact corr on the
    * candidates; see [[MicrostructureOps.corrScreen]]). The screen
    * pairs KEYS: multi-column keys (exchange, symbol) are packed into
    * one '|'-joined composite, reported as key_a/key_b.
    */
  def corrScreen(
      timeframe: String,
      maxHamming: Int = 7,
      bandBits: Option[Int] = None): DataFrame = {
    val r = rollup(timeframe)
      .withColumn("__key", concat_ws("|", rkeys.map(col): _*))
    // None = auto-size the band from the measured key universe (the
    // safe default at any scale); Some(bits) for callers who know
    // their universe and want the pure plan-builder path.
    bandBits match {
      case Some(bits) => MicrostructureOps.corrScreen(r, "__key", "bucket_ts",
        maxHamming = maxHamming, bandBits = bits)
      case None => MicrostructureOps.corrScreenAuto(r, "__key", "bucket_ts",
        maxHamming = maxHamming)
    }
  }

  /** Pack each key's series into per-column codec cells (DoubleDelta
    * epoch grid + Gorilla closes + DoubleDelta cent closes) — the
    * serialized-state storage row ([[graft.functions.Codecs]]).
    */
  def packedSeries(timeframe: String): DataFrame = {
    import graft.functions.Codecs
    val r = rollup(timeframe)
      .select((rkeys.map(col) :+
        unix_micros(col("bucket_ts")).as("__us") :+ col("close")): _*)
      .groupBy(rkeys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__us"), col("close")))).as("__s"))
    r.select((rkeys.map(col) :+
      size(col("__s")).as("n_buckets") :+
      Codecs.dd_encode(expr("transform(__s, x -> x.__us)")).as("ts_cell") :+
      Codecs.gorilla_encode(expr("transform(__s, x -> x.close)")).as("px_cell") :+
      Codecs.dd_encode(
        expr("transform(__s, x -> CAST(round(x.close * 100) AS BIGINT))"))
        .as("px_cents_cell")): _*)
  }

  /** Typed view for case-class-level logic. */
  def typed(implicit spark: SparkSession): Dataset[Candle] = {
    import spark.implicits._
    df.as[Candle]
  }
}

object CandleTable {

  /** Wrap an existing candle DataFrame (must carry the Candle schema
    * columns).
    */
  def apply(df: DataFrame): CandleTable =
    new CandleTable(df, Seq("exchange", "symbol", "interval"), "start")

  def fromParquet(spark: SparkSession, path: String): CandleTable =
    apply(spark.read.parquet(path))
}
