package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Candle
import graft.operators.{CandleOps, IngestOps}

/** Invariant tests ported from the reference's runtime checks
  * (SURVEY.md §5): dedup keeps the latest writer, the rollup cascade
  * commutes with direct aggregation, CHECK constraints reject malformed
  * candles.
  */
class CandleOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def candle(
      symbol: String, start: String, o: Double, h: Double, l: Double,
      c: Double, v: Double, trades: Int = 1, receipt: String = null
  ): Candle = {
    val st = ts(start)
    val stop = new Timestamp(st.getTime + 60000)
    Candle("BINANCE", symbol, "1m", st, stop, stop.getTime / 1000, trades,
      o, h, l, c, v, stop, if (receipt == null) stop else ts(receipt))
  }

  // A clean contiguous 1m series: 08:00..08:59 for two symbols.
  private lazy val series: Seq[Candle] = for {
    sym <- Seq("BTC-USDT", "ETH-USDT")
    m <- 0 until 60
  } yield {
    val base = if (sym == "BTC-USDT") 100.0 else 10.0
    candle(sym, f"2024-03-01 08:$m%02d:00", base + m, base + m + 2,
      base + m - 1, base + m + 1, 5.0, trades = 2)
  }

  test("B2 latestByKey keeps exactly the max-receipt row per key") {
    val dup = candle("BTC-USDT", "2024-03-01 08:05:00", 999, 999, 999, 999,
      999, trades = 9, receipt = "2024-03-01 09:00:00") // later writer wins
    val older = candle("BTC-USDT", "2024-03-01 08:05:00", 111, 111, 111, 111,
      111, trades = 1, receipt = "2024-03-01 07:59:00") // stale retry, loses
    val df = (series ++ Seq(dup, older)).toDF()
    val keys = Seq("exchange", "symbol", "start", "interval")

    val out = CandleOps.latestByKey(df, keys, "receipt_timestamp")
    assert(out.count() == 120) // one row per key survives
    val winner = out.filter($"symbol" === "BTC-USDT" &&
      $"start" === ts("2024-03-01 08:05:00")).as[Candle].head()
    assert(winner.open == 999.0 && winner.trades == 9)

    // agg form agrees with window form on the payload columns
    val out2 = CandleOps.latestByKeyAgg(df, keys, "receipt_timestamp",
      Seq("open", "high", "low", "close", "volume", "trades"))
    val w2 = out2.filter($"symbol" === "BTC-USDT" &&
      $"start" === ts("2024-03-01 08:05:00")).head()
    assert(w2.getAs[Double]("open") == 999.0 && w2.getAs[Int]("trades") == 9)
  }

  test("A5 ohlcvRollup computes argMin/argMax/min/max/sum per bucket") {
    val df = series.toDF()
    val r = CandleOps.ohlcvRollup(df, Seq("symbol"), "start", "close", "15 minutes")
    assert(r.count() == 8) // 2 symbols x 4 buckets
    val b0 = r.filter($"symbol" === "BTC-USDT" &&
      $"bucket_ts" === ts("2024-03-01 08:00:00")).head()
    // close values for minutes 0..14 are 101..115
    assert(b0.getAs[Double]("open") == 101.0)   // argMin by start
    assert(b0.getAs[Double]("close") == 115.0)  // argMax by start
    assert(b0.getAs[Double]("high") == 115.0)
    assert(b0.getAs[Double]("low") == 101.0)
    assert(b0.getAs[Double]("volume") == (101 to 115).sum.toDouble)
    assert(b0.getAs[Long]("trades") == 15L)
  }

  test("A6 cascade(15m -> 1h) equals direct 1h rollup (MV commutativity)") {
    val df = series.toDF()
    val direct2 = CandleOps.ohlcvRollup(df, Seq("symbol"), "start", "close", "1 hour")
    val r15 = CandleOps.ohlcvRollup(df, Seq("symbol"), "start", "close",
      "15 minutes", withCarriers = true)
    val cascaded = CandleOps.finishRollup(
      CandleOps.cascadeRollup(r15, Seq("symbol"), "bucket_ts", "1 hour"),
      Seq("symbol"))
    val cols = Seq("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    val a = cascaded.select(cols.map(col): _*).orderBy("symbol", "bucket_ts").collect()
    val b = direct2.select(cols.map(col): _*).orderBy("symbol", "bucket_ts").collect()
    assert(a.sameElements(b))
  }

  test("the candle's argmin open is defined once in main code") {
    // RollupRouting's Catalyst rewrite maps a matched MinBy/MaxBy onto
    // the rollup's carriers; it reads the candle, it does not define one
    def defs(needle: String) = SourceCode.census(needle, "src/main/scala")
      .filter { case (f, _) => !f.endsWith("org/apache/spark/sql/graft/RollupRouting.scala") }
    assert(defs("""\bmin_by\(|\bMinBy\(""") ==
      Map("src/main/scala/graft/operators/CandleOps.scala" -> 1))
    // the argmax close likewise: ohlc's close plus the two latest-row
    // helpers (latestByKeyAgg, latestPerKey), all in CandleOps
    assert(defs("""\bmax_by\(|\bMaxBy\(""") ==
      Map("src/main/scala/graft/operators/CandleOps.scala" -> 3))
  }

  test("P3 candleChecks rejects exactly the CHECK-violating rows") {
    val good = candle("BTC-USDT", "2024-03-01 08:00:00", 10, 12, 9, 11, 100)
    val badOrder = candle("BTC-USDT", "2024-03-01 08:01:00", 10, 9, 11, 11, 100) // high<open, low>open
    val badNan = candle("BTC-USDT", "2024-03-01 08:02:00", Double.NaN, 12, 9, 11, 100)
    val badInf = candle("BTC-USDT", "2024-03-01 08:03:00", 10, Double.PositiveInfinity, 9, 11, 100)
    val badKey = candle("", "2024-03-01 08:04:00", 10, 12, 9, 11, 100)
    val df = Seq(good, badOrder, badNan, badInf, badKey).toDF()
    val check = IngestOps.candleChecks(
      $"open", $"high", $"low", $"close", $"volume", $"close_unixtime",
      Seq($"exchange", $"symbol", $"interval"))
    val out = IngestOps.validate(df, check).as[Candle].collect()
    assert(out.length == 1 && out.head.start == ts("2024-03-01 08:00:00"))
  }

  test("B1 recentTopK returns the top-n in total order") {
    val df = series.toDF()
    val out = CandleOps.recentTopK(df, 3, Seq($"start".desc, $"symbol".asc))
      .select("symbol", "start").as[(String, Timestamp)].collect()
    assert(out.head == (("BTC-USDT", ts("2024-03-01 08:59:00"))))
    assert(out.length == 3)
  }

  test("bollinger: exact rolling mid and k-sigma bands in cents") {
    val closes = Seq(
      ("S", ts("2024-03-01 08:00:00"), 1.0),
      ("S", ts("2024-03-01 09:00:00"), 2.0),
      ("S", ts("2024-03-01 10:00:00"), 3.0)
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.bollinger(closes, Seq("sym"), "bucket_ts", "close",
      nWindow = 2, k = 1)
      .select("close_cents", "n_in_frame", "mid_cents", "upper_cents", "lower_cents")
      .as[(Long, Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    // frame of 2: pop-sigma of {100,200} = 50 cents
    assert(got == Seq(
      (100L, 1L, 100.0, 100.0, 100.0),
      (200L, 2L, 150.0, 200.0, 100.0),
      (300L, 2L, 250.0, 300.0, 200.0)))
  }

  test("rsi: gains/losses over close moves, flat window is NULL") {
    val closes = Seq(
      ("S", ts("2024-03-01 08:00:00"), 1.0),
      ("S", ts("2024-03-01 09:00:00"), 2.0),
      ("S", ts("2024-03-01 10:00:00"), 1.5),
      ("S", ts("2024-03-01 11:00:00"), 1.5)
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.rsi(closes, Seq("sym"), "bucket_ts", "close", nWindow = 2)
      .select("bucket_ts", "gains_cents", "losses_cents", "rsi")
      .as[(Timestamp, Long, Long, Option[Double])].collect().sortBy(_._1.getTime).toSeq
    assert(got.map(t => (t._2, t._3, t._4)) == Seq(
      (0L, 0L, None),                       // no prior close
      (100L, 0L, Some(100.0)),              // pure gain
      (100L, 50L, Some(100.0 * 100 / 150)), // one IEEE division
      (0L, 50L, Some(0.0))))                // pure loss
  }

  test("resampleFfill emits the full grid and carries the last close over gaps") {
    val sparse = Seq(
      ("S", ts("2024-03-01 10:00:00"), 1.0),
      ("S", ts("2024-03-01 13:00:00"), 4.0), // 11:00 and 12:00 missing
      ("T", ts("2024-03-01 10:00:00"), 9.0)  // single bucket: no grid growth
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.resampleFfill(sparse, Seq("sym"), "bucket_ts", "close", "1h")
      .select("sym", "bucket_ts", "close", "filled")
      .as[(String, Timestamp, Double, Boolean)].collect().sortBy(t => (t._1, t._2.getTime)).toSeq
    assert(got == Seq(
      ("S", ts("2024-03-01 10:00:00"), 1.0, false),
      ("S", ts("2024-03-01 11:00:00"), 1.0, true), // synthesized, ffilled
      ("S", ts("2024-03-01 12:00:00"), 1.0, true),
      ("S", ts("2024-03-01 13:00:00"), 4.0, false),
      ("T", ts("2024-03-01 10:00:00"), 9.0, false)))
  }

  test("drawdown tracks the running peak and reports the deepest drop") {
    val closes = Seq(
      ("S", ts("2024-03-01 10:00:00"), 10.0),
      ("S", ts("2024-03-01 11:00:00"), 14.0), // new peak 1400
      ("S", ts("2024-03-01 12:00:00"), 7.0),  // dd = 700 (the max)
      ("S", ts("2024-03-01 13:00:00"), 12.0)  // dd = 200
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.drawdown(closes, Seq("sym"), "bucket_ts", "close")
      .select("n_buckets", "peak_cents", "max_dd_cents", "max_dd_frac")
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((4L, 1400L, 700L, 700.0 / 1400.0)))
  }

  test("moveStats computes exact-integer move variance") {
    // moves: +100, -300 -> n=2, sd=-200, sdd=100000
    // var = (2*100000 - 40000) / 4 = 40000.0
    val closes = Seq(
      ("S", ts("2024-03-01 10:00:00"), 5.0),
      ("S", ts("2024-03-01 11:00:00"), 6.0),
      ("S", ts("2024-03-01 12:00:00"), 3.0)
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.moveStats(closes, Seq("sym"), "bucket_ts", "close")
      .select("n_moves", "sum_move_cents", "sum_move_sq", "mean_move",
        "var_move", "max_up_cents", "max_down_cents")
      .as[(Long, Long, Long, Double, Double, Long, Long)].head()
    assert(got == ((2L, -200L, 100000L, -100.0, 40000.0, 100L, -300L)))
  }

  test("betaVsBenchmark aligns moves on bucket and divides exact co-moments") {
    // benchmark B moves: +100, +200; S moves: +200, +400 (beta exactly 2)
    val closes = Seq(
      ("B", ts("2024-03-01 10:00:00"), 1.0),
      ("B", ts("2024-03-01 11:00:00"), 2.0),
      ("B", ts("2024-03-01 12:00:00"), 4.0),
      ("S", ts("2024-03-01 10:00:00"), 10.0),
      ("S", ts("2024-03-01 11:00:00"), 12.0),
      ("S", ts("2024-03-01 12:00:00"), 16.0)
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.betaVsBenchmark(
      closes, Seq("sym"), "bucket_ts", "close", col("sym") === "B")
      .select("sym", "n_aligned", "beta", "corr")
      .as[(String, Long, Double, Double)].head()
    assert(got._1 == "S" && got._2 == 2L && got._3 == 2.0)
    assert(math.abs(got._4 - 1.0) < 1e-12) // perfectly correlated
  }

  test("candlePatterns flags doji, hammer and engulfing in integer cents") {
    val candles = Seq(
      // doji: body 10 within range 200 (10*10 <= 200)
      ("S", ts("2024-03-01 10:00:00"), 10.00, 11.00, 9.00, 10.10),
      // hammer: body 50, lower shadow 200 >= 100, upper shadow 25 <= 50
      ("S", ts("2024-03-01 11:00:00"), 10.50, 10.75, 8.50, 10.00),
      // red candle then a bullish engulfing green one
      ("S", ts("2024-03-01 12:00:00"), 10.00, 10.10, 9.00, 9.20),
      ("S", ts("2024-03-01 13:00:00"), 9.10, 10.60, 9.00, 10.50)
    ).toDF("sym", "bucket_ts", "open", "high", "low", "close")
    val got = CandleOps.candlePatterns(candles, Seq("sym"), "bucket_ts")
      .select("bucket_ts", "doji", "hammer", "bullish_engulfing", "bearish_engulfing")
      .as[(Timestamp, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1.getTime).toSeq
    assert(got.map(_._1) == Seq(
      ts("2024-03-01 10:00:00"), ts("2024-03-01 11:00:00"), ts("2024-03-01 13:00:00")))
    assert(got(0)._2 && !got(0)._3)       // doji
    assert(got(1)._3)                      // hammer
    assert(got(2)._4 == false && got(2)._5 == false || got(2)._4) // engulfing row
    assert(got(2)._4)                      // bullish engulfing
  }

  private lazy val ohlc3 = Seq(
    ("S", ts("2024-03-01 10:00:00"), 10.0, 12.0, 8.0, 10.0),
    ("S", ts("2024-03-01 11:00:00"), 11.0, 14.0, 9.0, 13.0),
    ("S", ts("2024-03-01 12:00:00"), 12.0, 13.0, 10.0, 11.0)
  ).toDF("sym", "bucket_ts", "open", "high", "low", "close")

  test("stochastic: raw and slow %K are single divisions of exact cent sums") {
    val got = CandleOps.stochastic(ohlc3, Seq("sym"), "bucket_ts",
      nWindow = 3, smoothN = 2)
      .orderBy("bucket_ts")
      .select("k_num_cents", "k_den_cents", "k_raw", "k_slow")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got(0) == ((200L, 400L, 50.0, 50.0)))
    assert(got(1) == ((500L, 600L, 50000.0 / 600.0, 70000.0 / 1000.0)))
    assert(got(2) == ((300L, 600L, 50.0, 80000.0 / 1200.0)))
  }

  test("atr: true range handles the first bucket and gap-spanning moves") {
    val got = CandleOps.atr(ohlc3, Seq("sym"), "bucket_ts", nWindow = 2)
      .orderBy("bucket_ts").select("tr_cents", "atr_cents")
      .as[(Long, Double)].collect().toSeq
    // t1: h-l=400; t2: max(500, |1400-1000|, |900-1000|)=500; t3: max(300, 0, 300)=300
    assert(got == Seq((400L, 400.0), (500L, 450.0), (300L, 400.0)))
  }

  test("donchian: channel extremes, midline and close position") {
    val got = CandleOps.donchian(ohlc3, Seq("sym"), "bucket_ts", nWindow = 2)
      .orderBy("bucket_ts")
      .select("upper_cents", "lower_cents", "mid_cents", "position")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got(1) == ((1400L, 800L, 1100.0, 500.0 / 600.0)))
    assert(got(2) == ((1400L, 900L, 1150.0, 200.0 / 500.0)))
  }

  test("obv: signed cumulative volume, flat moves contribute zero") {
    val rows = Seq(
      ("S", ts("2024-03-01 10:00:00"), 10.0, 5.0),
      ("S", ts("2024-03-01 11:00:00"), 13.0, 7.0),
      ("S", ts("2024-03-01 12:00:00"), 11.0, 2.0),
      ("S", ts("2024-03-01 13:00:00"), 11.0, 4.0)
    ).toDF("sym", "bucket_ts", "close", "volume")
    val got = CandleOps.obv(rows, Seq("sym"), "bucket_ts", "close", "volume")
      .orderBy("bucket_ts").select("obv_cents").as[Long].collect().toSeq
    assert(got == Seq(0L, 700L, 500L, 500L))
  }

  test("macd: exact-rational fast/slow EMA difference and quantized signal") {
    val closes = Seq(
      ("S", ts("2024-03-01 10:00:00"), 1.0),
      ("S", ts("2024-03-01 11:00:00"), 2.0),
      ("S", ts("2024-03-01 12:00:00"), 3.0)
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.macd(closes, Seq("sym"), "bucket_ts", "close",
      fast = 2, slow = 3, signalN = 2)
      .orderBy("bucket_ts")
      .select("macd_cents", "macd_micro", "signal_micro", "hist_micro")
      .as[(Double, Long, Double, Double)].collect().toSeq
    // weights: n=2 -> [3,1]; n=3 -> [16,8,4]
    // t2: macd = (700*24 - 4000*4) / (4*24) = 800/96
    val m2 = 800.0 / 96.0
    val micro2 = math.floor(m2 * 1e6).toLong
    assert(got(0) == ((0.0, 0L, 0.0, 0.0)))
    assert(got(1)._1 == m2 && got(1)._2 == micro2)
    assert(got(1)._3 == (3.0 * micro2 + 0.0) / 4.0)
    assert(got(1)._4 == micro2.toDouble - (3.0 * micro2 + 0.0) / 4.0)
    // t3: macd = (1100*28 - 6800*4) / (4*28) = 3600/112
    assert(got(2)._1 == 3600.0 / 112.0)
  }

  test("pivotPoints derives all five levels from the prior bucket, NULL first row") {
    val got = CandleOps.pivotPoints(ohlc3, Seq("sym"), "bucket_ts")
      .orderBy("bucket_ts")
      .select("prev_high_cents", "pivot", "r1", "s1", "r2", "s2")
      .as[(Option[Long], Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double])].collect().toSeq
    assert(got(0) == ((None, None, None, None, None, None)))
    assert(got(1) == ((Some(1200L), Some(1000.0), Some(1200.0), Some(800.0),
      Some(1400.0), Some(600.0))))
    assert(got(2) == ((Some(1400L), Some(1200.0), Some(1500.0), Some(1000.0),
      Some(1700.0), Some(700.0))))
  }

  test("volumeProfile sums exact volume cents per price bucket with key shares") {
    val rows = Seq(
      ("S", ts("2024-03-01 10:00:00"), 10.00, 5.0),
      ("S", ts("2024-03-01 11:00:00"), 13.00, 7.0),
      ("S", ts("2024-03-01 12:00:00"), 11.00, 2.0),
      ("S", ts("2024-03-01 13:00:00"), 11.40, 4.0)
    ).toDF("sym", "bucket_ts", "close", "volume")
    val got = CandleOps.volumeProfile(rows, Seq("sym"), "close", "volume",
      bucketCents = 100L)
      .select("price_bucket", "n_buckets", "volume_cents", "share")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (10L, 1L, 500L, 500.0 / 1800.0),
      (11L, 2L, 600L, 600.0 / 1800.0),
      (13L, 1L, 700L, 700.0 / 1800.0)))
  }

  test("ema matches the hand-computed truncated EWMA and hits SMA/last-value edges") {
    // n=2: weights (1)^j(3)^(1-j) -> [3, 1]; ema = (3*x_t + x_{t-1}) / 4
    val closes = Seq(
      ("S", ts("2024-03-01 10:00:00"), 1.0),
      ("S", ts("2024-03-01 11:00:00"), 2.0),
      ("S", ts("2024-03-01 12:00:00"), 2.0) // equal closes: ema == close
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.ema(closes, Seq("sym"), "bucket_ts", "close", nWindow = 2)
      .select("bucket_ts", "close_cents", "ema_cents")
      .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime).toSeq
    assert(got == Seq(
      (ts("2024-03-01 10:00:00"), 100L, 100.0),          // first row: weight renormalizes to itself
      (ts("2024-03-01 11:00:00"), 200L, (3.0 * 200 + 100) / 4),
      (ts("2024-03-01 12:00:00"), 200L, 200.0)))
    // weight-cap contract is loud, not silent
    intercept[IllegalArgumentException] {
      CandleOps.ema(closes, Seq("sym"), "bucket_ts", "close", nWindow = 21)
    }
  }

  /** Exact truncated-EWMA numerator and denominator at row `t` of `xs`
    * over the trailing `n` values: weights (n-1)^j (n+1)^(n-1-j). */
  private def emaRef(xs: Seq[Long], t: Int, n: Int): (BigInt, BigInt) =
    (0 until n).filter(j => t - j >= 0).map { j =>
      val w = BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
      (w * xs(t - j), w)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  test("emaNumDen hybrid: values past the long-split bound take the exact decimal branch") {
    // n=3 weights [16, 8, 4] are under 32 bits, so no hi/lo split
    // (s = 0): partMax 16, long bound 2^62/48 ~ 9.6e16 cents. A close
    // of 2^55 dollars (cents 2^57*25, double-exact) is far past it: the
    // r15 guard RAISED here; the hybrid must compute the same exact
    // decimal value per row.
    val huge = math.pow(2, 55) // dollars; cents = 2^55*100, exact
    val c1 = BigInt(2).pow(55) * 100
    val rows = Seq(
      ("S", ts("2024-03-01 10:00:00"), huge),
      ("S", ts("2024-03-01 11:00:00"), 1.0),
      ("S", ts("2024-03-01 12:00:00"), 2.0)
    ).toDF("sym", "bucket_ts", "close")
    val got = CandleOps.ema(rows, Seq("sym"), "bucket_ts", "close", nWindow = 3)
      .select("bucket_ts", "ema_cents")
      .as[(Timestamp, Double)].collect().sortBy(_._1.getTime).toSeq
    def emaOf(num: BigInt, den: Long): Double = num.toDouble / den.toDouble
    assert(got(0)._2 == emaOf(c1 * 16, 16))
    assert(got(1)._2 == emaOf(BigInt(16L * 100) + c1 * 8, 24))
    assert(got(2)._2 == emaOf(BigInt(16L * 200 + 8L * 100) + c1 * 4, 28))

    // holtBrown at a constant $40M close: s1_micro = 4e15 exceeds the
    // n=6 second-pass long bound (~3.2e15); the constant-series
    // identity (level == s1, trend == 0) must hold via the decimal
    // branch instead of raising (the r15-advice domain restoration).
    val big = Seq(
      ("S", ts("2024-03-01 10:00:00"), 4.0e7),
      ("S", ts("2024-03-01 11:00:00"), 4.0e7),
      ("S", ts("2024-03-01 12:00:00"), 4.0e7)
    ).toDF("sym", "bucket_ts", "close")
    val hb = CandleOps.holtBrown(big, Seq("sym"), "bucket_ts", "close")
      .select("s1_micro", "level_micro", "trend_micro")
      .as[(Long, Double, Double)].collect()
    assert(hb.forall { case (s1, lvl, tr) =>
      s1 == 4000000000000000L && lvl == 4.0e15 && tr == 0.0 })

    // ewmaVolatility at a $10M one-bar move: d^2 = 1e18 is inside the
    // documented 2^60 decimal budget but past the long bound (~3.2e15)
    // -> decimal branch, vol = |d| exactly.
    val mv = Seq(
      ("S", ts("2024-03-01 10:00:00"), 0.0),
      ("S", ts("2024-03-01 11:00:00"), 1.0e7)
    ).toDF("sym", "bucket_ts", "close")
    val ev = CandleOps.ewmaVolatility(mv, Seq("sym"), "bucket_ts", "close")
      .select("ewma_vol_cents").as[Option[Double]].collect().flatten
    assert(ev.toSeq == Seq(1.0e9))

    // macd slow=13 and keltner emaN=13: n=13 weights peak at 14^12 (46
    // bits), so they split hi/lo at s = 23 (partMax 6,946,816, long
    // bound 2^62/(13*partMax) ~ 5.1e10 cents). Rows whose trailing 13
    // closes stay under $510M take the split long branch; once a $1B
    // close enters the frame the row takes the decimal branch. Either
    // way the value is the exact rational.
    val closes = Seq(100.25, 101.5, 99.75, 1.0e9, 1.0e9 + 0.5, 102.0, 1.0e9 - 3.25)
    val xs = closes.map(c => math.round(c * 100))
    val pastBound = closes.zipWithIndex.map { case (c, i) =>
      ("S", new Timestamp(ts("2024-03-01 00:00:00").getTime + i * 3600000L),
        c + 1.0, c - 1.0, c)
    }.toDF("sym", "bucket_ts", "high", "low", "close")
    val md = CandleOps.macd(pastBound, Seq("sym"), "bucket_ts", "close",
      fast = 6, slow = 13, signalN = 5)
      .select("bucket_ts", "macd_cents", "macd_micro", "signal_micro", "hist_micro")
      .as[(Timestamp, Double, Long, Double, Double)].collect().sortBy(_._1.getTime).toSeq
    val macd = xs.indices.map { t =>
      val (nf, df) = emaRef(xs, t, 6)
      val (ns, ds) = emaRef(xs, t, 13)
      (nf * ds - ns * df).toDouble / (df * ds).toDouble
    }
    val micro = macd.map(m => math.floor(m * 1000000.0).toLong)
    // the signal pass (n=5) also sees micro-cents past its long bound
    assert(micro.exists(m => math.abs(m) > 711679941115337L))
    xs.indices.foreach { t =>
      val (nSig, dSig) = emaRef(micro, t, 5)
      val signal = nSig.toDouble / dSig.toDouble
      assert(md(t)._2 == macd(t), s"macd_cents row $t")
      assert(md(t)._3 == micro(t), s"macd_micro row $t")
      assert(md(t)._4 == signal, s"signal_micro row $t")
      assert(md(t)._5 == micro(t).toDouble - signal, s"hist_micro row $t")
    }

    val (atrN, k) = (3, 2)
    val kc = CandleOps.keltner(pastBound, Seq("sym"), "bucket_ts",
      emaN = 13, atrN = atrN, k = k)
      .select("bucket_ts", "tr_cents", "mid_cents", "upper_cents", "lower_cents")
      .as[(Timestamp, Long, Double, Double, Double)].collect().sortBy(_._1.getTime).toSeq
    // high/low sit 100 cents either side of the close
    val tr = xs.indices.map { t =>
      if (t == 0) 200L
      else Seq(200L, math.abs(xs(t) + 100 - xs(t - 1)), math.abs(xs(t) - 100 - xs(t - 1))).max
    }
    xs.indices.foreach { t =>
      val (ne, de) = emaRef(xs, t, 13)
      val frame = tr.slice(math.max(0, t - atrN + 1), t + 1)
      val (trSum, trCnt) = (BigInt(frame.sum), BigInt(frame.size))
      assert(kc(t)._2 == tr(t), s"tr_cents row $t")
      assert(kc(t)._3 == ne.toDouble / de.toDouble, s"mid_cents row $t")
      assert(kc(t)._4 == (ne * trCnt + k * trSum * de).toDouble / (de * trCnt).toDouble,
        s"upper_cents row $t")
      assert(kc(t)._5 == (ne * trCnt - k * trSum * de).toDouble / (de * trCnt).toDouble,
        s"lower_cents row $t")
    }
  }

  test("resample spans spread survives as a RANGE exchange (a hash spread is planner-elided)") {
    val rollup = Seq(
      ("S", ts("2024-03-01 10:00:00"), 1.0),
      ("S", ts("2024-03-01 13:00:00"), 4.0)
    ).toDF("sym", "bucket_ts", "close")
    for (df <- Seq(
      CandleOps.resampleInterpolate(rollup, Seq("sym"), "bucket_ts", "close", "1h"),
      CandleOps.resampleFfill(rollup, Seq("sym"), "bucket_ts", "close", "1h"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("rangepartitioning"),
        s"spans spread must be a range exchange, got:\n${plan.take(2000)}")
      assert(plan.contains("REPARTITION_BY_NUM"),
        "the spans exchange must keep the uncoalescible REPARTITION_BY_NUM origin")
    }
  }

  test("saxWords: hand-computed word on an ascending series; short series omitted") {
    // user A: 24 daily closes 0.01..0.24 -> cents 1..24. Quartiles at
    // sorted ranks 6/12/18 = 6,12,18. Oldest-first segment sums:
    // 10,26,42,58,74,90 vs 4*q = 24/48/72 -> a,b,b,c,d,d.
    // user B has 23 days: a partial window must be omitted, not skewed.
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows =
      (1 to 24).map(d => ("A", new java.sql.Timestamp(ts0 + d * 86400000L), d / 100.0)) ++
        (1 to 23).map(d => ("B", new java.sql.Timestamp(ts0 + d * 86400000L), d / 100.0))
    val rollup = rows.toDF("sym", "bucket_ts", "close")
    val got = graft.operators.CandleOps
      .saxWords(rollup, Seq("sym"), "bucket_ts", "close", nDays = 24, segLen = 4)
      .as[(String, String)].collect().toMap
    assert(got == Map("A" -> "abbcdd"), got.toString)
  }

  test("keltner: flat candles collapse all three lines onto the close; bands bracket the mid") {
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val flat = (0 until 8).map(h =>
      ("S", new java.sql.Timestamp(ts0 + h * 3600000L), 7.00, 7.00, 7.00, 7.00))
      .toDF("sym", "bucket_ts", "open", "high", "low", "close")
    val f = CandleOps.keltner(flat, Seq("sym"), "bucket_ts", emaN = 4, atrN = 3, k = 2)
      .select("mid_cents", "upper_cents", "lower_cents")
      .as[(Double, Double, Double)].collect()
    f.foreach { case (m, u, l) => assert(m == 700.0 && u == 700.0 && l == 700.0) }
    // varied candles: upper > mid > lower once any true range exists
    val varied = (0 until 8).map { h =>
      val px = 10.0 + h % 3
      ("S", new java.sql.Timestamp(ts0 + h * 3600000L), px, px + 0.5, px - 0.5, px)
    }.toDF("sym", "bucket_ts", "open", "high", "low", "close")
    val v = CandleOps.keltner(varied, Seq("sym"), "bucket_ts", emaN = 4, atrN = 3, k = 2)
      .select("mid_cents", "upper_cents", "lower_cents")
      .as[(Double, Double, Double)].collect()
    v.foreach { case (m, u, l) => assert(u > m && m > l, s"($l, $m, $u)") }
  }

  test("holtBrown: a constant series has level == close, trend 0, forecast == level") {
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val flat = (0 until 12).map(h =>
      ("S", new java.sql.Timestamp(ts0 + h * 3600000L), 42.50))
      .toDF("sym", "bucket_ts", "close")
    val got = CandleOps.holtBrown(flat, Seq("sym"), "bucket_ts", "close", nWindow = 4)
      .orderBy("bucket_ts")
      .select("s1_micro", "level_micro", "trend_micro", "forecast_micro")
      .as[(Long, Double, Double, Double)].collect()
    // EWMA of a constant is the constant: s1 = 4250 cents = 4.25e9 micro
    got.foreach { case (s1, lvl, trd, fc) =>
      assert(s1 == 4250000000L)
      assert(lvl == 4.25e9 && trd == 0.0 && fc == 4.25e9)
    }
  }

  test("holtBrown: a rising ramp reports positive trend and a forecast above level") {
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val ramp = (0 until 16).map(h =>
      ("S", new java.sql.Timestamp(ts0 + h * 3600000L), 100.0 + h))
      .toDF("sym", "bucket_ts", "close")
    val last = CandleOps.holtBrown(ramp, Seq("sym"), "bucket_ts", "close", nWindow = 4)
      .orderBy(col("bucket_ts").desc)
      .select("close_cents", "level_micro", "trend_micro", "forecast_micro")
      .as[(Long, Double, Double, Double)].head()
    val (closeC, lvl, trd, fc) = last
    assert(trd > 0.0, s"trend $trd")
    assert(fc == lvl + trd)
    // Brown's lag correction: level sits above the lagging single EMA,
    // near the actual close (within ~2 cents of drift on this ramp)
    assert(math.abs(lvl / 1e6 - closeC.toDouble) < 200.0)
  }
}
