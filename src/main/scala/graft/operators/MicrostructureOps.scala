package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Market-microstructure and extended-indicator operators over OHLCV
  * rollups (the `[[CandleOps.ohlcvRollup]]` schema: keys…, bucket_ts,
  * open/high/low/close, trades, volume).
  *
  * Same determinism contract as the CandleOps indicator family
  * (reference: the reference computes its indicator screens client-side
  * over `SELECT … FROM candles` reads, e.g. app/load_history.py:690-704
  * history pulls; here they are pushed into the engine): every
  * intermediate is an exact cent/integer quantity, and each published
  * double is ONE IEEE operation (division, or division-then-sqrt) of
  * exactly-represented operands — so the DuckDB oracle agrees bitwise.
  *
  * Scale shape: everything here is either a per-key ordered window
  * (one hash exchange on the key, identical to the rollup's own
  * partitioning, so AQE reuses it) or a single hash aggregation;
  * [[corrMatrix]] is the one deliberate fan-out and documents its
  * bound.
  */
object MicrostructureOps {

  /** [[graft.api.Par.spread]] on the operator's partition keys — same
    * pin as CandleOps.spreadByKeys (see that doc and graft.api.Par):
    * replaces the per-key window/aggregate exchange with one AQE will
    * not coalesce, so the compute-dense stage runs at the session's
    * configured width instead of the 1-2 tasks byte-sized coalescing
    * left it (round-15 profile).
    */
  private def spreadByKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    graft.api.Par.spreadKeyed(df, keys)


  private val dec = DecimalType(38, 0)
  import CandleOps.cts

  /** Williams %R: where the close sits inside the trailing
    * `nWindow`-bar high/low envelope, scaled to [-100, 0].
    * num = HH − C and den = HH − LL are exact cent longs; `willr` is
    * one division, NULL on a flat envelope (den = 0) rather than a
    * synthetic midpoint — degenerate windows are reported, not faked.
    */
  def williamsR(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val (hh, ll) = (col("__hh"), col("__ll"))
    val num = hh - col("__c")
    val den = hh - ll
    spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+ cts("close").as("__c") :+
        max(cts("high")).over(w).as("__hh") :+ min(cts("low")).over(w).as("__ll")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+
        num.as("hh_minus_close_cents") :+ den.as("range_cents") :+
        when(den > 0, (num * -100).cast(DoubleType) / den.cast(DoubleType))
          .as("willr")): _*)
  }

  /** Aroon up/down: how recently the trailing-window extreme printed.
    * The rolling argmax is computed WITHOUT any non-deterministic
    * first/last trick: each bar's high is packed as
    * `high_cents * 2^32 + row_number` so a plain integer `max` over the
    * window recovers both the extreme and its position, ties resolving
    * to the most recent bar (the packed value grows with row number at
    * equal cents). Lows pack the row number complemented so `min`
    * tie-breaks the same direction. aroon = 100·(m − bars_since)/m over
    * the actual frame size m — one division of exact longs.
    *
    * The pack is long-exact for prices under 2^30 cents (~$10M) and
    * 2^32 bars per key (490k years of hourly buckets); out-of-range
    * cents raise rather than silently mis-rank, the [[CandleOps
    * .heikinAshi]] discipline.
    */
  def aroon(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    val P = 1L << 32
    val maxCents = (1L << 30) - 1
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    def guarded(c: String) = {
      val raw = cts(c)
      when(abs(raw) <= maxCents, raw).otherwise(raise_error(concat(
        lit(s"aroon: |$c| cents "), raw.cast("string"),
        lit(s" exceeds the pack-exact bound $maxCents; rescale prices"))))
    }
    val rn = col("__rn")
    val base = spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+ col("high") :+ col("low") :+
        row_number().over(wOrd).cast(LongType).as("__rn")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+ rn :+
        (guarded("high") * P + rn).as("__ph") :+
        (guarded("low") * P + (lit(P - 1) - rn)).as("__pl")): _*)
    val m = col("__m")
    val sinceHigh = rn - pmod(col("__mph"), lit(P))
    val sinceLow = rn - (lit(P - 1) - pmod(col("__mpl"), lit(P)))
    base
      .select((keys.map(col) :+ col(bucketCol) :+ rn :+ count(lit(1)).over(w).as("__m") :+
        max(col("__ph")).over(w).as("__mph") :+ min(col("__pl")).over(w).as("__mpl")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+
        sinceHigh.as("bars_since_high") :+ sinceLow.as("bars_since_low") :+
        ((m - sinceHigh) * 100).cast(DoubleType).divide(m.cast(DoubleType))
          .as("aroon_up") :+
        ((m - sinceLow) * 100).cast(DoubleType).divide(m.cast(DoubleType))
          .as("aroon_down")): _*)
  }

  /** Money flow index: volume-weighted RSI over the typical price.
    * Works on 3× the typical price (h+l+c cents — an exact long, never
    * the /3 rational) and cent volumes, so positive/negative money-flow
    * window sums are exact; MFI = 100·pos/(pos+neg) is one division.
    * First bar of a key has no direction and contributes to neither
    * side (textbook convention); a flat typical price likewise.
    */
  def mfi(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val tp3 = cts("high") + cts("low") + cts("close")
    val volC = CandleOps.volCentsCol(rollup, "volume")
    val dir = col("__tp3") - col(CandleOps.lagName("__tp3", 1))
    val mf = col("__tp3") * col("__v")
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ tp3.as("__tp3") :+ volC.as("__v")): _*)
    val base = CandleOps.withLags(staged, "__tp3", 2, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+
        when(dir > 0, mf).otherwise(lit(0L)).as("__pos") :+
        when(dir < 0, mf).otherwise(lit(0L)).as("__neg")): _*)
    val pos = col("pos_flow")
    val neg = col("neg_flow")
    base
      .select((keys.map(col) :+ col(bucketCol) :+
        sum(col("__pos")).over(w).as("pos_flow") :+
        sum(col("__neg")).over(w).as("neg_flow")): _*)
      .withColumn("mfi", when(pos + neg > 0,
        (pos * 100).cast(DoubleType) / (pos + neg).cast(DoubleType)))
  }

  /** Commodity channel index, exactly: CCI = (tp − SMA)/(0.015·MD)
    * where MD is the mean absolute deviation of the typical price over
    * the SAME trailing window. The window's deviations depend on that
    * window's own mean, so no rolling sum can carry them — the window's
    * tp3 values are collected once and folded with a higher-order
    * `aggregate` against the window sum: dev_sum = Σ|m·tp3ᵢ − S| stays
    * an exact long (the /m is deferred), and
    * CCI = 1000·m·(m·tp3 − S) / (15·dev_sum) is one division.
    * The list is bounded by `nWindow` (≤ 100 enforced) — this is a
    * fixed-size per-row buffer, not a per-key materialization.
    */
  def cci(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1 && nWindow <= 100,
      s"nWindow=$nWindow outside [2, 100]: the per-row window buffer is meant to stay small")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val tp3 = cts("high") + cts("low") + cts("close")
    val base = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ tp3.as("__tp3")): _*)
    val m = count(lit(1)).over(w)
    val s = sum(col("__tp3")).over(w)
    val lst = collect_list(col("__tp3")).over(w)
    val withW = base.select(
      (keys.map(col) :+ col(bucketCol) :+ col("__tp3") :+
        m.as("__m") :+ s.as("__s") :+ lst.as("__l")): _*)
    val devSum = aggregate(
      col("__l"), lit(0L),
      (acc, v) => acc + abs(col("__m") * v - col("__s")))
    withW.select(
      (keys.map(col) :+ col(bucketCol) :+
        (col("__m") * col("__tp3") - col("__s")).as("tp3_dev") :+
        devSum.as("dev_sum") :+
        when(devSum > 0,
          (col("__m") * (col("__m") * col("__tp3") - col("__s")) * 1000)
            .cast(DoubleType) / (devSum * 15).cast(DoubleType))
          .as("cci")): _*)
  }

  /** Roll's implied effective spread: s = 2·√(−cov(Δpₜ, Δpₜ₋₁)) per
    * key, from the classic result that bid-ask bounce makes adjacent
    * trade-price changes negatively autocorrelated (Roll 1984). The
    * serial co-moments are exact long sums of cent products; the
    * spread is √ of one division, published only when the
    * autocovariance is actually negative (otherwise the model is
    * inapplicable and the row says so with a NULL, keeping n and the
    * raw sums for the caller). One window + one hash aggregate.
    */
  def rollSpread(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String
  ): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val d = cts("close") - lag(cts("close"), 1).over(wOrd)
    val withPair = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ d.as("__dt")): _*)
      .select((keys.map(col) :+ col("__dt") :+
        lag(col("__dt"), 1).over(
          Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol)))
          .as("__dp")): _*)
      .filter(col("__dt").isNotNull && col("__dp").isNotNull)
    val n = count(lit(1))
    val sx = sum(col("__dt").cast(dec)).cast(LongType)
    val sy = sum(col("__dp").cast(dec)).cast(LongType)
    val sxy = sum((col("__dt") * col("__dp")).cast(dec)).cast(LongType)
    withPair.groupBy(keys.map(col): _*)
      .agg(
        n.as("n_pairs"), sx.as("sum_dt"), sy.as("sum_dp"), sxy.as("sum_dtdp"),
        when(n > 1 && n * sxy - sx * sy < 0,
          sqrt((sx * sy - n * sxy).cast(DoubleType) /
            (n * n).cast(DoubleType)) * 2.0)
          .as("roll_spread_cents"))
  }

  /** Kyle's lambda (price impact): the OLS slope of the cent move on
    * the signed cent volume, per key — λ = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²), the [[CandleOps.betaVsBenchmark]] co-moment pattern with
    * x = sign(Δclose)·volume. Signed volume is the tick-rule proxy for
    * order-flow direction (no quote data in the schema — same proxy
    * Roll's model makes). Products run through decimal(38,0) so a
    * hot key cannot overflow the partials; published as BIGINT where
    * the schema contract fits (sums of cent moves), DOUBLE for λ.
    */
  def kyleLambda(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String
  ): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val d = col("__c") - col(CandleOps.lagName("__c", 1))
    val volC = CandleOps.volCentsCol(rollup, "volume")
    val sv = signum(d).cast(LongType) * col("__v")
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cts("close").as("__c") :+ volC.as("__v")): _*)
    val base = CandleOps.withLags(staged, "__c", 2, wOrd).select(
      (keys.map(col) :+ d.as("__y") :+ sv.as("__x")): _*)
      .filter(col("__y").isNotNull)
    val n = count(lit(1))
    val sx = sum(col("__x").cast(dec))
    val sy = sum(col("__y").cast(dec))
    val sxy = sum((col("__x") * col("__y")).cast(dec))
    val sxx = sum((col("__x") * col("__x")).cast(dec))
    base.groupBy(keys.map(col): _*)
      .agg(
        n.as("n_moves"),
        sx.cast(LongType).as("sum_sv"),
        sy.cast(LongType).as("sum_d"),
        (n * sxy - sx * sy).as("__num"),
        (n * sxx - sx * sx).as("__den"))
      .select((keys.map(col) :+ col("n_moves") :+ col("sum_sv") :+ col("sum_d") :+
        when(col("__den") > 0,
          col("__num").cast(DoubleType) / col("__den").cast(DoubleType))
          .as("kyle_lambda")): _*)
  }

  /** Amihud-style illiquidity, ratio-of-sums form: per key and day,
    * Σ|Δclose cents| / Σ volume cents — "how many cents does a cent of
    * flow move the price". The textbook mean-of-ratios needs a per-bar
    * rational sum that no engine keeps exact; the ratio-of-sums
    * estimator is the standard robust variant (it weights bars by
    * volume) and is ONE division of two exact longs. One window + one
    * hash aggregate keyed (key, day).
    */
  def amihud(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String
  ): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val d = cts("close") - lag(cts("close"), 1).over(wOrd)
    val volC = CandleOps.volCentsCol(rollup, "volume")
    val base = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ to_date(col(bucketCol)).as("day") :+
        d.as("__d") :+ volC.as("__v")): _*)
      .filter(col("__d").isNotNull)
    val sAbs = sum(abs(col("__d")).cast(dec)).cast(LongType)
    val sVol = sum(col("__v").cast(dec)).cast(LongType)
    base.groupBy((keys.map(col) :+ col("day")): _*)
      .agg(
        count(lit(1)).as("n_moves"),
        sAbs.as("sum_abs_move_cents"),
        sVol.as("sum_volume_cents"),
        when(sVol > 0, sAbs.cast(DoubleType) / sVol.cast(DoubleType))
          .as("illiq"))
  }

  /** VPIN-style order-flow toxicity per equal-VOLUME bucket: bars are
    * assigned to buckets by their running cent-volume (the
    * volume-clock — information arrives per unit traded, not per unit
    * time), flow is signed by the tick rule, and each bucket reports
    * |Σ signed volume| / Σ volume — ONE division of exact longs. The
    * running volume is a per-key ordered-window prefix sum (the same
    * key exchange every indicator pays — per-key state means no global
    * prefix machinery is needed). First bars with no prior close have
    * no tick sign and are excluded from the clock, matching the
    * tick-rule convention everywhere else in this family.
    *
    * Quantization note: cents are derived through the pure-IEEE
    * `floor(v*100+0.5)` ([[graft.functions.Cents]]) — multiply, add,
    * floor are exactly specified by IEEE 754, so no engine-owned
    * rounding policy (double→DECIMAL cast or `round(double)` half-way
    * behavior, both of which have drifted between engines/releases) is
    * invoked. This double-input form is the convenience wrapper; when
    * the caller holds exact integer cents already (e.g. from a
    * carrier-bearing rollup), use [[vpinFromCents]] directly —
    * re-quantizing a REHYDRATED value (a cents sum finished to double,
    * cast back) is lossy past ~1e13 dollars and must never appear in a
    * hash-compared path.
    */
  def vpin(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      bucketVolumeCents: Long
  ): DataFrame = {
    def decCts(c: String) = graft.functions.Cents.cents(col(c))
    vpinFromCents(
      rollup.select(
        (keys.map(col) :+ col(bucketCol) :+
          decCts("close").as("close_cents") :+
          CandleOps.volCentsCol(rollup, "volume").as("vol_cents")): _*),
      keys, bucketCol, "close_cents", "vol_cents", bucketVolumeCents)
  }

  /** [[vpin]] core on exact integer cents: every quantity is a long
    * end-to-end, so no floating-point rounding decision exists for
    * engines to disagree on. The only double in the output is the
    * final published ratio, ONE division of two exact longs.
    */
  def vpinFromCents(
      pre: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCentsCol: String,
      volCentsCol: String,
      bucketVolumeCents: Long
  ): DataFrame = {
    require(bucketVolumeCents > 0, s"bucketVolumeCents=$bucketVolumeCents must be positive")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val d = col(closeCentsCol) - lag(col(closeCentsCol), 1).over(wOrd)
    val base = spreadByKeys(pre, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ d.as("__d") :+
        col(volCentsCol).cast(LongType).as("__v")): _*)
      .filter(col("__d").isNotNull && col("__v") > 0)
    val signedV = signum(col("__d")).cast(LongType) * col("__v")
    val cum = sum(col("__v")).over(
      Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val bucketed = base.select(
      (keys.map(col) :+ signedV.as("__sv") :+ col("__v") :+
        ((cum - 1L).cast(LongType)).as("__cum")): _*)
      .withColumn("vol_bucket", expr(s"__cum div ${bucketVolumeCents}L"))
    val imb = abs(sum(col("__sv")))
    val tot = sum(col("__v"))
    bucketed.groupBy((keys.map(col) :+ col("vol_bucket")): _*)
      .agg(
        count(lit(1)).as("n_bars"),
        imb.as("imbalance_cents"),
        tot.as("total_cents"),
        (imb * 10000).cast(DoubleType).divide(tot.cast(DoubleType))
          .as("toxicity_bps"))
  }

  /** Lo-MacKinlay variance ratio per key: Var(q-period move) against
    * q·Var(1-period move) — the random-walk diagnostic (VR ≈ 1 under a
    * random walk, > 1 momentum, < 1 mean reversion). Both variances
    * stay RATIONAL: VR = [(n_q·Σd_q² − (Σd_q)²)·n₁²] /
    * [q·(n₁·Σd₁² − (Σd₁)²)·n_q²] with every product expanded in
    * decimal(38,0), so the published ratio is ONE division of exact
    * operands. A flat 1-period series (zero variance) reports NULL.
    * Two lag windows on the same key exchange + one hash aggregate.
    *
    * Overflow discipline (the [[aroon]] / [[olsSeasonalTrend]]
    * raise-don't-null contract): the final products are decimal(38,0)
    * under non-ANSI arithmetic, where an overflow would silently NULL
    * the published ratio. Guarded bounds make overflow impossible:
    * per-key rows n ≤ 10⁵ and |n·Σd² − (Σd)²| ≤ 10²⁵ (both checked,
    * raising with the offending magnitude) give |varNum·n²| ≤ 10³⁵
    * and |varNum·n²·q| ≤ 2.4·10³⁷ < 10³⁸.
    */
  def varianceRatio(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      q: Int
  ): DataFrame = {
    require(q >= 2 && q <= 240, s"q=$q outside [2, 240]")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val c = cts("close")
    val base = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+
        (c - lag(c, 1).over(wOrd)).as("__d1") :+
        (c - lag(c, q).over(wOrd)).as("__dq")): _*)
    val n1 = sum(when(col("__d1").isNotNull, 1L).otherwise(0L)).cast(dec)
    val nq = sum(when(col("__dq").isNotNull, 1L).otherwise(0L)).cast(dec)
    val s1 = sum(col("__d1").cast(dec))
    val s11 = sum((col("__d1") * col("__d1")).cast(dec))
    val sq = sum(col("__dq").cast(dec))
    val sqq = sum((col("__dq") * col("__dq")).cast(dec))
    val agged = base.groupBy(keys.map(col): _*)
      .agg(
        n1.as("__n1"), nq.as("__nq"),
        (n1 * s11 - s1 * s1).as("__v1"),
        (nq * sqq - sq * sq).as("__vq"))
    val nBound = new java.math.BigDecimal(100000L)
    val vBound = new java.math.BigDecimal("10000000000000000000000000") // 10^25
    def guardN(nm: String) = when(col(nm) <= lit(nBound), col(nm))
      .otherwise(raise_error(concat(
        lit("varianceRatio: per-key rows "), col(nm).cast("string"),
        lit(s" exceed the overflow-exact bound $nBound; pre-bucket coarser"))))
    def guardV(nm: String) = when(abs(col(nm)) <= lit(vBound), col(nm))
      .otherwise(raise_error(concat(
        lit("varianceRatio: |variance numerator| "), col(nm).cast("string"),
        lit(" exceeds the overflow-exact bound 1e25; rescale prices"))))
    val (gn1, gnq) = (guardN("__n1"), guardN("__nq"))
    val (gv1, gvq) = (guardV("__v1"), guardV("__vq"))
    agged.select(
      (keys.map(col) :+
        col("__n1").cast(LongType).as("n_1") :+
        col("__nq").cast(LongType).as("n_q") :+
        when(col("__nq") > 0 && col("__v1") > 0,
          (gvq * gn1 * gn1).cast(DoubleType) /
            (gv1 * gnq * gnq * q).cast(DoubleType))
          .as("variance_ratio")): _*)
  }

  /** Two-regressor OLS by exact normal equations, per key: close cents
    * regressed on (hour index since `originTs`, weekend dummy) —
    * "trend plus weekend shift" fit in ONE aggregation pass. The nine
    * sufficient statistics are exact integer sums (decimal-accumulated,
    * overflow-impossible partials); the 3×3 system solves by Cramer's
    * rule with determinants expanded in decimal(38,0) — products of
    * three sums stay far inside 38 digits under the guarded bounds
    * (|hour index| < 2²⁰ ≈ 120 years, |cents| < 2³⁰; out-of-range rows
    * raise, the [[aroon]] discipline) — and each coefficient is ONE
    * division of exact operands. A singular system (constant regressor,
    * under-determined key) reports NULL coefficients, keeping n and the
    * determinant as evidence.
    *
    * This is the distributed-OLS template: any regressor set that fits
    * integer encoding gets a closed-form fit with no iteration, no
    * float feedback, and bit-identical results on any partitioning.
    */
  def olsSeasonalTrend(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      originTs: String
  ): DataFrame = {
    java.sql.Timestamp.valueOf(originTs.trim): Unit // format check only
    val diffUs = s"(unix_micros($bucketCol) - unix_micros(TIMESTAMP '${originTs.trim}'))"
    val x1Raw = expr(s"($diffUs - pmod($diffUs, 3600000000)) div 3600000000")
    val x1Bound = (1L << 20) - 1
    val yBound = (1L << 30) - 1
    val x1 = when(abs(x1Raw) <= x1Bound, x1Raw)
      .otherwise(raise_error(concat(
        lit("olsSeasonalTrend: |hour index| "), x1Raw.cast("string"),
        lit(s" exceeds the det-exact bound $x1Bound; move originTs"))))
    val yRaw = cts("close")
    val y = when(abs(yRaw) <= yBound, yRaw)
      .otherwise(raise_error(concat(
        lit("olsSeasonalTrend: |close| cents "), yRaw.cast("string"),
        lit(s" exceeds the det-exact bound $yBound; rescale prices"))))
    val x2 = when(dayofweek(col(bucketCol)).isin(1, 7), lit(1L)).otherwise(lit(0L))
    val base = rollup.select(
      (keys.map(col) :+ x1.as("__x1") :+ x2.as("__x2") :+ y.as("__y")): _*)
    val agged = base.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast(dec).as("__n"),
        sum(col("__x1").cast(dec)).as("__s1"),
        sum(col("__x2").cast(dec)).as("__s2"),
        sum((col("__x1") * col("__x1")).cast(dec)).as("__s11"),
        sum((col("__x1") * col("__x2")).cast(dec)).as("__s12"),
        sum((col("__x2") * col("__x2")).cast(dec)).as("__s22"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x1") * col("__y")).cast(dec)).as("__s1y"),
        sum((col("__x2") * col("__y")).cast(dec)).as("__s2y"))
    val (n, s1, s2) = (col("__n"), col("__s1"), col("__s2"))
    val (s11, s12, s22) = (col("__s11"), col("__s12"), col("__s22"))
    val (sy, s1y, s2y) = (col("__sy"), col("__s1y"), col("__s2y"))
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s2 * s11)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    def coef(num: Column) =
      when(det =!= 0, num.cast(DoubleType) / det.cast(DoubleType))
    agged.select(
      (keys.map(col) :+ col("__n").cast(LongType).as("n_obs") :+
        det.cast(DoubleType).as("det") :+
        coef(det0).as("intercept_cents") :+
        coef(det1).as("trend_cents_per_hour") :+
        coef(det2).as("weekend_shift_cents")): _*)
  }

  /** Lead-lag cross-correlation against one benchmark key: for each
    * key and each lag L in [−maxLag, +maxLag] grain steps, the
    * correlation of the key's cent move at t with the benchmark's move
    * at t+L — a positive-lag peak means the benchmark LEADS the key by
    * L steps — the key at t is moving with the benchmark's move from
    * t−L (the classic price-discovery diagnostic). Same exact-co-moment
    * contract as [[corrMatrix]]; the benchmark's move series is one
    * key's buckets, so the (2·maxLag+1)-fold lag explode stays tiny
    * and BROADCASTS into the epoch-equality join — the full rollup
    * never reshuffles beyond its own key window.
    *
    * `grain` MUST be the rollup's own timeframe (e.g. "1h" for an
    * hourly rollup): the lag shift is `L · grain` and the alignment is
    * an epoch-equality join, so a mismatched step would silently align
    * only at lag 0 — hence the explicit parameter instead of a
    * hardcoded hour.
    */
  def leadLagCorr(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      benchmark: Column,
      maxLag: Int,
      grain: String = "1h"
  ): DataFrame = {
    require(maxLag >= 1 && maxLag <= 48, s"maxLag=$maxLag outside [1, 48]")
    val stepUs = graft.model.Timeframe.parse(grain).seconds * 1000000L
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol))
    val d = cts("close") - lag(cts("close"), 1).over(wOrd)
    val moves = rollup.select(
      col(keyCol), unix_micros(col(bucketCol)).as("__us"), d.as("__d"))
      .filter(col("__d").isNotNull)
    val bench = moves.filter(benchmark)
      .select(col("__us").as("__bus"), col("__d").as("__db"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .select(col("lag").cast(LongType).as("lag_steps"),
        (col("__bus") + col("lag").cast(LongType) * lit(stepUs)).as("__jus"),
        col("__db"))
    val joined = moves.filter(!benchmark)
      .join(broadcast(bench), col("__us") === col("__jus"))
    val n = count(lit(1))
    val sa = sum(col("__d").cast(dec)).cast(LongType)
    val sb = sum(col("__db").cast(dec)).cast(LongType)
    val sab = sum((col("__d") * col("__db")).cast(dec)).cast(LongType)
    val saa = sum((col("__d") * col("__d")).cast(dec)).cast(LongType)
    val sbb = sum((col("__db") * col("__db")).cast(dec)).cast(LongType)
    joined.groupBy(col(keyCol), col("lag_steps"))
      .agg(
        n.as("n_aligned"),
        when(n * saa - sa * sa > 0 && n * sbb - sb * sb > 0,
          (n * sab - sa * sb).cast(DoubleType) /
            sqrt((n * saa - sa * sa).cast(DoubleType) *
              (n * sbb - sb * sb).cast(DoubleType)))
          .as("xcorr"))
  }

  /** Pairwise return-correlation matrix across keys: close-to-close
    * cent moves self-joined on the bucket (equi-join — one shuffle per
    * side on bucket_ts), co-moment longs per (a, b) pair with a < b,
    * corr = one division by the correctly-rounded √ of a product of
    * exact casts — bit-stable, the [[CandleOps.betaVsBenchmark]]
    * contract generalized to all pairs.
    *
    * Scale bound: the fan-out is (keys aligned per bucket)², i.e. the
    * SYMBOL UNIVERSE squared — thousands, not the row count — and the
    * pair aggregate combines map-side, so the shuffle carries one row
    * per (pair, partition), never per bucket. This is the standard
    * all-pairs layout, and it is GATED: `maxUniverse` (default 10k) is
    * enforced by a LAZY plan-embedded guard, raising with a pointer to
    * [[corrScreen]] so the quadratic default cannot be launched
    * unbounded at cluster scale (sf1 measured 164× wall for 10× keys).
    *
    * Guard mechanics (made lazy in round 10 — the builder no longer
    * runs a Spark job, so bulk plan-composers like the plan audits and
    * explain tooling pay nothing): a ONE-ROW key-distinct-count frame
    * is broadcast-joined into the move series ahead of the self-join,
    * with `assert_true(universe <= maxUniverse)` evaluated while the
    * broadcast materializes. Execution order makes this safe: the
    * pair-producing join's task stages depend on that broadcast, so an
    * over-budget universe kills the query during the O(1)-row guard
    * broadcast — before the quadratic join processes a single row.
    * (At most the linear key-window shuffle of the moves runs
    * concurrently; the universe-squared stage cannot start.)
    */
  def corrMatrix(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      maxUniverse: Int = 10000
  ): DataFrame = {
    require(maxUniverse > 0, s"maxUniverse=$maxUniverse must be positive")
    val guard = rollup
      .agg(count_distinct(col(keyCol)).as("__universe"))
      .select(assert_true(col("__universe") <= maxUniverse, concat(
        lit(graft.api.Guards.Marker + " corrMatrix: "),
        col("__universe").cast("string"),
        lit(s" distinct '$keyCol' keys exceed maxUniverse=$maxUniverse; " +
          "the exact all-pairs matrix is quadratic in the universe. Route large " +
          "universes through corrScreen/corrScreenSigned (banded sign-fingerprint " +
          "LSH + exact corr on candidates, bit-identical per reported pair), or " +
          "raise maxUniverse explicitly for a bounded universe you intend to pay for.")))
        .as("__guard"))
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol))
    val d = cts("close") - lag(cts("close"), 1).over(wOrd)
    // Par.spread on the KEY replaces the move window's own exchange
    // with a user-specified one at the session's full shuffle
    // parallelism (same exchange count). The payoff is downstream: the
    // probe side of the pair join stays clustered on keyCol (= key_a),
    // which satisfies the (key_a, key_b) aggregate's required
    // distribution, so the planner elides the pair aggregate's
    // exchange entirely — window → hash probe → COMPLETE pair
    // aggregation fuse into one stage with ZERO pair-row shuffle, each
    // task owning its keys' full pair set. AQE had left that fused
    // stage at the width of the move series' BYTES (1-2 tasks carrying
    // 14 s of task time at sf0.1 — round-15 profile); the pin runs it
    // cores-wide. Round-15 experiments that spread on the BUCKET
    // instead measured WORSE than baseline: the key_a clustering broke
    // (the pair aggregate gained a 272 MB partial-row exchange), and
    // pinning both sides demoted the join to sort-merge (48× the task
    // time — buffered per-bucket group iteration where the hash probe
    // streams).
    val moves = graft.api.Par.spread(rollup, Seq(col(keyCol))).select(
      col(keyCol), col(bucketCol).as("__b"), d.as("__d"))
      .filter(col("__d").isNotNull)
    // guard join on the STREAMED side only: one broadcast row, and the
    // pair-producing join stage transitively depends on it under every
    // join strategy (BHJ streams the left; SMJ's merge stage needs the
    // left shuffle) — so an over-budget universe dies in the O(1)-row
    // guard broadcast before a single pair materializes. The filter
    // references __guard so column pruning cannot drop the subtree.
    val left = moves
      .join(broadcast(guard))
      .filter(col("__guard").isNull)
      .select(col(keyCol).as("key_a"), col("__b"), col("__d").as("__da"))
    // (No broadcast HINT on the build side: Catalyst's size-based
    // choice must stay free to fall back to a shuffle join when the
    // move series outgrows the broadcast threshold — the hint would
    // force a potentially multi-GB broadcast at a long time range.)
    val right = moves.select(
      col(keyCol).as("key_b"), col("__b").as("__b2"), col("__d").as("__db"))
    val joined = left.join(right,
      col("__b") === col("__b2") && col("key_a") < col("key_b"))
    // Co-moments via ExactSum.splitSum: same exact integers as the
    // previous sum(·.cast(decimal(38,0))) form (equal decimals, equal
    // long casts — the per-pair row count sits astronomically under
    // the 2³¹ bound), but accumulated as plain long codegen aggregates
    // instead of per-row Decimal allocations. The decimal form made
    // this stage GC-BOUND once it ran cores-wide: round-15 measured
    // 4-16 s erratic walls for the decimal aggregate vs a stable ~1 s
    // for the long equivalent on identical pair volume (round-15 pair
    // stage timings, min-observed at every width), and it explains the query's
    // historical cross-round spread (1.97-7.6 s for an unchanged plan).
    val n = count(lit(1))
    val E = graft.functions.ExactSum
    val sa = E.splitSum(col("__da")).cast(LongType)
    val sb = E.splitSum(col("__db")).cast(LongType)
    val sab = E.splitSum(col("__da") * col("__db")).cast(LongType)
    val saa = E.splitSum(col("__da") * col("__da")).cast(LongType)
    val sbb = E.splitSum(col("__db") * col("__db")).cast(LongType)
    joined.groupBy(col("key_a"), col("key_b"))
      .agg(
        n.as("n_aligned"),
        sab.as("sum_ab"), saa.as("sum_aa"), sbb.as("sum_bb"),
        when(n * saa - sa * sa > 0 && n * sbb - sb * sb > 0,
          (n * sab - sa * sb).cast(DoubleType) /
            sqrt((n * saa - sa * sa).cast(DoubleType) *
              (n * sbb - sb * sb).cast(DoubleType)))
          .as("corr"))
  }

  /** Correlation SCREEN — the scale path [[corrMatrix]]'s doc routes
    * large universes to, made concrete: instead of the exact
    * universe² alignment join, each key's return series is sketched
    * into a 64-bit sign fingerprint (bit j = majority sign of the
    * key's cent moves whose bucket hashes to axis j — a one-bit
    * random projection of the return series), candidate pairs come
    * from an 8×8-bit banded self-join over the fingerprints (by
    * pigeonhole, any pair within hamming `maxHamming` ≤ 7 shares at
    * least one full 8-bit band), and the EXACT corrMatrix co-moment
    * arithmetic runs only on the candidates.
    *
    * Semantics: a deterministic screen for strongly POSITIVELY
    * co-moving pairs (near-equal sign patterns). Anti-correlated pairs
    * have near-complement fingerprints and would be screened by the
    * same join against `~fp` — deliberately out of scope here. The
    * screen's exact-corr stage uses the same moves (all non-null cent
    * moves) as corrMatrix, so a reported pair's `corr` is bit-identical
    * to the full matrix's entry for that pair; `hamming` is reported as
    * screen evidence. Zero moves carry no sign and vote on no axis.
    *
    * Recall contract: with `bandBits`-bit bands (64/bandBits of
    * them), pigeonhole surfaces EVERY pair within hamming
    * 64/bandBits − 1 (7 at 8-bit, 3 at 16-bit, 1 at 32-bit). A larger
    * `maxHamming` is allowed with the standard LSH semantics —
    * candidates still require one full band agreement, so recall
    * beyond the radius is probabilistic (decaying with distance)
    * while precision is restored by the exact-corr stage.
    *
    * Band-width tuning is the scale knob: candidate volume is
    * Σ_bucket |bucket|² ≈ bands · universe² / 2^bandBits, so pick
    * 2^bandBits ≳ universe (8-bit to a few thousand keys, 16-bit to
    * ~10⁵, 32-bit beyond) — the sf1 checkpoint measured 8-bit bands
    * saturating at a 15k universe (43× for 10× keys) while 16-bit
    * bands hold near-linear (PERF.md round-7).
    *
    * Scale shape (sf1 measured the exact matrix at universe² = 164×
    * for 10× keys): the sketch is two key-local hash aggregates; the
    * banded join fans out per band bucket with
    * [[graft.functions.TextOps.capBuckets]]'s hot-bucket guard; the
    * exact stage is linear in candidates × series length. The 64-bit
    * axis hash is md5-derived, so the DuckDB oracle reproduces every
    * bit.
    */
  /** key, __us (epoch micros), __d (cent move) — the screen's shared
    * move series.
    */
  private def screenMoves(
      rollup: DataFrame, keyCol: String, bucketCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(bucketCol))
    val d = cts("close") - lag(cts("close"), 1).over(wOrd)
    // Pinned move-window exchange (graft.api.Par): the whole screen
    // chain downstream — move window, sign-vote aggregate, fingerprint
    // fold — clusters on the key, so this one pinned exchange runs the
    // sketch side cores-wide where AQE had coalesced it to 1-2 tasks
    // at sf0.1 (round-15 profile: every corr_screen stage single-task).
    spreadByKeys(rollup, Seq(keyCol)).select(
      col(keyCol), unix_micros(col(bucketCol)).as("__us"), d.as("__d"))
      .filter(col("__d").isNotNull)
  }

  /** key, __fp — the 64-bit sign sketch over md5-derived axes: bit j =
    * (net CENT MOVE over the buckets hashing to axis j) > 0 — a
    * one-bit random projection of the return series using magnitudes,
    * not a majority of per-bucket signs. The magnitude form is what
    * makes the ANTI side work: a mirrored series negates every axis
    * sum, so its fingerprint is the complement on every axis with a
    * nonzero sum (a majority-of-signs vote would leave tied axes
    * agreeing with the original instead). Engine/oracle-identical.
    */
  private def signFingerprints(moves: DataFrame, keyCol: String): DataFrame = {
    val axis = pmod(
      conv(substring(md5(col("__us").cast("string").cast("binary")), 1, 8), 16, 10)
        .cast(LongType), lit(64L))
    moves.filter(col("__d") =!= 0)
      .select(col(keyCol), axis.as("__j"), col("__d").as("__s"))
      .groupBy(col(keyCol), col("__j"))
      .agg(sum(col("__s")).as("__vote"))
      .groupBy(col(keyCol))
      .agg(bit_or(
        when(col("__vote") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(__j AS INT))"))
          .otherwise(lit(0L))).as("__fp"))
  }

  /** key, __fp (original), band, h — `bandOf` banded keys with the
    * hot-bucket cap applied; `bandOf` defaults to the fingerprint
    * itself, the signed screen passes its complement.
    */
  private def bandFingerprints(
      fp: DataFrame, keyCol: String, bandBits: Int, bucketCap: Long,
      bandOf: Column): DataFrame =
    graft.functions.TextOps.capBuckets(
      bandFingerprintsRaw(fp, keyCol, bandBits, bandOf),
      Seq("band", "h"), bucketCap)

  private def bandFingerprintsRaw(
      fp: DataFrame, keyCol: String, bandBits: Int,
      bandOf: Column): DataFrame = {
    val nBands = 64 / bandBits
    val bandMask = (1L << bandBits) - 1
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(bandOf, b * bandBits).bitwiseAND(lit(bandMask)).as("h"))
    }
    fp.select(col(keyCol), col("__fp"),
        explode(array(bandStructs: _*)).as("__b"))
      .select(col(keyCol), col("__fp"),
        col("__b.band").as("band"), col("__b.h").as("h"))
  }

  /** What `bucketCap` does to the sign-sketch band buckets at a given
    * width on THIS rollup — the observability companion to
    * [[corrScreen]] / [[corrScreenSigned]]
    * ([[graft.operators.CapReport.of]]).
    */
  def corrScreenCapReport(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      bandBits: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    require(Seq(8, 16, 32).contains(bandBits),
      s"bandBits=$bandBits must be 8, 16, or 32 (64-bit fingerprint)")
    val moves = screenMoves(rollup, keyCol, bucketCol)
    val fp = signFingerprints(moves, keyCol)
    graft.operators.CapReport.of(
      bandFingerprintsRaw(fp, keyCol, bandBits, col("__fp")),
      Seq("band", "h"), keyCol, bucketCap)
  }

  /** One week of epoch-µs: the time-chunk grain the non-broadcast
    * [[exactCorrOnPairs]] path packs move series at. Bounds every
    * packed array at one week of buckets (168 hourly / 10 080 minute)
    * regardless of how long the full series grows, so the pair×chunk
    * rows stay size-bounded at any corpus size.
    */
  private val ChunkMicros = 7L * 24 * 3600 * 1000000L

  /** Conf key capping the exact stage's packed-series BROADCAST:
    * when the screen's move subtree exceeds this many bytes by plan
    * statistics, the exact stage takes the chunked shuffle path
    * instead. Bytes of the PRE-packed moves; the packed table is
    * smaller (16 B/cell + key overhead), so the default 2 GiB
    * estimate bounds the broadcast comfortably under a 1 GiB build
    * while never demoting a 15k×63-cell sf1 universe (~15 MB packed).
    */
  val MaxBroadcastSeriesBytesConf = "spark.graft.corr.maxBroadcastSeriesBytes"
  private val DefaultMaxBroadcastSeriesBytes = 2L * 1024 * 1024 * 1024

  /** Packed-series broadcast gate, decided from PLAN STATISTICS
    * (file-scan bytes after pruning/pushdown — the same no-job
    * estimate Spark's own broadcast planning reads), never an eager
    * count job: corrScreen stays a pure plan builder (as does
    * [[corrMatrix]] since its guard went lazy). Estimates err toward
    * demotion — the chunked path is always correct (bit-identical,
    * spec-pinned), only slower at small scale.
    */
  private def seriesBroadcastable(moves: DataFrame): Boolean = {
    val cap = moves.sparkSession.conf
      .getOption(MaxBroadcastSeriesBytesConf).map(_.toLong)
      .getOrElse(DefaultMaxBroadcastSeriesBytes)
    val est = moves.queryExecution.optimizedPlan.stats.sizeInBytes
    // non-file-backed inputs (in-memory relations, post-shuffle or
    // cached frames) have NO real estimate — Spark substitutes
    // spark.sql.defaultSizeInBytes (Long.MaxValue by default), which
    // would silently demote the broadcast on a meaningless number.
    // Unknown size → keep broadcasting.
    // >= rather than ==: a filter/project over an unsized leaf SCALES
    // the sentinel (so it no longer equals it but is still
    // meaningless), and anything at or past the sentinel — or past
    // any physically plausible single-table size — is an absent
    // estimate, not a measurement.
    val sentinel =
      BigInt(moves.sparkSession.sessionState.conf.defaultSizeInBytes)
    val unknown = est >= sentinel || est > (BigInt(1L) << 50) // > 1 PiB: absurd
    val ok = unknown || est <= cap
    if (unknown) org.slf4j.LoggerFactory.getLogger(getClass).info(
      "corrScreen: moves plan has no size estimate (defaultSizeInBytes) — " +
        "keeping the broadcast path")
    if (!ok) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"corrScreen: packed-series broadcast demoted to the chunked shuffle path " +
        s"(moves plan estimate $est B > $MaxBroadcastSeriesBytesConf=$cap B); " +
        "raise the conf if the driver can hold the packed universe")
    ok
  }

  /** The corr projection shared by both exact-stage paths: the same
    * integer-long Pearson arithmetic as [[corrMatrix]], computed from
    * a co-moment struct column.
    */
  private def corrFrom(c: Column): Column = {
    val n = c.getField("n")
    val sa = c.getField("sa"); val sb = c.getField("sb")
    val sab = c.getField("sab")
    val saa = c.getField("saa"); val sbb = c.getField("sbb")
    when(n * saa - sa * sa > 0 && n * sbb - sb * sb > 0,
      (n * sab - sa * sb).cast(DoubleType) /
        sqrt((n * saa - sa * sa).cast(DoubleType) *
          (n * sbb - sb * sb).cast(DoubleType)))
  }

  /** Exact corrMatrix co-moment arithmetic over candidate pairs only.
    *
    * Scale shape (reworked and measured in round 9): the
    * first form joined every candidate pair to both full row-level
    * move series — at sf1's 5.36M surviving pairs × 63-bucket series
    * that is ~3.4e8 rows through two shuffles and a 3.4e8-row hash
    * aggregate, 32-34 s of the 58-69 s query walls. The compute
    * itself (3.4e8 long multiply-adds) is sub-second; everything else
    * was join/shuffle machinery. So: pack each key's series ONCE into
    * a us-sorted array (one hash aggregate of the moves, reusing the
    * rollup's own key partitioning), BROADCAST the packed table
    * (universe × series cells; 15k keys × 63 buckets ≈ 15 MB at sf1),
    * and stream the pairs through two broadcast-hash joins into the
    * codegen'd [[graft.functions.AlignedCoMoments]] two-pointer merge
    * — the whole exact stage is one shuffle-free WholeStageCodegen
    * pass over the pairs, no re-aggregation (each pair's co-moments
    * complete in-row). Long arithmetic in a different association
    * order — bit-identical corr to the row-level form and the full
    * matrix entry.
    *
    * The chunked path is the guard for universes whose packed series
    * exceed broadcast comfort (≳5e7 cells ≈ 1 GB), taken when
    * [[seriesBroadcastable]] rejects the moves' plan estimate: the series
    * are packed per (key, week-chunk) instead, the pair×chunk rows
    * flow through SHUFFLE_HASH joins (sorting pair×series-array rows
    * is exactly the SMJ pathology the broadcast path avoids — measured
    * 2× worse than even the row-level join), the same codegen merge
    * runs per chunk, and per-pair sums re-aggregate the chunk
    * co-moments (additive, so still bit-identical).
    *
    * `extraCols` (e.g. side) ride through both paths.
    */
  private def exactCorrOnPairs(
      pairs: DataFrame, moves: DataFrame, keyCol: String,
      extraCols: Seq[String]): DataFrame = {
    val outCols = (Seq("key_a", "key_b") ++ extraCols).map(col) ++ Seq(
      col("hamming"), col("n_aligned"), col("corr"))
    if (seriesBroadcastable(moves)) {
      val packed = moves
        .groupBy(col(keyCol).as("__k"))
        .agg(array_sort(collect_list(struct(col("__us"), col("__d"))))
          .as("__s"))
      // Both joins broadcast the SAME canonical packed plan (aliases
      // only at the join, not inside the exchange) so ReuseExchange
      // builds the series table once and the whole moves→pack subtree
      // executes once, not per side.
      val pa = broadcast(packed).as("__pa_t")
      val pb = broadcast(packed).as("__pb_t")
      pairs
        .join(pa, col("key_a") === col("__pa_t.__k"))
        .join(pb, col("key_b") === col("__pb_t.__k"))
        // A pair sharing no aligned bucket produced no group at all
        // under the old row-level inner join: drop it here too — via
        // the O(1)-early-exit predicate, NOT `merge(..).n > 0`, which
        // predicate-pushdown would inline into the join condition and
        // evaluate the full merge twice per row.
        .filter(graft.functions.AlignedCoMoments
          .alignedAny(col("__pa_t.__s"), col("__pb_t.__s")))
        .withColumn("__c", graft.functions.AlignedCoMoments
          .alignedCoMoments(col("__pa_t.__s"), col("__pb_t.__s")))
        .withColumn("n_aligned", col("__c.n"))
        .withColumn("corr", corrFrom(col("__c")))
        .select(outCols: _*)
    } else {
      val packed = moves
        .groupBy(col(keyCol).as("__k"),
          floor(col("__us") / lit(ChunkMicros.toDouble)).cast(LongType)
            .as("__ck"))
        .agg(array_sort(collect_list(struct(col("__us"), col("__d"))))
          .as("__s"))
        .hint("SHUFFLE_HASH")
      val pa = packed.select(col("__k").as("key_a"), col("__ck"),
        col("__s").as("__pa"))
      val pb = packed.select(col("__k").as("key_b"), col("__ck"),
        col("__s").as("__pb"))
      val perChunk = pairs
        .join(pa, Seq("key_a"))
        .join(pb, Seq("key_b", "__ck"))
        .select((Seq("key_a", "key_b", "hamming") ++ extraCols).map(col) :+
          graft.functions.AlignedCoMoments
            .alignedCoMoments(col("__pa"), col("__pb")).as("__c"): _*)
      perChunk.groupBy((Seq("key_a", "key_b") ++ extraCols).map(col): _*)
        .agg(max(col("hamming")).as("hamming"),
          sum(col("__c.n")).as("n"),
          sum(col("__c.sa")).as("sa"), sum(col("__c.sb")).as("sb"),
          sum(col("__c.sab")).as("sab"),
          sum(col("__c.saa")).as("saa"), sum(col("__c.sbb")).as("sbb"))
        .filter(col("n") > 0)
        .withColumn("n_aligned", col("n"))
        .withColumn("corr", corrFrom(struct(
          col("n"), col("sa"), col("sb"),
          col("sab"), col("saa"), col("sbb"))))
        .select(outCols: _*)
    }
  }

  /** Band width from the key universe — the docstring's sizing rule
    * (pick 2^bandBits ≳ universe) as a pure, unit-testable function,
    * calibrated by the round-11 sf1→sf10 sweep (PERF.md: 8-bit bands
    * measured exponent ~1.9 at a 150k universe, 16-bit 0.91 — 26×
    * apart at sf10). Picks the narrowest band whose expected
    * random-collision candidate volume, bands · U² / 2^bandBits,
    * stays within `maxCandidatesPerKey` per key. Narrower bands =
    * wider pigeonhole recall radius (64/bandBits − 1), so the
    * smallest safe width wins.
    */
  def autoBandBits(universe: Long, maxCandidatesPerKey: Long = 64L): Int = {
    require(universe >= 0 && maxCandidatesPerKey > 0)
    Seq(8, 16).find { bits =>
      val est = (BigInt(64 / bits) * BigInt(universe) * BigInt(universe)) >> bits
      est <= BigInt(maxCandidatesPerKey) * BigInt(universe)
    }.getOrElse(32)
  }

  /** Measured-universe band width: one approx_count_distinct
    * aggregate over the rollup's key column — a deliberate, tiny
    * eager job (keys only, no series) accepted so an operator pointed
    * at an unknown universe can't quietly run a too-narrow band into
    * its quadratic regime. Shared by both Auto entrypoints.
    */
  private def measuredBandBits(rollup: DataFrame, keyCol: String): Int = {
    val universe = rollup.agg(approx_count_distinct(col(keyCol))).head().getLong(0)
    val bits = autoBandBits(universe)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"corrScreen auto-sizing: ~$universe distinct '$keyCol' keys -> bandBits=$bits")
    bits
  }

  /** [[corrScreen]] with the band width chosen from the MEASURED key
    * universe ([[measuredBandBits]]). This is the entrypoint a caller
    * with an unknown universe should use; `corrScreen` itself stays a
    * pure plan-builder for callers who know their universe and pick
    * the width per [[autoBandBits]]'s rule — it no longer offers a
    * default width, because the round-11 sf10 sweep measured the old
    * 8-bit default at exponent ~1.9 on a 150k universe (964 s) vs
    * 0.91 for the sized 16-bit band (37 s).
    */
  def corrScreenAuto(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      maxHamming: Int = 7,
      bucketCap: Long = 10000L
  ): DataFrame = {
    // maxHamming passes through unchanged: beyond the chosen width's
    // pigeonhole radius (64/bits − 1) recall is probabilistic, which is
    // corrScreen's documented standard-LSH semantics
    corrScreen(rollup, keyCol, bucketCol, maxHamming = maxHamming,
      bucketCap = bucketCap, bandBits = measuredBandBits(rollup, keyCol))
  }

  /** [[corrScreenSigned]] with the band width measured the same way —
    * the auto entrypoint for the co+anti screen.
    */
  def corrScreenSignedAuto(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      maxHamming: Int = 7,
      bucketCap: Long = 10000L
  ): DataFrame =
    corrScreenSigned(rollup, keyCol, bucketCol, maxHamming = maxHamming,
      bucketCap = bucketCap, bandBits = measuredBandBits(rollup, keyCol))

  /** Sign-sketch correlation screen at an EXPLICIT band width.
    * `bandBits` has no default by design: pick it with
    * [[autoBandBits]] (or call [[corrScreenAuto]]) — 8-bit bands are
    * only safe below ~2k keys (guaranteed recall to hamming 7), and
    * leaving a default in place let committed callers ride a measured
    * quadratic at 100× that universe.
    */
  def corrScreen(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      maxHamming: Int = 7,
      bucketCap: Long = 10000L,
      bandBits: Int
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"maxHamming=$maxHamming outside [0, 64]")
    require(Seq(8, 16, 32).contains(bandBits),
      s"bandBits=$bandBits must be 8, 16, or 32 (64-bit fingerprint)")
    val moves = screenMoves(rollup, keyCol, bucketCol)
    val fp = signFingerprints(moves, keyCol)
    val banded = bandFingerprints(fp, keyCol, bandBits, bucketCap, col("__fp"))
    val a = banded.select(col(keyCol).as("key_a"), col("__fp").as("__fa"),
      col("band"), col("h"))
    val b = banded.select(col(keyCol).as("key_b"), col("__fp").as("__fb"),
      col("band"), col("h"))
    val pairs = a.join(b, Seq("band", "h"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("hamming",
        bit_count(col("__fa").bitwiseXOR(col("__fb"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("key_a"), col("key_b"), col("hamming"))
      .distinct()
    exactCorrOnPairs(pairs, moves, keyCol, Seq.empty)
  }

  /** BOTH sides of the screen: co-moving pairs (near-equal sign
    * patterns, as [[corrScreen]]) AND anti-moving pairs (near-
    * complement patterns — the pairs-trading / hedge screen). Anti
    * candidates come from joining each key's direct band keys against
    * the others' COMPLEMENT band keys (per band, `h == ~h'` is
    * symmetric, so one join direction plus the canonical key order
    * finds each pair once); their reported `hamming` is the distance
    * TO THE COMPLEMENT (64 − xor popcount), so ≤ maxHamming means
    * "sign patterns disagree on ≥ 64−maxHamming axes". `side` is
    * 'co_moving' or 'anti_moving'; maxHamming < 32 keeps the two
    * candidate sets disjoint. Same pigeonhole recall radius per side,
    * same exact-corr stage — an anti pair's corr is the full matrix's
    * (negative) entry, bit for bit.
    */
  def corrScreenSigned(
      rollup: DataFrame,
      keyCol: String,
      bucketCol: String,
      maxHamming: Int = 7,
      bucketCap: Long = 10000L,
      bandBits: Int
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming=$maxHamming outside [0, 31] (>= 32 would overlap the sides)")
    require(Seq(8, 16, 32).contains(bandBits),
      s"bandBits=$bandBits must be 8, 16, or 32 (64-bit fingerprint)")
    val moves = screenMoves(rollup, keyCol, bucketCol)
    val fp = signFingerprints(moves, keyCol)
    val direct = bandFingerprints(fp, keyCol, bandBits, bucketCap, col("__fp"))
    val compl = bandFingerprints(fp, keyCol, bandBits, bucketCap,
      bitwise_not(col("__fp")))
    val a = direct.select(col(keyCol).as("key_a"), col("__fp").as("__fa"),
      col("band"), col("h"))
    def bSide(banded: DataFrame) = banded.select(
      col(keyCol).as("key_b"), col("__fp").as("__fb"), col("band"), col("h"))
    val xorPop = bit_count(col("__fa").bitwiseXOR(col("__fb"))).cast(LongType)
    val co = a.join(bSide(direct), Seq("band", "h"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("hamming", xorPop)
      .filter(col("hamming") <= maxHamming)
      .select(col("key_a"), col("key_b"), col("hamming"),
        lit("co_moving").as("side"))
    val anti = a.join(bSide(compl), Seq("band", "h"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("hamming", lit(64L) - xorPop)
      .filter(col("hamming") <= maxHamming)
      .select(col("key_a"), col("key_b"), col("hamming"),
        lit("anti_moving").as("side"))
    val pairs = co.unionByName(anti).distinct()
    exactCorrOnPairs(pairs, moves, keyCol, Seq("side"))
  }
}
