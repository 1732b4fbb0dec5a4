package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Core relational operators of the engine, generic over column names.
  *
  * All pure `DataFrame => DataFrame`, built only on
  * `org.apache.spark.sql.functions` (codegen'd, partial-aggregation-
  * friendly); no UDFs, no collects. Each maps a reference behavior
  * (SURVEY.md §2 ids in the scaladoc).
  */
object CandleOps {

  /** Exact, order-independent sum of a 2-decimal double column:
    * per-row pure-IEEE cent quantization ([[graft.functions.Cents]]),
    * exact long accumulation, one division back to double. Aggregation
    * order cannot perturb the result, and — unlike the former
    * DECIMAL(18,2)-cast form — no engine-owned rounding policy is
    * invoked, so the sum is hash-identical between Spark and every
    * DuckDB release.
    */
  def moneySum(c: Column): Column = graft.functions.Cents.moneySum(c)

  /** [[graft.api.Par.spread]] on the operator's own partition keys —
    * pins the indicator window's exchange at the session's configured
    * shuffle parallelism (see Par doc). AQE sizes these exchanges by
    * their few-MB input and was serializing the compute-dense window
    * stages into 1-2 tasks (round-15 profile: macd's lag-convolution
    * window 0.95 s in ONE task at sf0.1 on 32 cores); a window
    * exchange has no partial-aggregation to lose and window stages get
    * no AQE skew-split, so the pin costs nothing at any scale while
    * letting the stage track the session's width. Empty keys = a
    * global window, single-partition by semantics — left alone.
    */
  private def spreadByKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    graft.api.Par.spreadKeyed(df, keys)

  /** Every window function an indicator needs is appended ONCE as a
    * named column, and the arithmetic that reads it (bound predicates,
    * branches, denominators, `when(den > 0, …)`) runs in the plain
    * Project above the Window. Catalyst's analyzer
    * (`ExtractWindowExpressions`) gives every `WindowExpression`
    * OCCURRENCE its own `_weN` slot and nothing dedupes them, so a lag
    * written into three expressions is computed three times per row.
    * The staging select sits between the same spread and the same
    * Window, so it adds no exchange; [[graft.GlobalWindowAuditSpec]]
    * keeps every query at one slot per distinct window function.
    */
  private[operators] def lagName(c: String, j: Int): String = s"${c}__lag$j"

  /** `df` plus the lags 1 until `n` of its column `c` over `wOrd`, named
    * by [[lagName]]. */
  private[operators] def withLags(df: DataFrame, c: String, n: Int, wOrd: WindowSpec): DataFrame =
    df.select(col("*") +: (1 until n).map(j => lag(col(c), j).over(wOrd).as(lagName(c, j))): _*)

  /** Price column `c` in whole cents, `round(c * 100)` as a long — the
    * indicators' exact-integer price form.
    */
  private[operators] def cts(c: String): Column = round(col(c) * 100).cast(LongType)

  /** `c` and its staged lags 1 until `n` — the x_j inputs of [[emaNumDen]]. */
  private[operators] def lagged(c: String, n: Int): Seq[Column] =
    col(c) +: (1 until n).map(j => col(lagName(c, j)))


  // ---------------------------------------------------------------------
  // B2 — last-writer-wins dedup ("FINAL" over ReplacingMergeTree,
  // reference: app/clickhouse_schema.py:143,145).
  // ---------------------------------------------------------------------

  /** Keep, per key, the row with the max `versionCol`. Implemented as a
    * ranked window; Catalyst's InferWindowGroupLimit turns the
    * rank-then-filter into a per-partition top-1 (no full sort of each
    * key group materialized). One shuffle on the key — unavoidable, and
    * at 100 TB it is the same shuffle a groupBy-based dedup would pay.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Same semantics via hash aggregation (`groupBy(keys).max_by(...)`)
    * — partial aggregation halves shuffle volume vs the window form
    * when duplicates are common; preferred at scale when only listed
    * payload columns are needed.
    */
  def latestByKeyAgg(
      df: DataFrame,
      keys: Seq[String],
      versionCol: String,
      payload: Seq[String]
  ): DataFrame = {
    val aggs = payload.map(c => max_by(col(c), col(versionCol)).as(c)) :+
      max(col(versionCol)).as(versionCol)
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------------
  // A5 — per-grain OHLCV aggregation (the flagship; reference MV SQL
  // app/clickhouse_schema.py:167-206, bucket expr :82-91).
  // ---------------------------------------------------------------------

  /** The candle, defined once: open at the earliest `openTs`, the
    * highest `high`, the lowest `low`, close at the latest `closeTs` —
    * the reference MV's argMin(open)/max(high)/min(low)/argMax(close)
    * (app/clickhouse_schema.py:179-185). Every OHLCV aggregate, batch
    * and streaming, appends its own trades, volume and carrier columns
    * to this list. Over ticks all four read one value at one timestamp
    * (the two-argument form); over candles or a carrier rollup they read
    * the candle's own columns and carrier timestamps.
    */
  private[graft] def ohlc(
      open: Column, openTs: Column,
      high: Column, low: Column,
      close: Column, closeTs: Column
  ): Seq[Column] = Seq(
    min_by(open, openTs).as("open"),
    max(high).as("high"),
    min(low).as("low"),
    max_by(close, closeTs).as("close"))

  /** [[ohlc]] of the ticks `v` at `ts`. */
  private[graft] def ohlc(v: Column, ts: Column): Seq[Column] = ohlc(v, ts, v, v, v, ts)

  /** The tick rollup's aggregates, batch ([[ohlcvRollup]]) and
    * streaming (`StreamingRollup.streamingOhlcv`) alike: [[ohlc]],
    * `trades`, then either the double `volume` or the re-aggregable
    * carriers `open_ts`/`close_ts`/`vol_cents`.
    */
  private[graft] def ohlcvAggs(v: Column, ts: Column, withCarriers: Boolean): Seq[Column] =
    ohlc(v, ts) ++ (count(lit(1)).as("trades") +: (
      if (withCarriers)
        Seq(
          min(ts).as("open_ts"),
          max(ts).as("close_ts"),
          sum(graft.functions.Cents.cents(v)).as("vol_cents"))
      else Seq(moneySum(v).as("volume"))))

  /** Tumbling-window OHLCV rollup: [[ohlc]], count and sum(volume) per
    * key and `TimeBucket.time_bucket(ts, grain)` bucket. The bucket
    * expression stays inside whole-stage codegen and Catalyst plans a
    * single partial+final hash aggregate (map-side combine → one
    * shuffle on the group keys).
    *
    * With `withCarriers=true` the output keeps `open_ts`/`close_ts`, the
    * argmin/argmax carriers that make coarser re-aggregation associative
    * (the ClickHouse `-State` trick, SURVEY.md §1.3), plus exact long
    * `vol_cents` for further summation. Dropping the two carrier
    * timestamps gives the cent-exact candle (volume as per-row
    * quantized long cents, never a rehydrated double re-quantized —
    * see [[graft.functions.Cents]]) that the cent-exact volume
    * consumers read; column pruning removes the two unused aggregates.
    */
  def ohlcvRollup(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      grain: String,
      withCarriers: Boolean = false
  ): DataFrame =
    bucketed(df, keys, col(tsCol), grain, ohlcvAggs(col(valueCol), col(tsCol), withCarriers))

  /** `aggs` per key and `TimeBucket.time_bucket(ts, grain)` bucket,
    * named `bucket_ts` — the batch twin of `StreamingRollup.windowed`.
    */
  private[graft] def bucketed(
      df: DataFrame,
      keys: Seq[String],
      ts: Column,
      grain: String,
      aggs: Seq[Column]
  ): DataFrame =
    df.groupBy(keys.map(col) :+ graft.functions.TimeBucket.time_bucket(ts, grain).as("bucket_ts"): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Exact long cent volume off a rollup column. A column NAMED
    * `vol_cents` (the carrier rollup's exact cents — either requested
    * directly or present alongside a missing `volumeCol`) is consumed
    * as already-exact cents; anything else is quantized per row via
    * [[graft.functions.Cents]]. Dispatch is on the contract NAME, not
    * on LongType: an integral volume column with any other name (e.g.
    * share/contract counts stored as long) is a count of units, not
    * cents, and silently consuming it as cents would skew every
    * cent-exact consumer 100×.
    */
  private[operators] def volCentsCol(rollup: DataFrame, volumeCol: String): Column = {
    val c =
      if (rollup.columns.contains(volumeCol)) volumeCol
      else if (rollup.columns.contains("vol_cents")) "vol_cents"
      else volumeCol // let schema() raise the standard missing-field error
    if (c == "vol_cents") col(c)
    else graft.functions.Cents.cents(col(c))
  }

  /** A6 — cascade re-aggregation: coarser rollup from a finer rollup's
    * carrier columns (reference: app/clickhouse_schema.py:169-177
    * `-MergeState` cascade 1m→5m→…→1d). Associative merge: the result
    * is provably identical to rolling the base data up directly (the
    * commutativity the reference's MV design assumes; unit-tested).
    */
  def cascadeRollup(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      grain: String
  ): DataFrame =
    bucketed(rollup, keys, col(bucketCol), grain,
      ohlc(col("open"), col("open_ts"), col("high"), col("low"), col("close"), col("close_ts")) ++ Seq(
        count(lit(1)).as("buckets"),
        sum(col("trades")).as("trades"),
        min(col("open_ts")).as("open_ts"),
        max(col("close_ts")).as("close_ts"),
        sum(col("vol_cents")).as("vol_cents")))

  /** Finish a carrier rollup to its user-facing shape (drop carriers,
    * exact cents → double) — the analog of ClickHouse `-Merge`
    * read-side finishing (notebooks/ohlcv_views.ipynb cell 2).
    */
  def finishRollup(df: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = keys.map(col) ++ Seq(
      col("bucket_ts"),
      col("open"),
      col("high"),
      col("low"),
      col("close"),
      graft.functions.Cents.centsToMoney(col("vol_cents")).as("volume"),
      col("trades").cast(LongType).as("trades")
    )
    df.select(cols: _*)
  }

  // ---------------------------------------------------------------------
  // Snapshots / lookups (B1, B3-B5, W1; A1-A4)
  // ---------------------------------------------------------------------

  /** B1/W1 — recent-window snapshot: ORDER BY ts DESC LIMIT n with a
    * total-order tiebreak. Plans as TakeOrderedAndProjectExec (per-
    * partition top-k + driver merge; no global sort).
    */
  def recentTopK(df: DataFrame, n: Int, ordering: Seq[Column]): DataFrame =
    df.orderBy(ordering: _*).limit(n)

  /** B4/G4-support — latest row per key via max_by (hash agg, partial
    * combine; cheaper than window+filter when payload is narrow).
    */
  def latestPerKey(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      payload: Seq[String]
  ): DataFrame = {
    val aggs = payload.map(c => max_by(col(c), col(tsCol)).as(c)) :+
      max(col(tsCol)).as(s"last_$tsCol")
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A1 — earliest bucket per key (backfill resume point,
    * reference: app/load_history.py:277-295).
    */
  def earliestPerKey(df: DataFrame, keys: Seq[String], tsCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(min(col(tsCol)).as(s"earliest_$tsCol"))

  /** A2 — available source window: min/max/count for one key slice
    * (reference: app/data_quality_check.py:512-521).
    */
  def minMaxWindow(df: DataFrame, predicate: Column, tsCol: String): DataFrame =
    df.filter(predicate)
      .agg(
        min(col(tsCol)).as("window_start"),
        max(col(tsCol)).as("window_end"),
        count(lit(1)).as("n_rows")
      )

  /** G5 — floor timestamps to a grain (pd.Timestamp.floor analog,
    * reference: app/data_quality_check.py:309-310). Codegen'd single
    * expression — no named_struct construction.
    */
  def floorToGrain(ts: Column, grain: String): Column =
    graft.functions.TimeBucket.time_bucket(ts, grain)

  // ---------------------------------------------------------------------
  // Technical indicators over a rolled-up candle frame — the natural
  // read-side extension of the reference's OHLCV views
  // (notebooks/ohlcv_views.ipynb computes rolling stats per pair).
  // Every value is bit-reproducible across engines: rolling sums are
  // exact cents integers; the only float operations are single IEEE
  // divisions of exact operands, correctly-rounded sqrt, and one
  // add/sub per band — each deterministic given identical operands.
  // One sort-window exchange per key; frames never materialize beyond
  // the running sums Catalyst keeps.
  // ---------------------------------------------------------------------

  /** Bollinger bands: rolling mid (mean) and +/- k population-sigma
    * bands over the trailing `nWindow` closes, in cents. Short
    * prefixes use the actual frame size. The variance never divides
    * early: num = n*sxx - sx*sx stays an exact long until the final
    * double division by n*n.
    */
  def bollinger(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      nWindow: Int,
      k: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    require(k > 0, s"k=$k must be positive")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
      .rowsBetween(-(nWindow - 1), Window.currentRow)
    val cents = col("close_cents")
    val (n, sx, sxx) = (col("n_in_frame"), col("__sx"), col("__sxx"))
    val mid = sx.cast(DoubleType) / n.cast(DoubleType)
    val delta = lit(k) *
      sqrt((n * sxx - sx * sx).cast(DoubleType) / (n * n).cast(DoubleType))
    spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+
        round(col(closeCol) * 100).cast(LongType).as("close_cents")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+ cents :+
        count(lit(1)).over(w).as("n_in_frame") :+ sum(cents).over(w).as("__sx") :+
        sum(cents * cents).over(w).as("__sxx")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+ cents :+ n :+
        mid.as("mid_cents") :+ (mid + delta).as("upper_cents") :+
        (mid - delta).as("lower_cents")): _*)
  }

  /** Simple (Cutler's) RSI: 100 * gains / (gains + losses) over the
    * trailing `nWindow` close-to-close moves. Gains/losses are exact
    * cent sums; the single division happens after the integer
    * multiply by 100, so the value is one IEEE division of exact
    * longs. A flat window (no moves) yields NULL, not 0/0.
    */
  def rsi(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val cents = round(col(closeCol) * 100).cast(LongType)
    val d = cents - lag(cents, 1).over(wOrd)
    val withD = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ d.as("__d")): _*)
    val gains = col("gains_cents")
    val losses = col("losses_cents")
    withD.select(
      (keys.map(col) :+ col(bucketCol) :+
        sum(when(col("__d") > 0, col("__d")).otherwise(0L)).over(w).as("gains_cents") :+
        sum(when(col("__d") < 0, -col("__d")).otherwise(0L)).over(w).as("losses_cents")): _*)
      .withColumn("rsi", when(gains + losses === 0, lit(null).cast(DoubleType))
        .otherwise((gains * 100).cast(DoubleType) / (gains + losses).cast(DoubleType)))
  }

  /** Resample a rollup onto a continuous per-key grid and forward-fill
    * the close (pandas `resample(...).ffill()` / ClickHouse `WITH FILL`
    * analog — the read-side companion of G2's gap detection: instead of
    * *reporting* missing buckets, emit them carrying the last observed
    * close). Output: keys, bucket_ts, close (filled), filled flag.
    *
    * Shape at scale: one hash aggregate for per-key spans (shuffle on
    * keys), `sequence`+`explode` grid generation (no shuffle, rows
    * materialize in the mappers), one shuffle join grid×rollup on
    * (keys, bucket), one keys-partitioned window for the fill. Grid
    * size is bounded by span/grain per key — the same bound G2's
    * expected-grid anti-join already carries; a key with a pathological
    * span costs span/grain rows, never rows². The rollup input is
    * scanned twice (spans + join); at 100 TB the rollup this runs over
    * is grain-compacted (orders of magnitude under the base table), so
    * the second scan is cheap relative to one base-table pass.
    */
  def resampleFfill(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      grain: String
  ): DataFrame = {
    val step = graft.model.Timeframe.parse(grain).seconds
    val spans = rollup
      .groupBy(keys.map(col): _*)
      .agg(min(col(bucketCol)).as("__mn"), max(col(bucketCol)).as("__mx"))
    // RANGE-spread on the SPANS frame (one row per key — negligible
    // bytes at any scale): the downstream fused stage — grid explode,
    // left join (rollup side broadcasts), fill window — clusters on
    // the keys, so this one added exchange runs the whole fill
    // cores-wide where AQE had coalesced it to ONE task carrying the
    // entire grid generation + window (round-15 profile:
    // q_gap_fill_linear 1.16 s single-task stage at sf0.1). The
    // +1 exchange is pinned in ExchangeBudgetSpec with this rationale.
    // Range, not hash (r16): spans is the groupBy(keys) output, so a
    // hash spread on the same keys was ELIMINATED by the planner and
    // the fill still ran single-task — see Par.spreadRange.
    val grid = graft.api.Par.spreadRange(spans, keys.map(col)).select(
      keys.map(col) :+ explode(
        sequence(col("__mn"), col("__mx"),
          expr(s"INTERVAL $step seconds"))).as(bucketCol): _*)
    val joined = grid.join(
      rollup.select((keys.map(col) :+ col(bucketCol) :+ col(closeCol)): _*),
      keys :+ bucketCol, "left")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(
      (keys.map(col) :+ col(bucketCol) :+
        last(col(closeCol), ignoreNulls = true).over(w).as(closeCol) :+
        col(closeCol).isNull.as("filled")): _*)
  }

  /** Grid resample with LINEAR interpolation — the `WITH FILL ...
    * INTERPOLATE` analog (ClickHouse ORDER BY ... WITH FILL): missing
    * buckets between two present observations take the straight-line
    * value between them. The interpolated close is ONE IEEE division
    * of exact integers — cents-scaled endpoint values weighted by
    * integer hour distances, so any engine reproduces it bitwise:
    * close = (prev·(t_next−t) + next·(t−t_prev)) / ((t_next−t_prev)·100).
    * Leading/trailing gaps (no bracketing observation) stay NULL —
    * interpolation never extrapolates.
    *
    * Scale shape: identical to [[resampleFfill]] — per-key span
    * aggregate, grid explode (one row per bucket, never per event),
    * one per-key window carrying both bracketing scans.
    */
  def resampleInterpolate(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      grain: String
  ): DataFrame = {
    val step = graft.model.Timeframe.parse(grain).seconds
    val spans = rollup
      .groupBy(keys.map(col): _*)
      .agg(min(col(bucketCol)).as("__mn"), max(col(bucketCol)).as("__mx"))
    // spans RANGE-spread, same rationale as [[resampleFfill]] (a hash
    // spread on the groupBy's own keys is planner-eliminated).
    val grid = graft.api.Par.spreadRange(spans, keys.map(col)).select(
      keys.map(col) :+ explode(
        sequence(col("__mn"), col("__mx"),
          expr(s"INTERVAL $step seconds"))).as(bucketCol): _*)
    val joined = grid.join(
      rollup.select((keys.map(col) :+ col(bucketCol) :+
        col(closeCol).as("__raw")): _*),
      keys :+ bucketCol, "left")
    val hr = expr(s"unix_micros($bucketCol) div ${step}000000")
    val wPrev = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the NEXT bracket as a RUNNING frame over the reversed ordering —
    // `last(ignoreNulls)` up-to-current in descending bucket order IS
    // "first non-null at-or-after" in ascending order, bit-identically.
    // The naive frame (currentRow → unboundedFollowing) is Spark's
    // shrinking UnboundedFollowing frame, which RECOMPUTES the
    // aggregate per row — O(n²) per key; count()'s column pruning hid
    // it until the bench action started hashing every output column
    // (sf0.1: 21.6 s → linear after this rewrite). Running frames in
    // both directions cost one extra in-partition sort, not a square.
    val wNextRev = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(bucketCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val presentCents = when(col("__raw").isNotNull,
      round(col("__raw") * 100).cast(LongType))
    val presentHr = when(col("__raw").isNotNull, hr)
    val withBrackets = joined
      .withColumn("__t", hr)
      .withColumn("__pv", last(presentCents, ignoreNulls = true).over(wPrev))
      .withColumn("__pt", last(presentHr, ignoreNulls = true).over(wPrev))
      .withColumn("__nv", last(presentCents, ignoreNulls = true).over(wNextRev))
      .withColumn("__nt", last(presentHr, ignoreNulls = true).over(wNextRev))
    val interp =
      (col("__pv") * (col("__nt") - col("__t")) +
        col("__nv") * (col("__t") - col("__pt"))).cast(DoubleType) /
        ((col("__nt") - col("__pt")) * lit(100L)).cast(DoubleType)
    withBrackets.select(
      (keys.map(col) :+ col(bucketCol) :+
        when(col("__raw").isNotNull, col("__raw"))
          .when(col("__pv").isNotNull && col("__nv").isNotNull, interp)
          .otherwise(lit(null).cast(DoubleType)).as(closeCol) :+
        col("__raw").isNull.as("filled")): _*)
  }

  /** Truncated exponential moving average in exact integer arithmetic.
    *
    * Weights are the EWMA series (1-a)^j with a = 2/(n+1), truncated at
    * the trailing `nWindow` rows and renormalized over the rows present
    * (pandas `ewm(span=n, adjust=True)` restricted to a window) — the
    * truncation is what makes the value exactly computable: scaling by
    * (n+1)^(n-1) turns every weight into the integer
    * (n-1)^j * (n+1)^(n-1-j), so numerator and denominator are exact
    * DECIMAL(38,0) sums over explicit `lag`s and the published `ema` is
    * ONE IEEE division of two exactly-representable integers — bit-
    * reproducible across engines and partitionings, like [[rsi]] and
    * [[bollinger]]. nWindow ≤ 20 keeps the worst-case numerator
    * (n·(n+1)^(n-1)·maxCents) under the decimal(38,0) cap for cent
    * values to ~1e12.
    *
    * One window per key — the same single-exchange shape as the other
    * indicators: the n−1 lags are staged once as named columns
    * ([[withLags]]) and the convolution runs in the Project above the
    * Window (no self-joins, no per-row arrays).
    */
  def ema(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      nWindow: Int
  ): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    val (num, den) = emaNumDen(lagged("close_cents", nWindow))
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cents.as("close_cents")): _*)
    withLags(staged, "close_cents", nWindow, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        (num.cast(DoubleType) / den.cast(DoubleType)).as("ema_cents")): _*)
  }

  /** The exact-rational core of [[ema]]: decimal(38,0) numerator and
    * denominator of the truncated EWMA over `xs` — the current value
    * of an integer column followed by its lags 1 .. n−1, staged by the
    * caller as named columns ([[withLags]]/[[lagged]]), so n =
    * `xs.length`. Both sums are over explicit lags, so the pair is
    * usable for rational arithmetic ACROSS two EMAs (see [[macd]]) —
    * num/den stays exact until the caller's one division.
    *
    * The lags are columns, not `lag(x, j).over(w)` written inline:
    * Catalyst evaluates every window-expression occurrence separately,
    * and the inline form referenced each lag four to six times (bound
    * predicate, both numerator branches, denominator). Measured at
    * sf0.001 over the whole query suite: 761 window slots for 130
    * distinct window functions in 28 queries before (q_macd 192/16,
    * q_keltner 125/14, q_ema 110/11, q_holt_brown 80/10, q_ewma_vol
    * 43/6), one slot per function after. q_ewma_vol's CPU in the
    * `candle` benchmark (perfbench, 4 vCPUs, median over ten
    * alternating pairs) went from 1.40 to 1.10 s.
    */
  private def emaNumDen(xs: Seq[Column]): (Column, Column) = {
    val nWindow = xs.length
    require(nWindow > 1 && nWindow <= 20,
      s"nWindow=$nWindow outside (1, 20]: weights (n+1)^(n-1) must stay decimal-exact")
    val dec = DecimalType(38, 0)
    // integer weights (n-1)^j * (n+1)^(n-1-j), j = 0 (current row) .. n-1
    val weights = (0 until nWindow).map { j =>
      BigInt(nWindow - 1).pow(j) * BigInt(nWindow + 1).pow(nWindow - 1 - j)
    }
    val wMax = weights.max
    if (wMax.bitLength <= 52) emaNumDenLong(xs, weights, dec)
    else {
      // wide-weight fallback (nWindow 15-20: 16^14 is 57 bits, 17^15
      // is 62 — both past the 52-bit long-split gate): the per-term
      // decimal products genuinely need >63-bit headroom
      val terms = weights.zip(xs).map { case (wj, xj) =>
        val wLit = lit(BigDecimal(wj)).cast(dec)
        (when(xj.isNotNull, xj.cast(dec) * wLit).otherwise(lit(0).cast(dec)),
          when(xj.isNotNull, wLit).otherwise(lit(0).cast(dec)))
      }
      (terms.map(_._1).reduce(_ + _).cast(dec), terms.map(_._2).reduce(_ + _).cast(dec))
    }
  }

  /** Allocation-free [[emaNumDen]] core for weights under 53 bits
    * (every engine call site: fast/slow ≤ 13, signal/Brown ≤ 6): the
    * SAME exact integers, accumulated as plain long codegen arithmetic
    * instead of per-row java.math.BigDecimal allocations — the decimal
    * form was the EMA-family windows' hot loop (q_macd: 23.5 s of task
    * time across 32 tasks at sf0.1 for ~66k rows, round-15 profile;
    * the [[graft.functions.ExactSum]] precedent measured the same
    * decimal-aggregate pathology 4-16x). A weight profile past 31
    * bits splits at the midpoint into w = wh·2^S + wl, so Σw_j·x_j =
    * (Σwh_j·x_j)·2^S + Σwl_j·x_j with every partial product and
    * partial sum bounded by n · 2^max(S, wBits−S) · |x| ≤ 2^62 inside
    * the per-row bound below; the ONE decimal reconstruction per row
    * rebuilds the identical decimal(38,0) numerator. Sub-32-bit
    * profiles do NOT split (r16, measured): always-splitting was
    * tried per the r15 advice and REVERTED — the hi·2^S + lo
    * reconstruction adds two decimal ops per row per pass, and
    * q_holt_brown (two n=6 passes) ran a consistent 1.35-1.48x its
    * suite-normalized wall across two full benches; the per-row
    * decimal FALLBACK below already restores the full domain, so the
    * split's wider long window bought nothing the fallback doesn't.
    *
    * Rows whose trailing frame holds a value past the long bound do
    * NOT raise (the r15 guard narrowed the domain below the
    * documented decimal budgets — holtBrown's s1µ ≤ 1e15, ewmaVol's
    * d² ≤ 2^60): the numerator falls back per row to the SAME-valued
    * decimal convolution, lazily — CaseWhen evaluates only the taken
    * branch, and the bound predicate and both branches read the same
    * staged lag columns, so in-bound rows (any priced series: the
    * bound is ~4.6e13 at n = 6 and ≥ 2^35 cents at n ≤ 13) pay pure
    * long arithmetic and only past-bound rows pay BigDecimal. The
    * full decimal(38,0) domain of
    * the pre-r15 implementation is restored; the denominator is
    * x-free (n · wMax < 2^56) and always rides the long path.
    */
  private def emaNumDenLong(
      xjs: Seq[Column], weights: Seq[BigInt],
      dec: DecimalType): (Column, Column) = {
    val n = weights.length
    val wBits = weights.max.bitLength
    val s = if (wBits > 31) (wBits + 1) / 2 else 0
    val partMax = weights.map { w =>
      ((w >> s).max(w & ((BigInt(1) << s) - 1))).max(BigInt(1))
    }.max
    val xBound = ((BigInt(1) << 62) / (BigInt(n) * partMax)).toLong
    // no abs(): abs(Long.MinValue) wraps negative and would misroute
    // that (absurd) input onto the long branch
    val inBound = xjs.map(xj =>
      xj.isNull || (xj >= lit(-xBound) && xj <= lit(xBound))).reduce(_ && _)
    val terms = weights.zip(xjs).map { case (wj, xj) =>
      // s == 0: no split — the whole weight rides the lo sum
      val wh = if (s == 0) 0L else (wj >> s).toLong
      val wl = if (s == 0) wj.toLong else (wj & ((BigInt(1) << s) - 1)).toLong
      (when(xj.isNotNull, xj * lit(wh)).otherwise(lit(0L)),
        when(xj.isNotNull, xj * lit(wl)).otherwise(lit(0L)),
        when(xj.isNotNull, lit(wj.toLong)).otherwise(lit(0L)))
    }
    val hi = terms.map(_._1).reduce(_ + _)
    val lo = terms.map(_._2).reduce(_ + _)
    val den = terms.map(_._3).reduce(_ + _)
    val longNum =
      if (s == 0) lo.cast(dec)
      else (hi.cast(dec) * lit(BigDecimal(BigInt(1) << s)).cast(dec) +
        lo.cast(dec)).cast(dec)
    val decNum = weights.zip(xjs).map { case (wj, xj) =>
      when(xj.isNotNull, xj.cast(dec) * lit(BigDecimal(wj)).cast(dec))
        .otherwise(lit(0).cast(dec))
    }.reduce(_ + _).cast(dec)
    (when(inBound, longNum).otherwise(decNum), den.cast(dec))
  }

  /** Stochastic oscillator in the full-stochastic smoothing that stays
    * bit-exact: raw %K = 100·(close − lowN)/(highN − lowN) over the
    * trailing `nWindow` buckets is one IEEE division of exact cent
    * longs; the slow line smooths NUMERATOR and DENOMINATOR separately
    * over `smoothN` rows (each an exact long sum) so `k_slow` is again
    * ONE division — unlike an SMA of %K doubles, whose accumulation
    * order engines disagree on. A flat window (high == low) yields
    * NULL, not 0/0.
    *
    * Two stacked windows share the one per-key sort exchange.
    */
  def stochastic(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int,
      smoothN: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    require(smoothN >= 1, s"smoothN=$smoothN must be positive")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val ws = wOrd.rowsBetween(-(smoothN - 1), Window.currentRow)
    val withBounds = spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+ cts("close").as("__c") :+
        max(cts("high")).over(w).as("__hi") :+ min(cts("low")).over(w).as("__lo")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+
        (col("__c") - col("__lo")).as("__num") :+
        (col("__hi") - col("__lo")).as("__den")): _*)
    val (sNum, sDen) = (col("__sn"), col("__sd"))
    withBounds
      .select((keys.map(col) :+ col(bucketCol) :+ col("__num") :+ col("__den") :+
        sum(col("__num")).over(ws).as("__sn") :+ sum(col("__den")).over(ws).as("__sd")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+
        col("__num").as("k_num_cents") :+ col("__den").as("k_den_cents") :+
        when(col("__den") > 0, (col("__num") * 100).cast(DoubleType) /
          col("__den").cast(DoubleType)).as("k_raw") :+
        when(sDen > 0, (sNum * 100).cast(DoubleType) /
          sDen.cast(DoubleType)).as("k_slow")): _*)
  }

  /** Average true range: TR = max(high−low, |high−prevClose|,
    * |low−prevClose|) in exact cents (first bucket: high−low), ATR the
    * mean TR over the trailing `nWindow` buckets — an exact long sum
    * with ONE division by the actual frame size. Wilder's recursive
    * smoothing is deliberately traded for the windowed mean: same
    * bounded-memory window shape as [[bollinger]], and exactly
    * reproducible where the recursion's float feedback is not.
    */
  def atr(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val withTr = trueRange(spreadByKeys(rollup, keys), keys, bucketCol, wOrd)
    withTr
      .select((keys.map(col) :+ col(bucketCol) :+ col("__tr").as("tr_cents") :+
        sum(col("__tr")).over(w).as("__ts") :+ count(lit(1)).over(w).as("__tc")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+ col("tr_cents") :+
        (col("__ts").cast(DoubleType) / col("__tc").cast(DoubleType)).as("atr_cents")): _*)
  }

  /** Keys, bucket, high/low/close cents (`__h`, `__l`, `__c`; the close
    * with its lags 1 until `nLags`) and the exact-cent true range
    * `__tr` = max(high−low,
    * |high−prevClose|, |low−prevClose|) (first bucket: high−low) — the
    * shared core of [[atr]] and [[keltner]]. The previous close is the
    * staged lag 1, read three times by the range arithmetic above the
    * Window. */
  private def trueRange(
      spread: DataFrame, keys: Seq[String], bucketCol: String, wOrd: WindowSpec,
      nLags: Int = 2): DataFrame = {
    val staged = spread.select((keys.map(col) :+ col(bucketCol) :+ cts("close").as("__c") :+
      cts("high").as("__h") :+ cts("low").as("__l")): _*)
    val pc = col(lagName("__c", 1))
    val hl = col("__h") - col("__l")
    val tr = when(pc.isNull, hl).otherwise(
      greatest(hl, abs(col("__h") - pc), abs(col("__l") - pc)))
    withLags(staged, "__c", nLags, wOrd).withColumn("__tr", tr)
  }

  /** Keltner channels kept exact end-to-end: middle = the truncated
    * rational EWMA of close cents (numE/denE), band width = k × the
    * windowed-mean ATR (trSum/trCnt over the trailing `atrN` true
    * ranges — the [[atr]] core), and each band combines the two
    * rationals over the common denominator:
    *   upper = (numE·trCnt + k·trSum·denE) / (denE·trCnt)
    *   lower = (numE·trCnt − k·trSum·denE) / (denE·trCnt)
    * — every published double is ONE IEEE division of exact
    * decimal(38,0) operands. emaN ≤ 13 (the [[macd]] slow cap) keeps
    * the cross-products far inside 38 digits at $10M closes. Both
    * window families ride the one per-key sort exchange.
    */
  def keltner(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      emaN: Int = 13,
      atrN: Int = 10,
      k: Int = 2
  ): DataFrame = {
    require(emaN > 1 && emaN <= 13,
      s"emaN=$emaN outside (1, 13]: the decimal(38,0) cross-multiply budget")
    require(atrN > 1 && k >= 1, s"need atrN=$atrN > 1 and k=$k >= 1")
    val dec38 = DecimalType(38, 0)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(atrN - 1), Window.currentRow)
    // the true range's previous close IS the EMA's lag 1: one staged set
    // of close lags feeds both
    val (numE, denE) = emaNumDen(lagged("__c", emaN))
    val staged = trueRange(spreadByKeys(rollup, keys), keys, bucketCol, wOrd, emaN).select(
      (keys.map(col) :+ col(bucketCol) :+ col("__c").as("close_cents") :+
        col("__tr") :+ numE.as("__ne") :+ denE.as("__de")): _*)
    staged
      .withColumn("__ts", sum(col("__tr")).over(w).cast(dec38))
      .withColumn("__tc", count(lit(1)).over(w).cast(dec38))
      .select(
        (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
          col("__tr").as("tr_cents") :+
          (col("__ne").cast(DoubleType) / col("__de").cast(DoubleType))
            .as("mid_cents") :+
          ((col("__ne") * col("__tc") + lit(k).cast(dec38) * col("__ts") * col("__de"))
            .cast(DoubleType) / (col("__de") * col("__tc")).cast(DoubleType))
            .as("upper_cents") :+
          ((col("__ne") * col("__tc") - lit(k).cast(dec38) * col("__ts") * col("__de"))
            .cast(DoubleType) / (col("__de") * col("__tc")).cast(DoubleType))
            .as("lower_cents")): _*)
  }

  /** Donchian channel: trailing `nWindow` extreme band plus where the
    * close sits inside it. Upper/lower are exact cent longs; `mid` is
    * one division by 2 (exact in IEEE); `position` is one division of
    * exact longs, NULL on a flat channel.
    */
  def donchian(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int
  ): DataFrame = {
    require(nWindow > 1, s"nWindow=$nWindow must exceed 1")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val w = wOrd.rowsBetween(-(nWindow - 1), Window.currentRow)
    val (close, upper, lower) = (col("close_cents"), col("upper_cents"), col("lower_cents"))
    spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+ cts("close").as("close_cents") :+
        max(cts("high")).over(w).as("upper_cents") :+
        min(cts("low")).over(w).as("lower_cents")): _*)
      .withColumn("mid_cents", (upper + lower).cast(DoubleType) / lit(2.0))
      .withColumn("position", when(upper > lower, (close - lower).cast(DoubleType) /
        (upper - lower).cast(DoubleType)))
  }

  /** On-balance volume: the running sum of volume signed by the close-
    * to-close move direction. Volume cents and the cumulative sum
    * accumulate in decimal(38,0) (order-independent), published as
    * BIGINT — at ~1e9 buckets/key of ~1e9-cent volumes the running
    * total stays far inside int64's 9.2e18. First bucket and flat
    * moves contribute zero, the textbook convention.
    */
  def obv(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      volumeCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cents = round(col(closeCol) * 100).cast(LongType)
    val volCents = volCentsCol(rollup, volumeCol)
    val d = col("close_cents") - col(lagName("close_cents", 1))
    val signed = when(d > 0, col("__v")).when(d < 0, -col("__v")).otherwise(lit(0L))
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cents.as("close_cents") :+ volCents.as("__v")): _*)
    val withSigned = withLags(staged, "close_cents", 2, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        signed.as("__sv")): _*)
    withSigned.select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        sum(col("__sv").cast(dec)).over(wCum).cast(LongType).as("obv_cents")): _*)
  }

  /** Classic floor-trader pivot points from the PREVIOUS bucket's
    * high/low/close: P = (h+l+c)/3, R1 = 2P−l, S1 = 2P−h,
    * R2 = P+(h−l), S2 = P−(h−l). The prior extremes are exact cent
    * longs via one lag; every published level is a fixed chain of
    * IEEE ops on those exact operands (÷3 once, ×2 and long→double
    * conversions exact), so the values are engine-identical. The
    * first bucket per key has no prior day — its levels are NULL.
    */
  def pivotPoints(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String
  ): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val ph = col("prev_high_cents")
    val pl = col("prev_low_cents")
    val pc = col("prev_close_cents")
    val p = col("pivot")
    val range = (ph - pl).cast(DoubleType)
    spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+ cts("close").as("close_cents") :+
        lag(cts("high"), 1).over(wOrd).as("prev_high_cents") :+
        lag(cts("low"), 1).over(wOrd).as("prev_low_cents") :+
        lag(cts("close"), 1).over(wOrd).as("prev_close_cents")): _*)
      .withColumn("pivot", (ph + pl + pc).cast(DoubleType) / lit(3.0))
      .select((keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        ph :+ pl :+ pc :+ p :+
        (lit(2.0) * p - pl.cast(DoubleType)).as("r1") :+
        (lit(2.0) * p - ph.cast(DoubleType)).as("s1") :+
        (p + range).as("r2") :+ (p - range).as("s2")): _*)
  }

  /** Volume-at-price profile: total traded volume per (key, price
    * bucket) — "where did the volume trade". Price buckets are
    * `floor(close_cents / bucketCents)` (one IEEE division + floor of
    * exact operands, engine-identical for positive prices); volume
    * accumulates in decimal and publishes as BIGINT cents; `share` is
    * each bucket's fraction of its key's total via a window sum over
    * the already-aggregated profile rows.
    */
  def volumeProfile(
      rollup: DataFrame,
      keys: Seq[String],
      closeCol: String,
      volumeCol: String,
      bucketCents: Long
  ): DataFrame = {
    require(bucketCents > 0, s"bucketCents=$bucketCents must be positive")
    val dec = DecimalType(38, 0)
    val cents = round(col(closeCol) * 100).cast(LongType)
    val volCents = volCentsCol(rollup, volumeCol)
    val bucket = floor(cents.cast(DoubleType) / lit(bucketCents.toDouble)).cast(LongType)
    val profile = spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ bucket.as("price_bucket") :+
        volCents.as("__v")): _*)
      .groupBy((keys.map(col) :+ col("price_bucket")): _*)
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("__v").cast(dec)).cast(LongType).as("volume_cents"))
    val w = Window.partitionBy(keys.map(col): _*)
    profile.withColumn("share",
      col("volume_cents").cast(DoubleType) /
        sum(col("volume_cents")).over(w).cast(DoubleType))
  }

  /** MACD kept exact end-to-end by rational arithmetic: each truncated
    * EMA ([[emaNumDen]]) is an exact decimal fraction, so
    *   macd = numF/denF − numS/denS = (numF·denS − numS·denF)/(denF·denS)
    * is ONE IEEE division of exact decimals. The signal line re-enters
    * integer arithmetic by quantizing macd to micro-cents (`floor(
    * macd·1e6)` — deterministic from the identical double) and running
    * the same truncated EMA over those longs; the histogram is one
    * subtraction of two deterministic doubles. Window sizes are capped
    * by the decimal(38,0) budget: numF·denS ≤ n·(n+1)^(n-1) squared ×
    * maxCents — fast ≤ 8, slow ≤ 13 keeps ~1e28 at $10M closes.
    *
    * All three stages ride one per-key sort exchange.
    */
  def macd(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      fast: Int = 6,
      slow: Int = 13,
      signalN: Int = 5
  ): DataFrame = {
    require(fast > 1 && fast < slow && slow <= 13,
      s"need 1 < fast=$fast < slow=$slow <= 13 for the decimal(38,0) cross-multiply budget")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    // fast < slow: the slow EMA's staged lags cover the fast one's
    val (numF, denF) = emaNumDen(lagged("close_cents", fast))
    val (numS, denS) = emaNumDen(lagged("close_cents", slow))
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cents.as("close_cents")): _*)
    // Materialize the four convolution sums into columns before any
    // expression references them twice: their per-term when(isNotNull)
    // guards block codegen subexpression elimination, so an inline
    // `macdCents` used by both outputs re-evaluates all fast+slow
    // decimal terms per output (measured ~2x the window wall at sf1).
    val sums = withLags(staged, "close_cents", slow, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        numF.as("__nf") :+ denF.as("__df") :+
        numS.as("__ns") :+ denS.as("__ds")): _*)
    val macdCents = (col("__nf") * col("__ds") - col("__ns") * col("__df"))
      .cast(DoubleType) / (col("__df") * col("__ds")).cast(DoubleType)
    val stage1 = sums.select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        macdCents.as("macd_cents") :+
        floor(macdCents * lit(1000000.0)).cast(LongType).as("macd_micro")): _*)
    val (numSig, denSig) = emaNumDen(lagged("macd_micro", signalN))
    val sums2 = withLags(stage1, "macd_micro", signalN, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        col("macd_cents") :+ col("macd_micro") :+
        numSig.as("__nsig") :+ denSig.as("__dsig")): _*)
    val signal = col("__nsig").cast(DoubleType) / col("__dsig").cast(DoubleType)
    sums2.select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        col("macd_cents") :+ col("macd_micro") :+
        signal.as("signal_micro") :+
        (col("macd_micro").cast(DoubleType) - signal).as("hist_micro")): _*)
  }

  /** Brown's double exponential smoothing (one smoothing constant
    * applied twice): S1 = truncated rational EWMA of close cents
    * ([[ema]]'s exact num/den), quantized to micro-cents by the
    * [[macd]] signal-line discipline (`floor(S1·1e6)` — deterministic
    * from the identical double); S2 = the same truncated EWMA over
    * those longs. With the window form's effective α = 2/(n+1),
    * Brown's identities become exact rationals over (s1µ, numS2,
    * denS2):
    *   level    = (2·s1µ·denS2 − numS2) / denS2
    *   trend    = 2·(s1µ·denS2 − numS2) / ((n−1)·denS2)
    *   forecast = level + trend, combined over the common denominator
    * — each published double is ONE IEEE division of exact
    * decimal(38,0) operands. n ≤ 8 keeps every cross-product far
    * inside 38 digits at $10M closes (denS2 ≤ n·(n+1)^(n−1) ≈ 3.8e7,
    * s1µ ≤ 1e15). One per-key sort exchange for both passes.
    */
  def holtBrown(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      nWindow: Int = 6
  ): DataFrame = {
    require(nWindow > 1 && nWindow <= 8,
      s"nWindow=$nWindow outside (1, 8]: the decimal(38,0) cross-multiply budget")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    val (num1, den1) = emaNumDen(lagged("close_cents", nWindow))
    val s1 = num1.cast(DoubleType) / den1.cast(DoubleType)
    val closes = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cents.as("close_cents")): _*)
    val stage1 = withLags(closes, "close_cents", nWindow, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        floor(s1 * lit(1000000.0)).cast(LongType).as("s1_micro")): _*)
    val dec38 = DecimalType(38, 0)
    val (num2, den2) = emaNumDen(lagged("s1_micro", nWindow))
    // Stage the second-pass sums into columns before the three outputs
    // reference them: the convolution's when(isNotNull) guards block
    // codegen subexpression elimination, so inlining num2/den2 into
    // level+trend+forecast re-evaluated the n-term decimal sums up to
    // six times per row (measured: this query cost MORE than macd's
    // 24-lag triple despite half the lags).
    val sums2 = withLags(stage1, "s1_micro", nWindow, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        col("s1_micro") :+ num2.as("__n2") :+ den2.as("__d2")): _*)
    val s1d = col("s1_micro").cast(dec38)
    val nm1 = lit(nWindow - 1).cast(dec38)
    val staged = sums2.select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        col("s1_micro") :+ col("__d2") :+
        (s1d * lit(2).cast(dec38) * col("__d2") - col("__n2")).as("__lvl_num") :+
        ((s1d * col("__d2") - col("__n2")) * lit(2).cast(dec38)).as("__trd_num")): _*)
    staged.select(
      (keys.map(col) :+ col(bucketCol) :+ col("close_cents") :+
        col("s1_micro") :+
        (col("__lvl_num").cast(DoubleType) / col("__d2").cast(DoubleType))
          .as("level_micro") :+
        (col("__trd_num").cast(DoubleType) / (nm1 * col("__d2")).cast(DoubleType))
          .as("trend_micro") :+
        ((col("__lvl_num") * nm1 + col("__trd_num")).cast(DoubleType) /
          (nm1 * col("__d2")).cast(DoubleType)).as("forecast_micro")): _*)
  }

  /** EWMA volatility (the RiskMetrics estimator): the truncated
    * rational EWMA applied to SQUARED cent moves — variance_t =
    * Σwⱼ·d²ₜ₋ⱼ / Σwⱼ is one IEEE division of exact decimals, and the
    * published vol is the correctly-rounded √ of that one quotient
    * (division-then-sqrt, the [[MicrostructureOps]] determinism
    * contract). First bar of a key has no move and reports NULL.
    * d² ≤ (2³⁰)² = 2⁶⁰ cents² keeps the weighted sums inside the
    * decimal(38,0) budget for n ≤ 8. One per-key sort exchange.
    */
  def ewmaVolatility(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      nWindow: Int = 6
  ): DataFrame = {
    require(nWindow > 1 && nWindow <= 8,
      s"nWindow=$nWindow outside (1, 8]: the decimal(38,0) budget at squared cents")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    val d = col("__c") - col(lagName("__c", 1))
    val closes = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cents.as("__c")): _*)
    val staged = withLags(closes, "__c", 2, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ d.as("__d") :+
        (d * d).as("__d2")): _*)
    val (num, den) = emaNumDen(lagged("__d2", nWindow))
    // Stage the sums once: inlining num/den into both outputs would
    // re-run the n-term decimal convolution twice per row (the
    // when(isNotNull) term guards block codegen subexpression
    // elimination — see macd/holtBrown).
    val sums = withLags(staged, "__d2", nWindow, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ col("__d") :+
        num.as("__num") :+ den.as("__den")): _*)
    val varC = col("__num").cast(DoubleType) / col("__den").cast(DoubleType)
    sums.select(
      (keys.map(col) :+ col(bucketCol) :+ col("__d").as("move_cents") :+
        when(col("__d").isNotNull, varC).as("ewma_var_cents2") :+
        when(col("__d").isNotNull, sqrt(varC)).as("ewma_vol_cents")): _*)
  }

  /** Per-key maximum drawdown: the largest peak-to-trough drop of the
    * close series, in exact cents. The running peak is a window max in
    * cents; per-row drawdown = peak − close is an exact long; the
    * per-key summary takes max(drawdown) plus the ratio at that row.
    * `max_dd_frac` is the max over rows of ONE IEEE division of two
    * exact longs — max of doubles is order-insensitive, so the value
    * is bit-reproducible across partitionings and engines.
    *
    * Two key-partitioned exchanges collapse to one: the window and the
    * final groupBy share the key hash partitioning, so Catalyst reuses
    * the exchange — one shuffle, frame state O(1) per key.
    */
  def drawdown(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cents = round(col(closeCol) * 100).cast(LongType)
    spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ cents.as("__cents") :+ max(cents).over(w).as("__peak")): _*)
      .withColumn("__dd", col("__peak") - col("__cents"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("__peak")).as("peak_cents"),
        max(col("__dd")).as("max_dd_cents"),
        max(when(col("__peak") > 0,
          col("__dd").cast(DoubleType) / col("__peak").cast(DoubleType)))
          .as("max_dd_frac"))
  }

  /** Per-key close-to-close move statistics: count, exact-ratio mean
    * move, and population variance of the cent moves — the realized-
    * volatility summary in the same exact-integer discipline as
    * [[bollinger]] (variance numerator n·Σd² − (Σd)² and denominator
    * n² never divide early; sums accumulate in decimal(38,0) and are
    * published as BIGINT so both engines cast int64→double correctly
    * rounded). Σd² bounds the checked range: |move| ≤ ~3e4 cents for
    * ~1e9 moves per key stays inside int64.
    *
    * One window exchange per key reused by the final groupBy.
    */
  def moveStats(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    val d = cents - lag(cents, 1).over(wOrd)
    val withD = spreadByKeys(rollup, keys).select((keys.map(col) :+ d.as("__d")): _*)
      .filter(col("__d").isNotNull)
    val n = count(lit(1))
    val sd = sum(col("__d").cast(dec))
    val sdd = sum((col("__d") * col("__d")).cast(dec))
    withD.groupBy(keys.map(col): _*)
      .agg(
        n.as("n_moves"),
        sd.cast(LongType).as("sum_move_cents"),
        sdd.cast(LongType).as("sum_move_sq"),
        (sd.cast(LongType).cast(DoubleType) / n.cast(DoubleType)).as("mean_move"),
        when(n > 1,
          (n * sdd.cast(LongType) - sd.cast(LongType) * sd.cast(LongType))
            .cast(DoubleType) / (n * n).cast(DoubleType))
          .as("var_move"),
        max(col("__d")).as("max_up_cents"),
        min(col("__d")).as("max_down_cents"))
  }

  /** Per-key beta and correlation of close-to-close moves against one
    * benchmark key's move series — "how does each symbol co-move with
    * the market". The benchmark series is tiny (one key's buckets), so
    * it BROADCASTS into the bucket-equality join: no shuffle of the
    * full rollup beyond the one key-window exchange.
    *
    * All five co-moment sums are exact cents products in decimal,
    * published as BIGINT; beta = (nΣxy − ΣxΣy)/(nΣy² − (Σy)²) is one
    * IEEE division of exact operands, and corr divides by the
    * correctly-rounded sqrt of a product of two exactly-cast doubles —
    * every step deterministic given identical operands, so both
    * engines agree bitwise.
    */
  def betaVsBenchmark(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      benchmark: Column
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    val d = cents - lag(cents, 1).over(wOrd)
    val moves = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ d.as("__dx")): _*)
      .filter(col("__dx").isNotNull)
    val bench = moves.filter(benchmark)
      .select(col(bucketCol), col("__dx").as("__dy"))
    val j = moves.filter(!benchmark)
      .join(broadcast(bench), Seq(bucketCol))
    val n = count(lit(1))
    val sx = sum(col("__dx").cast(dec)).cast(LongType)
    val sy = sum(col("__dy").cast(dec)).cast(LongType)
    val sxy = sum((col("__dx") * col("__dy")).cast(dec)).cast(LongType)
    val sxx = sum((col("__dx") * col("__dx")).cast(dec)).cast(LongType)
    val syy = sum((col("__dy") * col("__dy")).cast(dec)).cast(LongType)
    val covNum = (n * sxy - sx * sy).cast(DoubleType)
    val varXNum = (n * sxx - sx * sx).cast(DoubleType)
    val varYNum = (n * syy - sy * sy).cast(DoubleType)
    j.groupBy(keys.map(col): _*)
      .agg(
        n.as("n_aligned"),
        sx.as("sum_dx"), sy.as("sum_dy"), sxy.as("sum_dxdy"),
        sxx.as("sum_dx2"), syy.as("sum_dy2"),
        when(varYNum > 0, covNum / varYNum).as("beta"),
        when(varXNum > 0 && varYNum > 0,
          covNum / sqrt(varXNum * varYNum)).as("corr"))
  }

  /** Candlestick pattern flags per bucket, in pure integer-cents
    * comparisons (no floats at all): doji (body ≤ 10% of range),
    * hammer (long lower shadow, small upper), bullish/bearish
    * engulfing (current body swallows the previous opposite-color
    * body — the only lag the operator needs). Row-local except one
    * key-ordered lag window; emits only flagged rows so the output is
    * the pattern stream, not the full series.
    */
  def candlePatterns(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String
  ): DataFrame = {
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val (o, h, l, c) =
      (col("open_cents"), col("high_cents"), col("low_cents"), col("close_cents"))
    val body = abs(c - o)
    val range = h - l
    val lowerShadow = least(o, c) - l
    val upperShadow = h - greatest(o, c)
    val po = col(lagName("open_cents", 1))
    val pc = col(lagName("close_cents", 1))
    val doji = body * 10 <= range && range > 0
    val hammer = lowerShadow >= body * 2 && upperShadow <= body && body > 0
    val bullEngulf = pc.isNotNull && pc < po && c > o && c >= po && o <= pc
    val bearEngulf = pc.isNotNull && pc > po && c < o && c <= po && o >= pc
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ cts("open").as("open_cents") :+
        cts("high").as("high_cents") :+ cts("low").as("low_cents") :+
        cts("close").as("close_cents")): _*)
    withLags(withLags(staged, "open_cents", 2, wOrd), "close_cents", 2, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+ o :+ h :+ l :+ c :+
        doji.as("doji") :+ hammer.as("hammer") :+
        bullEngulf.as("bullish_engulfing") :+
        bearEngulf.as("bearish_engulfing")): _*)
      .filter(col("doji") || col("hammer") ||
        col("bullish_engulfing") || col("bearish_engulfing"))
  }

  /** Per-key OLS trend slope: close cents regressed on the hour index
    * since `originTs` — the momentum/drift indicator behind "is this
    * series trending and how fast", with the closed-form least-squares
    * line computed from EXACT integer moment sums (n, Σx, Σy, Σxy,
    * Σx²) accumulated in decimal(38,0). slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) and intercept = (ΣyΣx² − ΣxΣxy) / same-den divide
    * ONCE as IEEE doubles; the numerators/denominator also cross as
    * digit strings so the rational is auditable at any magnitude
    * (int128-scale moments would round in a double but never in the
    * string).
    *
    * Scale shape: one map-side-combinable aggregate per key over the
    * rollup — five moment columns, output rows = #keys. The fixed
    * `originTs` keeps x single-pass (no per-key min subtraction) and
    * engine-reproducible.
    */
  def trendSlope(
      candles: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      closeCol: String,
      originTs: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    // originTs is spliced into a SQL literal — reject anything that is
    // not a plain 'yyyy-mm-dd hh:mm:ss[.f]' timestamp up front (throws
    // IllegalArgumentException), closing the injection/typo hole before
    // expr() sees it. Interpretation still happens via TIMESTAMP '...'
    // in the UTC-pinned session, NOT via the JVM-default-zone
    // Timestamp.valueOf result, which is used only as a format check.
    java.sql.Timestamp.valueOf(originTs.trim): Unit
    // FLOOR division (pmod keeps the remainder non-negative), not
    // `div`'s truncation toward zero: buckets EARLIER than originTs
    // get the hour index ⌊diff/3600s⌋ exactly as DuckDB's `//` does,
    // so the bit-equality contract holds on both sides of the origin.
    val diffUs = s"(unix_micros($tsCol) - unix_micros(TIMESTAMP '${originTs.trim}'))"
    val x = expr(s"($diffUs - pmod($diffUs, 3600000000)) div 3600000000")
    val y = round(col(closeCol) * 100).cast(LongType)
    val keys = keyCols.map(col)
    val m = candles
      .select((keys :+ x.as("__x") :+ y.as("__y")): _*)
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x").cast(dec) * col("__y").cast(dec))).as("__sxy"),
        sum((col("__x").cast(dec) * col("__x").cast(dec))).as("__sxx"))
    val n = col("n_obs").cast(dec)
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val inum = col("__sy") * col("__sxx") - col("__sx") * col("__sxy")
    val den = n * col("__sxx") - col("__sx") * col("__sx")
    m.select(
      (keys :+ col("n_obs") :+
        num.cast("string").as("slope_num") :+
        inum.cast("string").as("intercept_num") :+
        den.cast("string").as("den") :+
        when(den === lit(0).cast(dec), lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
          .as("slope_cents_per_hour") :+
        when(den === lit(0).cast(dec), lit(null).cast(DoubleType))
          .otherwise(inum.cast(DoubleType) / den.cast(DoubleType))
          .as("intercept_cents")): _*)
  }

  /** Heikin-Ashi candles with a truncated exact open. ha_close =
    * (o+h+l+c)/4 is ONE IEEE division of a cents-integer sum. The
    * classical recursive ha_open = (ha_open' + ha_close')/2 unrolls
    * to an EWMA(1/2) of past ha_closes whose dyadic denominator grows
    * without bound, so (like [[ema]]) the engine ships the truncated,
    * renormalized form over the trailing `nWindow` lags: integer
    * weights 2^(n-j) on lag j make numerator and denominator exact
    * longs and ha_open ONE division — bit-reproducible anywhere. A
    * bar with no history seeds at the raw (o+c)/2. ha_high/ha_low are
    * exact max/min over raw extremes and the two computed doubles.
    *
    * One window per key, same single-exchange shape as the indicator
    * family; the n lags are staged once as named columns and the
    * weighted sums run in the Project above the Window.
    */
  def heikinAshi(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      nWindow: Int = 12
  ): DataFrame = {
    // num ≤ (2^nWindow − 1) · |hc4|: at 24 lags the truncated-EWMA tail
    // weight is < 2^-24 ≈ 6e-8 of the open (far beyond any price tick),
    // and cent sums to ~5.5e11 (a $5.5B OHLC sum) stay long-exact. The
    // runtime guard below raises — not silently overflows — on the bars
    // that would break even that bound.
    require(nWindow >= 1 && nWindow <= 24,
      s"nWindow=$nWindow outside [1, 24]: 2^n weights must stay long-exact"
        + " against cent sums")
    val hc4Bound = Long.MaxValue >> nWindow
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val oc = round(col("open") * 100).cast(LongType)
    val cc = round(col("close") * 100).cast(LongType)
    val hc4Raw = (round(col("open") * 100) + round(col("high") * 100) +
      round(col("low") * 100) + round(col("close") * 100)).cast(LongType)
    val hc4 = when(abs(hc4Raw) <= hc4Bound, hc4Raw)
      .otherwise(raise_error(concat(
        lit("heikinAshi: |o+h+l+c| cents "), hc4Raw.cast("string"),
        lit(s" exceeds the long-exact bound $hc4Bound at nWindow=$nWindow;"
          + " lower nWindow or rescale prices"))))
    val terms = (1 to nWindow).map { j =>
      val xj = col(lagName("__hc4", j))
      val wj = lit(1L << (nWindow - j))
      (when(xj.isNotNull, xj * wj).otherwise(lit(0L)),
        when(xj.isNotNull, wj).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val wsum = terms.map(_._2).reduce(_ + _)
    val haClose = col("__hc4").cast(DoubleType) / lit(400.0)
    val haOpen = when(wsum === 0, (col("__oc") + col("__cc")).cast(DoubleType) / lit(200.0))
      .otherwise(num.cast(DoubleType) / (wsum * lit(400L)).cast(DoubleType))
    val staged = spreadByKeys(rollup, keys).select(
      (keys.map(col) :+ col(bucketCol) :+ oc.as("__oc") :+ cc.as("__cc") :+
        hc4.as("__hc4") :+ col("high") :+ col("low")): _*)
    withLags(staged, "__hc4", nWindow + 1, wOrd).select(
      (keys.map(col) :+ col(bucketCol) :+
        haOpen.as("ha_open") :+ haClose.as("ha_close") :+
        col("high") :+ col("low")): _*)
      .select(
        (keys.map(col) :+ col(bucketCol) :+ col("ha_open") :+ col("ha_close") :+
          greatest(col("high"), col("ha_open"), col("ha_close")).as("ha_high") :+
          least(col("low"), col("ha_open"), col("ha_close")).as("ha_low")): _*)
  }

  /** Ichimoku cloud over a rolled-up candle frame: conversion/base
    * lines are midpoints of rolling high/low channels, the two cloud
    * spans are displaced FORWARD (the value plotted at bar t was
    * computed `displacement` bars earlier → lag), and the lagging span
    * is the close displaced BACKWARD (→ lead). All lines are exact:
    * channel extremes are integer cents, midpoints are (hh+ll)/2, and
    * each published double is ONE IEEE division of an exact integer —
    * bit-reproducible anywhere, same discipline as the rest of the
    * indicator family.
    *
    * Same single-exchange shape as [[donchian]]: every window shares
    * one (keys, bucket) sort, and the displacement lags/leads stack on
    * it without a second exchange.
    */
  def ichimoku(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      pTenkan: Int = 9,
      pKijun: Int = 26,
      pSenkouB: Int = 52,
      displacement: Int = 26
  ): DataFrame = {
    require(pTenkan >= 1 && pKijun >= pTenkan && pSenkouB >= pKijun,
      s"periods must satisfy 1 <= tenkan($pTenkan) <= kijun($pKijun) <= senkouB($pSenkouB)")
    require(displacement >= 1, s"displacement=$displacement must be positive")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    def frame(n: Int) = wOrd.rowsBetween(-(n - 1), Window.currentRow)
    val hc = round(col("high") * 100).cast(LongType)
    val lc = round(col("low") * 100).cast(LongType)
    // channel midpoints in DOUBLED cents (hh+ll) — kept integer until
    // the final single division per published line
    val tenkan2 = max(hc).over(frame(pTenkan)) + min(lc).over(frame(pTenkan))
    val kijun2 = max(hc).over(frame(pKijun)) + min(lc).over(frame(pKijun))
    val senkouB2 = max(hc).over(frame(pSenkouB)) + min(lc).over(frame(pSenkouB))
    spreadByKeys(rollup, keys)
      .select((keys.map(col) :+ col(bucketCol) :+ col("close") :+
        tenkan2.as("__t2") :+ kijun2.as("__k2") :+ senkouB2.as("__b2")): _*)
      .select((keys.map(col) :+ col(bucketCol) :+
        (col("__t2").cast(DoubleType) / lit(200.0)).as("tenkan") :+
        (col("__k2").cast(DoubleType) / lit(200.0)).as("kijun") :+
        (lag(col("__t2") + col("__k2"), displacement).over(wOrd).cast(DoubleType) /
          lit(400.0)).as("senkou_a") :+
        (lag(col("__b2"), displacement).over(wOrd).cast(DoubleType) / lit(200.0))
          .as("senkou_b") :+
        lead(col("close"), displacement).over(wOrd).as("chikou")): _*)
  }

  /** Theil–Sen robust trend per key: the (lower) median of all
    * pairwise slopes (y_j − y_i)/(x_j − x_i) — the outlier-immune
    * complement to [[trendSlope]]'s OLS (one wild bar moves OLS, not
    * the slope median). Each slope is ONE IEEE division of exact
    * integers (cents over day counts), so slope values — and therefore
    * their order and the median — are engine-identical; the median is
    * the type-1 order statistic at rank ⌈m/2⌉, deterministic under
    * ties because equal values occupy the boundary either way.
    *
    * Cost is the estimator's own O(n²) pairs per key — right for
    * bounded windows (a month of dailies = 276 pairs); at unbounded n
    * sample pairs upstream, the standard practice.
    */
  def theilSen(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String
  ): DataFrame = {
    val keyCols = keys.map(col)
    // day index via datediff, NOT unix_micros/86400e9: that division
    // runs in doubles whose ulp at 1e18 micros is ~256, and a rounded
    // quotient can cross a day boundary
    val pts = rollup.select((keyCols :+
      datediff(col(bucketCol).cast("date"), to_date(lit("1970-01-01")))
        .cast(LongType).as("__x") :+
      round(col(closeCol) * 100).cast(LongType).as("__y")): _*)
    val a = pts.select((keyCols :+ col("__x").as("__x1") :+ col("__y").as("__y1")): _*)
    val b = pts.select((keyCols :+ col("__x").as("__x2") :+ col("__y").as("__y2")): _*)
    // Spread the JOIN OUTPUT, not `pts`: the pair join is broadcast
    // (one side ships whole), so a pre-join repartition would add an
    // exchange on the broadcast side for nothing; pinned here it
    // REPLACES the median window's own exchange (same count) and runs
    // the O(n²)-slope rank stage cores-wide.
    val slopes = spreadByKeys(
      a.join(b, keys).filter(col("__x1") < col("__x2"))
        .select((keyCols :+
          ((col("__y2") - col("__y1")).cast(DoubleType) /
            (col("__x2") - col("__x1")).cast(DoubleType)).as("__s")): _*),
      keys)
    val w = Window.partitionBy(keyCols: _*).orderBy(col("__s"))
    val wAll = Window.partitionBy(keyCols: _*)
    slopes
      .withColumn("__r", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(wAll))
      .filter(col("__r") * 2 === col("__m") || col("__r") * 2 === col("__m") + 1)
      .groupBy(keyCols: _*)
      .agg(max(col("__m")).as("n_pairs"),
        min(col("__s")).as("theil_sen_slope"))
  }

  /** Mann–Kendall trend test per key: S = Σ sgn(y_j − y_i) over all
    * ordered pairs — EXACT integer concordance — with the tie-corrected
    * variance 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) also exact, and
    * the continuity-corrected z = (S ∓ 1)/√Var the only float work
    * (one division under one correctly-rounded sqrt). The
    * non-parametric "is there a monotonic trend at all" gate usually
    * read before [[theilSen]]'s slope; same bounded-window O(n²) pair
    * frame, same upstream-sampling advice past that.
    */
  def mannKendall(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String
  ): DataFrame = {
    val keyCols = keys.map(col)
    val pts = spreadByKeys(rollup, keys).select((keyCols :+
      datediff(col(bucketCol).cast("date"), to_date(lit("1970-01-01")))
        .cast(LongType).as("__x") :+
      round(col(closeCol) * 100).cast(LongType).as("__y")): _*)
    val a = pts.select((keyCols :+ col("__x").as("__x1") :+ col("__y").as("__y1")): _*)
    val b = pts.select((keyCols :+ col("__x").as("__x2") :+ col("__y").as("__y2")): _*)
    val sPerKey = a.join(b, keys).filter(col("__x1") < col("__x2"))
      .groupBy(keyCols: _*)
      .agg(sum(signum(col("__y2") - col("__y1")).cast(LongType)).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val ties = pts.groupBy((keyCols :+ col("__y")): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(keyCols: _*)
      .agg(sum(col("__t")).as("__n"),
        sum(col("__t") * (col("__t") - 1) * (col("__t") * 2 + 5)).as("__tieterm"))
    val n = col("__n")
    val var18 = n * (n - 1) * (n * 2 + 5) - col("__tieterm")
    // continuity correction toward zero; S = 0 → z = 0 by convention
    val zNum = when(col("s_stat") > 0, col("s_stat") - 1)
      .when(col("s_stat") < 0, col("s_stat") + 1)
      .otherwise(lit(0L))
    sPerKey.join(ties, keys)
      .filter(var18 > 0)
      .select((keyCols :+ col("__n").as("n_obs") :+ col("s_stat") :+
        var18.as("var18") :+
        (zNum.cast(DoubleType) /
          sqrt(var18.cast(DoubleType) / lit(18.0))).as("z")): _*)
  }

  /** Wald–Wolfowitz runs test on the daily move signs per key: are
    * up/down days independent, or do they streak/alternate beyond
    * chance? Counts are exact integers (flat days dropped, the
    * classical treatment); the expected run count and variance are
    * each ONE division of exact integer cross-products, and the z
    * score divides their difference by a correctly-rounded sqrt —
    * every float op deterministic given the same integers, mirrored
    * operation-for-operation in the oracle.
    */
  def runsTest(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String
  ): DataFrame = {
    val keyCols = keys.map(col)
    val w = Window.partitionBy(keyCols: _*).orderBy(col(bucketCol))
    val cents = round(col(closeCol) * 100).cast(LongType)
    val (c, pc) = (col("__c"), col(lagName("__c", 1)))
    val sgn = when(c > pc, 1).when(c < pc, -1).otherwise(0)
    val wSgnOrd = Window.partitionBy(keyCols: _*).orderBy(col(bucketCol))
    val closes = spreadByKeys(rollup, keys)
      .select((keyCols :+ col(bucketCol) :+ cents.as("__c")): _*)
    val moves = withLags(closes, "__c", 2, w)
      .select((keyCols :+ col(bucketCol) :+ sgn.as("__sgn")): _*)
      .filter(col("__sgn") =!= 0)
      .withColumn("__prev", lag(col("__sgn"), 1).over(wSgnOrd))
      .withColumn("__newrun",
        when(col("__prev").isNull || col("__prev") =!= col("__sgn"), 1L).otherwise(0L))
    val agg = moves.groupBy(keyCols: _*).agg(
      sum(when(col("__sgn") === 1, 1L).otherwise(0L)).as("n_plus"),
      sum(when(col("__sgn") === -1, 1L).otherwise(0L)).as("n_minus"),
      sum(col("__newrun")).as("n_runs"))
    val n = col("n_plus") + col("n_minus")
    val two = col("n_plus") * col("n_minus") * 2
    // E = 1 + 2ab/n ; Var = 2ab(2ab − n) / (n²(n−1)); both ONE division
    val e = lit(1.0) + two.cast(DoubleType) / n.cast(DoubleType)
    val v = (two * (two - n)).cast(DoubleType) / (n * n * (n - 1)).cast(DoubleType)
    agg.filter(n >= 2 && col("n_plus") > 0 && col("n_minus") > 0)
      .select((keyCols :+ col("n_plus") :+ col("n_minus") :+ col("n_runs") :+
        e.as("expected_runs") :+
        (when(v > 0, (col("n_runs").cast(DoubleType) - e) / sqrt(v))
          .otherwise(lit(null).cast(DoubleType))).as("z")): _*)
  }

  /** SAX words (symbolic aggregate approximation) over each key's most
    * recent `nDays` closes: the series is cut into `nDays/segLen`
    * equal segments, each segment's mean is digitized against the
    * window's own exact quartiles into {a,b,c,d}, and the symbols
    * concatenate into one word per key — the shape index behind
    * motif/regime matching ("which series currently look like
    * low-low-rise-high?") that joins on a STRING instead of a DTW
    * scan.
    *
    * Classic SAX z-normalizes and cuts at Gaussian breakpoints; both
    * steps would put transcendental constants and a sqrt-division in
    * the hot path. Digitizing against the window's own empirical
    * quartiles keeps the contract (distribution-adaptive breakpoints,
    * equal-occupancy symbols) in EXACT integer arithmetic: segment
    * mean vs quartile compares as `segLen·q ≤ sum`, quartiles are
    * type-1 order statistics (values AT sorted positions — integers),
    * so the word is bit-reproducible on any engine.
    *
    * One exchange: both windows (recency rank, sort rank) and both
    * aggregates partition by the key. Keys with fewer than `nDays`
    * observed days are omitted (a partial window would skew the
    * quartiles silently).
    */
  def saxWords(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      nDays: Int = 32,
      segLen: Int = 4
  ): DataFrame = {
    require(segLen >= 1 && nDays % segLen == 0 && nDays / segLen >= 2,
      s"nDays=$nDays must be a multiple of segLen=$segLen with >= 2 segments")
    require(nDays % 4 == 0, s"nDays=$nDays must be divisible by 4 for exact quartile ranks")
    val keyCols = keys.map(col)
    val cents = round(col(closeCol) * 100).cast(LongType)
    val wDesc = Window.partitionBy(keyCols: _*).orderBy(col(bucketCol).desc)
    val recent = spreadByKeys(rollup, keys)
      .select((keyCols :+ col(bucketCol) :+ cents.as("__c")): _*)
      .withColumn("__rn", row_number().over(wDesc))
      .filter(col("__rn") <= nDays)
      .withColumn("__nk", count(lit(1)).over(Window.partitionBy(keyCols: _*)))
      .filter(col("__nk") === nDays)
      .withColumn("__seg", expr(s"($nDays - __rn) div $segLen"))
      .withColumn("__qr",
        row_number().over(Window.partitionBy(keyCols: _*).orderBy(col("__c"), col("__rn"))))
    val (p1, p2, p3) = (nDays / 4, nDays / 2, 3 * nDays / 4)
    val quarts = recent.groupBy(keyCols: _*).agg(
      max(when(col("__qr") === p1, col("__c"))).as("__q1"),
      max(when(col("__qr") === p2, col("__c"))).as("__q2"),
      max(when(col("__qr") === p3, col("__c"))).as("__q3"))
    val segs = recent.groupBy((keyCols :+ col("__seg")): _*)
      .agg(sum(col("__c")).as("__s"))
    val sym = when(col("__s") < col("__q1") * segLen, "a")
      .when(col("__s") < col("__q2") * segLen, "b")
      .when(col("__s") < col("__q3") * segLen, "c")
      .otherwise("d")
    segs.join(quarts, keys)
      .select((keyCols :+ col("__seg") :+ sym.as("__sym")): _*)
      .groupBy(keyCols: _*)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__seg"), col("__sym")))),
          x => x.getField("__sym")), "").as("sax_word"))
  }

  /** Per-key lag-`k` autocorrelation of close cents — the mean-
    * reversion / momentum diagnostic (is the next bar correlated with
    * this one?). Pearson r over (y_{t-k}, y_t) pairs from exact
    * integer moment sums in decimal(38,0):
    * r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²) · √(nΣy²−(Σy)²)).
    * IEEE sqrt is correctly rounded, so both the numerator (also
    * crossing as a digit string) and the published r are bit-
    * reproducible from the same integers on any engine.
    *
    * One window per key for the lag (same single-exchange discipline
    * as the indicator family), then one combinable aggregate.
    */
  def autocorrelation(
      rollup: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      closeCol: String,
      k: Int = 1
  ): DataFrame = {
    require(k >= 1, s"lag k=$k must be positive")
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(col(bucketCol))
    val y = round(col(closeCol) * 100).cast(LongType)
    val keyCols = keys.map(col)
    val pairs = spreadByKeys(rollup, keys)
      .select((keyCols :+ col(bucketCol) :+ y.as("__y")): _*)
      .withColumn("__x", lag(col("__y"), k).over(wOrd))
      .filter(col("__x").isNotNull)
    val m = pairs.groupBy(keyCols: _*).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum(col("__x").cast(dec) * col("__y").cast(dec)).as("__sxy"),
      sum(col("__x").cast(dec) * col("__x").cast(dec)).as("__sxx"),
      sum(col("__y").cast(dec) * col("__y").cast(dec)).as("__syy"))
    val n = col("n_pairs").cast(dec)
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val dx = n * col("__sxx") - col("__sx") * col("__sx")
    val dy = n * col("__syy") - col("__sy") * col("__sy")
    m.select(
      (keyCols :+ col("n_pairs") :+
        num.cast("string").as("r_num") :+
        when(dx === lit(0).cast(dec) || dy === lit(0).cast(dec),
          lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType) /
            (sqrt(dx.cast(DoubleType)) * sqrt(dy.cast(DoubleType))))
          .as("autocorr")): _*)
  }
}
