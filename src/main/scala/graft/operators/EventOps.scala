package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Event-sequence analytics over the keyed event stream — the
  * windowFunnel / retention / sequenceMatch family that ClickHouse
  * ships as first-class aggregate combinators and that any
  * event-backed analytics service (the reference stores its trade
  * stream the same way, app/clickhouse_schema.py:131) grows into.
  * Spark-first formulations:
  *
  *  - [[funnelSteps]]: per-user step chain as chained conditional
  *    window minima — ONE exchange on the user key, no ordering sort
  *    (all frames are whole-partition), no self-joins.
  *  - [[retentionCohorts]]: first-touch cohort date x activity-day
  *    offset matrix from two map-side-combinable aggregates.
  *  - [[sequenceMatch]]: per-user ordered event-code string matched
  *    against a regex — `collect_list` + `array_sort` keeps the
  *    result independent of task scheduling.
  *  - [[sigmaOutliers]]: k-sigma outlier flags decided in EXACT
  *    integer arithmetic (|x-mu| > k*sigma squared into cents-scaled
  *    integers) — no sqrt, no float tie, reproducible across engines
  *    and partitionings.
  */
object EventOps {

  /** [[graft.api.Par.spread]] on the window's partition key — the same
    * pin as CandleOps/MicrostructureOps.spreadByKeys (see
    * graft.api.Par): replaces the per-key window exchange with one AQE
    * will not coalesce, so the window stage runs at the session's
    * configured width instead of the 1 task byte-sized coalescing left
    * it (round-15 profile: q_rolling_outliers' window stage 0.58 s in
    * ONE task at sf0.1 on 32 cores). Window exchanges have no partial
    * aggregation to lose and get no AQE skew-split, so the pin costs
    * nothing at any scale. Post-aggregate call sites spread the
    * AGGREGATED frame, preserving the upstream map-side combine.
    */
  private def spreadBy(df: DataFrame, keys: String*): DataFrame =
    graft.api.Par.spreadKeyed(df, keys)


  /** Conversion funnel anchored at each user's EARLIEST step-1 event:
    * step i (i>1) completes at the first step-i event strictly after
    * step i-1 and within `windowUs` microseconds of the anchor.
    * Returns one row per step: (step, step_name, n_users) where
    * n_users counts users whose chain reached at least that step.
    *
    * Plan shape: every conditional min runs over the same
    * whole-partition window (no ORDER BY -> no sort), so Catalyst
    * plans ONE Exchange on the user key followed by Window + final
    * aggregate — the event table is shuffled exactly once and rows
    * never self-join. At 100 TB the shuffle carries (user, ts, type)
    * triples only; project before calling if the stream is wide.
    */
  /** Shared chain builder: per-row columns __t1..__tK with the
    * conditional window minima of the greedy earliest chain. One
    * whole-partition window on the user key, no sort.
    */
  private def stepTimes(
      events: DataFrame,
      keys: Seq[String],
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowUs: Long
  ): DataFrame = {
    require(keys.nonEmpty, "funnel needs at least one key column")
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowUs > 0, s"windowUs=$windowUs must be positive")
    val w = Window.partitionBy(keys.map(col): _*)
    val us = unix_micros(col(tsCol))
    var df = events.select((keys :+ typeCol :+ tsCol).map(col): _*)
      .withColumn("__t1", min(when(col(typeCol) === steps.head, us)).over(w))
    for (i <- 2 to steps.size) df = df.withColumn(
      s"__t$i",
      min(when(
        col(typeCol) === steps(i - 1) &&
          us > col(s"__t${i - 1}") &&
          us <= col("__t1") + windowUs,
        us)).over(w))
    df
  }

  /** ClickHouse `windowFunnel` mode variants, in the same chained
    * window-minima shape (one exchange on the keys, no sequence
    * materialization). Base semantics everywhere: step i fires at the
    * earliest step-i event strictly after t_{i-1} and inside the
    * window anchored at t_1 (strict increase built in). Modes add a
    * guard per link:
    *  - `"strict_dedup"` — the link breaks if the PREVIOUS step's
    *    event repeats before step i fires (t_i must precede the next
    *    step_{i-1} occurrence);
    *  - `"strict_order"` — the link breaks if ANY funnel-step event
    *    interleaves (t_i must be the first funnel event after
    *    t_{i-1});
    *  - `"default"` — no guard.
    * A broken link nulls t_i and the chain stops, exactly as an
    * unmatched step would.
    */
  def funnelLevelsByKeyModal(
      events: DataFrame,
      keys: Seq[String],
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowUs: Long,
      mode: String
  ): DataFrame = {
    require(Set("default", "strict_dedup", "strict_order")(mode),
      s"mode=$mode not in {default, strict_dedup, strict_order}")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(keys.nonEmpty && steps.nonEmpty && windowUs > 0, "bad funnel args")
    val w = Window.partitionBy(keys.map(col): _*)
    val us = unix_micros(col(tsCol))
    val isStep = col(typeCol).isin(steps: _*)
    var df = events.select((keys :+ typeCol :+ tsCol).map(col): _*)
      .withColumn("__t1", min(when(col(typeCol) === steps.head, us)).over(w))
    for (i <- 2 to steps.size) {
      val prev = col(s"__t${i - 1}")
      val raw = min(when(
        col(typeCol) === steps(i - 1) && us > prev &&
          us <= col("__t1") + windowUs, us)).over(w)
      // the guard reads the raw link twice: both window values are
      // staged as columns so each is evaluated once
      val (r, g) = (col(s"__raw$i"), col(s"__guard$i"))
      df = mode match {
        case "strict_dedup" =>
          val dup = min(when(col(typeCol) === steps(i - 2) && us > prev, us)).over(w)
          df.select(col("*"), raw.as(s"__raw$i"), dup.as(s"__guard$i"))
            .withColumn(s"__t$i", when(g.isNull || r < g, r))
        case "strict_order" =>
          val nextAny = min(when(isStep && us > prev, us)).over(w)
          df.select(col("*"), raw.as(s"__raw$i"), nextAny.as(s"__guard$i"))
            .withColumn(s"__t$i", when(r === g, r))
        case _ => df.withColumn(s"__t$i", raw)
      }
    }
    val level = (1 to steps.size).foldLeft(lit(0)) { (acc, i) =>
      when(col(s"__t$i").isNotNull, lit(i)).otherwise(acc)
    }
    df.groupBy(keys.map(col): _*).agg(max(level).as("level"))
  }

  /** Per-user funnel level (0..steps.size) — the reusable core of
    * [[funnelSteps]], exposed for segmented readouts (e.g. conversion
    * per A/B arm). One exchange on the user key.
    */
  def funnelUserLevels(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowUs: Long
  ): DataFrame =
    funnelLevelsByKey(events, Seq(userCol), typeCol, tsCol, steps, windowUs)

  /** Composite-key form: the funnel entity is (e.g.) a session, not a
    * user. Keeping the keys as separate columns (instead of a
    * concatenated string) lets Catalyst reuse an upstream exchange on
    * a PREFIX of the keys — hash-partitioning on `user` co-locates
    * every `(user, session)` group, so a sessionize-then-funnel chain
    * shuffles the events once, not twice (plan-asserted in
    * EventOpsSpec).
    */
  def funnelLevelsByKey(
      events: DataFrame,
      keys: Seq[String],
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowUs: Long
  ): DataFrame = {
    val df = stepTimes(events, keys, typeCol, tsCol, steps, windowUs)
    // Highest non-null step wins; t_i set implies t_{i-1} set.
    val level = (1 to steps.size).foldLeft(lit(0)) { (acc, i) =>
      when(col(s"__t$i").isNotNull, lit(i)).otherwise(acc)
    }
    df.groupBy(keys.map(col): _*).agg(max(level).as("level"))
  }

  def funnelSteps(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowUs: Long
  ): DataFrame = {
    val users = funnelUserLevels(
      events, userCol, typeCol, tsCol, steps, windowUs)
      .withColumnRenamed("level", "__lvl")
    val spark = events.sparkSession
    val stepDim = spark.createDataFrame(
      steps.zipWithIndex.map { case (n, i) => (i + 1, n) }
    ).toDF("step", "step_name")
    users
      .join(broadcast(stepDim), col("__lvl") >= col("step"))
      .groupBy(col("step"), col("step_name"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-touch retention: cohort = each user's first activity date,
    * then for every (cohort_date, day_offset) the count of users from
    * that cohort active `day_offset` days later. Both inputs are
    * map-side-combinable aggregates (min-date per user; distinct
    * (user, day)), so the shuffle carries one row per user-day, never
    * per event — at 100 TB that is users x retention horizon, which is
    * the size of the ANSWER, not the stream.
    */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsCol: String
  ): DataFrame = {
    val firstDay = events
      .groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("cohort_date"))
    val activity = events
      .select(col(userCol), to_date(col(tsCol)).as("__day"))
      .distinct()
    activity
      .join(firstDay, Seq(userCol))
      .groupBy(
        col("cohort_date"),
        datediff(col("__day"), col("cohort_date")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users")) // (user, day) already distinct
  }

  /** ClickHouse sequenceMatch analog: per user, the single-character
    * event codes (first letter of the type) concatenated in (ts, id)
    * order, matched against a Java regex with find-anywhere semantics.
    * Returns (user, n_events, matched).
    *
    * Determinism: `collect_list` order depends on task scheduling, so
    * the struct array is `array_sort`ed on (ts, id, code) before
    * joining — bit-stable across partitionings (asserted in
    * EventOpsSpec). State is one event-code list per user, the same
    * bound ClickHouse's sequence functions carry; pre-filter the
    * stream to the relevant time window and event types to keep
    * per-user state small at scale.
    */
  def sequenceMatch(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      pattern: String
  ): DataFrame =
    events
      .select(
        col(userCol),
        struct(
          col(tsCol).as("t"),
          col(idCol).as("i"),
          substring(col(typeCol), 1, 1).as("c")).as("__ev"))
      .groupBy(col(userCol))
      .agg(array_sort(collect_list(col("__ev"))).as("__evs"))
      .select(
        col(userCol),
        size(col("__evs")).cast("long").as("n_events"),
        array_join(transform(col("__evs"), e => e.getField("c")), "")
          .rlike(pattern).as("matched"))

  /** ClickHouse sequenceCount analog: how many NON-OVERLAPPING times
    * the pattern matches in each user's ordered event-code string —
    * the "how often did the journey repeat" companion of
    * [[sequenceMatch]], on the same sorted-struct determinism. Java
    * regex find() and DuckDB regexp_extract_all share non-overlapping
    * left-to-right semantics, so counts are engine-identical.
    */
  def sequenceCount(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      pattern: String
  ): DataFrame =
    events
      .select(
        col(userCol),
        struct(
          col(tsCol).as("t"),
          col(idCol).as("i"),
          substring(col(typeCol), 1, 1).as("c")).as("__ev"))
      .groupBy(col(userCol))
      .agg(array_sort(collect_list(col("__ev"))).as("__evs"))
      .select(
        col(userCol),
        size(col("__evs")).cast("long").as("n_events"),
        regexp_count(
          array_join(transform(col("__evs"), e => e.getField("c")), ""),
          lit(pattern)).cast("long").as("n_matches"))

  /** Time-to-convert statistics per funnel step: for users whose chain
    * reached step i, the microseconds from anchor to step i's
    * completion — count, min, max, and mean (mean as an exact
    * decimal-of-integer-sum divided once at the end, so engines agree
    * bit-for-bit). Same single-exchange chain as [[funnelSteps]].
    */
  def funnelLatency(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowUs: Long
  ): DataFrame = {
    require(steps.size >= 2, "latency needs at least two steps")
    val df = stepTimes(events, Seq(userCol), typeCol, tsCol, steps, windowUs)
    val users = df.groupBy(col(userCol))
      .agg(max(col("__t1")).as("t1"),
        (2 to steps.size).map(i => max(col(s"__t$i")).as(s"t$i")): _*)
    val spark = events.sparkSession
    val stepDim = spark.createDataFrame(
      (2 to steps.size).map(i => (i, steps(i - 1)))
    ).toDF("step", "step_name")
    val latCol = (2 to steps.size)
      .map(i => when(col("step") === i, col(s"t$i") - col("t1")))
      .reduce(coalesce(_, _))
    val lat = users
      .join(broadcast(stepDim), lit(true))
      .select(col("step"), col("step_name"), latCol.as("lat_us"))
      .where(col("lat_us").isNotNull)
    lat.groupBy(col("step"), col("step_name"))
      .agg(
        count(lit(1)).as("n_users"),
        min(col("lat_us")).as("min_us"),
        max(col("lat_us")).as("max_us"),
        sum(col("lat_us")).as("sum_us"),
        // one IEEE division of two exactly-represented integers —
        // bit-equal across engines while sum_us < 2^53 (microsecond
        // latencies bounded by the window keep that true far past any
        // realistic user count)
        (sum(col("lat_us")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_us"))
  }

  /** Top-k most common length-3 event paths — "what do users do next"
    * (the path-analysis companion to the funnel). One per-key sort
    * window produces the two lookahead types; the trigram counts are a
    * map-side-combinable aggregate whose key space is event-type^3 —
    * tiny at any data scale — and the final top-k is a
    * TakeOrderedAndProject, never a full sort. Ties break on the path
    * string so the cut is deterministic.
    */
  def eventPaths(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    spreadBy(events, userCol)
      .select(
        col(typeCol).as("__t0"),
        lead(col(typeCol), 1).over(w).as("__t1"),
        lead(col(typeCol), 2).over(w).as("__t2"))
      .where(col("__t2").isNotNull)
      .select(concat_ws(">", col("__t0"), col("__t1"), col("__t2")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(k)
  }

  /** Inter-arrival gap distribution per group: each gap (microseconds
    * to the previous event of the same group) lands in its
    * floor(log2) bucket, computed EXACTLY as length(bin(gap))-1 —
    * integer bit length, no floating log to straddle a power-of-two
    * boundary differently across engines. Zero gaps (same timestamp)
    * get bucket -1. One sort window + one tiny aggregate.
    */
  def interArrivalHistogram(
      events: DataFrame,
      groupCol: String,
      tsCol: String,
      idCol: String
  ): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(tsCol), col(idCol))
    val gap = unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w)
    spreadBy(events, groupCol)
      .select(col(groupCol), gap.as("__gap"))
      .where(col("__gap").isNotNull)
      .select(col(groupCol),
        when(col("__gap") <= 0, lit(-1L))
          .otherwise(length(bin(col("__gap"))) - 1).cast("long").as("bucket"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_gaps"))
  }

  /** Weekly user-lifecycle accounting — per week, how many active
    * users are new (first week ever), retained (also active the week
    * before), or resurrected (active before, but not last week), plus
    * how many of this week's actives go silent next week (churning).
    * Two shuffles total: the distinct (user, week) activity set, then
    * one per-user sort window for the lag/lead classification; the
    * final count is map-side-combinable. The shuffle carries one row
    * per user-week — the answer's own size.
    */
  def userLifecycle(
      events: DataFrame,
      userCol: String,
      tsCol: String
  ): DataFrame = {
    val weekly = events
      .select(col(userCol),
        date_trunc("week", col(tsCol)).cast("date").as("week_start"))
      .distinct()
    val w = Window.partitionBy(col(userCol)).orderBy(col("week_start"))
    val (prev, next) = (col("__prev"), col("__next"))
    weekly
      .select(col(userCol), col("week_start"),
        lag(col("week_start"), 1).over(w).as("__prev"),
        lead(col("week_start"), 1).over(w).as("__next"))
      .withColumn("__status",
        when(prev.isNull, "new")
          .when(datediff(col("week_start"), prev) === 7, "retained")
          .otherwise("resurrected"))
      .withColumn("__churning",
        next.isNull || datediff(next, col("week_start")) > 7)
      .groupBy(col("week_start"))
      .agg(
        count(lit(1)).as("n_active"),
        count(when(col("__status") === "new", 1)).as("n_new"),
        count(when(col("__status") === "retained", 1)).as("n_retained"),
        count(when(col("__status") === "resurrected", 1)).as("n_resurrected"),
        count(when(col("__churning"), 1)).as("n_churning"))
  }

  /** Rows where |x - mu| > k*sigma within their group, decided
    * EXACTLY: with cents-scaled integer v, n = group count, sx = sum v,
    * sxx = sum v^2, the condition squares to
    *   (n*v - sx)^2 > k^2 * (n*sxx - sx^2)
    * — pure integer arithmetic (carried as decimal(38,0) so products
    * near 1e36 stay exact), no sqrt, no float comparison to disagree
    * across engines. The stats side is one row per group, so it
    * BROADCASTS back onto the stream: flagging 100 TB of events costs
    * one map-side-combined aggregate plus a broadcast-join projection —
    * the event table is scanned twice but never shuffled.
    *
    * `valueCol` is assumed money-like with <= 2 decimal places (the
    * reference's price columns); `round(v*100)` recovers the exact
    * integer both here and in the DuckDB oracle.
    */
  def sigmaOutliers(
      events: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val cents = round(col(valueCol) * 100).cast(DecimalType(38, 0))
    // a null metric would inflate n but not the sums — drop up front
    val nonNull = events.where(col(valueCol).isNotNull)
    val stats = nonNull
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast(DecimalType(38, 0)).as("__n"),
        sum(cents).as("__sx"),
        sum(cents * cents).as("__sxx"))
    val dev = col("__n") * cents - col("__sx")
    nonNull
      .join(broadcast(stats), Seq(groupCol))
      .where(dev * dev >
        lit(k.toLong * k) * (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
      .drop("__n", "__sx", "__sxx")
  }

  /** Robust (median/MAD) outliers per group: rows with
    * |x - median| > k * MAD, where MAD is the median absolute
    * deviation. Unlike [[sigmaOutliers]] the thresholds don't move
    * when the outliers themselves inflate the variance — the robust
    * detector a monitor wants for heavy-tailed metrics. Both medians
    * use the same linear-interpolation `percentile`, and every
    * comparison evaluates the identical double expression in Spark
    * and the oracle, so the flags reproduce bit-for-bit (the same
    * contract `q_percentiles` established). The two stats frames are
    * one row per group and broadcast back — the event table is
    * scanned, never shuffled.
    */
  def madOutliers(
      events: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Double
  ): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val nonNull = events.where(col(valueCol).isNotNull)
    val med = nonNull.groupBy(col(groupCol))
      .agg(percentile(col(valueCol), lit(0.5)).as("__med"))
    val withDev = nonNull
      .join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val mad = withDev.groupBy(col(groupCol))
      .agg(percentile(col("__dev"), lit(0.5)).as("__mad"))
    withDev
      .join(broadcast(mad), Seq(groupCol))
      .where(col("__dev") > lit(k) * col("__mad"))
      .drop("__med", "__dev", "__mad")
  }

  /** Rolling-window form of [[sigmaOutliers]]: each row is judged
    * against the trailing `windowRows` rows of ITS OWN key (itself
    * included), in the same exact integer arithmetic — the detector a
    * live monitor runs, where "normal" drifts with the stream. The
    * window never materializes per-row state beyond the running sums
    * Catalyst keeps for the frame; the only shuffle is the per-key
    * sort. Short prefixes (fewer than `windowRows` rows yet) still
    * judge against what exists — n is the ACTUAL frame size.
    */
  def rollingSigmaOutliers(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      windowRows: Int,
      k: Int
  ): DataFrame = {
    require(windowRows > 1, s"windowRows=$windowRows must exceed 1")
    require(k > 0, s"k=$k must be positive")
    // LONG window arithmetic, not decimal(38,0): the sliding sums are
    // the hot loop and longs measured 3-4x faster at sf0.1 (0.6 vs
    // 2.3 s warm). Exactness is kept by a guard instead of width: with
    // |cents| <= B every intermediate is bounded by
    // max(4, k^2) * n^2 * B^2 < 2^63 (dev^2 <= 4 n^2 B^2, the RHS by
    // k^2 n^2 B^2), and values past B raise — never silently wrap.
    // At (n=50, k=3) B ~ 2.0e7 cents (~$200k/event); rescale the
    // metric or shrink the window past that.
    val nL = windowRows.toLong
    val coef = math.max(4L, k.toLong * k.toLong)
    val centsBound = math.sqrt(Long.MaxValue.toDouble / (coef * nL * nL)).toLong - 1
    val centsRaw = round(col(valueCol) * 100).cast(LongType)
    val cents = when(abs(centsRaw) <= centsBound, centsRaw)
      .otherwise(raise_error(concat(
        lit("rollingSigmaOutliers: |value| cents "), centsRaw.cast("string"),
        lit(s" exceeds the long-exact bound $centsBound at windowRows=$windowRows,"
          + s" k=$k; rescale the metric or shrink the window"))))
    // idCol breaks ts ties: a ROWS frame over an ambiguous order would
    // flag different rows on different runs
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-(windowRows - 1), Window.currentRow)
    val (c, n, sx, sxx) = (col("__c"), col("__n"), col("__sx"), col("__sxx"))
    val dev = n * c - sx
    spreadBy(events, keyCol)
      .where(col(valueCol).isNotNull) // null metric: n would count, sums skip
      .withColumn("__c", cents)
      .select(col("*"), count(lit(1)).over(w).as("__n"), sum(c).over(w).as("__sx"),
        sum(c * c).over(w).as("__sxx"))
      .where(dev * dev > lit(k.toLong * k) * (n * sxx - sx * sx))
      .drop("__c", "__n", "__sx", "__sxx")
  }

  /** Multi-touch attribution: credit each conversion's value back to
    * the touch events that preceded it, under the three standard
    * models at once — first-touch, last-touch, and linear — per
    * channel (= event type of the touch).
    *
    * Path segmentation: a user's event stream is cut into EPOCHS at
    * each conversion (touch rows carry the count of conversions
    * strictly before them, so epoch i's touches are exactly the rows
    * between conversion i-1 and conversion i); touches attribute to
    * the conversion closing their epoch, and only if they fall within
    * `lookbackUs` of it. All credit is exact: conversion values become
    * cents integers, first/last credit is the full cents value, and
    * the per-touch linear share is integer-divided into micro-cents
    * ((cents * 1e6) div n — positive values, so Spark's truncating
    * `div` and DuckDB's flooring `//` agree).
    *
    * Plan shape: ONE sort-window exchange on the user builds the
    * epochs; conversions and touches are filters of that frame, and
    * everything after — the epoch equi-join, the first/last
    * row-numbers, the epoch-size count — shuffles on (user, epoch),
    * one more exchange. The shuffles carry (user, epoch, channel, us,
    * cents) tuples, never the event payload; at 100 TB project before
    * calling if the stream is wide.
    */
  def attribution(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String,
      convType: String,
      lookbackUs: Long
  ): DataFrame = {
    require(lookbackUs > 0, s"lookbackUs=$lookbackUs must be positive")
    val wOrd = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val base = spreadBy(events, userCol)
      .select(col(userCol), col(typeCol), col(tsCol), col(idCol), col(valueCol))
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__epoch", coalesce(
        sum(when(col(typeCol) === convType, 1L).otherwise(0L))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val convs = base
      .where(col(typeCol) === convType && col(valueCol).isNotNull &&
        col(valueCol) >= 0) // negative cents would split div/floor-div semantics
      .select(col(userCol), col("__epoch"), col("__us").as("__conv_us"),
        round(col(valueCol) * 100).cast("long").as("__cents"))
    val touches = base
      .where(col(typeCol) =!= convType)
      .select(col(userCol), col("__epoch"), col(typeCol).as("channel"),
        col("__us"), col(idCol).as("__id"))
    val wEpoch = Window.partitionBy(col(userCol), col("__epoch"))
    val joined = touches
      .join(convs, Seq(userCol, "__epoch"))
      .where(col("__conv_us") - col("__us") <= lookbackUs)
      .withColumn("__rn_first",
        row_number().over(wEpoch.orderBy(col("__us"), col("__id"))))
      .withColumn("__rn_last",
        row_number().over(wEpoch.orderBy(col("__us").desc, col("__id").desc)))
      .withColumn("__n", count(lit(1)).over(wEpoch))
      .withColumn("__linear_micros", expr("(__cents * 1000000L) div __n"))
    joined
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum(when(col("__rn_first") === 1, 1L).otherwise(0L)).as("n_first"),
        coalesce(sum(when(col("__rn_first") === 1, col("__cents"))), lit(0L))
          .as("first_touch_cents"),
        sum(when(col("__rn_last") === 1, 1L).otherwise(0L)).as("n_last"),
        coalesce(sum(when(col("__rn_last") === 1, col("__cents"))), lit(0L))
          .as("last_touch_cents"),
        sum(col("__linear_micros")).as("linear_micro_cents"))
  }

  /** First-order Markov transition matrix over per-user event
    * journeys: for every observed (from, to) adjacent pair, its count
    * and the transition probability n(from,to) / n(from) — one IEEE
    * division of two exact longs, so probabilities reproduce
    * bit-for-bit. The analytical complement of [[eventPaths]] (which
    * ranks whole trigrams): the matrix is the journey model an
    * analyst actually inspects for loops and sinks.
    *
    * One sort-window exchange on the user builds adjacency; the
    * aggregate shuffles (from, to, partial count) — the size of the
    * answer. Row-count = observed transitions (<= |types|^2).
    */
  def markovTransitions(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String
  ): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val counts = spreadBy(events, userCol)
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    counts.select(col("from_type"), col("to_type"), col("n"),
      sum(col("n")).over(wf).as("n_from"))
      .withColumn("p", col("n").cast(DoubleType) / col("n_from").cast(DoubleType))
  }

  /** Streaming form of [[driftChi2]]: each event-time window's type
    * mix is tested against a DECLARED reference distribution
    * (`expected` relative weights, exact integers) — chi-square
    * goodness-of-fit per (window, type) in the same no-division
    * arithmetic, so the flags are reproducible and the whole monitor
    * is ONE windowed streaming aggregate (append-mode compatible:
    * conditional counts per declared type, no chained aggregation).
    * Rows with types outside `expected` are ignored by construction —
    * declare an explicit catch-all weight if they should count.
    * Works identically on a batch frame (watermark is a no-op there),
    * so backfill and live monitoring share one definition.
    */
  def streamingDriftChi2(
      df: DataFrame,
      typeCol: String,
      tsCol: String,
      windowLen: String,
      watermark: String,
      expected: Seq[(String, Long)],
      threshold100: Long
  ): DataFrame = {
    require(expected.nonEmpty, "need at least one expected type")
    require(expected.forall(_._2 > 0), s"weights must be positive: $expected")
    require(expected.map(_._1).distinct.size == expected.size,
      s"duplicate type in expected mix: ${expected.map(_._1)}")
    require(threshold100 > 0, s"threshold100=$threshold100 must be positive")
    val dec = DecimalType(38, 0)
    val totalW = expected.map(_._2).sum
    val aggs = expected.zipWithIndex.map { case ((t, _), i) =>
      sum(when(col(typeCol) === t, 1L).otherwise(0L)).as(s"__n$i")
    }
    val one = df
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen).as("__w"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("__total",
        expected.indices.map(i => col(s"__n$i")).reduce(_ + _))
    val cells = expected.zipWithIndex.map { case ((t, w), i) =>
      val o = col(s"__n$i").cast(dec)
      val n = col("__total").cast(dec)
      val d = o * lit(totalW) - n * lit(w)
      struct(
        lit(t).as("event_type"),
        col(s"__n$i").as("n"),
        (d * d * lit(100L) > lit(threshold100) * n * lit(w) * lit(totalW))
          .as("drifted"))
    }
    one.select(col("__w.start").as("window_start"),
        explode(array(cells: _*)).as("__c"), col("__total"))
      .select(col("window_start"), col("__c.event_type").as("event_type"),
        col("__c.n").as("n"), col("__total").as("total"),
        col("__c.drifted").as("drifted"))
  }

  /** Categorical drift between two time periods — the chi-square
    * homogeneity test on the (period x event_type) contingency table,
    * carried as EXACT integers so the flags reproduce bit-for-bit in
    * any engine at any partitioning (the [[sigmaOutliers]] contract
    * applied to distribution monitoring).
    *
    * For each type with counts (n_a, n_b) against period totals
    * (N_a, N_b), the type's chi-square contribution reduces to
    * d^2 / (n * N_a * N_b) with d = n_a*N_b - n_b*N_a and
    * n = n_a + n_b. No division is performed: the statistic ships as
    * the (numerator, denominator) pair in decimal(38,0), and the
    * drift flag compares num * 100 > threshold100 * den — e.g.
    * threshold100 = 384 is the 5% critical value 3.84 at df = 1.
    *
    * Scale shape: one map-side-combined aggregate to per-type counts
    * (rows = #types, the size of the answer); period totals are a
    * 1-row aggregate broadcast back. The event stream shuffles
    * nothing but (type, partial count) rows.
    *
    * Exactness bound: d^2 * 100 must fit decimal(38,0), which holds
    * for up to 2e9 total events per comparison (d <= N_a*N_b <=
    * N^2/4, so d^2*100 <= 6.25*N^4). Beyond that non-ANSI Spark
    * would silently NULL the overflow (and DuckDB's int128 errors),
    * so the operator raises instead — pre-aggregate counts (compare
    * daily rollups, not raw events) past that scale.
    */
  def driftChi2(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      splitTs: String,
      threshold100: Long
  ): DataFrame = {
    require(threshold100 > 0, s"threshold100=$threshold100 must be positive")
    val dec = DecimalType(38, 0)
    val inA = col(tsCol) < lit(splitTs).cast("timestamp")
    val perType = events
      .groupBy(col(typeCol))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(inA, 0L).otherwise(1L)).as("n_b"))
    val totals = perType.agg(
      sum(col("n_a")).cast(dec).as("__ta"),
      sum(col("n_b")).cast(dec).as("__tb"))
    val d = col("n_a").cast(dec) * col("__tb") - col("n_b").cast(dec) * col("__ta")
    val nTot = col("__ta") + col("__tb")
    perType
      .crossJoin(broadcast(totals))
      .withColumn("chi2_num",
        // strict <: at exactly 2e9 with maximal skew, chi2_num * 100
        // reaches 6.25e37 * 16 = 1e38 — one past decimal(38,0)
        when(nTot < lit(2000000000L).cast(dec), d * d)
          .otherwise(raise_error(concat(
            lit("driftChi2: "), nTot.cast("string"),
            lit(" total events reaches the 2e9 exact decimal(38,0) chi-square"
              + " bound; compare pre-aggregated counts instead")))))
      .withColumn("chi2_den",
        (col("n_a") + col("n_b")).cast(dec) * col("__ta") * col("__tb"))
      .withColumn("drifted",
        col("chi2_num") * lit(100L) > lit(threshold100) * col("chi2_den"))
      .drop("__ta", "__tb")
  }

  /** Hour-of-day x day-of-week seasonality profile per event type:
    * counts plus each cell's share of its type's total as an exact
    * long/long IEEE division — the load-shape fingerprint an alerting
    * baseline is built from ("is 3am Sunday traffic LOW, or broken?").
    *
    * One hash aggregate shuffles (type, dow, hour) triples — 7x24 cells
    * per type regardless of input size; the per-type total is a window
    * sum over those same tiny groups, no second scan of the raw events.
    */
  def seasonalityProfile(
      events: DataFrame,
      typeCol: String,
      tsCol: String
  ): DataFrame = {
    val cells = events
      .groupBy(col(typeCol),
        dayofweek(col(tsCol)).cast("long").as("dow"),
        hour(col(tsCol)).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(typeCol))
    cells.withColumn("share",
      col("n").cast(DoubleType) / sum(col("n")).over(w).cast(DoubleType))
  }

  /** RFM segmentation: per user, recency (whole days since their last
    * event, relative to the dataset's own max timestamp so the query
    * is reproducible), frequency (event count) and monetary (exact
    * cents over `monetaryPred` rows), each scored into quintiles.
    * Scores use `ntile(5)` over a TOTAL order (metric, then user id) —
    * the tiebreak is what makes the quintile edges deterministic
    * across engines and partitionings. r/f/m are all "5 = best"
    * (most recent / most frequent / highest spend).
    *
    * One user-keyed hash aggregate over the raw events, then three
    * window ranks over the (orders-of-magnitude smaller) per-user
    * frame; the 1-row dataset max broadcasts into the projection.
    */
  def rfm(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      valueCol: String,
      monetaryPred: org.apache.spark.sql.Column
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        max(unix_micros(col(tsCol))).as("__last_us"),
        count(lit(1)).as("frequency"),
        sum(when(monetaryPred,
          round(col(valueCol) * 100).cast("long").cast(dec))
          .otherwise(lit(0).cast(dec))).cast("long").as("monetary_cents"))
    val asOf = events.agg(max(unix_micros(col(tsCol))).as("__as_of"))
    // Checkpoint the per-user frame ONCE before the quintile chain:
    // each distributedNtile reads its input twice (ranks + counts
    // branches), so three chained ntiles would otherwise re-run the
    // events aggregation up to 2^3 times (the plan carried 43
    // exchanges). The frame is one row per user — the cheap side to
    // materialize.
    val withRec = perUser.join(broadcast(asOf))
      .withColumn("recency_days",
        floor((col("__as_of") - col("__last_us")) / lit(86400000000L)))
      .drop("__as_of", "__last_us")
      .localCheckpoint(true)
    // three distributed exact quintiles — a plain un-partitioned
    // ntile window would drag the whole user frame into ONE task;
    // RankOps keeps the identical result range-partitioned
    val scored = Seq[(String, Seq[org.apache.spark.sql.Column])](
      ("__r", Seq(col("recency_days").asc, col(userCol).asc)),
      ("__f", Seq(col("frequency").desc, col(userCol).asc)),
      ("__m", Seq(col("monetary_cents").desc, col(userCol).asc))
    ).foldLeft(withRec) { case (df, (out, order)) =>
      RankOps.distributedNtile(df, order, 5, out)
    }
    scored.select(
      col(userCol), col("recency_days"), col("frequency"), col("monetary_cents"),
      (lit(6) - col("__r")).cast("long").as("r_score"),
      (lit(6) - col("__f")).cast("long").as("f_score"),
      (lit(6) - col("__m")).cast("long").as("m_score"))
  }

  /** Power-user curve: users ranked into activity deciles, each decile
    * reporting its user count, event count, and share of all events —
    * the "top 10% of users drive X% of traffic" concentration read.
    * Decile assignment is `ntile(10)` over (count desc, user id) — a
    * total order, so engine-independent. The share division is one
    * IEEE op over two exact longs; the all-users total rides a window
    * sum over the ten decile rows, never a second scan.
    */
  def powerCurve(events: DataFrame, userCol: String): DataFrame = {
    val perUser = events.groupBy(col(userCol)).agg(count(lit(1)).as("__n"))
    val deciles = RankOps.distributedNtile(perUser,
        Seq(col("__n").desc, col(userCol).asc), 10, "decile")
      .withColumn("decile", col("decile").cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("__n")).as("n_events"))
    val w = Window.partitionBy()
    deciles.select(
      col("decile"), col("n_users"), col("n_events"),
      (col("n_events").cast(DoubleType) /
        sum(col("n_events")).over(w).cast(DoubleType)).as("event_share"))
  }

  /** Training-set construction over the event stream: per (user, day),
    * trailing-window features and a FUTURE-looking label —
    *   n_events (that day), n_events_7d / n_purchases_30d /
    *   purchase_cents_30d (trailing RANGE windows over day indexes,
    *   so gaps in activity still span calendar time, not row counts),
    *   purchases_next_7d and label_next_7d (strictly-future frame —
    *   no leakage: the current day is excluded).
    * Everything is exact integer arithmetic on day-grain
    * pre-aggregates; the raw stream shuffles once to (user, day) rows
    * and the four range windows share the per-user sort. At 100 TB
    * the day-grain frame is the product's own feature store — orders
    * of magnitude smaller than the events.
    */
  def rollingUserFeatures(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      valueCol: String,
      purchasePred: org.apache.spark.sql.Column
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val dayIdx = floor(unix_micros(col(tsCol)).cast(DoubleType) /
      lit(86400000000.0)).cast(LongType)
    val daily = events
      .groupBy(col(userCol), dayIdx.as("day_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(purchasePred, 1L).otherwise(0L)).as("__np"),
        sum(when(purchasePred,
          round(col(valueCol) * 100).cast(LongType).cast(dec))
          .otherwise(lit(0).cast(dec))).cast(LongType).as("__pc"))
    val byDay = Window.partitionBy(col(userCol)).orderBy(col("day_idx"))
    val dailySpread = spreadBy(daily, userCol)
    val w7 = byDay.rangeBetween(-6, 0)
    val w30 = byDay.rangeBetween(-29, 0)
    val wNext7 = byDay.rangeBetween(1, 7)
    dailySpread.select(
      col(userCol), col("day_idx"), col("n_events"),
      sum(col("n_events")).over(w7).as("n_events_7d"),
      sum(col("__np")).over(w30).as("n_purchases_30d"),
      sum(col("__pc")).over(w30).as("purchase_cents_30d"),
      coalesce(sum(col("__np")).over(wNext7), lit(0L)).as("purchases_next_7d"))
      .withColumn("label_next_7d", col("purchases_next_7d") > 0)
  }

  /** Cohort lifetime value: users grouped by first-seen month, revenue
    * (exact cents over `purchasePred` rows) per (cohort, months-since-
    * cohort) cell, with the running cumulative and its per-user
    * division — the LTV curve every growth dashboard draws. The
    * months-since offset is pure integer calendar arithmetic
    * (year·12+month deltas); revenue accumulates in decimal and
    * publishes as BIGINT; the cumulative is a window sum over the tiny
    * (cohort × offset) grid, and cohort sizes broadcast into the final
    * join. Two shuffles of the raw events (cohort min, revenue cells)
    * — both map-side combinable.
    */
  def cohortLtv(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      valueCol: String,
      purchasePred: org.apache.spark.sql.Column
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val cohorts = events.groupBy(col(userCol))
      .agg(min(date_trunc("month", col(tsCol))).as("cohort_month"))
    val cohortSizes = cohorts.groupBy(col("cohort_month"))
      .agg(count(lit(1)).as("cohort_users"))
    val purchases = events.filter(purchasePred)
      .select(col(userCol), date_trunc("month", col(tsCol)).as("__m"),
        round(col(valueCol) * 100).cast(LongType).as("__cents"))
      .join(cohorts, userCol)
    val monthsSince = ((year(col("__m")) - year(col("cohort_month"))) * 12 +
      (month(col("__m")) - month(col("cohort_month")))).cast(LongType)
    val cells = purchases
      .groupBy(col("cohort_month"), monthsSince.as("months_since"))
      .agg(sum(col("__cents").cast(dec)).cast(LongType).as("revenue_cents"))
    val wCum = Window.partitionBy(col("cohort_month")).orderBy(col("months_since"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spreadBy(cells, "cohort_month")
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(wCum))
      .join(broadcast(cohortSizes), "cohort_month")
      .select(col("cohort_month"), col("months_since"), col("revenue_cents"),
        col("cum_revenue_cents"), col("cohort_users"),
        (col("cum_revenue_cents").cast(DoubleType) /
          col("cohort_users").cast(DoubleType)).as("ltv_per_user"))
  }

  /** DAU/MAU stickiness: per calendar day, the day's distinct actives
    * over the enclosing month's distinct actives — the classic
    * engagement ratio. Two exact distinct aggregates (day grain and
    * month grain) joined on the month; the month side is ≤ 12 rows/
    * year so it BROADCASTS. Exact distincts shuffle user ids once per
    * grain — at 100 TB swap in approx_count_distinct at the same
    * shape (the sketch-store path) if exactness is not required.
    */
  def stickiness(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val day = date_trunc("day", col(tsCol))
    val month = date_trunc("month", col(tsCol))
    val dau = events.groupBy(day.as("day"), month.as("__month"))
      .agg(countDistinct(col(userCol)).as("dau"))
    val mau = events.groupBy(month.as("__month"))
      .agg(countDistinct(col(userCol)).as("mau"))
    dau.join(broadcast(mau), "__month")
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast(DoubleType) / col("mau").cast(DoubleType))
          .as("stickiness"))
  }

  /** Per-type trimmed mean: drop the bottom and top `trimPermille`/1000
    * of values by exact rank, average the interior in exact cents —
    * the robust center the sigma/MAD outlier family reports against
    * (a mean a single fat-finger print cannot move). Trim bounds are
    * integer arithmetic on (rank, count): keep n·trim/1000 < i ≤
    * n − n·trim/1000, floor on both sides — DuckDB's `//` and
    * Spark's `div` agree for the non-negative operands here.
    *
    * One ranked window per type then a combinable aggregate — the
    * same shape as [[graft.operators.CandleOps]]'s exact median
    * (whole-type ordering; at extreme per-type cardinality pre-bucket
    * to cents-grain counts first, as the KS test does).
    */
  def trimmedMean(
      events: DataFrame,
      typeCol: String,
      idCol: String,
      valueCol: String,
      trimPermille: Long = 100L
  ): DataFrame = {
    require(trimPermille >= 0 && trimPermille < 500,
      s"trimPermille=$trimPermille must be in [0, 500)")
    // group on the ORIGINAL type column: an early rename would mint a
    // new attribute, hide the window's partitioning from the final
    // aggregate, and cost a second exchange (plan-pinned at one)
    val w = Window.partitionBy(col(typeCol))
      .orderBy(round(col(valueCol) * 100).cast(LongType), col(idCol))
    val wAll = Window.partitionBy(col(typeCol))
    val ranked = spreadBy(events, typeCol)
      .filter(col(valueCol).isNotNull)
      .select(col(typeCol),
        round(col(valueCol) * 100).cast(LongType).as("__cents"),
        row_number().over(w).cast(LongType).as("__i"),
        count(lit(1)).over(wAll).as("__n"))
    val cut = expr(s"__n * $trimPermille div 1000")
    ranked
      .filter(col("__i") > cut && col("__i") <= col("__n") - cut)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("__cents")).as("kept_cents"))
      .select(col(typeCol).as("event_type"), col("n_kept"), col("kept_cents"),
        (col("kept_cents").cast(DoubleType) /
          col("n_kept").cast(DoubleType) / lit(100.0)).as("trimmed_mean"))
  }

  /** Herfindahl concentration per event type: Σ share² of per-user
    * event counts, computed as the RATIONAL Σc²/(Σc)² — the integer
    * numerator and denominator stay exact (decimal(38,0): per-user
    * counts at corpus scale square past a long) and divide ONCE, so
    * no order-dependent float summation of shares ever happens. The
    * "is this metric driven by a few whales" gate (1/n = uniform,
    * 1 = single user), with the effective-user count 1/HHI as its
    * readable twin.
    */
  def concentration(
      events: DataFrame,
      typeCol: String,
      userCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val perUser = events
      .groupBy(col(typeCol).as("event_type"), col(userCol))
      .agg(count(lit(1)).as("__c"))
    perUser
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__c")).as("n_events"),
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__ss"))
      .withColumn("hhi",
        col("__ss").cast(DoubleType) /
          (col("n_events").cast(dec) * col("n_events").cast(dec)).cast(DoubleType))
      .withColumn("effective_users", lit(1.0) / col("hhi"))
      .drop("__ss")
  }

  /** First-significant-digit audit (Benford screen): fabricated or
    * unit-mixed metrics flout the log distribution real multiplicative
    * data follows. The digit comes from the DECIMAL STRING of the
    * cents integer — no log10/pow doubles anywhere — so counts are
    * exact and the published share is ONE division of exact counts.
    * One combinable aggregate; the share window runs over types × ≤9
    * digit rows.
    */
  def benfordDigits(
      events: DataFrame,
      typeCol: String,
      valueCol: String
  ): DataFrame = {
    val cents = abs(round(col(valueCol) * 100).cast(LongType))
    val wTot = Window.partitionBy(col("event_type"))
    events
      .filter(col(valueCol).isNotNull && cents > 0)
      .select(col(typeCol).as("event_type"),
        substring(cents.cast("string"), 1, 1).as("digit"))
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(wTot).cast("double"))
  }

  /** CUSUM change-point localization per type: the split index
    * maximizing |cum_i·n − i·S| — the unnormalized CUSUM statistic
    * max_i |S_i − (i/n)·S_n| scaled by n, in EXACT decimal(38,0)
    * integers — plus the exact means either side of the split. The
    * companion to [[driftKs]]: KS says "this cohort's distribution
    * moved"; this says WHERE in the sequence the level shifted (the
    * first question an on-call asks after the drift page).
    *
    * Deterministic end to end: the argmax orders by the exact integer
    * statistic with a smallest-index tie-break, so engines and
    * partitionings agree bitwise; the statistic crosses as a digit
    * string, the two means divide exact sums once each.
    *
    * One exchange: every window (rank, prefix sum, totals, argmax)
    * partitions by the type key. Per-type ordering state is the same
    * precedent as the exact median/trimmed mean — pre-bucket to grain
    * counts at extreme per-type cardinality.
    */
  def changePoint(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      idCol: String,
      valueCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(col(typeCol)).orderBy(col(tsCol), col(idCol))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(typeCol))
    val y = round(col(valueCol) * 100).cast(LongType)
    val p = spreadBy(events, typeCol)
      .filter(col(valueCol).isNotNull)
      .select(col(typeCol), col(tsCol), col(idCol), y.as("__y"))
      .withColumn("__i", row_number().over(wOrd).cast(LongType))
      .withColumn("__cum", sum(col("__y")).over(wCum).cast(dec))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("__y")).over(wAll).cast(dec))
      .filter(col("__i") < col("__n"))
      .withColumn("__d",
        abs(col("__cum") * col("__n").cast(dec) - col("__i").cast(dec) * col("__s")))
    val wBest = Window.partitionBy(col(typeCol))
      .orderBy(col("__d").desc, col("__i"))
    p.withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1)
      .select(
        col(typeCol).as("event_type"),
        col("__n").as("n_obs"),
        col(tsCol).as("change_ts"),
        col("__i").as("split_idx"),
        col("__d").cast("string").as("cusum_num"),
        (col("__cum").cast(DoubleType) / col("__i").cast(DoubleType) / lit(100.0))
          .as("mean_before"),
        ((col("__s") - col("__cum")).cast(DoubleType) /
          (col("__n") - col("__i")).cast(DoubleType) / lit(100.0))
          .as("mean_after"))
  }

  /** Traffic burstiness per type over hourly buckets: the Fano factor
    * (variance-to-mean of per-hour event counts; 1 = Poisson, higher =
    * bursty) plus peak-to-mean — the load-shape pair a capacity model
    * and an anomaly baseline both read. Exact integers end to end:
    * fano = (nΣc² − (Σc)²) / (nΣc) from decimal(38,0) moments, both
    * rationals divide once as IEEE doubles, numerator crosses as a
    * digit string. Hours with zero events are absent from the bucket
    * aggregate and are deliberately NOT zero-filled — the measure
    * reads activity burstiness over OBSERVED hours, identically in
    * both engines.
    *
    * Two combinable aggregates (events → hourly counts → per-type
    * moments); nothing shuffles but (type, hour, count) rows.
    */
  def burstiness(
      events: DataFrame,
      typeCol: String,
      tsCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = events
      .groupBy(col(typeCol).as("event_type"),
        date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__c"))
    val m = hourly.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_hours"),
      sum(col("__c").cast(dec)).as("__s"),
      sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__s2"),
      max(col("__c")).as("peak_hour_events"))
    val n = col("n_hours").cast(dec)
    val num = n * col("__s2") - col("__s") * col("__s")
    val den = n * col("__s")
    m.select(
      col("event_type"), col("n_hours"),
      col("__s").cast(LongType).as("total_events"),
      col("peak_hour_events"),
      num.cast("string").as("fano_num"),
      when(den === lit(0).cast(dec), lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType)).as("fano"),
      when(col("__s") === lit(0).cast(dec), lit(null).cast(DoubleType))
        .otherwise((col("peak_hour_events").cast(dec) * n).cast(DoubleType) /
          col("__s").cast(DoubleType)).as("peak_to_mean"))
  }

  /** Gini concentration of per-user value totals — the whale-dominance
    * index ("what share of spend sits in how few users") every
    * marketplace/abuse dashboard tracks. For ascending totals x_1..x_n
    * with ranks i, G = (2Σi·x_i − (n+1)Σx) / (nΣx), computed from
    * EXACT integer sums: cents totals, ranks from the DISTRIBUTED
    * exact ranking (no single-task sort of n users), rank-weighted
    * moments in decimal(38,0). The reported coefficient divides once
    * as IEEE doubles; numerator/denominator also cross as digit
    * strings for int128-scale auditability.
    *
    * Scale shape: one aggregate to per-user totals, one range
    * exchange for ranks, one 1-row final aggregate. Nothing shuffles
    * but (user, cents) pairs.
    */
  def giniConcentration(
      events: DataFrame,
      userCol: String,
      valueCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val totals = events
      .filter(col(valueCol).isNotNull)
      .groupBy(col(userCol))
      .agg(sum(round(col(valueCol) * 100).cast(LongType)).as("__x"))
    val ranked = RankOps.distributedRank(totals,
      Seq(col("__x"), col(userCol)), "__i")
    val m = ranked.agg(
      count(lit(1)).as("n_users"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__i").cast(dec) * col("__x").cast(dec)).as("__six"))
    val n = col("n_users").cast(dec)
    val num = lit(2).cast(dec) * col("__six") - (n + lit(1).cast(dec)) * col("__sx")
    val den = n * col("__sx")
    m.select(
      col("n_users"),
      col("__sx").cast(LongType).as("total_cents"),
      num.cast("string").as("gini_num"),
      den.cast("string").as("gini_den"),
      when(den === lit(0).cast(dec), lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType)).as("gini"))
  }

  /** Exact two-sample Kolmogorov-Smirnov drift per event type: the
    * max CDF gap between the value distribution before and after
    * `splitTs` — the distribution-shape companion to [[driftChi2]]'s
    * count-mix test (a feature can keep its event mix while its VALUES
    * drift; this catches that).
    *
    * Transcendental-free exactness: values are cents integers; at each
    * distinct observed value v the CDF gap |F_a(v) - F_b(v)| is the
    * rational |cum_a*n_b - cum_b*n_a| / (n_a*n_b), so the max is taken
    * over exact decimal(38,0) numerators (common denominator) and only
    * the REPORTED statistic divides once into a double. The drift flag
    * stays in integers: D > c/sqrt-rule squared cross-multiplied, i.e.
    * num^2 * 1000 > c2Milli * (n_a+n_b) * n_a * n_b — with c2Milli =
    * 1844 (= 1.358^2 * 1000) this is the alpha = 0.05 two-sample KS
    * critical line.
    *
    * Scale shape: the event stream collapses map-side to one row per
    * (type, cents, cohort-count pair); the running-CDF window then
    * orders DISTINCT VALUES per type (bounded by the price grid, not
    * the event count — a 100 TB stream with a 1e6-value grid windows
    * 1e6 rows per type). Totals ride the same window, no second scan.
    *
    * Exactness bound: num^2 * 1000 must fit decimal(38,0); num <=
    * n_a*n_b, so per-type cohort sizes up to ~1.8e8 x 1.8e8 stay
    * exact (3.3e16 squared * 1e3 < 1e37). The guard raises past it —
    * at that scale pre-bucket values (KS on a 1e4-bin equi-width
    * rollup bounds num by 1e8 * grid and never trips).
    */
  def driftKs(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      valueCol: String,
      splitTs: String,
      c2Milli: Long = 1844L,
      // decimal(38,0) exact-compare ceiling on n_a*n_b (~1.8e8 per
      // cohort); injectable so a unit test can trip the raise path at
      // tiny scale — production callers keep the default
      exactBound: Long = 33000000000000000L
  ): DataFrame = {
    require(c2Milli > 0, s"c2Milli=$c2Milli must be positive")
    require(exactBound > 0, s"exactBound=$exactBound must be positive")
    val dec = DecimalType(38, 0)
    val inA = col(tsCol) < lit(splitTs).cast("timestamp")
    val perValue = events
      .filter(col(valueCol).isNotNull)
      .groupBy(col(typeCol).as("event_type"),
        round(col(valueCol) * 100).cast(LongType).as("__cents"))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("__ca"),
        sum(when(inA, 0L).otherwise(1L)).as("__cb"))
    val wCdf = Window.partitionBy(col("event_type")).orderBy(col("__cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("event_type"))
    val cum = perValue.select(
      col("event_type"),
      sum(col("__ca")).over(wCdf).as("__fa"),
      sum(col("__cb")).over(wCdf).as("__fb"),
      sum(col("__ca")).over(wTot).as("n_a"),
      sum(col("__cb")).over(wTot).as("n_b"))
    val gap = abs(
      col("__fa").cast(dec) * col("n_b").cast(dec) -
        col("__fb").cast(dec) * col("n_a").cast(dec))
    val perType = cum
      .select(col("event_type"), col("n_a"), col("n_b"), gap.as("__gap"))
      .groupBy(col("event_type"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("__gap")).as("__num"))
    val den = col("n_a").cast(dec) * col("n_b").cast(dec)
    perType
      .withColumn("__num",
        // strict bound: past ~1.8e8-per-cohort the squared compare
        // would exceed decimal(38,0) and non-ANSI Spark would NULL it
        when(den < lit(exactBound).cast(dec), col("__num"))
          .otherwise(raise_error(concat(
            lit("driftKs: cohort product "), den.cast("string"),
            lit(" exceeds the decimal(38,0) exact-compare bound;"
              + " pre-bucket values before the KS test")))))
      .withColumn("ks",
        when(den === lit(0).cast(dec), lit(null).cast(DoubleType))
          .otherwise(col("__num").cast(DoubleType) / den.cast(DoubleType)))
      .withColumn("drifted",
        col("__num") * col("__num") * lit(1000L) >
          lit(c2Milli) * (col("n_a") + col("n_b")).cast(dec) * den)
      .withColumn("ks_num", col("__num").cast("string"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("ks_num"), col("ks"), col("drifted"))
  }

  /** Column-stats drift monitor per event type: the schema-health
    * companion to the distribution tests — null-rate, distinct-user
    * reach, and value-range movement between the cohorts before and
    * after `splitTs`. This is what a daily ingest gate diffs ("did a
    * producer start dropping `value`? did the user base shift?")
    * before any statistical test is worth running.
    *
    * Null-rate drift is flagged by exact cross-multiplication
    * (|null_a*n_b - null_b*n_a| * 1000 > thresholdMilli * n_a*n_b, so
    * an absolute rate shift above thresholdMilli/1000 trips it) —
    * no floating division decides anything.
    *
    * Scale shape: ONE pass over events with map-side-combinable
    * aggregates (conditional counts + min/max); the two exact
    * distinct-user counts rewrite to a single expand+two-level
    * aggregate in Spark — at 100 TB swap approx_count_distinct into
    * the same shape if exact reach is not required. Output rows =
    * #types.
    */
  def statsDrift(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      valueCol: String,
      userCol: String,
      splitTs: String,
      thresholdMilli: Long = 50L
  ): DataFrame = {
    require(thresholdMilli > 0, s"thresholdMilli=$thresholdMilli must be positive")
    val dec = DecimalType(38, 0)
    val inA = col(tsCol) < lit(splitTs).cast("timestamp")
    val cents = round(col(valueCol) * 100).cast(LongType)
    val perType = events
      .groupBy(col(typeCol).as("event_type"))
      .agg(
        sum(when(inA, 1L).otherwise(0L)).as("n_a"),
        sum(when(inA, 0L).otherwise(1L)).as("n_b"),
        sum(when(inA && col(valueCol).isNull, 1L).otherwise(0L)).as("null_a"),
        sum(when(!inA && col(valueCol).isNull, 1L).otherwise(0L)).as("null_b"),
        countDistinct(when(inA, col(userCol))).as("users_a"),
        countDistinct(when(!inA, col(userCol))).as("users_b"),
        min(when(inA, cents)).as("lo_cents_a"),
        max(when(inA, cents)).as("hi_cents_a"),
        min(when(!inA, cents)).as("lo_cents_b"),
        max(when(!inA, cents)).as("hi_cents_b"))
    perType
      .withColumn("null_shift_milli",
        // reported ratio divides ONCE as IEEE doubles over exact
        // integers (the drift FLAG below never touches floats);
        // decimal division is avoided — its scale-adjust rounding is
        // engine-specific where one double divide is not
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast(DoubleType))
          .otherwise(
            (abs(col("null_a").cast(dec) * col("n_b").cast(dec) -
              col("null_b").cast(dec) * col("n_a").cast(dec)) * lit(1000L))
              .cast(DoubleType) /
              (col("n_a").cast(dec) * col("n_b").cast(dec)).cast(DoubleType)))
      .withColumn("null_drifted",
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("boolean"))
          .otherwise(
            abs(col("null_a").cast(dec) * col("n_b").cast(dec) -
              col("null_b").cast(dec) * col("n_a").cast(dec)) * lit(1000L) >
              lit(thresholdMilli) * col("n_a").cast(dec) * col("n_b").cast(dec)))
      .withColumn("range_widened",
        col("lo_cents_b") < col("lo_cents_a") ||
          col("hi_cents_b") > col("hi_cents_a"))
  }

  /** Kaplan-Meier time-to-event survival per entry cohort: duration =
    * days from a user's FIRST event to their first `eventPredicate`
    * event (the "death": first purchase, first error, …); users who
    * never fire it are right-CENSORED at their last activity — they
    * shrink the risk set without ever counting as deaths, which is the
    * estimator's whole reason to exist (a naive conversion rate
    * over-counts the still-converting tail). At each duration with
    * deaths, S(t) = Π_{s≤t} (1 − d_s/n_s); the risk set n_s is a
    * suffix sum over per-duration counts (one window), and the product
    * folds the collected per-cohort factor list LEFT-TO-RIGHT — a
    * fixed expression tree of correctly-rounded IEEE steps, so the
    * curve hash-matches DuckDB's `list_reduce` of the identical list.
    * Everything upstream of the fold is exact integers.
    *
    * Scale shape: one user-level aggregate, one (cohort, duration)
    * aggregate, two windows over rows bounded by cohorts × distinct
    * durations (days) — never the event count.
    */
  def kaplanMeier(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      eventPredicate: Column
  ): DataFrame = {
    val per = events.groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("__fd"),
        max(to_date(col(tsCol))).as("__ld"),
        min(when(eventPredicate, to_date(col(tsCol)))).as("__ed"))
    val v = per.select(
      trunc(col("__fd"), "month").as("cohort"),
      when(col("__ed").isNotNull, datediff(col("__ed"), col("__fd")))
        .otherwise(datediff(col("__ld"), col("__fd")))
        .cast(LongType).as("duration_days"),
      when(col("__ed").isNotNull, 1L).otherwise(0L).as("__ch"))
    val g = v.groupBy(col("cohort"), col("duration_days"))
      .agg(count(lit(1)).as("__na"), sum(col("__ch")).as("__d"))
    val wDesc = Window.partitionBy(col("cohort"))
      .orderBy(col("duration_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = g.withColumn("__n", sum(col("__na")).over(wDesc))
      .filter(col("__d") > 0)
    val wAsc = Window.partitionBy(col("cohort"))
      .orderBy(col("duration_days").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val factors = collect_list(struct(col("__d").as("d"), col("__n").as("n")))
      .over(wAsc)
    r.withColumn("__l", factors)
      .select(col("cohort"), col("duration_days"),
        col("__n").as("n_at_risk"), col("__d").as("n_churned"),
        aggregate(col("__l"), lit(1.0), (acc, x) =>
          acc * (lit(1.0) - x.getField("d").cast(DoubleType) /
            x.getField("n").cast(DoubleType)))
          .as("km_survival"),
        // Nelson-Aalen cumulative hazard off the SAME factor list —
        // a left-to-right sum instead of a product, equally a fixed
        // IEEE tree (ordered fold, not an order-free aggregate)
        aggregate(col("__l"), lit(0.0), (acc, x) =>
          acc + x.getField("d").cast(DoubleType) /
            x.getField("n").cast(DoubleType))
          .as("na_cum_hazard"))
  }

  /** Seasonal VALUE index per (type, hour-of-day): how that hour's
    * average value compares to the type's overall average, in basis
    * points — index = (Σ_h · n_total · 10⁴) / (n_h · Σ_total) with
    * every product expanded in decimal, ONE division. The count-based
    * [[seasonalityProfile]] says WHEN things happen; this says what
    * they're WORTH when they do. Two hash aggregates + a broadcast
    * per-type totals join (type cardinality, not data-sized).
    */
  def seasonalIndex(
      events: DataFrame,
      typeCol: String,
      tsCol: String,
      valueCol: String
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = round(col(valueCol) * 100).cast(LongType)
    val perHour = events.filter(col(valueCol).isNotNull)
      .groupBy(col(typeCol), hour(col(tsCol)).cast(LongType).as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents.cast(dec)).cast(LongType).as("sum_cents"))
    val totals = perHour.groupBy(col(typeCol))
      .agg(sum(col("n_events")).as("__nt"),
        sum(col("sum_cents").cast(dec)).cast(LongType).as("__st"))
    perHour.join(broadcast(totals), typeCol)
      .select(col(typeCol), col("hour_of_day"), col("n_events"), col("sum_cents"),
        when(col("__st") =!= 0,
          (col("sum_cents").cast(dec) * col("__nt") * 10000).cast(DoubleType) /
            (col("n_events").cast(dec) * col("__st")).cast(DoubleType))
          .as("index_bps"))
  }

  /** Top-k set churn: the day-over-day stability of the "top k keys by
    * value" leaderboard — for each observed day (and its PREVIOUS
    * observed day, so calendar holes don't fake total churn), the
    * overlap of the two top-k sets, their Jaccard, and how many
    * entrants are new. Ranks tie-break on the key, so the set is a
    * pure function of the data; the day-pair join touches only the
    * ≤ 2k leaderboard rows per day, never the fact table.
    */
  def topKSetChurn(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val dec = DecimalType(38, 0)
    val cents = round(col(valueCol) * 100).cast(LongType)
    val perDay = events
      .groupBy(to_date(col(tsCol)).as("day"), col(keyCol))
      .agg(sum(cents.cast(dec)).cast(LongType).as("__v"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(col("__v").desc, col(keyCol).asc)
    val top = perDay
      .withColumn("__rn", row_number().over(wDay))
      .filter(col("__rn") <= k)
      .select(col("day"), col(keyCol))
    val days = top.select(col("day")).distinct()
      .withColumn("prev_day", lag(col("day"), 1).over(Window.orderBy(col("day"))))
      .filter(col("prev_day").isNotNull)
    val cur = top.select(col("day"), col(keyCol).as("__k"))
    val prev = top.select(col("day").as("prev_day"), col(keyCol).as("__k"))
    val sizes = top.groupBy(col("day")).agg(count(lit(1)).as("__n"))
    val common = days
      .join(cur, Seq("day"))
      .join(prev, Seq("prev_day", "__k"), "left_semi")
      .groupBy(col("day"), col("prev_day"))
      .agg(count(lit(1)).as("n_common"))
    days
      .join(common, Seq("day", "prev_day"), "left")
      .join(sizes, Seq("day"))
      .join(sizes.select(col("day").as("prev_day"), col("__n").as("__np")),
        Seq("prev_day"))
      .select(col("day"), col("prev_day"),
        col("__n").as("k_today"), col("__np").as("k_prev"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (col("__n") - coalesce(col("n_common"), lit(0L))).as("n_new"),
        (coalesce(col("n_common"), lit(0L)) * 100).cast(DoubleType)
          .divide((col("__n") + col("__np") -
            coalesce(col("n_common"), lit(0L))).cast(DoubleType))
          .as("overlap_pct"))
  }

  /** CUPED variance-reduced A/B readout (Deng et al., WSDM 2013): the
    * experiment metric y (per-user metric-event cent value) is
    * adjusted by a covariate x (per-user covariate-event count) with
    * the pooled regression coefficient θ = cov(x,y)/var(x) —
    * ȳ_adj(arm) = ȳ_arm − θ·(x̄_arm − x̄). All moments are exact
    * integer sums in decimal(38,0); θ and each mean are ONE IEEE
    * division, and the adjustment composes those deterministic doubles
    * in a fixed expression order (the macd-histogram precedent), so
    * the readout hash-matches across engines. Zero covariate variance
    * reports NULL θ and a NULL adjustment, never a fake zero.
    *
    * Scale shape: one per-user aggregate (map-side combinable), one
    * per-arm aggregate over user rows, one 1-row global-moment frame
    * broadcast into the arm rows — the grand-totals BNLJ pattern.
    */
  def cupedReadout(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      valueCol: String,
      covariateType: String,
      metricType: String,
      splits: Seq[(String, Double)]
  ): DataFrame = {
    val dec = DecimalType(38, 0)
    val cents = round(col(valueCol) * 100).cast(LongType)
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        sum(when(col(typeCol) === covariateType, 1L).otherwise(0L)).as("__x"),
        sum(when(col(typeCol) === metricType, cents).otherwise(0L)).as("__y"))
      .withColumn("variant",
        graft.functions.TextOps.splitAssign(col(userCol), splits))
    val global = perUser.agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(col("__x").cast(dec)).as("__sx"),
      sum(col("__y").cast(dec)).as("__sy"),
      sum((col("__x") * col("__x")).cast(dec)).as("__sxx"),
      sum((col("__x") * col("__y")).cast(dec)).as("__sxy"))
    val arms = perUser.groupBy(col("variant")).agg(
      count(lit(1)).cast(dec).as("__na"),
      sum(col("__x").cast(dec)).as("__sxa"),
      sum(col("__y").cast(dec)).as("__sya"))
    val varX = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val theta = when(varX > 0,
      (col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast(DoubleType) /
        varX.cast(DoubleType))
    val meanY = col("__sya").cast(DoubleType) / col("__na").cast(DoubleType)
    val meanXArm = col("__sxa").cast(DoubleType) / col("__na").cast(DoubleType)
    val meanXAll = col("__sx").cast(DoubleType) / col("__n").cast(DoubleType)
    arms.crossJoin(broadcast(global))
      .select(
        col("variant"),
        col("__na").cast(LongType).as("n_users"),
        col("__sya").cast(LongType).as("sum_y_cents"),
        col("__sxa").cast(LongType).as("sum_x"),
        theta.as("theta"),
        meanY.as("mean_y_cents"),
        (meanY - theta * (meanXArm - meanXAll)).as("mean_y_adj_cents"))
  }
}
