package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.TextOps
import graft.operators.{AsOfJoin, CandleOps, EventOps, RangeJoin, SessionOps, SketchStore}
import graft.sources.Tables

/** The events, sessions and as-of joins queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object EventQueries {
  /** Per-user 30-minute-gap sessions as [first event, last event + 30m)
    * intervals (`e`, `s`, `iv`).
    */
  private val session30mCtes: String =
    """e AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                 sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sn
               FROM e),
         iv AS (SELECT min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
                FROM s GROUP BY user_id, sn)"""

  /** Per-user 12h-gap sessions with their event counts (`e`, `s`, `sess`). */
  private val session12hCtes: String =
    """e AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000
                   THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
              sum(f) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sn
            FROM e),
         sess AS (SELECT user_id, sn, count(*) AS ne FROM s GROUP BY 1, 2)"""

  /** First view, then the first click and purchase within 24h of it, per
    * user (`a`, `b`, `c`).
    */
  private val funnelStepCtes: String =
    """a AS (SELECT user_id, event_type, ts,
              min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                OVER (PARTITION BY user_id) AS t1
            FROM events),
         b AS (SELECT *, min(CASE WHEN event_type = 'click'
                  AND epoch_us(ts) > t1
                  AND epoch_us(ts) <= t1 + 86400000000 THEN epoch_us(ts) END)
                OVER (PARTITION BY user_id) AS t2
            FROM a),
         c AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                  AND epoch_us(ts) > t2
                  AND epoch_us(ts) <= t1 + 86400000000 THEN epoch_us(ts) END)
                OVER (PARTITION BY user_id) AS t3
            FROM b)"""

  /** Per-user deepest 24h funnel step (`a`, `b`, `c`, `u`). */
  private val funnelLevelCtes: String =
    s"""$funnelStepCtes,
         u AS (SELECT user_id, max(CASE WHEN t3 IS NOT NULL THEN 3
                                        WHEN t2 IS NOT NULL THEN 2
                                        WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS lvl
            FROM c GROUP BY 1)"""

  /** The 24h view -> click -> purchase funnel levels under a
    * windowFunnel `mode`, counted per level.
    */
  private def strictFunnel(mode: String): (SparkSession, String) => DataFrame =
    (s, dir) =>
      EventOps.funnelLevelsByKeyModal(Tables.events(s, dir), Seq("user_id"),
        "event_type", "ts", Seq("view", "click", "purchase"),
        windowUs = 86400000000L, mode = mode)
        .groupBy(col("level")).agg(count(lit(1)).as("n_users"))

  /** `op` over 30-minute-gap sessions, each active until 30 minutes
    * after its last event.
    */
  private def overSessions(op: (DataFrame, String, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val sess = SessionOps.sessionSummaries(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "30 minutes")
      .withColumn("active_until", col("session_end") + expr("INTERVAL 30 minutes"))
    op(sess, "session_start", "active_until")
  }

  val all: Seq[Q] = Seq(
    // ----- As-of join (trade -> prevailing quote; Spark has no builtin)
    Q("q_asof_join", (s, dir) => {
      val e = Tables.events(s, dir)
      AsOfJoin.asof(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id", "value"),
        rightPayload = Seq("value"))
        .select("event_id", "ts", "user_id", "value", "asof_ts", "asof_value")
    },
      Some("""SELECT p.event_id, p.ts, p.user_id, p.value, c.ts AS asof_ts, c.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ----- Forward as-of: the next click AT OR AFTER each purchase ----
    Q("q_asof_forward", (s, dir) => {
      val e = Tables.events(s, dir)
      AsOfJoin.asofForward(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id", "value"),
        rightPayload = Seq("value"))
        .select("event_id", "ts", "user_id", "value", "asof_ts", "asof_value")
    },
      Some("""SELECT p.event_id, p.ts, p.user_id, p.value, c.ts AS asof_ts, c.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts <= c.ts""")),

    // ----- Nearest as-of: closer of the backward/forward click, ties
    // backward (pandas direction='nearest'); one union, one exchange ----
    Q("q_asof_nearest", (s, dir) => {
      val e = Tables.events(s, dir)
      AsOfJoin.asofNearest(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id", "value"),
        rightPayload = Seq("value"))
        .select("event_id", "ts", "user_id", "value", "asof_ts", "asof_value")
    },
      Some("""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
         b AS (SELECT p.event_id, p.ts, p.user_id, p.value,
                 c.ts AS bts, c.value AS bval
               FROM p ASOF LEFT JOIN c
                 ON p.user_id = c.user_id AND p.ts >= c.ts),
         f AS (SELECT p.event_id, c.ts AS fts, c.value AS fval
               FROM p ASOF LEFT JOIN c
                 ON p.user_id = c.user_id AND p.ts <= c.ts)
         SELECT b.event_id, b.ts, b.user_id, b.value,
                CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                       epoch_us(b.ts) - epoch_us(bts)
                         <= epoch_us(fts) - epoch_us(b.ts))
                     THEN bts ELSE fts END AS asof_ts,
                CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                       epoch_us(b.ts) - epoch_us(bts)
                         <= epoch_us(fts) - epoch_us(b.ts))
                     THEN bval ELSE fval END AS asof_value
         FROM b JOIN f USING (event_id)""")),

    // ----- As-of staleness SLA: how old the matched click is at each
    // purchase, exact p50/p90/p99 MINUTES per weekday — asof composed
    // with the histogram-percentile cut ---------------------------------
    Q("q_quote_staleness", (s, dir) => {
      val e = Tables.events(s, dir)
      val matched = AsOfJoin.asof(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id"), rightPayload = Seq("event_id"))
      val ages = matched.filter(col("asof_ts").isNotNull)
        .select(dayofweek(col("ts")).cast(LongType).as("weekday"),
          expr("(unix_micros(ts) - unix_micros(asof_ts)) div 60000000")
            .as("age_minutes"))
      graft.operators.RankOps.histogramPercentiles(
        ages, Seq("weekday"), "age_minutes", Seq(50, 90, 99))
    },
      Some("""WITH m AS (SELECT p.ts, c.ts AS asof_ts
               FROM (SELECT * FROM events WHERE event_type = 'purchase') p
               ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                 ON p.user_id = c.user_id AND p.ts >= c.ts),
         a AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday,
                 (epoch_us(ts) - epoch_us(asof_ts)) // 60000000 AS age_minutes
               FROM m WHERE asof_ts IS NOT NULL),
         h AS (SELECT weekday, age_minutes, CAST(count(*) AS BIGINT) AS n
               FROM a GROUP BY 1, 2),
         c AS (SELECT weekday, age_minutes, n,
                 CAST(sum(n) OVER (PARTITION BY weekday ORDER BY age_minutes
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 CAST(sum(n) OVER (PARTITION BY weekday) AS BIGINT) AS tot
               FROM h)
         SELECT weekday, max(tot) AS n_values,
                min(CASE WHEN cum * 100 >= tot * 50 THEN age_minutes END) AS p50,
                min(CASE WHEN cum * 100 >= tot * 90 THEN age_minutes END) AS p90,
                min(CASE WHEN cum * 100 >= tot * 99 THEN age_minutes END) AS p99
         FROM c GROUP BY 1""")),

    // ----- Sessionization via native session_window (12h gap) — the
    // lag-based 30-min formulation is the pre-existing q_sessionize --
    Q("q_session_windows", (s, dir) =>
      SessionOps.sessionSummaries(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "12 hours"),
      Some("""WITH e AS (SELECT user_id, ts, value,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts, value,
              sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sn
            FROM e)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_value
         FROM s GROUP BY user_id, sn""")),
    Q("q_session_assign", (s, dir) =>
      SessionOps.assignSessions(
          Tables.events(s, dir), Seq("user_id"), "ts", gapSeconds = 43200L)
        .select("event_id", "user_id", "session_n"),
      Some("""WITH e AS (SELECT event_id, user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
         SELECT event_id, user_id,
                CAST(sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
         FROM e""")),

    // ----- Audience overlap: per event-type pair, users doing both —
    // exact distinct-user Jaccard, one division ----------------------
    Q("q_audience_overlap", (s, dir) => {
      val ue = Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val na = ue.groupBy(col("event_type")).agg(count(lit(1)).as("__n"))
      val both = ue.select(col("event_type").as("type_a"), col("user_id"))
        .join(ue.select(col("event_type").as("type_b"), col("user_id")), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      both
        .join(na.select(col("event_type").as("type_a"), col("__n").as("__na")), "type_a")
        .join(na.select(col("event_type").as("type_b"), col("__n").as("__nb")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_both"),
          (col("n_both").cast(DoubleType) /
            (col("__na") + col("__nb") - col("n_both")).cast(DoubleType)).as("jaccard"))
    },
      Some("""WITH ue AS (SELECT DISTINCT event_type, user_id FROM events),
         na AS (SELECT event_type, count(*) AS n FROM ue GROUP BY 1),
         bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
                FROM ue a JOIN ue b USING (user_id)
                WHERE a.event_type < b.event_type GROUP BY 1, 2)
         SELECT type_a, type_b, n_both,
                CAST(n_both AS DOUBLE) / CAST(x.n + y.n - n_both AS DOUBLE) AS jaccard
         FROM bo JOIN na x ON x.event_type = type_a JOIN na y ON y.event_type = type_b""")),

    // ----- Peak concurrency: ±1 interval sweep over 30-min-timeout
    // activity windows, running count by DISTRIBUTED prefix sum (range
    // partitions + broadcast offsets — never a one-task global window)
    Q("q_peak_concurrency", overSessions(SessionOps.peakConcurrency),
      Some(s"""WITH $session30mCtes,
         d AS (SELECT st AS ts, 1 AS dd FROM iv UNION ALL SELECT en, -1 FROM iv),
         r AS (SELECT ts, dd,
                 sum(dd) OVER (ORDER BY ts, dd DESC ROWS UNBOUNDED PRECEDING) AS conc
               FROM d),
         p AS (SELECT max(conc) AS peak FROM r)
         SELECT CAST(p.peak AS BIGINT) AS peak_concurrency, min(r.ts) AS first_peak_ts
         FROM r, p WHERE r.conc = p.peak GROUP BY 1""")),

    // ----- Daily union coverage: how much of each day was SOMEONE
    // active — cross-midnight split + per-day island merge, exact
    // microseconds ---------------------------------------------------
    Q("q_daily_coverage", overSessions(SessionOps.dailyCoverage),
      Some(s"""WITH $session30mCtes,
         pc AS (SELECT unnest(generate_series(date_trunc('day', st), date_trunc('day', en),
                  INTERVAL 1 DAY)) AS day, st, en FROM iv),
         pp AS (SELECT day, greatest(st, day) AS ps,
                  least(en, day + INTERVAL 1 DAY) AS pe FROM pc),
         fl AS (SELECT day, ps, pe,
                  max(pe) OVER (PARTITION BY day ORDER BY ps, pe
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
                FROM pp),
         fb AS (SELECT day, ps, pe,
                  sum(CASE WHEN maxe IS NULL OR ps > maxe THEN 1 ELSE 0 END)
                    OVER (PARTITION BY day ORDER BY ps, pe ROWS UNBOUNDED PRECEDING) AS blk
                FROM fl),
         bl AS (SELECT day, blk, min(ps) AS bs, max(pe) AS be FROM fb GROUP BY 1, 2)
         SELECT day, count(*) AS n_blocks,
                CAST(sum(epoch_us(be) - epoch_us(bs)) AS BIGINT) AS covered_us
         FROM bl GROUP BY 1""")),

    // ----- Range join: same-user event pairs within 60 seconds --------
    Q("q_range_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
      val clicks = e.filter(col("event_type") === "click")
      RangeJoin.timeProximityJoin(
        purchases, clicks, Seq("user_id"), "ts", toleranceSeconds = 3600L,
        leftPayload = Seq("event_id"), rightPayload = Seq("event_id"))
        .select(
          col("user_id"), col("ts_l"), col("ts_r"),
          col("l_event_id").as("purchase_id"), col("r_event_id").as("click_id"))
    },
      Some("""SELECT p.user_id, p.ts AS ts_l, c.ts AS ts_r,
                p.event_id AS purchase_id, c.event_id AS click_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 3600000000""")),

    // ----- Interval-overlap join: purchase attention windows [ts,
    // ts+2h) x click windows [ts, ts+1h) per user, banded grid
    // equi-join with the report-once bucket (no distinct) -------------
    Q("q_interval_overlap", (s, dir) => {
      val e = Tables.events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts").as("start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          col("ts").as("start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end"))
      graft.operators.IntervalJoin.overlapJoin(
        p, c, Seq("user_id"), "start", "end", bucketWidthSeconds = 3600L,
        leftPayload = Seq("event_id"), rightPayload = Seq("event_id"))
        .select(col("user_id"),
          col("l_event_id").as("purchase_id"),
          col("r_event_id").as("click_id"),
          col("overlap_us"))
    },
      // Plain inequality form of the banded overlap join — the engine's
      // report-once bucket trick emits each overlapping pair exactly
      // once, so no DISTINCT is needed on either side.
      Some("""SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
                least(epoch_us(p.ts) + 7200000000, epoch_us(c.ts) + 3600000000)
                  - greatest(epoch_us(p.ts), epoch_us(c.ts)) AS overlap_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND epoch_us(p.ts) < epoch_us(c.ts) + 3600000000
          AND epoch_us(c.ts) < epoch_us(p.ts) + 7200000000""")),

    // ----- JSON extraction from the props column ----------------------
    Q("q_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      Some("""SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1""")),

    // ----- Set operations: INTERSECT / EXCEPT / UNION -----------------
    Q("q_set_ops", (s, dir) => {
      val e = Tables.events(s, dir)
      val clickers = e.filter(col("event_type") === "click").select("user_id").distinct()
      val buyers = e.filter(col("event_type") === "purchase").select("user_id").distinct()
      val errored = e.filter(col("event_type") === "error").select("user_id").distinct()
      clickers.intersect(buyers).withColumn("cohort", lit("click_and_buy"))
        .unionByName(clickers.except(errored).withColumn("cohort", lit("click_no_error")))
    },
      Some("""WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         errored AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
         SELECT user_id, 'click_and_buy' AS cohort FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
         UNION ALL
         SELECT user_id, 'click_no_error' AS cohort FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM errored)""")),

    // ----- Pivot-style conditional aggregation ------------------------
    Q("q_pivot_counts", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).cast(LongType).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).cast(LongType).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast(LongType).as("n_purchase"),
          sum(when(col("event_type") === "signup", 1).otherwise(0)).cast(LongType).as("n_signup"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).cast(LongType).as("n_error")),
      Some("""SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1""")),

    // ----- Sessionization: 30-minute-gap sessions per user ------------
    Q("q_sessionize", (s, dir) => {
      val e = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val sessions = e
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .withColumn("__new", when(col("__prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("__prev")) > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("__new"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      sessions.groupBy(col("user_id"), col("session_id").cast(LongType).as("session_id"))
        .agg(
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          CandleOps.moneySum(col("value")).as("session_value"))
    },
      Some("""WITH x AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts, value,
                  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM x)
         SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS session_value
         FROM y GROUP BY 1, 2""")),

    // ----- Conversion funnel (windowFunnel analog): view -> click ->
    // purchase within 24h of the earliest view; one exchange on user --
    Q("q_funnel_steps", (s, dir) =>
      EventOps.funnelSteps(Tables.events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"), windowUs = 86400000000L),
      Some(s"""WITH $funnelLevelCtes
         SELECT s.step, s.step_name, count(*) AS n_users
         FROM u JOIN (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
           s(step, step_name) ON u.lvl >= s.step
         GROUP BY 1, 2""")),

    // ----- First-touch retention cohorts: cohort day x activity-day
    // offset matrix ---------------------------------------------------
    Q("q_retention_cohorts", (s, dir) =>
      EventOps.retentionCohorts(Tables.events(s, dir), "user_id", "ts"),
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
            FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT f.cohort_date,
                date_diff('day', f.cohort_date, a.d) AS day_offset,
                count(*) AS n_users
         FROM a JOIN f ON a.user_id = f.user_id
         GROUP BY 1, 2""")),

    // ----- sequenceMatch analog: per-user ordered event-code string
    // vs regex "view then purchase with no error between" -------------
    Q("q_sequence_match", (s, dir) =>
      EventOps.sequenceMatch(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", "v[^e]*p"),
      Some("""SELECT user_id, count(*) AS n_events,
                regexp_matches(
                  string_agg(substr(event_type, 1, 1), ''
                             ORDER BY ts, event_id), 'v[^e]*p') AS matched
         FROM events GROUP BY user_id""")),

    // ----- sequenceCount: non-overlapping repeats of the journey -----
    Q("q_sequence_count", (s, dir) =>
      EventOps.sequenceCount(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", "v[^e]*p"),
      Some("""SELECT user_id, count(*) AS n_events,
                CAST(len(regexp_extract_all(
                  string_agg(substr(event_type, 1, 1), ''
                             ORDER BY ts, event_id), 'v[^e]*p')) AS BIGINT)
                  AS n_matches
         FROM events GROUP BY user_id""")),

    // ----- Exact-integer 3-sigma outliers per event type: anomaly
    // flags with no sqrt and no float tie -----------------------------
    Q("q_sigma_outliers", (s, dir) =>
      EventOps.sigmaOutliers(Tables.events(s, dir), "event_type", "value", k = 3)
        .select("event_id", "event_type", "value"),
      Some("""WITH c AS (SELECT event_id, event_type, value,
                CAST(round(value * 100) AS BIGINT) AS v FROM events
              WHERE value IS NOT NULL),
         s AS (SELECT event_type, count(*) AS n, sum(v) AS sx, sum(v*v) AS sxx
            FROM c GROUP BY 1)
         SELECT c.event_id, c.event_type, c.value
         FROM c JOIN s ON c.event_type = s.event_type
         WHERE (s.n*c.v - s.sx)*(s.n*c.v - s.sx) > 9*(s.n*s.sxx - s.sx*s.sx)""")),

    // ----- Robust median/MAD outliers per event type: thresholds the
    // outliers can't inflate ------------------------------------------
    Q("q_mad_outliers", (s, dir) =>
      EventOps.madOutliers(Tables.events(s, dir), "event_type", "value", k = 5.0)
        .select("event_id", "event_type", "value"),
      Some("""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1),
         d AS (SELECT e.event_id, e.event_type, e.value,
                 abs(e.value - m.med) AS dev
            FROM events e JOIN m ON e.event_type = m.event_type),
         md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
            FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value
         FROM d JOIN md ON d.event_type = md.event_type
         WHERE d.dev > 5.0 * md.mad""")),

    // ----- Rolling 50-event 3-sigma monitor per user: "normal" drifts
    // with the stream; same exact integer arithmetic ------------------
    Q("q_rolling_outliers", (s, dir) =>
      EventOps.rollingSigmaOutliers(Tables.events(s, dir), "user_id", "ts",
        "event_id", "value", windowRows = 50, k = 3)
        .select("event_id", "user_id", "value"),
      Some("""WITH c AS (SELECT event_id, user_id, ts, value,
                CAST(round(value * 100) AS BIGINT) AS v FROM events
              WHERE value IS NOT NULL),
         r AS (SELECT event_id, user_id, value, v,
                count(*) OVER w AS n, sum(v) OVER w AS sx,
                sum(v*v) OVER w AS sxx
            FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, value FROM r
         WHERE (n*v - sx)*(n*v - sx) > 9*(n*sxx - sx*sx)""")),

    // ----- Path analysis: top-20 3-step event paths ------------------
    Q("q_event_paths", (s, dir) =>
      EventOps.eventPaths(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", k = 20),
      Some("""WITH p AS (SELECT event_type AS t0,
                lead(event_type, 1) OVER w AS t1,
                lead(event_type, 2) OVER w AS t2
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS n_paths
         FROM p WHERE t2 IS NOT NULL
         GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20""")),

    // ----- Funnel latency: time-to-convert stats per step ------------
    Q("q_funnel_latency", (s, dir) =>
      EventOps.funnelLatency(Tables.events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"), windowUs = 86400000000L),
      Some(s"""WITH $funnelStepCtes,
         u AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
            FROM c GROUP BY 1),
         l AS (SELECT s.step, s.step_name,
                 CASE WHEN s.step = 2 THEN u.t2 - u.t1
                      ELSE u.t3 - u.t1 END AS lat_us
               FROM u CROSS JOIN (VALUES (2, 'click'), (3, 'purchase'))
                 s(step, step_name))
         SELECT step, step_name, count(*) AS n_users,
                min(lat_us) AS min_us, max(lat_us) AS max_us,
                CAST(sum(lat_us) AS BIGINT) AS sum_us,
                CAST(sum(lat_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_us
         FROM l WHERE lat_us IS NOT NULL
         GROUP BY 1, 2""")),

    // ----- Composition: conversion funnel WITHIN 12h-gap sessions —
    // sessionize, then funnel keyed on (user, session). Composite keys
    // (not a concat string) let the funnel windows reuse the
    // sessionizer's user-hash exchange: ONE shuffle end to end -------
    Q("q_session_funnel", (s, dir) => {
      val sess = SessionOps.assignSessions(
        Tables.events(s, dir), Seq("user_id"), "ts", gapSeconds = 43200L)
      val levels = EventOps.funnelLevelsByKey(sess,
        Seq("user_id", "session_n"), "event_type", "ts",
        Seq("view", "click", "purchase"), windowUs = 604800000000L)
      val stepDim = s.createDataFrame(Seq(
        (1, "view"), (2, "click"), (3, "purchase"))).toDF("step", "step_name")
      levels
        .join(broadcast(stepDim), col("level") >= col("step"))
        .groupBy(col("step"), col("step_name"))
        .agg(count(lit(1)).as("n_users"))
    },
      Some("""WITH e AS (SELECT user_id, event_type, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sk AS (SELECT event_type, ts,
              CAST(user_id AS VARCHAR) || '#' ||
                CAST(CAST(sum(f) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS VARCHAR) AS sess_key
            FROM e),
         a AS (SELECT sess_key, event_type, ts,
              min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                OVER (PARTITION BY sess_key) AS t1
            FROM sk),
         b AS (SELECT *, min(CASE WHEN event_type = 'click'
                  AND epoch_us(ts) > t1
                  AND epoch_us(ts) <= t1 + 604800000000 THEN epoch_us(ts) END)
                OVER (PARTITION BY sess_key) AS t2
            FROM a),
         c AS (SELECT *, min(CASE WHEN event_type = 'purchase'
                  AND epoch_us(ts) > t2
                  AND epoch_us(ts) <= t1 + 604800000000 THEN epoch_us(ts) END)
                OVER (PARTITION BY sess_key) AS t3
            FROM b),
         u AS (SELECT sess_key, max(CASE WHEN t3 IS NOT NULL THEN 3
                                         WHEN t2 IS NOT NULL THEN 2
                                         WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS lvl
            FROM c GROUP BY 1)
         SELECT s.step, s.step_name, count(*) AS n_users
         FROM u JOIN (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
           s(step, step_name) ON u.lvl >= s.step
         GROUP BY 1, 2""")),

    // ----- Inter-arrival distribution per type: exact log2 buckets ---
    Q("q_interarrival_hist", (s, dir) =>
      EventOps.interArrivalHistogram(Tables.events(s, dir), "event_type",
        "ts", "event_id"),
      Some("""WITH g AS (SELECT event_type,
                epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
            FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
         SELECT event_type,
                CAST(CASE WHEN gap <= 0 THEN -1
                          ELSE length(bin(gap)) - 1 END AS BIGINT) AS bucket,
                count(*) AS n_gaps
         FROM g WHERE gap IS NOT NULL
         GROUP BY 1, 2""")),

    // ----- Weekly lifecycle: new / retained / resurrected / churning -
    Q("q_user_lifecycle", (s, dir) =>
      EventOps.userLifecycle(Tables.events(s, dir), "user_id", "ts"),
      Some("""WITH wk AS (SELECT DISTINCT user_id,
                CAST(date_trunc('week', ts) AS DATE) AS week_start
            FROM events),
         cl AS (SELECT week_start,
                CASE WHEN lag(week_start) OVER w IS NULL THEN 'new'
                     WHEN date_diff('day', lag(week_start) OVER w, week_start) = 7
                       THEN 'retained'
                     ELSE 'resurrected' END AS status,
                (lead(week_start) OVER w IS NULL
                  OR date_diff('day', week_start, lead(week_start) OVER w) > 7)
                  AS churning
            FROM wk WINDOW w AS (PARTITION BY user_id ORDER BY week_start))
         SELECT week_start, count(*) AS n_active,
                count(*) FILTER (WHERE status = 'new') AS n_new,
                count(*) FILTER (WHERE status = 'retained') AS n_retained,
                count(*) FILTER (WHERE status = 'resurrected') AS n_resurrected,
                count(*) FILTER (WHERE churning) AS n_churning
         FROM cl GROUP BY 1""")),

    // ----- Temporal modeling (SCD2): each event opens a validity
    // interval on its user's state, closed by the next event ----------
    Q("q_validity_intervals", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"))
    },
      Some("""SELECT user_id, event_id, event_type,
                ts AS valid_from,
                lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS valid_to
         FROM events""")),

    // ----- Day-over-day volume change per type: exact-ratio doubles,
    // flag moves beyond +/-20% ----------------------------------------
    Q("q_dod_change", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .where(col("prev_n").isNotNull)
        .withColumn("change",
          (col("n") - col("prev_n")).cast(DoubleType) /
            col("prev_n").cast(DoubleType))
        .where(abs(col("change")) > 0.2)
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
            FROM events GROUP BY 1, 2),
         x AS (SELECT event_type, day, n,
                 lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
            FROM d)
         SELECT event_type, day, n, prev_n,
                CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE) AS change
         FROM x WHERE prev_n IS NOT NULL
           AND abs(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE)) > 0.2""")),

    // ----- A/B conversion: per-arm funnel step counts over the same
    // deterministic id-hash split -------------------------------------
    Q("q_ab_funnel", (s, dir) => {
      val levels = EventOps.funnelUserLevels(Tables.events(s, dir),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowUs = 86400000000L)
        .withColumn("variant",
          TextOps.splitAssign(col("user_id"), Seq("a" -> 0.5, "b" -> 0.5)))
      val stepDim = s.createDataFrame(Seq(
        (1, "view"), (2, "click"), (3, "purchase"))).toDF("step", "step_name")
      levels
        .join(broadcast(stepDim), col("level") >= col("step"))
        .groupBy(col("variant"), col("step"), col("step_name"))
        .agg(count(lit(1)).as("n_users"))
    },
      Some(s"""WITH $funnelLevelCtes,
         v AS (SELECT user_id, lvl,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                        < 32768 THEN 'a' ELSE 'b' END AS variant
            FROM u)
         SELECT v.variant, s.step, s.step_name, count(*) AS n_users
         FROM v JOIN (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
           s(step, step_name) ON v.lvl >= s.step
         GROUP BY 1, 2, 3""")),

    // ----- Retention rates: the cohort triangle normalized by cohort
    // size — one IEEE division of exact integers ----------------------
    Q("q_retention_rates", (s, dir) => {
      val cohorts = EventOps.retentionCohorts(Tables.events(s, dir),
        "user_id", "ts")
      val sizes = cohorts.filter(col("day_offset") === 0)
        .select(col("cohort_date"), col("n_users").as("cohort_size"))
      cohorts.join(broadcast(sizes), Seq("cohort_date"))
        .select(col("cohort_date"), col("day_offset"), col("n_users"),
          col("cohort_size"),
          (col("n_users").cast(DoubleType) /
            col("cohort_size").cast(DoubleType)).as("rate"))
    },
      Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
            FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
         r AS (SELECT f.cohort_date,
                 date_diff('day', f.cohort_date, a.d) AS day_offset,
                 count(*) AS n_users
            FROM a JOIN f ON a.user_id = f.user_id
            GROUP BY 1, 2),
         z AS (SELECT cohort_date, n_users AS cohort_size FROM r
               WHERE day_offset = 0)
         SELECT r.cohort_date, r.day_offset, r.n_users, z.cohort_size,
                CAST(r.n_users AS DOUBLE) / CAST(z.cohort_size AS DOUBLE) AS rate
         FROM r JOIN z ON r.cohort_date = z.cohort_date""")),

    // ----- A/B readout: deterministic 50/50 id-hash split, exact
    // cent metric sums per arm over purchase events -------------------
    Q("q_ab_metrics", (s, dir) => {
      val C = graft.functions.Cents
      val c = C.cents(col("value"))
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .withColumn("variant",
          TextOps.splitAssign(col("user_id"), Seq("a" -> 0.5, "b" -> 0.5)))
        .groupBy(col("variant"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          C.centsToMoney(sum(c)).as("total_value"),
          // decimal pre-cast: see q_price_stats — Long*Long would wrap
          (sum(c.cast(DecimalType(38, 0)) * c).cast(DoubleType) / 10000.0)
            .as("total_value_sq"))
    },
      Some("""SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                       < 32768 THEN 'a' ELSE 'b' END AS variant,
                count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_value,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
                  AS total_value_sq
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1""")),

    // ----- CUPED variance-reduced A/B readout: per-user view-count
    // covariate adjusts the purchase-value metric by the pooled
    // θ = cov/var — exact co-moments, fixed composition order --------
    Q("q_cuped", (s, dir) =>
      EventOps.cupedReadout(
        Tables.events(s, dir), "user_id", "event_type", "value",
        covariateType = "view", metricType = "purchase",
        splits = Seq("a" -> 0.5, "b" -> 0.5)),
      // CUPED: theta and every mean are one division of exact integer
      // moments; the adjustment composes them in the SAME fixed order as
      // the engine expression, so the doubles match bitwise.
      Some("""WITH u AS (SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY 1),
         v AS (SELECT user_id, x, y,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                      < 32768 THEN 'a' ELSE 'b' END AS variant
               FROM u),
         g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
               FROM v),
         a AS (SELECT variant, CAST(count(*) AS HUGEINT) AS na,
                 CAST(sum(x) AS HUGEINT) AS sxa, CAST(sum(y) AS HUGEINT) AS sya
               FROM v GROUP BY 1),
         j AS (SELECT a.*, g.n, g.sx, g.sy, g.sxx, g.sxy,
                 CASE WHEN g.n * g.sxx - g.sx * g.sx > 0 THEN
                   CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                   / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE) END AS theta,
                 CAST(a.sya AS DOUBLE) / CAST(a.na AS DOUBLE) AS mean_y,
                 CAST(a.sxa AS DOUBLE) / CAST(a.na AS DOUBLE) AS mean_x_arm,
                 CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE) AS mean_x_all
               FROM a CROSS JOIN g)
         SELECT variant, CAST(na AS BIGINT) AS n_users,
                CAST(sya AS BIGINT) AS sum_y_cents,
                CAST(sxa AS BIGINT) AS sum_x,
                theta,
                mean_y AS mean_y_cents,
                mean_y - theta * (mean_x_arm - mean_x_all) AS mean_y_adj_cents
         FROM j""")),

    // ----- Markov journey model: adjacent-transition counts and
    // exact-ratio probabilities per from-type ------------------------
    Q("q_markov_transitions", (s, dir) =>
      EventOps.markovTransitions(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id"),
      Some("""WITH adj AS (SELECT event_type AS from_type,
                lead(event_type, 1) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS to_type
            FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM adj
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
                CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
         FROM c""")),

    // ----- Windowed drift monitor (the streaming monitor's exact
    // semantics, oracle-checked on the batch frame): each day's
    // event-type mix vs the declared uniform reference --------------
    Q("q_window_drift", (s, dir) =>
      EventOps.streamingDriftChi2(Tables.events(s, dir), "event_type", "ts",
        windowLen = "1 day", watermark = "1 minute",
        expected = Seq("view" -> 1L, "click" -> 1L, "purchase" -> 1L,
          "signup" -> 1L, "error" -> 1L),
        threshold100 = 384L),
      Some("""WITH w AS (SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
                sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
                sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS ns,
                sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS ne
            FROM events GROUP BY 1),
         base AS (SELECT window_start, nv, nc, np, ns, ne,
                    nv + nc + np + ns + ne AS total FROM w),
         cells AS (
           SELECT window_start, 'view' AS event_type, nv AS n, total FROM base
           UNION ALL SELECT window_start, 'click', nc, total FROM base
           UNION ALL SELECT window_start, 'purchase', np, total FROM base
           UNION ALL SELECT window_start, 'signup', ns, total FROM base
           UNION ALL SELECT window_start, 'error', ne, total FROM base)
         SELECT window_start, event_type,
                CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
                (CAST(n AS HUGEINT) * 5 - CAST(total AS HUGEINT))
                  * (CAST(n AS HUGEINT) * 5 - CAST(total AS HUGEINT)) * 100
                  > 384 * CAST(total AS HUGEINT) * 5 AS drifted
         FROM cells""")),

    // ----- Multi-touch attribution: first/last/linear credit per
    // channel, exact cents (linear shares as floor micro-cents) -------
    Q("q_attribution", (s, dir) =>
      EventOps.attribution(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", "value", convType = "purchase",
        lookbackUs = 604800000000L),
      Some("""WITH b AS (SELECT user_id, event_type, ts, event_id, value,
                epoch_us(ts) AS us,
                coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS epoch
            FROM events),
         c AS (SELECT user_id, epoch, us AS conv_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
            FROM b WHERE event_type = 'purchase'
              AND value IS NOT NULL AND value >= 0),
         t AS (SELECT user_id, epoch, event_type AS channel, us, event_id
            FROM b WHERE event_type <> 'purchase'),
         j AS (SELECT t.channel, c.cents,
                 row_number() OVER (PARTITION BY t.user_id, t.epoch
                   ORDER BY t.us, t.event_id) AS rn_first,
                 row_number() OVER (PARTITION BY t.user_id, t.epoch
                   ORDER BY t.us DESC, t.event_id DESC) AS rn_last,
                 count(*) OVER (PARTITION BY t.user_id, t.epoch) AS n
            FROM t JOIN c ON t.user_id = c.user_id AND t.epoch = c.epoch
            WHERE c.conv_us - t.us <= 604800000000)
         SELECT channel, count(*) AS n_touches,
                CAST(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
                CAST(coalesce(sum(CASE WHEN rn_first = 1 THEN cents END), 0) AS BIGINT)
                  AS first_touch_cents,
                CAST(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
                CAST(coalesce(sum(CASE WHEN rn_last = 1 THEN cents END), 0) AS BIGINT)
                  AS last_touch_cents,
                CAST(sum((cents * 1000000) // n) AS BIGINT) AS linear_micro_cents
         FROM j GROUP BY 1""")),

    // ----- Categorical drift: chi-square homogeneity of event-type
    // mix across two periods, exact (num, den) decimal pair -----------
    Q("q_drift_chi2", (s, dir) =>
      EventOps.driftChi2(Tables.events(s, dir), "event_type", "ts",
        splitTs = "2024-01-16 00:00:00", threshold100 = 384L)
        // int128-scale integers cross engines as digit strings: a
        // double cast of >2^53 values risks engine rounding-mode
        // skew, and raw decimal-vs-HUGEINT trips type-sensitive
        // comparators; the drift decision itself stays exact above
        .withColumn("chi2_num", col("chi2_num").cast("string"))
        .withColumn("chi2_den", col("chi2_den").cast("string")),
      Some("""WITH p AS (SELECT event_type,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_b
            FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n_a) AS HUGEINT) AS ta,
                        CAST(sum(n_b) AS HUGEINT) AS tb FROM p),
         x AS (SELECT p.event_type, p.n_a, p.n_b,
                 CAST(p.n_a AS HUGEINT) * tb - CAST(p.n_b AS HUGEINT) * ta AS d,
                 CAST(p.n_a + p.n_b AS HUGEINT) * ta * tb AS den
            FROM p, tot)
         SELECT event_type, n_a, n_b,
                CAST(d * d AS VARCHAR) AS chi2_num,
                CAST(den AS VARCHAR) AS chi2_den,
                d * d * 100 > 384 * den AS drifted
         FROM x""")),

    // ----- AggregatingMergeTree analog: daily HLL sketch parts merged
    // back to per-type distincts (rows-only: sketch estimates are
    // engine-defined; merge==direct identity proved in SketchStoreSpec)
    Q("q_sketch_store", (s, dir) =>
      SketchStore.mergedDistinct(
        SketchStore.dailySketches(
          Tables.events(s, dir), Seq("event_type"), "ts", "user_id"),
        Seq("event_type")),
      None),

    // ----- The exact twin of the sketch store (uniqExactState
    // analog): daily parts carry the distinct values themselves, the
    // read-side merge counts them — merge-of-daily-states ≡ one-shot
    // aggregate over the union, hash-pinned against the oracle -------
    Q("q_sketch_store_exact", (s, dir) =>
      SketchStore.mergedDistinctExact(
        SketchStore.dailyExactParts(
          Tables.events(s, dir), Seq("event_type"), "ts", "user_id"),
        Seq("event_type")),
      // The store contract the approximate sketch path can't hash-pin:
      // merge of exact daily parts == one-shot distinct over the union.
      Some("""WITH parts AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id,
                CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2, 3)
         SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
                CAST(count(DISTINCT day) AS BIGINT) AS n_parts,
                CAST(sum(n) AS BIGINT) AS n_rows
         FROM parts GROUP BY 1""")),

    // ----- PIVOT: per-user event-type counts as fixed columns (the
    // pinned IN-list keeps the plan a single hash aggregate — no
    // second pivot pass, no driver-side distinct scan) -----------------
    Q("q_pivot", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L),
      Some("""SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         FROM events GROUP BY 1""")),

    // ----- Seasonality profile: hour-of-day x day-of-week load shape
    // per event type; 7x24 cells per type, one hash aggregate ---------
    Q("q_seasonality", (s, dir) =>
      EventOps.seasonalityProfile(Tables.events(s, dir), "event_type", "ts"),
      Some("""WITH cells AS (SELECT event_type,
                CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                CAST(hour(ts) AS BIGINT) AS hour_of_day,
                count(*) AS n
            FROM events GROUP BY 1, 2, 3)
         SELECT event_type, dow, hour_of_day, n,
                CAST(n AS DOUBLE)
                  / CAST(CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                         AS DOUBLE) AS share
         FROM cells""")),

    // ----- Benford first-digit audit per metric: exact counts from the
    // cents DECIMAL STRING, one division for the share ----------------
    Q("q_benford", (s, dir) =>
      EventOps.benfordDigits(Tables.events(s, dir), "event_type", "value"),
      Some("""WITH c AS (SELECT event_type, abs(CAST(round(value * 100) AS BIGINT)) AS v
                    FROM events WHERE value IS NOT NULL),
         d AS (SELECT event_type, substr(CAST(v AS VARCHAR), 1, 1) AS digit
               FROM c WHERE v > 0)
         SELECT event_type, digit, count(*) AS n,
                CAST(count(*) AS DOUBLE)
                  / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS share
         FROM d GROUP BY 1, 2""")),

    // ----- Whale gate: per-metric user-concentration HHI as one exact
    // rational division, with effective-user count ---------------------
    Q("q_concentration", (s, dir) =>
      EventOps.concentration(Tables.events(s, dir), "event_type", "user_id"),
      Some("""WITH pu AS (SELECT event_type, user_id, count(*) AS c
                     FROM events GROUP BY 1, 2)
         SELECT event_type, count(*) AS n_users,
                CAST(sum(c) AS BIGINT) AS n_events,
                CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
                  / CAST(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT) AS DOUBLE) AS hhi,
                1.0 / (CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
                       / CAST(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT) AS DOUBLE))
                  AS effective_users
         FROM pu GROUP BY 1""")),

    // ----- RFM segmentation: quintile scores over total orders so the
    // ntile edges are engine-deterministic ---------------------------
    Q("q_rfm", (s, dir) =>
      EventOps.rfm(Tables.events(s, dir), "user_id", "ts", "value",
        col("event_type") === "purchase"),
      Some("""WITH u AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
                count(*) AS frequency,
                CAST(sum(CASE WHEN event_type = 'purchase'
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS monetary_cents
            FROM events GROUP BY 1),
         a AS (SELECT max(epoch_us(ts)) AS as_of FROM events),
         r AS (SELECT u.user_id, u.frequency, u.monetary_cents,
                 CAST(floor((a.as_of - u.last_us) / 86400000000) AS BIGINT)
                   AS recency_days
               FROM u, a)
         SELECT user_id, recency_days, frequency, monetary_cents,
                CAST(6 - ntile(5) OVER (ORDER BY recency_days, user_id)
                     AS BIGINT) AS r_score,
                CAST(6 - ntile(5) OVER (ORDER BY frequency DESC, user_id)
                     AS BIGINT) AS f_score,
                CAST(6 - ntile(5) OVER (ORDER BY monetary_cents DESC, user_id)
                     AS BIGINT) AS m_score
         FROM r""")),

    // ----- Power-user curve: activity deciles and each decile's share
    // of all events ---------------------------------------------------
    Q("q_power_curve", (s, dir) =>
      EventOps.powerCurve(Tables.events(s, dir), "user_id"),
      Some("""WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         d AS (SELECT user_id, n,
                 CAST(ntile(10) OVER (ORDER BY n DESC, user_id) AS BIGINT)
                   AS decile
               FROM u),
         g AS (SELECT decile, count(*) AS n_users,
                 CAST(sum(n) AS BIGINT) AS n_events
               FROM d GROUP BY 1)
         SELECT decile, n_users, n_events,
                CAST(n_events AS DOUBLE)
                  / CAST(CAST(sum(n_events) OVER () AS BIGINT) AS DOUBLE)
                  AS event_share
         FROM g""")),

    // ----- DAU/MAU stickiness: two exact distinct grains joined on
    // the broadcast month side ---------------------------------------
    Q("q_stickiness", (s, dir) =>
      EventOps.stickiness(Tables.events(s, dir), "user_id", "ts"),
      Some("""WITH dau AS (SELECT time_bucket(INTERVAL '1 day', ts) AS day,
                time_bucket(INTERVAL '1 month', ts) AS m,
                count(DISTINCT user_id) AS dau
            FROM events GROUP BY 1, 2),
         mau AS (SELECT time_bucket(INTERVAL '1 month', ts) AS m,
                count(DISTINCT user_id) AS mau
            FROM events GROUP BY 1)
         SELECT dau.day, dau.dau, mau.mau,
                CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
         FROM dau JOIN mau USING (m)""")),

    // ----- Bounce rate per user over 12h-gap sessions ----------------
    Q("q_bounce_rate", (s, dir) =>
      SessionOps.bounceRate(
        SessionOps.sessionSummaries(
          Tables.events(s, dir), Seq("user_id"), "ts", "value", "12 hours"),
        Seq("user_id")),
      Some(s"""WITH $session12hCtes
         SELECT user_id, count(*) AS n_sessions,
                CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounces,
                CAST(CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bounce_rate
         FROM sess GROUP BY 1""")),

    // ----- Cohort LTV curve: first-seen-month cohorts, cumulative
    // purchase cents, per-user division -------------------------------
    Q("q_cohort_ltv", (s, dir) =>
      EventOps.cohortLtv(Tables.events(s, dir), "user_id", "ts", "value",
        col("event_type") === "purchase"),
      Some("""WITH coh AS (SELECT user_id,
                min(time_bucket(INTERVAL '1 month', ts)) AS cohort_month
            FROM events GROUP BY 1),
         sizes AS (SELECT cohort_month, count(*) AS cohort_users
                   FROM coh GROUP BY 1),
         pur AS (SELECT e.user_id,
                   time_bucket(INTERVAL '1 month', e.ts) AS m,
                   CAST(round(e.value * 100) AS BIGINT) AS cents,
                   c.cohort_month
                 FROM events e JOIN coh c USING (user_id)
                 WHERE e.event_type = 'purchase'),
         cells AS (SELECT cohort_month,
                     CAST((year(m) - year(cohort_month)) * 12
                          + (month(m) - month(cohort_month)) AS BIGINT)
                       AS months_since,
                     CAST(sum(cents) AS BIGINT) AS revenue_cents
                   FROM pur GROUP BY 1, 2),
         cum AS (SELECT cohort_month, months_since, revenue_cents,
                   CAST(sum(revenue_cents) OVER (PARTITION BY cohort_month
                     ORDER BY months_since
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_revenue_cents
                 FROM cells)
         SELECT cohort_month, months_since, revenue_cents, cum_revenue_cents,
                sizes.cohort_users,
                CAST(cum_revenue_cents AS DOUBLE)
                  / CAST(sizes.cohort_users AS DOUBLE) AS ltv_per_user
         FROM cum JOIN sizes USING (cohort_month)""")),

    // ----- Session-depth histogram over 12h-gap sessions -------------
    Q("q_session_depth", (s, dir) =>
      SessionOps.depthHistogram(
        SessionOps.sessionSummaries(
          Tables.events(s, dir), Seq("user_id"), "ts", "value", "12 hours")),
      Some(s"""WITH $session12hCtes,
         hist AS (SELECT ne AS depth, count(*) AS n_sessions
                  FROM sess GROUP BY 1)
         SELECT depth, n_sessions,
                CAST(n_sessions AS DOUBLE)
                  / CAST(CAST(sum(n_sessions) OVER () AS BIGINT) AS DOUBLE)
                  AS share
         FROM hist""")),

    // ----- windowFunnel strict_order mode: a link breaks when any
    // funnel-step event interleaves — same chained window minima, one
    // extra guard minimum per link, still one exchange ----------------
    Q("q_funnel_strict_order", strictFunnel("strict_order"),
      Some("""WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                 OVER w AS t1
               FROM base WINDOW w AS (PARTITION BY user_id)),
         b AS (SELECT *,
                 min(CASE WHEN event_type = 'click' AND us > t1
                       AND us <= t1 + 86400000000 THEN us END) OVER w AS raw2,
                 min(CASE WHEN event_type IN ('view', 'click', 'purchase')
                       AND us > t1 THEN us END) OVER w AS nx2
               FROM a WINDOW w AS (PARTITION BY user_id)),
         b2 AS (SELECT *, CASE WHEN raw2 = nx2 THEN raw2 END AS t2 FROM b),
         c AS (SELECT *,
                 min(CASE WHEN event_type = 'purchase' AND us > t2
                       AND us <= t1 + 86400000000 THEN us END) OVER w AS raw3,
                 min(CASE WHEN event_type IN ('view', 'click', 'purchase')
                       AND us > t2 THEN us END) OVER w AS nx3
               FROM b2 WINDOW w AS (PARTITION BY user_id)),
         c2 AS (SELECT *, CASE WHEN raw3 = nx3 THEN raw3 END AS t3 FROM c),
         u AS (SELECT user_id,
                 max(CASE WHEN t3 IS NOT NULL THEN 3
                          WHEN t2 IS NOT NULL THEN 2
                          WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS level
               FROM c2 GROUP BY 1)
         SELECT level, count(*) AS n_users FROM u GROUP BY 1""")),

    // ----- windowFunnel strict_dedup mode: a link breaks when the
    // previous step repeats before the next step fires ----------------
    Q("q_funnel_strict_dedup", strictFunnel("strict_dedup"),
      Some("""WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         a AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                 OVER w AS t1
               FROM base WINDOW w AS (PARTITION BY user_id)),
         b AS (SELECT *,
                 min(CASE WHEN event_type = 'click' AND us > t1
                       AND us <= t1 + 86400000000 THEN us END) OVER w AS raw2,
                 min(CASE WHEN event_type = 'view' AND us > t1 THEN us END)
                   OVER w AS dup2
               FROM a WINDOW w AS (PARTITION BY user_id)),
         b2 AS (SELECT *, CASE WHEN dup2 IS NULL OR raw2 < dup2
                                THEN raw2 END AS t2 FROM b),
         c AS (SELECT *,
                 min(CASE WHEN event_type = 'purchase' AND us > t2
                       AND us <= t1 + 86400000000 THEN us END) OVER w AS raw3,
                 min(CASE WHEN event_type = 'click' AND us > t2 THEN us END)
                   OVER w AS dup3
               FROM b2 WINDOW w AS (PARTITION BY user_id)),
         c2 AS (SELECT *, CASE WHEN dup3 IS NULL OR raw3 < dup3
                                THEN raw3 END AS t3 FROM c),
         u AS (SELECT user_id,
                 max(CASE WHEN t3 IS NOT NULL THEN 3
                          WHEN t2 IS NOT NULL THEN 2
                          WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS level
               FROM c2 GROUP BY 1)
         SELECT level, count(*) AS n_users FROM u GROUP BY 1""")),

    // ----- Training-set rows: trailing day-range features + a
    // strictly-future purchase label, all exact integers -------------
    Q("q_user_features", (s, dir) =>
      EventOps.rollingUserFeatures(Tables.events(s, dir), "user_id", "ts",
        "value", col("event_type") === "purchase"),
      Some("""WITH daily AS (
           SELECT user_id,
                  CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                       AS BIGINT) AS day_idx,
                  count(*) AS n_events,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS BIGINT) AS np,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS pc
           FROM events GROUP BY 1, 2)
         SELECT user_id, day_idx, n_events,
                CAST(sum(n_events) OVER w7 AS BIGINT) AS n_events_7d,
                CAST(sum(np) OVER w30 AS BIGINT) AS n_purchases_30d,
                CAST(sum(pc) OVER w30 AS BIGINT) AS purchase_cents_30d,
                CAST(coalesce(sum(np) OVER wn7, 0) AS BIGINT)
                  AS purchases_next_7d,
                CAST(coalesce(sum(np) OVER wn7, 0) AS BIGINT) > 0
                  AS label_next_7d
         FROM daily
         WINDOW
           w7 AS (PARTITION BY user_id ORDER BY day_idx
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
           w30 AS (PARTITION BY user_id ORDER BY day_idx
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW),
           wn7 AS (PARTITION BY user_id ORDER BY day_idx
                   RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING)""")),

    // ----- Point-in-time feature join: every purchase event picks up
    // the latest feature row whose availability day (feature day + 1 —
    // day-grain features publish at midnight) is on or before the
    // event's day. The as-of union-merge keeps it one shuffle; the +1
    // shift is what makes the join leak-free at day grain ------------
    Q("q_pit_features", (s, dir) => {
      val ev = Tables.events(s, dir)
      def dayOf(c: org.apache.spark.sql.Column) =
        floor(unix_micros(c).cast(DoubleType) / lit(86400000000.0)).cast(LongType)
      val features = EventOps.rollingUserFeatures(ev, "user_id", "ts", "value",
          col("event_type") === "purchase")
        .withColumn("t", col("day_idx") + 1)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), dayOf(col("ts")).as("t"))
      AsOfJoin.asof(
        left = purchases, right = features,
        keys = Seq("user_id"), tsCol = "t",
        leftPayload = Seq("event_id"),
        rightPayload = Seq("n_events_7d", "n_purchases_30d", "purchase_cents_30d"),
        prefix = "f_")
        .select(col("user_id"), col("t").as("event_day"), col("event_id"),
          col("f_ts").as("feature_available_day"), col("f_n_events_7d"),
          col("f_n_purchases_30d"), col("f_purchase_cents_30d"))
    },
      Some("""WITH daily AS (
           SELECT user_id,
                  CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                       AS BIGINT) AS day_idx,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS BIGINT) AS np,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS pc,
                  count(*) AS n_events
           FROM events GROUP BY 1, 2),
         feats AS (
           SELECT user_id, day_idx + 1 AS t,
                  CAST(sum(n_events) OVER w7 AS BIGINT) AS n_events_7d,
                  CAST(sum(np) OVER w30 AS BIGINT) AS n_purchases_30d,
                  CAST(sum(pc) OVER w30 AS BIGINT) AS purchase_cents_30d
           FROM daily
           WINDOW
             w7 AS (PARTITION BY user_id ORDER BY day_idx
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
             w30 AS (PARTITION BY user_id ORDER BY day_idx
                     RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)),
         purchases AS (
           SELECT user_id, event_id,
                  CAST(floor(CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0)
                       AS BIGINT) AS t
           FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, p.t AS event_day, p.event_id,
                f.t AS feature_available_day,
                f.n_events_7d AS f_n_events_7d,
                f.n_purchases_30d AS f_n_purchases_30d,
                f.purchase_cents_30d AS f_purchase_cents_30d
         FROM purchases p
         ASOF LEFT JOIN feats f
           ON p.user_id = f.user_id AND p.t >= f.t""")),

    // ----- Exact two-sample KS drift per event type: max CDF gap
    // before/after the split, decided entirely in integers -------------
    Q("q_ks_drift", (s, dir) =>
      EventOps.driftKs(Tables.events(s, dir), "event_type", "ts", "value",
        splitTs = "2024-01-16 00:00:00"),
      // KS numerators cross engines as digit strings (HUGEINT vs
      // decimal(38,0) trips type-sensitive hashing); the statistic and
      // flag derive from the same exact integers on both sides
      Some("""WITH v AS (SELECT event_type,
                CAST(round(value * 100) AS BIGINT) AS cents,
                CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS a
            FROM events WHERE value IS NOT NULL),
         pv AS (SELECT event_type, cents,
                  CAST(sum(a) AS BIGINT) AS ca,
                  CAST(sum(1 - a) AS BIGINT) AS cb
                FROM v GROUP BY 1, 2),
         c AS (SELECT event_type,
                 sum(ca) OVER w AS fa, sum(cb) OVER w AS fb,
                 CAST(sum(ca) OVER wt AS BIGINT) AS n_a,
                 CAST(sum(cb) OVER wt AS BIGINT) AS n_b
               FROM pv
               WINDOW w AS (PARTITION BY event_type ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      wt AS (PARTITION BY event_type)),
         m AS (SELECT event_type, max(n_a) AS n_a, max(n_b) AS n_b,
                 max(abs(CAST(fa AS HUGEINT) * n_b - CAST(fb AS HUGEINT) * n_a)) AS num
               FROM c GROUP BY 1)
         SELECT event_type, n_a, n_b,
                CAST(num AS VARCHAR) AS ks_num,
                CASE WHEN CAST(n_a AS HUGEINT) * n_b = 0 THEN NULL
                     ELSE CAST(num AS DOUBLE)
                          / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) END AS ks,
                num * num * 1000 >
                  1844 * CAST(n_a + n_b AS HUGEINT) * n_a * n_b AS drifted
         FROM m""")),

    // ----- Column-stats drift gate: null-rate / user-reach / value-
    // range movement per type between the same two cohorts -------------
    Q("q_stats_drift", (s, dir) =>
      EventOps.statsDrift(Tables.events(s, dir), "event_type", "ts", "value",
        "user_id", splitTs = "2024-01-16 00:00:00", thresholdMilli = 50L),
      Some("""WITH e AS (SELECT event_type, user_id, value,
                CAST(round(value * 100) AS BIGINT) AS cents,
                CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS a
            FROM events),
         p AS (SELECT event_type,
                 CAST(sum(a) AS BIGINT) AS n_a,
                 CAST(sum(1 - a) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN a = 1 AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_a,
                 CAST(sum(CASE WHEN a = 0 AND value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_b,
                 count(DISTINCT CASE WHEN a = 1 THEN user_id END) AS users_a,
                 count(DISTINCT CASE WHEN a = 0 THEN user_id END) AS users_b,
                 min(CASE WHEN a = 1 THEN cents END) AS lo_cents_a,
                 max(CASE WHEN a = 1 THEN cents END) AS hi_cents_a,
                 min(CASE WHEN a = 0 THEN cents END) AS lo_cents_b,
                 max(CASE WHEN a = 0 THEN cents END) AS hi_cents_b
               FROM e GROUP BY 1)
         SELECT event_type, n_a, n_b, null_a, null_b, users_a, users_b,
                lo_cents_a, hi_cents_a, lo_cents_b, hi_cents_b,
                CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                     ELSE CAST(abs(CAST(null_a AS HUGEINT) * n_b
                                   - CAST(null_b AS HUGEINT) * n_a) * 1000 AS DOUBLE)
                          / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) END
                  AS null_shift_milli,
                CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                     ELSE abs(CAST(null_a AS HUGEINT) * n_b
                              - CAST(null_b AS HUGEINT) * n_a) * 1000 >
                          50 * CAST(n_a AS HUGEINT) * n_b END AS null_drifted,
                lo_cents_b < lo_cents_a OR hi_cents_b > hi_cents_a AS range_widened
         FROM p""")),

    // ----- Spend concentration: exact Gini over per-user cents totals
    // ranked by the distributed exact ranker ---------------------------
    Q("q_gini", (s, dir) =>
      EventOps.giniConcentration(Tables.events(s, dir), "user_id", "value"),
      Some("""WITH t AS (SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL GROUP BY 1),
         r AS (SELECT x,
                 CAST(row_number() OVER (ORDER BY x, user_id) AS HUGEINT) AS i
               FROM t),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(i * x) AS HUGEINT) AS six
               FROM r)
         SELECT n_users, CAST(sx AS BIGINT) AS total_cents,
                CAST(2 * six - (n_users + 1) * sx AS VARCHAR) AS gini_num,
                CAST(CAST(n_users AS HUGEINT) * sx AS VARCHAR) AS gini_den,
                CASE WHEN n_users * sx = 0 THEN NULL
                     ELSE CAST(2 * six - (n_users + 1) * sx AS DOUBLE)
                          / CAST(CAST(n_users AS HUGEINT) * sx AS DOUBLE) END AS gini
         FROM m""")),

    // ----- 10% trimmed mean per type: robust center by exact rank
    // cuts — integer floor arithmetic on (rank, count) ----------------
    Q("q_trimmed_mean", (s, dir) =>
      EventOps.trimmedMean(Tables.events(s, dir), "event_type", "event_id",
        "value", trimPermille = 100L),
      Some("""WITH c AS (SELECT event_type, event_id,
                CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents, event_id) AS i,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM c)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                CAST(sum(cents) AS BIGINT) AS kept_cents,
                CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
                  AS trimmed_mean
         FROM r
         WHERE i > n * 100 // 1000 AND i <= n - n * 100 // 1000
         GROUP BY 1""")),

    // ----- Traffic burstiness: Fano factor + peak-to-mean of hourly
    // counts per type, exact integer moments --------------------------
    Q("q_burstiness", (s, dir) =>
      EventOps.burstiness(Tables.events(s, dir), "event_type", "ts"),
      Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
                 CAST(sum(c) AS HUGEINT) AS s,
                 CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
                 max(c) AS peak_hour_events
               FROM hourly GROUP BY 1)
         SELECT event_type, n_hours, CAST(s AS BIGINT) AS total_events,
                peak_hour_events,
                CAST(n_hours * s2 - s * s AS VARCHAR) AS fano_num,
                CASE WHEN n_hours * s = 0 THEN NULL
                     ELSE CAST(n_hours * s2 - s * s AS DOUBLE)
                          / CAST(n_hours * s AS DOUBLE) END AS fano,
                CASE WHEN s = 0 THEN NULL
                     ELSE CAST(CAST(peak_hour_events AS HUGEINT) * n_hours AS DOUBLE)
                          / CAST(s AS DOUBLE) END AS peak_to_mean
         FROM m""")),

    // ----- CUSUM change-point: WHERE the per-type value level shifted,
    // exact-integer argmax with smallest-index tie-break --------------
    Q("q_changepoint", (s, dir) =>
      EventOps.changePoint(Tables.events(s, dir), "event_type", "ts",
        "event_id", "value"),
      Some("""WITH c AS (SELECT event_type, ts, event_id,
                CAST(round(value * 100) AS BIGINT) AS y
            FROM events WHERE value IS NOT NULL),
         p AS (SELECT event_type, ts, event_id, y,
                 CAST(row_number() OVER w AS BIGINT) AS i,
                 CAST(sum(y) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                 CAST(sum(y) OVER (PARTITION BY event_type) AS HUGEINT) AS s
               FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
         d AS (SELECT event_type, ts, i, n, cum, s,
                 abs(cum * n - i * s) AS dstat
               FROM p WHERE i < n),
         best AS (SELECT event_type, n AS n_obs, ts AS change_ts,
                    i AS split_idx,
                    CAST(dstat AS VARCHAR) AS cusum_num,
                    CAST(cum AS DOUBLE) / CAST(i AS DOUBLE) / 100.0 AS mean_before,
                    CAST(s - cum AS DOUBLE) / CAST(n - i AS DOUBLE) / 100.0 AS mean_after,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY dstat DESC, i) AS rk
                  FROM d)
         SELECT event_type, n_obs, change_ts, split_idx, cusum_num,
                mean_before, mean_after
         FROM best WHERE rk = 1""")),

    // ----- Kaplan-Meier time-to-first-purchase by entry cohort: exact
    // risk sets and death counts, the survival product folded left-to-
    // right as a fixed IEEE tree (censoring handled, the estimator's
    // point) -------------------------------------------------------------
    Q("q_survival_km", (s, dir) =>
      EventOps.kaplanMeier(Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "purchase"),
      Some("""WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
                 max(CAST(ts AS DATE)) AS ld,
                 min(CASE WHEN event_type = 'purchase'
                     THEN CAST(ts AS DATE) END) AS ed
               FROM events GROUP BY 1),
         v AS (SELECT CAST(date_trunc('month', fd) AS DATE) AS cohort,
                 CAST(CASE WHEN ed IS NOT NULL THEN datediff('day', fd, ed)
                      ELSE datediff('day', fd, ld) END AS BIGINT)
                   AS duration_days,
                 CASE WHEN ed IS NOT NULL THEN 1 ELSE 0 END AS ch
               FROM u),
         g AS (SELECT cohort, duration_days,
                 CAST(count(*) AS BIGINT) AS na, CAST(sum(ch) AS BIGINT) AS d
               FROM v GROUP BY 1, 2),
         r AS (SELECT cohort, duration_days, d,
                 CAST(sum(na) OVER (PARTITION BY cohort
                   ORDER BY duration_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS n
               FROM g),
         e AS (SELECT * FROM r WHERE d > 0),
         k AS (SELECT cohort, duration_days, n AS n_at_risk, d AS n_churned,
                 list(struct_pack(d := d, n := n)) OVER (PARTITION BY cohort
                   ORDER BY duration_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
               FROM e)
         SELECT cohort, duration_days, n_at_risk, n_churned,
                list_reduce(list_transform(l,
                  x -> 1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)),
                  (a, b) -> a * b) AS km_survival,
                list_reduce(list_transform(l,
                  x -> CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)),
                  (a, b) -> a + b) AS na_cum_hazard
         FROM k""")),

    // ----- Seasonal value index: what an hour-of-day is WORTH vs the
    // type's average, exact cross-multiplied basis points ---------------
    Q("q_seasonal_index", (s, dir) =>
      EventOps.seasonalIndex(Tables.events(s, dir), "event_type", "ts", "value"),
      Some("""WITH ph AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT event_type, sum(n_events) AS nt, sum(sum_cents) AS st
               FROM ph GROUP BY 1)
         SELECT ph.event_type, ph.hour_of_day, ph.n_events, ph.sum_cents,
                CASE WHEN t.st <> 0 THEN
                  CAST(ph.sum_cents * t.nt * 10000 AS DOUBLE)
                  / CAST(ph.n_events * t.st AS DOUBLE)
                END AS index_bps
         FROM ph JOIN t USING (event_type)""")),

    // ----- Top-k leaderboard churn: day-over-day overlap of the top-10
    // users by value; ranks tie-broken on the key, day pairs by
    // observed-day lag so calendar holes don't fake churn ---------------
    Q("q_topk_churn", (s, dir) =>
      EventOps.topKSetChurn(
        Tables.events(s, dir), "user_id", "ts", "value", k = 10),
      Some("""WITH pd AS (SELECT CAST(ts AS DATE) AS day, user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
               FROM events GROUP BY 1, 2),
         tp AS (SELECT day, user_id FROM (
                  SELECT day, user_id, row_number() OVER (
                    PARTITION BY day ORDER BY v DESC, user_id) AS rn FROM pd)
                WHERE rn <= 10),
         dy AS (SELECT day, lag(day) OVER (ORDER BY day) AS prev_day
                FROM (SELECT DISTINCT day FROM tp)),
         dp AS (SELECT day, prev_day FROM dy WHERE prev_day IS NOT NULL),
         sz AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM tp GROUP BY 1),
         cm AS (SELECT dp.day, dp.prev_day, CAST(count(*) AS BIGINT) AS n_common
                FROM dp JOIN tp c ON c.day = dp.day
                WHERE EXISTS (SELECT 1 FROM tp p
                              WHERE p.day = dp.prev_day AND p.user_id = c.user_id)
                GROUP BY 1, 2)
         SELECT dp.day, dp.prev_day, s1.n AS k_today, s2.n AS k_prev,
                coalesce(cm.n_common, 0) AS n_common,
                s1.n - coalesce(cm.n_common, 0) AS n_new,
                CAST(coalesce(cm.n_common, 0) * 100 AS DOUBLE)
                  / CAST(s1.n + s2.n - coalesce(cm.n_common, 0) AS DOUBLE)
                  AS overlap_pct
         FROM dp JOIN sz s1 ON s1.day = dp.day
                 JOIN sz s2 ON s2.day = dp.prev_day
                 LEFT JOIN cm ON cm.day = dp.day AND cm.prev_day = dp.prev_day"""))
  )
}
