package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.Tables

/** The statistics and sketches queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object StatsQueries {
  val all: Seq[Q] = Seq(
    // ----- Approximate distinct (HLL sketch; rows-only, sketch values
    // differ across engines by design) --------------------------------
    Q("q_approx_distinct", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users")),
      None),

    // ----- HLL error-bound audit — the hash-checkable twin of
    // q_approx_distinct (the q_bpe_pinned pattern): the sketch VALUE is
    // engine-defined, but "the sketch landed within its advertised
    // error" is a deterministic boolean the oracle can assert as a
    // literal. Bound = 3× the default rsd (0.05), the standard ±3σ
    // envelope for HLL++'s estimator. --------------------------------
    Q("q_approx_distinct_audit", (s, dir) => {
      val rel = abs(col("approx_users").cast(DoubleType) -
        col("exact_users").cast(DoubleType)) /
        col("exact_users").cast(DoubleType)
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (rel <= 0.15).as("within_3rsd"), lit(0.15).as("bound"))
    },
      Some("""SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS within_3rsd,
         CAST(0.15 AS DOUBLE) AS bound
         FROM events GROUP BY 1""")),

    // ----- Percentiles (exact, interpolated) --------------------------
    // Exact interpolated percentiles via the spillable rank-selection
    // operator (bit-identical to the builtin percentile(), which
    // buffers whole groups in one in-memory array and OOMs on a hot
    // group — see RankOps.exactPercentilesCont) -----------------------
    Q("q_percentiles", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val qty = graft.operators.RankOps.exactPercentilesCont(
        li, Seq("l_returnflag"), "l_quantity",
        Seq(0.5), Seq("p50_qty"))
      val prc = graft.operators.RankOps.exactPercentilesCont(
        li, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.9, 0.99), Seq("p90_price", "p99_price")).drop("n")
      qty.join(broadcast(prc), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50_qty"),
          col("p90_price"), col("p99_price"), col("n"))
    },
      Some("""SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50_qty,
         quantile_cont(l_extendedprice, 0.9) AS p90_price,
         quantile_cont(l_extendedprice, 0.99) AS p99_price,
         count(*) AS n
         FROM lineitem GROUP BY 1""")),

    // ----- Approximate percentiles (rows-only: sketch internals are
    // engine-defined). The 100 TB variant of q_percentiles: exact
    // `percentile` buffers every group's values in memory, while the
    // Greenwald-Khanna sketch behind approx_percentile is fixed-size
    // and mergeable — partial aggregation works and no group can OOM
    // an executor. accuracy=10000 → ~0.01% rank error. --------------
    Q("q_approx_percentiles", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50_qty"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("p90_price"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99_price"),
          count(lit(1)).as("n")),
      None),

    // ----- GK error-bound audit — the hash-checkable twin of
    // q_approx_percentiles: the sketch returns a real data element
    // whose RANK is within ±1/accuracy of the target, so "the approx
    // value lies between the exact quantiles at rank p∓0.002" (20× the
    // sketch's ε, absorbing interpolation off-by-ones) is deterministic
    // and the oracle asserts it as a literal; the exact window edges
    // ride the already-proven percentile ≡ quantile_cont equality. ----
    // Exact legs via RankOps.exactPercentilesCont (spillable
    // sort-window rank selection, bit-identical to the builtin's
    // interpolation) — the builtin percentile() aggregate buffers the
    // whole group in one in-memory array and OOM'd the sf10 sweep on
    // a 60M-row group; the window form spills.
    Q("q_approx_percentiles_audit", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val approx = li.groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("__a50"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("__a90"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("__a99"),
          count(lit(1)).as("n"))
      val qty = graft.operators.RankOps.exactPercentilesCont(
        li, Seq("l_returnflag"), "l_quantity",
        Seq(0.498, 0.502), Seq("p50_lo", "p50_hi")).drop("n")
      val prc = graft.operators.RankOps.exactPercentilesCont(
        li, Seq("l_returnflag"), "l_extendedprice",
        Seq(0.898, 0.902, 0.988, 0.992),
        Seq("p90_lo", "p90_hi", "p99_lo", "p99_hi")).drop("n")
      approx.join(broadcast(qty), Seq("l_returnflag"))
        .join(broadcast(prc), Seq("l_returnflag"))
        .select(col("l_returnflag"),
          col("p50_lo"), col("p50_hi"),
          (col("__a50") >= col("p50_lo") && col("__a50") <= col("p50_hi"))
            .as("p50_in_bounds"),
          col("p90_lo"), col("p90_hi"),
          (col("__a90") >= col("p90_lo") && col("__a90") <= col("p90_hi"))
            .as("p90_in_bounds"),
          col("p99_lo"), col("p99_hi"),
          (col("__a99") >= col("p99_lo") && col("__a99") <= col("p99_hi"))
            .as("p99_in_bounds"),
          col("n"))
    },
      // The sketch audit: window edges are exact cross-engine; the
      // in-bounds booleans are the sketch's advertised contract, asserted
      // as literals (a Spark-side sketch regression turns the row red)
      Some("""SELECT l_returnflag,
         quantile_cont(l_quantity, 0.498) AS p50_lo,
         quantile_cont(l_quantity, 0.502) AS p50_hi,
         TRUE AS p50_in_bounds,
         quantile_cont(l_extendedprice, 0.898) AS p90_lo,
         quantile_cont(l_extendedprice, 0.902) AS p90_hi,
         TRUE AS p90_in_bounds,
         quantile_cont(l_extendedprice, 0.988) AS p99_lo,
         quantile_cont(l_extendedprice, 0.992) AS p99_hi,
         TRUE AS p99_in_bounds,
         count(*) AS n
         FROM lineitem GROUP BY 1""")),

    // ----- Moment statistics via exact cent sums ----------------------
    // stddev/avg computed from order-independent integer accumulations
    // (Welford order-sensitivity would break oracle hashing); the
    // squared-cents sum accumulates in DECIMAL(38,0) (HUGEINT on the
    // oracle side) — exact integers both sides, one double finish
    Q("q_price_stats", (s, dir) => {
      val C = graft.functions.Cents
      val li = Tables.lineitem(s, dir)
      val c = C.cents(col("l_extendedprice"))
      li.groupBy(col("l_returnflag"))
        .agg(
          sum(c).as("__s"),
          // one operand pre-cast to decimal: a Long*Long square wraps
          // silently under non-ANSI Spark past ~2^31.5 cents (~$30M)
          // while the oracle's BIGINT*BIGINT raises — the decimal
          // multiply is exact on both engines at any magnitude
          sum(c.cast(DecimalType(38, 0)) * c).as("__s2"),
          count(lit(1)).as("n"))
        .select(
          col("l_returnflag"), col("n"),
          (C.centsToMoney(col("__s")) / col("n")).as("avg_price"),
          // floored micro-units: a last-ulp difference in the exact-
          // integer-to-double finish must not flip the hash
          floor(sqrt(
            (col("__s2").cast(DoubleType) / 10000.0 -
              C.centsToMoney(col("__s")) * C.centsToMoney(col("__s")) / col("n")) /
              (col("n") - 1)) * 1000000.0).cast(LongType).as("stddev_price_micros"))
    },
      Some("""SELECT l_returnflag, count(*) AS n,
         (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*) AS avg_price,
         CAST(floor(sqrt((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
               - (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                 * (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*))
              / (count(*) - 1)) * 1000000.0) AS BIGINT) AS stddev_price_micros
         FROM lineitem GROUP BY 1""")),

    // ----- Heavy hitters via the space-saving sketch (ClickHouse topK
    // analog). capacity 4096 >= distinct users at test SFs, so the
    // sketch is EXACT here and fully hash-checked against the exact
    // group-count oracle; at 100 TB the same aggregate runs with the
    // same fixed memory where an exact groupBy may not. --------------
    Q("q_topk_sketch", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id").cast("string").as("u"))
        .agg(graft.functions.TopKItems.topk_items(col("u"), 10, 4096).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.item").as("user_id"), col("t.cnt").as("n_events")),
      Some("""SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS n_events
         FROM events GROUP BY 1
         ORDER BY n_events DESC, user_id LIMIT 10""")),

    // ----- Exact per-group median: cents-integer midpoint of the two
    // middle order statistics — no approx sketch, reproducible ---------
    Q("q_exact_median", (s, dir) => {
      val e = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          round(col("value") * 100).cast(LongType).as("__cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("__cents"))
      e.select(col("event_type"), col("__cents"),
        row_number().over(w).as("__rn"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type")))
          .as("__n"))
        .filter(col("__rn") === expr("(__n + 1) div 2") ||
          col("__rn") === expr("__n div 2 + 1"))
        .groupBy(col("event_type"))
        .agg(max(col("__n")).as("n_values"),
          (sum(col("__cents")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType) / 100.0).as("median"))
    },
      Some("""WITH c AS (SELECT event_type,
                CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM c)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_values,
                CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0 AS median
         FROM r
         WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
         GROUP BY 1""")),

    // ----- Fixed-width value histogram per event type: exact integer
    // bin edges (floor of cents/5000), zero-shuffle bin assignment -----
    Q("q_value_histogram", (s, dir) =>
      Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT) div 5000").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi")),
      Some("""SELECT event_type,
                CAST(round(value * 100) AS BIGINT) // 5000 AS bin,
                count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM events WHERE value IS NOT NULL
         GROUP BY 1, 2""")),

    // ----- Equi-depth histogram of line revenue: 16 equal-count value
    // buckets from the DISTRIBUTED exact ntile (no single-task sort) ---
    Q("q_equidepth_hist", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      graft.operators.RankOps.distributedNtile(li,
        Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        // raw-fact input: pin the range exchange at session width (the
        // rank stage is the compute bill; AQE had coalesced the 8 MB
        // shuffle to ONE task — 1.76 -> 1.04 s at sf0.1, round-15)
        buckets = 16, outCol = "bucket", pinWidth = true)
        .groupBy(col("bucket").cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"),
          sum(col("cents").cast(DecimalType(38, 0))).cast(LongType)
            .as("sum_cents"))
    },
      Some("""WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                l_orderkey, l_linenumber
            FROM lineitem),
         t AS (SELECT cents,
                 CAST(ntile(16) OVER (ORDER BY cents, l_orderkey, l_linenumber)
                      AS BIGINT) AS bucket
               FROM c)
         SELECT bucket, count(*) AS n,
                min(cents) AS lo_cents, max(cents) AS hi_cents,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM t GROUP BY 1""")),

    // ----- Lorenz curve deciles: the distribution behind q_gini —
    // cumulative spend share per user-decile, deciles from the
    // distributed exact ntile, shares one division each -------------
    Q("q_lorenz_deciles", (s, dir) => {
      val dec = DecimalType(38, 0)
      val totals = Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast(LongType)).as("__x"))
      val tiled = graft.operators.RankOps.distributedNtile(totals,
        Seq(col("__x"), col("user_id")), buckets = 10, outCol = "decile")
      val perDecile = tiled
        .groupBy(col("decile").cast(LongType).as("decile"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("__x").cast(dec)).cast(LongType).as("decile_cents"))
      // 10-row frame: the unpartitioned windows here order DECILES,
      // not users — same bounded shape as RankOps' offset frame
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wTot = org.apache.spark.sql.expressions.Window.partitionBy()
      perDecile
        .withColumn("cum_cents", sum(col("decile_cents")).over(wCum))
        .withColumn("total_cents", sum(col("decile_cents")).over(wTot))
        .select(col("decile"), col("n_users"), col("decile_cents"),
          col("cum_cents"),
          (col("cum_cents").cast(DoubleType) /
            col("total_cents").cast(DoubleType)).as("cum_share"))
    },
      Some("""WITH t AS (SELECT user_id,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL GROUP BY 1),
         d AS (SELECT x,
                 CAST(ntile(10) OVER (ORDER BY x, user_id) AS BIGINT) AS decile
               FROM t),
         p AS (SELECT decile, count(*) AS n_users,
                 CAST(sum(x) AS BIGINT) AS decile_cents
               FROM d GROUP BY 1)
         SELECT decile, n_users, decile_cents,
                CAST(sum(decile_cents) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum_cents,
                CAST(sum(decile_cents) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(sum(decile_cents) OVER () AS DOUBLE) AS cum_share
         FROM p""")),

    // ----- Global five-number summary by EXACT distributed order
    // statistics: rank selection at ceil(n*p) over the range-
    // partitioned ranking — no approx sketch, no one-task sort -------
    Q("q_five_number", (s, dir) => {
      val t = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(round(col("value") * 100).cast(LongType).as("cents"),
          col("event_id"))
      val ranked = graft.operators.RankOps.distributedRank(
        t, Seq(col("cents"), col("event_id")), "__r")
      val n = ranked.agg(count(lit(1)).as("__n"))
      ranked.join(broadcast(n))
        .agg(
          max(col("__n")).as("n_values"),
          max(when(col("__r") === 1, col("cents"))).as("min_cents"),
          max(when(col("__r") === expr("(__n + 3) div 4"), col("cents")))
            .as("p25_cents"),
          max(when(col("__r") === expr("(__n + 1) div 2"), col("cents")))
            .as("median_cents"),
          max(when(col("__r") === expr("(3 * __n + 3) div 4"), col("cents")))
            .as("p75_cents"),
          max(when(col("__r") === col("__n"), col("cents"))).as("max_cents"))
    },
      Some("""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
            FROM events WHERE value IS NOT NULL),
         r AS (SELECT cents,
                 CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT) AS i,
                 CAST(count(*) OVER () AS BIGINT) AS n
               FROM c)
         SELECT max(n) AS n_values,
                max(CASE WHEN i = 1 THEN cents END) AS min_cents,
                max(CASE WHEN i = (n + 3) // 4 THEN cents END) AS p25_cents,
                max(CASE WHEN i = (n + 1) // 2 THEN cents END) AS median_cents,
                max(CASE WHEN i = (3 * n + 3) // 4 THEN cents END) AS p75_cents,
                max(CASE WHEN i = n THEN cents END) AS max_cents
         FROM r""")),

    // ----- Ship-delay SLA: exact p50/p90/p99 of integer delay days per
    // priority via the value histogram — no per-group sort, no approx --
    Q("q_ship_delay_sla", (s, dir) => {
      val delays = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast(LongType)
            .as("delay_days"))
      graft.operators.RankOps.histogramPercentiles(
        delays, Seq("o_orderpriority"), "delay_days", Seq(50, 90, 99))
    },
      Some("""WITH d AS (SELECT o.o_orderpriority,
                 CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
                   AS delay_days
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         h AS (SELECT o_orderpriority, delay_days, CAST(count(*) AS BIGINT) AS n
               FROM d GROUP BY 1, 2),
         c AS (SELECT o_orderpriority, delay_days, n,
                 CAST(sum(n) OVER (PARTITION BY o_orderpriority
                   ORDER BY delay_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum,
                 CAST(sum(n) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS tot
               FROM h)
         SELECT o_orderpriority, max(tot) AS n_values,
                min(CASE WHEN cum * 100 >= tot * 50 THEN delay_days END) AS p50,
                min(CASE WHEN cum * 100 >= tot * 90 THEN delay_days END) AS p90,
                min(CASE WHEN cum * 100 >= tot * 99 THEN delay_days END) AS p99
         FROM c GROUP BY 1""")),

    // ----- Demand-slope screen: OLS of quantity on observed unit price
    // per part type — the betaVsBenchmark co-moment pattern on a
    // dimension join ----------------------------------------------------
    Q("q_price_elasticity", (s, dir) => {
      val dec = DecimalType(38, 0)
      val up = round(col("l_extendedprice") * 100 / col("l_quantity"))
        .cast(LongType)
      val qty = round(col("l_quantity")).cast(LongType)
      val base = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 0)
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_type"), up.as("__x"), qty.as("__y"))
      val n = count(lit(1))
      val sx = sum(col("__x").cast(dec))
      val sy = sum(col("__y").cast(dec))
      val sxy = sum((col("__x") * col("__y")).cast(dec))
      val sxx = sum((col("__x") * col("__x")).cast(dec))
      base.groupBy(col("p_type"))
        .agg(
          n.as("n_lines"),
          sx.cast(LongType).as("sum_price_cents"),
          sy.cast(LongType).as("sum_qty"),
          when(n * sxx - sx * sx > 0,
            (n * sxy - sx * sy).cast(DoubleType) /
              (n * sxx - sx * sx).cast(DoubleType))
            .as("demand_slope"))
    },
      Some("""WITH b AS (SELECT p.p_type,
                 CAST(round(l.l_extendedprice * 100 / l.l_quantity) AS BIGINT) AS x,
                 CAST(round(l.l_quantity) AS BIGINT) AS y
               FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
               WHERE l.l_quantity > 0),
         g AS (SELECT p_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
               FROM b GROUP BY 1)
         SELECT p_type, CAST(n AS BIGINT) AS n_lines,
                CAST(sx AS BIGINT) AS sum_price_cents,
                CAST(sy AS BIGINT) AS sum_qty,
                CASE WHEN n * sxx - sx * sx > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                END AS demand_slope
         FROM g""")),

    // ----- ABC / Pareto classes over part value: distributed prefix
    // sum + integer cross-multiplied class cuts, no float shares --------
    Q("q_abc_classes", (s, dir) => {
      val dec = DecimalType(38, 0)
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType).cast(dec))
          .cast(LongType).as("value_cents"))
      graft.operators.RankOps.abcClasses(perPart, "l_partkey", "value_cents")
    },
      Some("""WITH p AS (SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
               FROM lineitem GROUP BY 1),
         t AS (SELECT sum(value_cents) AS tot FROM p),
         c AS (SELECT l_partkey, value_cents,
                 CAST(sum(value_cents) OVER (ORDER BY value_cents DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_value
               FROM p)
         SELECT l_partkey, value_cents, cum_value,
                CASE WHEN cum_value * 100 <= tot * 80 THEN 'A'
                     WHEN cum_value * 100 <= tot * 95 THEN 'B'
                     ELSE 'C' END AS abc_class
         FROM c CROSS JOIN t"""))
  )
}
