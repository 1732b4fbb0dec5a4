package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{CandleOps, GapOps, IngestOps}
import graft.sources.Tables

/** The candles and gaps queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object CandleQueries {
  private val anchor = "2024-01-31 00:00:00" // deterministic "now" (events end 2024-01-30)

  /** Oracle for q_rollup_gap_scan, generated per grain: bucket events
    * once at 1m, re-bucket per grain, grid anti-join, collapse missing
    * runs — the same cascade shape as the Spark side.
    */
  private def gapScanOracleSql: String = {
    val grains = graft.model.Timeframe.RollupGrains
    val ctes = grains.map { g =>
      val l = g.label; val i = g.sparkInterval
      s"""o_$l AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '$i', b0) AS b FROM obs0),
         x_$l AS (SELECT user_id, b, lag(b) OVER (PARTITION BY user_id ORDER BY b) AS prev
                  FROM o_$l)"""
    }
    val stepUs = (g: graft.model.Timeframe) => g.seconds * 1000000L
    val selects = grains.map { g =>
      s"""SELECT user_id, '${g.label}' AS grain,
          prev + INTERVAL '${g.sparkInterval}' AS range_start,
          b - INTERVAL '${g.sparkInterval}' AS range_end,
          CAST((epoch_us(b) - epoch_us(prev)) // ${stepUs(g)} - 1 AS BIGINT) AS n_missing
          FROM x_${g.label}
          WHERE prev IS NOT NULL AND epoch_us(b) - epoch_us(prev) > ${stepUs(g)}"""
    }
    "WITH obs0 AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '1 minute', ts) AS b0 FROM events),\n" +
      ctes.mkString(",\n") + "\n" + selects.mkString("\nUNION ALL\n")
  }

  /** Hourly closes per user on a gap-free grid from each user's first
    * to last bucket (`r1h`, `span`, `grid`): the resample oracles' base.
    */
  private val hourlyGridCtes: String =
    """r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
                  FROM r1h GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket_ts
                  FROM span)"""

  val all: Seq[Q] = Seq(
    // ----- A5 flagship: per-grain OHLCV rollup ------------------------
    Q("q_ohlcv_rollup_15m", (s, dir) =>
      CandleOps.ohlcvRollup(Tables.events(s, dir), Seq("user_id"), "ts", "value", "15 minutes"),
      Some("""SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts,
         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         arg_max(value, ts) AS close,
         (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS volume,
         count(*) AS trades
         FROM events GROUP BY 1, 2""")),
    Q("q_ohlcv_rollup_1h", (s, dir) =>
      CandleOps.ohlcvRollup(Tables.events(s, dir), Seq("event_type", "user_id"), "ts", "value", "1 hour"),
      Some("""SELECT event_type, user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         arg_max(value, ts) AS close,
         (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS volume,
         count(*) AS trades
         FROM events GROUP BY 1, 2, 3""")),

    // ----- A6: cascade re-aggregation (15m rollup -> 1h) --------------
    Q("q_rollup_cascade_15m_to_1h", (s, dir) => {
      val r15 = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "15 minutes", withCarriers = true)
      val r1h = CandleOps.cascadeRollup(r15, Seq("user_id"), "bucket_ts", "1 hour")
      CandleOps.finishRollup(r1h, Seq("user_id"))
    },
      Some("""WITH r15 AS (
           SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS b,
                  arg_min(value, ts) AS open, min(ts) AS open_ts,
                  max(value) AS high, min(value) AS low,
                  arg_max(value, ts) AS close, max(ts) AS close_ts,
                  sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vol_cents, count(*) AS trades
           FROM events GROUP BY 1, 2)
         SELECT user_id, time_bucket(INTERVAL '1 hour', b) AS bucket_ts,
                arg_min(open, open_ts) AS open, max(high) AS high, min(low) AS low,
                arg_max(close, close_ts) AS close,
                CAST(sum(vol_cents) AS DOUBLE) / 100 AS volume,
                CAST(sum(trades) AS BIGINT) AS trades
         FROM r15 GROUP BY 1, 2""")),

    // ----- B2: last-writer-wins dedup (FINAL) -------------------------
    Q("q_dedup_latest", (s, dir) => {
      val e = Tables.events(s, dir).withColumn("minute_ts", date_trunc("minute", col("ts")))
      CandleOps.latestByKeyAgg(e, Seq("user_id", "minute_ts"), "event_id", Seq("event_type", "value", "ts"))
    },
      Some("""SELECT user_id, date_trunc('minute', ts) AS minute_ts,
         arg_max(event_type, event_id) AS event_type,
         arg_max(value, event_id) AS value,
         arg_max(ts, event_id) AS ts,
         max(event_id) AS event_id
         FROM events GROUP BY 1, 2""")),

    // ----- B1/W1: recent-window top-k snapshot ------------------------
    Q("q_recent_topk", (s, dir) =>
      CandleOps.recentTopK(Tables.events(s, dir), 400, Seq(col("ts").desc, col("event_id").desc)),
      Some("SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 400")),

    // ----- B4: latest row per key -------------------------------------
    Q("q_latest_per_key", (s, dir) =>
      CandleOps.latestPerKey(Tables.events(s, dir), Seq("user_id"), "ts", Seq("event_type", "value", "event_id")),
      Some("""SELECT user_id, arg_max(event_type, ts) AS event_type,
         arg_max(value, ts) AS value, arg_max(event_id, ts) AS event_id,
         max(ts) AS last_ts
         FROM events GROUP BY 1""")),

    // ----- A4: distinct universe --------------------------------------
    Q("q_distinct_pairs", (s, dir) =>
      Tables.events(s, dir).select("user_id", "event_type").distinct(),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // ----- A3: exact distinct count in a range ------------------------
    Q("q_count_distinct_range", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy(col("user_id"))
        .agg(countDistinct(date_trunc("minute", col("ts"))).as("n_buckets")),
      Some("""SELECT user_id, count(DISTINCT date_trunc('minute', ts)) AS n_buckets
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY 1""")),

    // ----- A1: earliest per key (backfill resume point) ---------------
    Q("q_earliest_per_symbol", (s, dir) =>
      CandleOps.earliestPerKey(
        Tables.events(s, dir).filter(col("event_type") === "click"), Seq("user_id"), "ts"),
      Some("""SELECT user_id, min(ts) AS earliest_ts FROM events
         WHERE event_type = 'click' GROUP BY 1""")),

    // ----- A2: available source window --------------------------------
    Q("q_minmax_window", (s, dir) =>
      CandleOps.minMaxWindow(
        Tables.events(s, dir), col("user_id") === 7 && col("event_type") === "view", "ts"),
      Some("""SELECT min(ts) AS window_start, max(ts) AS window_end, count(*) AS n_rows
         FROM events WHERE user_id = 7 AND event_type = 'view'""")),

    // ----- B3: one symbol's full history (pushed-down equality) -------
    Q("q_symbol_history", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") === 42 && col("event_type") === "view")
        .orderBy(col("ts"))
        .select("event_id", "ts", "user_id", "event_type", "value"),
      Some("""SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE user_id = 42 AND event_type = 'view' ORDER BY ts""")),

    // ----- B5: IN-list + time-range predicate -------------------------
    Q("q_filter_in_range", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id").isin(1, 2, 3, 5, 8, 13) &&
          col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value"),
      Some("""SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE user_id IN (1, 2, 3, 5, 8, 13) AND ts >= TIMESTAMP '2024-01-15 00:00:00'""")),

    // ----- P3: CHECK-constraint validation ----------------------------
    Q("q_validate_filter", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val valid = IngestOps.isFinite(col("l_quantity")) && col("l_quantity") > 0 &&
        IngestOps.isFinite(col("l_extendedprice")) && col("l_extendedprice") >= 0 &&
        col("l_discount") >= 0 && col("l_discount") <= 1 && col("l_tax") >= 0 &&
        col("l_returnflag").isin("A", "N", "R") && length(col("l_linestatus")) > 0
      IngestOps.validate(li, valid)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag")
    },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag
         FROM lineitem
         WHERE isfinite(l_quantity) AND l_quantity > 0
           AND isfinite(l_extendedprice) AND l_extendedprice >= 0
           AND l_discount >= 0 AND l_discount <= 1 AND l_tax >= 0
           AND l_returnflag IN ('A', 'N', 'R') AND length(l_linestatus) > 0""")),

    // ----- P2: symbol whitelist/substring/blacklist filter ------------
    Q("q_symbol_filter", (s, dir) =>
      IngestOps.filterSymbols(
        Tables.part(s, dir).select("p_partkey", "p_name", "p_brand", "p_type"),
        "p_name", whitelist = Seq.empty, symbolType = "ring", blacklist = Seq("small ring")),
      Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part
         WHERE contains(p_name, 'ring') AND p_name NOT IN ('small ring')
         ORDER BY p_name""")),

    // ----- G2 flagship #2: expected-grid anti-join --------------------
    Q("q_missing_buckets", (s, dir) =>
      GapOps.missingBuckets(Tables.events(s, dir), Seq("user_id"), "ts", "1 hour"),
      Some("""WITH obs AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts FROM events),
         b AS (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM obs GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts FROM b)
         SELECT grid.user_id, grid.bucket_ts FROM grid ANTI JOIN obs USING (user_id, bucket_ts)""")),

    // ----- G3/W4: gaps-and-islands range collapse ---------------------
    Q("q_gap_ranges", (s, dir) =>
      GapOps.islandRanges(Tables.events(s, dir), Seq("user_id"), "ts", "1 hour", 3600L),
      Some("""WITH obs AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS b FROM events),
         x AS (SELECT user_id, b,
                 CASE WHEN lag(b) OVER w IS NULL OR b - lag(b) OVER w > INTERVAL '1 hour'
                      THEN 1 ELSE 0 END AS ni
               FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY b)),
         y AS (SELECT user_id, b,
                 sum(ni) OVER (PARTITION BY user_id ORDER BY b ROWS UNBOUNDED PRECEDING) AS island_id
               FROM x)
         SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
                min(b) AS range_start, max(b) AS range_end, count(*) AS n_buckets
         FROM y GROUP BY 1, 2""")),

    // ----- R4/R5: the reference's per-grain data-quality loop over all
    // 8 maintained rollup grains, as one query ------------------------
    Q("q_rollup_gap_scan", (s, dir) =>
      GapOps.multiGrainGapScan(
        Tables.events(s, dir), Seq("user_id"), "ts",
        graft.model.Timeframe.RollupGrains),
      Some(gapScanOracleSql)),

    // ----- S7: quality-alert feed (gap + staleness findings as alert
    // rows; the reference's notifier messages as data) ----------------
    Q("q_alerts", (s, dir) =>
      graft.operators.AlertOps.qualityAlerts(
        Tables.events(s, dir), Seq("user_id"), "ts",
        graft.model.Timeframe.RollupGrains,
        lit(anchor).cast("timestamp"),
        staleThresholdUs = 120000000L, minMissing = 60L),
      Some(s"""WITH gaps AS (
         $gapScanOracleSql
         ),
         fresh AS (SELECT user_id, max(ts) AS last_ts,
                     epoch_us(TIMESTAMP '$anchor') - epoch_us(max(ts)) AS lag_us
                   FROM events GROUP BY 1)
         SELECT 'gap' AS alert_type, 'warn' AS severity,
                CAST(user_id AS VARCHAR) AS entity, grain, n_missing AS n,
                printf('missing %d buckets from %s to %s', n_missing,
                  strftime(range_start, '%Y-%m-%d %H:%M:%S'),
                  strftime(range_end, '%Y-%m-%d %H:%M:%S')) AS detail
         FROM gaps WHERE n_missing >= 60
         UNION ALL
         SELECT 'stale', 'crit', CAST(user_id AS VARCHAR),
                CAST(NULL AS VARCHAR), lag_us,
                printf('no data since %s (lag %d s)',
                  strftime(last_ts, '%Y-%m-%d %H:%M:%S'), lag_us // 1000000)
         FROM fresh WHERE lag_us > 120000000""")),

    // ----- G4: freshness watchdog -------------------------------------
    Q("q_freshness_lag", (s, dir) =>
      GapOps.freshnessLag(
        Tables.events(s, dir), Seq("user_id"), "ts",
        lit(anchor).cast("timestamp"), 120000000L),
      Some(s"""SELECT user_id, max(ts) AS last_ts,
          epoch_us(TIMESTAMP '$anchor') - epoch_us(max(ts)) AS lag_us,
          (epoch_us(TIMESTAMP '$anchor') - epoch_us(max(ts))) > 120000000 AS is_stale
          FROM events GROUP BY 1""")),

    // ----- G5: floor-to-grain utilities -------------------------------
    Q("q_floor_to_grain", (s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") <= 5)
        .select(
          col("user_id"), col("ts"),
          CandleOps.floorToGrain(col("ts"), "15 minutes").as("bucket_15m"),
          date_trunc("hour", col("ts")).as("bucket_1h"),
          date_trunc("day", col("ts")).as("bucket_1d")),
      Some("""SELECT user_id, ts, time_bucket(INTERVAL '15 minutes', ts) AS bucket_15m,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_1h,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_1d
         FROM events WHERE user_id <= 5""")),

    // ----- P4: backfill chunk planner ---------------------------------
    Q("q_backfill_chunks", (s, dir) =>
      GapOps.backfillChunks(
        Tables.events(s, dir), Seq("user_id"), "ts",
        lit("2024-01-01 00:00:00").cast("timestamp"), "1 hour", "6 hours"),
      Some("""WITH e AS (SELECT user_id, time_bucket(INTERVAL '1 hour', min(ts)) AS earliest FROM events GROUP BY 1),
         g AS (SELECT user_id, earliest,
                 unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00', earliest, INTERVAL '6 hours')) AS chunk_start
               FROM e WHERE earliest > TIMESTAMP '2024-01-01 00:00:00')
         SELECT user_id, chunk_start,
                least(chunk_start + INTERVAL '6 hours', earliest) AS chunk_end
         FROM g WHERE chunk_start < earliest""")),

    // ----- P5: listing diff (set difference both ways) ----------------
    Q("q_listing_diff", (s, dir) => {
      // Two hour-slice "listing snapshots" of the active-user universe —
      // sparse enough that both diff directions are non-empty.
      val e = Tables.events(s, dir)
      val cur = e.filter(col("ts") >= lit("2024-01-15 12:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 13:00:00").cast("timestamp"))
      val known = e.filter(col("ts") >= lit("2024-01-15 11:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 12:00:00").cast("timestamp"))
      GapOps.listingDiff(cur, known, Seq("user_id"))
    },
      Some("""WITH cur AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 12:00:00' AND ts < TIMESTAMP '2024-01-15 13:00:00'),
         kn AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 11:00:00' AND ts < TIMESTAMP '2024-01-15 12:00:00')
         SELECT user_id, 'added' AS status FROM cur ANTI JOIN kn USING (user_id)
         UNION ALL
         SELECT user_id, 'removed' AS status FROM kn ANTI JOIN cur USING (user_id)""")),

    // ----- Ranking: volume rank per day ------------------------------
    Q("q_rank_by_volume", (s, dir) => {
      val daily = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day",
        withCarriers = true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket_ts"))
        .orderBy(col("vol_cents").desc, col("user_id"))
      daily.select(
        col("bucket_ts"), col("user_id"),
        graft.functions.Cents.centsToMoney(col("vol_cents")).as("volume"),
        row_number().over(w).as("vol_rank"))
        .filter(col("vol_rank") <= 10)
    },
      Some("""WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
                  sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vol_cents
           FROM events GROUP BY 1, 2)
         SELECT bucket_ts, user_id, CAST(vol_cents AS DOUBLE) / 100 AS volume, vol_rank FROM (
           SELECT bucket_ts, user_id, vol_cents,
                  CAST(row_number() OVER (PARTITION BY bucket_ts
                       ORDER BY vol_cents DESC, user_id) AS INT) AS vol_rank
           FROM daily)
         WHERE vol_rank <= 10""")),

    // ----- B2 window-form dedup (full-row FINAL) ----------------------
    Q("q_dedup_window", (s, dir) => {
      val e = Tables.events(s, dir).withColumn("minute_ts", date_trunc("minute", col("ts")))
      CandleOps.latestByKey(e, Seq("user_id", "minute_ts"), "event_id")
        .select("event_id", "ts", "user_id", "event_type", "value", "props", "minute_ts")
    },
      Some("""SELECT event_id, ts, user_id, event_type, value, props, minute_ts FROM (
           SELECT *, date_trunc('minute', ts) AS minute_ts,
                  row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
                                     ORDER BY event_id DESC) AS rn
           FROM events)
         WHERE rn = 1""")),

    // ----- Z-order layout audit: interleave (user, hour) and report
    // per-z-bucket extents — the min/max file stats a z-clustered
    // write would expose for two-dimensional scan pruning ------------
    Q("q_zorder_stats", (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("hr", expr("unix_micros(ts) div 3600000000"))
      e.withColumn("zval",
          graft.functions.ZValue.z_value(col("user_id"), col("hr")))
        .select(shiftright(col("zval"), 12).as("z_bucket"),
          col("user_id"), col("hr"))
        .groupBy("z_bucket")
        .agg(count(lit(1)).as("n_events"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("hr").as("min_hr"), max("hr").as("max_hr"))
    },
      // Bit-interleave restated as a sum of disjoint-bit terms (one per
      // input bit position) — exactly the spread-merge the codegen'd
      // ZValue expression computes.
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
         z AS (SELECT user_id, hr,
                 CAST(list_aggregate(
                   [(((CAST(user_id AS BIGINT) >> j) & 1) << (2*j)) +
                    (((CAST(hr AS BIGINT) >> j) & 1) << (2*j + 1))
                    for j in generate_series(0, 30)], 'sum') AS BIGINT) AS zval
               FROM e)
         SELECT zval >> 12 AS z_bucket, count(*) AS n_events,
                min(user_id) AS min_user, max(user_id) AS max_user,
                min(hr) AS min_hr, max(hr) AS max_hr
         FROM z GROUP BY 1""")),

    // ----- B6: recent-N rollup buckets per key (notebook
    // fetch_recent_ohlcv) ---------------------------------------------
    Q("q_recent_per_key", (s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts").desc)
      r1h.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("user_id", "bucket_ts", "open", "high", "low", "close", "volume", "trades", "rn")
    },
      Some("""WITH r1h AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
                  arg_max(value, ts) AS close,
                  (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS volume,
                  count(*) AS trades
           FROM events GROUP BY 1, 2)
         SELECT user_id, bucket_ts, open, high, low, close, volume, trades,
                CAST(rn AS INT) AS rn
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts DESC) AS rn
               FROM r1h)
         WHERE rn <= 20""")),

    // ----- Histogram: fixed-width value buckets -----------------------
    Q("q_histogram", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(floor(col("value") / 25.0).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          CandleOps.moneySum(col("value")).as("bucket_sum")),
      Some("""SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n,
         (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS bucket_sum
         FROM events GROUP BY 1""")),

    // ----- Resample + forward-fill: continuous per-key 1h series, gaps
    // carrying the last observed close (read-side companion of G2/G3's
    // gap *detection* — pandas resample().ffill() / WITH FILL analog) --
    Q("q_gap_fill_ffill", (s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.resampleFfill(r1h, Seq("user_id"), "bucket_ts", "close", "1h")
    },
      Some(s"""WITH $hourlyGridCtes,
         j AS (SELECT g.user_id, g.bucket_ts, r.close AS raw_close
               FROM grid g LEFT JOIN r1h r
                 ON g.user_id = r.user_id AND g.bucket_ts = r.bucket_ts)
         SELECT user_id, bucket_ts,
                last_value(raw_close IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
                raw_close IS NULL AS filled
         FROM j""")),

    // ----- Grid resample with linear interpolation (WITH FILL ...
    // INTERPOLATE analog): missing buckets take the exact straight
    // line between bracketing observations; no extrapolation ----------
    Q("q_gap_fill_linear", (s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.resampleInterpolate(r1h, Seq("user_id"), "bucket_ts", "close", "1h")
    },
      // interpolated close = one division of exact integers: cents
      // endpoints weighted by integer hour distances
      Some(s"""WITH $hourlyGridCtes,
         j AS (SELECT g.user_id, g.bucket_ts, r.close AS raw_close,
                 epoch_us(g.bucket_ts) // 3600000000 AS t,
                 CASE WHEN r.close IS NOT NULL
                      THEN CAST(round(r.close * 100) AS BIGINT) END AS pc,
                 CASE WHEN r.close IS NOT NULL
                      THEN epoch_us(g.bucket_ts) // 3600000000 END AS ph
               FROM grid g LEFT JOIN r1h r
                 ON g.user_id = r.user_id AND g.bucket_ts = r.bucket_ts),
         b AS (SELECT user_id, bucket_ts, raw_close, t,
                 last_value(pc IGNORE NULLS) OVER wp AS pv,
                 last_value(ph IGNORE NULLS) OVER wp AS pt,
                 first_value(pc IGNORE NULLS) OVER wn AS nv,
                 first_value(ph IGNORE NULLS) OVER wn AS nt
               FROM j
               WINDOW wp AS (PARTITION BY user_id ORDER BY bucket_ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      wn AS (PARTITION BY user_id ORDER BY bucket_ts
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, bucket_ts,
                CASE WHEN raw_close IS NOT NULL THEN raw_close
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN CAST(pv * (nt - t) + nv * (t - pt) AS DOUBLE)
                          / CAST((nt - pt) * 100 AS DOUBLE)
                     ELSE NULL END AS close,
                raw_close IS NULL AS filled
         FROM b""")),

    // ----- Per-column codecs (reference CODEC(DoubleDelta)/CODEC(
    // Gorilla)/CODEC(T64), clickhouse_schema.py:128-138) exercised
    // end-to-end: each user's hourly series packs into one
    // DoubleDelta binary (epoch grid), one Gorilla binary (closes),
    // and one T64 binary (per-bucket trade counts — the reference's
    // T64 columns are exactly the count-like ones); the engine
    // publishes the decode==original VERDICTS as columns, so the
    // oracle row hash-checks the round-trip identity — a broken codec
    // flips a boolean and goes red. Sizes/ratios are measured in
    // CodecsSpec + PERF.md (not SQL-expressible). --------------------
    Q("q_codec_roundtrip", (s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      import graft.functions.Codecs
      val packed = r1h
        .select(col("user_id"), unix_micros(col("bucket_ts")).as("__us"),
          col("close"), col("trades"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("__us"), col("close"), col("trades")))).as("__s"))
        .select(col("user_id"),
          expr("transform(__s, x -> x.__us)").as("__ts"),
          expr("transform(__s, x -> x.close)").as("__px"),
          expr("transform(__s, x -> x.trades)").as("__tr"))
      packed.select(
        col("user_id"),
        size(col("__ts")).cast(LongType).as("n_buckets"),
        (Codecs.dd_decode(Codecs.dd_encode(col("__ts"))) === col("__ts"))
          .as("ts_roundtrip_ok"),
        (Codecs.gorilla_decode(Codecs.gorilla_encode(col("__px"))) === col("__px"))
          .as("px_roundtrip_ok"),
        (Codecs.t64_decode(Codecs.t64_encode(col("__tr"))) === col("__tr"))
          .as("tr_roundtrip_ok"),
        (size(col("__ts")) < 3 ||
          length(Codecs.dd_encode(col("__ts"))) < size(col("__ts")) * 8)
          .as("dd_compresses"),
        (size(col("__tr")) < 3 ||
          length(Codecs.t64_encode(col("__tr"))) < size(col("__tr")) * 8)
          .as("t64_compresses"))
    },
      // Codec round-trip: the oracle asserts the VERDICT booleans the
      // engine computes (decode==original, DoubleDelta under raw for
      // real series) — the codec bytes themselves are engine-defined,
      // the identity contract is what's checkable cross-engine.
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts
            FROM events GROUP BY 1, 2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
                TRUE AS ts_roundtrip_ok, TRUE AS px_roundtrip_ok,
                TRUE AS tr_roundtrip_ok,
                TRUE AS dd_compresses, TRUE AS t64_compresses
         FROM r1h GROUP BY 1"""))
  )
}
