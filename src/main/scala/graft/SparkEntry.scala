package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.functions.{Bpe, ProductQuantizer, SimHash64, TextOps, VectorOps}
import graft.operators.{AsOfJoin, BasketOps, CandleOps, EntityOps, EventOps, GapOps, IngestOps, MicrostructureOps, MultimodalOps, PurgeOps, QualityReport, RangeJoin, SessionOps, SketchStore}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry pairs a Spark-first implementation (built on the graft
  * operator library) with an ANSI-SQL oracle executed by DuckDB over the
  * same parquet. Determinism conventions (FIXTURES.md §C): no now()/rand;
  * money/2-dp sums go through pure-IEEE per-row cent quantization
  * ([[graft.functions.Cents]]: floor(v*100+0.5), exact long/HUGEINT
  * accumulation, one division at the end) so neither aggregation order
  * nor an engine-owned double→DECIMAL rounding policy can perturb
  * values across Spark and any DuckDB release; every oracle output
  * column carries an explicit portable CAST (BIGINT/DOUBLE — an uncast
  * HUGEINT converts version-dependently in DuckDB's pandas/arrow
  * layer); ordered outputs carry total-order tiebreaks. Products of
  * 2-dp doubles cast to DECIMAL(25,8) are tie-immune by construction:
  * the exact product has ≤6 decimal places and the double error
  * (≲1e-10 at 1e5 magnitudes) is far below the 5e-9 rounding boundary,
  * so every engine recovers the same exact rational.
  */
object SparkEntry {

  private val anchor = "2024-01-31 00:00:00" // deterministic "now" (events end 2024-01-30)

  /** Exact product-of-money expression: double arithmetic (IEEE-identical
    * in Spark and DuckDB for identical input order) cast once to decimal
    * for order-independent summation.
    */
  private def moneyExpr(c: Column): Column = c.cast(DecimalType(25, 8))

  /** Simulated ingest batch for the incremental queries: every 10th
    * doc re-issued under fresh ids in a namespace disjoint from the
    * corpus BY CONSTRUCTION — offset = max(doc_id)+1 via a broadcast
    * one-row aggregate. (A fixed +1e6 offset would silently alias once
    * the corpus passes 1M docs, and both engines would agree, hiding
    * the collision from verification.) Oracle mirror:
    * `doc_id + (SELECT max(doc_id) + 1 FROM documents)`.
    */
  private def syntheticBatch(docs: DataFrame): DataFrame = {
    val off = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("__off")))
    docs.filter(col("doc_id") % 10 === 0).crossJoin(off)
      .select((col("doc_id") + col("__off")).as("doc_id"), col("text"))
  }

  /** Multi-line view of the documents fixture (its texts are single-
    * line): a shared promo header on every doc, the body, and on even
    * ids a repeated promo + body — so the in-doc line scrub sees
    * within-row repeats and the cross-corpus scrub sees a corpus-wide
    * boilerplate line, distinguishably.
    */
  private def multiLineDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat_ws("\n", lit("subscribe to our newsletter"), col("text"),
          lit("subscribe to our newsletter"), col("text")))
        .otherwise(concat_ws("\n", lit("subscribe to our newsletter"),
          col("text"), lit("thanks for reading"))).as("text"))

  /** Batch for the bloom-membership queries: exact re-sends of every
    * 10th doc (duplicates of the standing corpus) plus revised copies
    * of the docs 5 mod 10 (novel content — a suffix edit changes the
    * content hash), so the gate sees both verdicts. Ids offset past
    * the standing universe like [[syntheticBatch]].
    */
  private def bloomBatch(docs: DataFrame): DataFrame = {
    val off = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("__off")))
    val dups = docs.filter(col("doc_id") % 10 === 0).crossJoin(off)
      .select((col("doc_id") + col("__off")).as("doc_id"), col("text"))
    val novel = docs.filter(col("doc_id") % 10 === 5).crossJoin(off)
      .select((col("doc_id") + col("__off") * 2).as("doc_id"),
        concat(col("text"), lit(" [rev2]")).as("text"))
    dups.unionByName(novel)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_ohlcv_rollup_15m")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- A5 flagship: per-grain OHLCV rollup ------------------------
    "q_ohlcv_rollup_15m" -> ((s, dir) =>
      CandleOps.ohlcvRollup(Tables.events(s, dir), Seq("user_id"), "ts", "value", "15 minutes")),
    "q_ohlcv_rollup_1h" -> ((s, dir) =>
      CandleOps.ohlcvRollup(Tables.events(s, dir), Seq("event_type", "user_id"), "ts", "value", "1 hour")),

    // ----- A6: cascade re-aggregation (15m rollup -> 1h) --------------
    "q_rollup_cascade_15m_to_1h" -> ((s, dir) => {
      val r15 = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "15 minutes", withCarriers = true)
      val r1h = CandleOps.cascadeRollup(r15, Seq("user_id"), "bucket_ts", "1 hour")
      CandleOps.finishRollup(r1h, Seq("user_id"))
    }),

    // ----- B2: last-writer-wins dedup (FINAL) -------------------------
    "q_dedup_latest" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("minute_ts", date_trunc("minute", col("ts")))
      CandleOps.latestByKeyAgg(e, Seq("user_id", "minute_ts"), "event_id", Seq("event_type", "value", "ts"))
    }),

    // ----- B1/W1: recent-window top-k snapshot ------------------------
    "q_recent_topk" -> ((s, dir) =>
      CandleOps.recentTopK(Tables.events(s, dir), 400, Seq(col("ts").desc, col("event_id").desc))),

    // ----- B4: latest row per key -------------------------------------
    "q_latest_per_key" -> ((s, dir) =>
      CandleOps.latestPerKey(Tables.events(s, dir), Seq("user_id"), "ts", Seq("event_type", "value", "event_id"))),

    // ----- A4: distinct universe --------------------------------------
    "q_distinct_pairs" -> ((s, dir) =>
      Tables.events(s, dir).select("user_id", "event_type").distinct()),

    // ----- A3: exact distinct count in a range ------------------------
    "q_count_distinct_range" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy(col("user_id"))
        .agg(countDistinct(date_trunc("minute", col("ts"))).as("n_buckets"))),

    // ----- A1: earliest per key (backfill resume point) ---------------
    "q_earliest_per_symbol" -> ((s, dir) =>
      CandleOps.earliestPerKey(
        Tables.events(s, dir).filter(col("event_type") === "click"), Seq("user_id"), "ts")),

    // ----- A2: available source window --------------------------------
    "q_minmax_window" -> ((s, dir) =>
      CandleOps.minMaxWindow(
        Tables.events(s, dir), col("user_id") === 7 && col("event_type") === "view", "ts")),

    // ----- B3: one symbol's full history (pushed-down equality) -------
    "q_symbol_history" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") === 42 && col("event_type") === "view")
        .orderBy(col("ts"))
        .select("event_id", "ts", "user_id", "event_type", "value")),

    // ----- B5: IN-list + time-range predicate -------------------------
    "q_filter_in_range" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id").isin(1, 2, 3, 5, 8, 13) &&
          col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")),

    // ----- P3: CHECK-constraint validation ----------------------------
    "q_validate_filter" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val valid = IngestOps.isFinite(col("l_quantity")) && col("l_quantity") > 0 &&
        IngestOps.isFinite(col("l_extendedprice")) && col("l_extendedprice") >= 0 &&
        col("l_discount") >= 0 && col("l_discount") <= 1 && col("l_tax") >= 0 &&
        col("l_returnflag").isin("A", "N", "R") && length(col("l_linestatus")) > 0
      IngestOps.validate(li, valid)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag")
    }),

    // ----- P2: symbol whitelist/substring/blacklist filter ------------
    "q_symbol_filter" -> ((s, dir) =>
      IngestOps.filterSymbols(
        Tables.part(s, dir).select("p_partkey", "p_name", "p_brand", "p_type"),
        "p_name", whitelist = Seq.empty, symbolType = "ring", blacklist = Seq("small ring"))),

    // ----- G2 flagship #2: expected-grid anti-join --------------------
    "q_missing_buckets" -> ((s, dir) =>
      GapOps.missingBuckets(Tables.events(s, dir), Seq("user_id"), "ts", "1 hour")),

    // ----- G3/W4: gaps-and-islands range collapse ---------------------
    "q_gap_ranges" -> ((s, dir) =>
      GapOps.islandRanges(Tables.events(s, dir), Seq("user_id"), "ts", "1 hour", 3600L)),

    // ----- R4/R5: the reference's per-grain data-quality loop over all
    // 8 maintained rollup grains, as one query ------------------------
    "q_rollup_gap_scan" -> ((s, dir) =>
      GapOps.multiGrainGapScan(
        Tables.events(s, dir), Seq("user_id"), "ts",
        graft.model.Timeframe.RollupGrains)),

    // ----- S7: quality-alert feed (gap + staleness findings as alert
    // rows; the reference's notifier messages as data) ----------------
    "q_alerts" -> ((s, dir) =>
      graft.operators.AlertOps.qualityAlerts(
        Tables.events(s, dir), Seq("user_id"), "ts",
        graft.model.Timeframe.RollupGrains,
        lit(anchor).cast("timestamp"),
        staleThresholdUs = 120000000L, minMissing = 60L)),

    // ----- G4: freshness watchdog -------------------------------------
    "q_freshness_lag" -> ((s, dir) =>
      GapOps.freshnessLag(
        Tables.events(s, dir), Seq("user_id"), "ts",
        lit(anchor).cast("timestamp"), 120000000L)),

    // ----- G5: floor-to-grain utilities -------------------------------
    "q_floor_to_grain" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("user_id") <= 5)
        .select(
          col("user_id"), col("ts"),
          CandleOps.floorToGrain(col("ts"), "15 minutes").as("bucket_15m"),
          date_trunc("hour", col("ts")).as("bucket_1h"),
          date_trunc("day", col("ts")).as("bucket_1d"))),

    // ----- P4: backfill chunk planner ---------------------------------
    "q_backfill_chunks" -> ((s, dir) =>
      GapOps.backfillChunks(
        Tables.events(s, dir), Seq("user_id"), "ts",
        lit("2024-01-01 00:00:00").cast("timestamp"), "1 hour", "6 hours")),

    // ----- P5: listing diff (set difference both ways) ----------------
    "q_listing_diff" -> ((s, dir) => {
      // Two hour-slice "listing snapshots" of the active-user universe —
      // sparse enough that both diff directions are non-empty.
      val e = Tables.events(s, dir)
      val cur = e.filter(col("ts") >= lit("2024-01-15 12:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 13:00:00").cast("timestamp"))
      val known = e.filter(col("ts") >= lit("2024-01-15 11:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-15 12:00:00").cast("timestamp"))
      GapOps.listingDiff(cur, known, Seq("user_id"))
    }),

    // ----- Extension: TPC-H-style aggregation + joins (SURVEY §7.2 M6)
    "q1_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
      val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val charge = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))) * (lit(1.0) + col("l_tax"))
      val cts = graft.functions.Cents.cents _
      val toM = graft.functions.Cents.centsToMoney _
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(cts(col("l_quantity"))).as("__sq"),
          sum(cts(col("l_extendedprice"))).as("__sp"),
          sum(moneyExpr(discPrice)).as("__sdp"),
          sum(moneyExpr(charge)).as("__sc"),
          sum(cts(col("l_discount"))).as("__sd"),
          count(lit(1)).as("count_order"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          toM(col("__sq")).as("sum_qty"),
          toM(col("__sp")).as("sum_base_price"),
          col("__sdp").cast(DoubleType).as("sum_disc_price"),
          col("__sc").cast(DoubleType).as("sum_charge"),
          (toM(col("__sq")) / col("count_order")).as("avg_qty"),
          (toM(col("__sp")) / col("count_order")).as("avg_price"),
          (toM(col("__sd")) / col("count_order")).as("avg_disc"),
          col("count_order"))
    }),

    "q_join_orders_customer" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          CandleOps.moneySum(col("o_totalprice")).as("total_revenue"),
          countDistinct(col("o_custkey")).as("n_customers"))),

    "q_join_5way" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val joined = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      joined
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(moneyExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast(DoubleType).as("revenue"))
    }),

    "q_topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")),

    "q3_shipping_priority" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(moneyExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q6_revenue_filter" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(moneyExpr(col("l_extendedprice") * col("l_discount")))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))),

    // ----- Window-frame analytics: moving average over rollups --------
    "q_sma" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour",
        withCarriers = true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
        .rowsBetween(-6, 0)
      r1h.select(
        col("user_id"), col("bucket_ts"),
        col("close").as("close"),
        sum(col("vol_cents")).over(w).as("__sv"),
        count(lit(1)).over(w).as("__n"))
        .select(col("user_id"), col("bucket_ts"), col("close"),
          (graft.functions.Cents.centsToMoney(col("__sv")) / col("__n")).as("vol_sma7"),
          col("__n").cast(LongType).as("n_in_frame"))
    }),

    // ----- Technical indicators: Bollinger bands and simple RSI over
    // the 1h candle rollup — exact cent sums, one IEEE division /
    // correctly-rounded sqrt at the end -------------------------------
    "q_bollinger" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.bollinger(r1h, Seq("user_id"), "bucket_ts", "close",
        nWindow = 20, k = 2)
    }),
    "q_rsi" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.rsi(r1h, Seq("user_id"), "bucket_ts", "close", nWindow = 14)
    }),

    // ----- Volume-weighted average price per part over lineitem:
    // exact cent sums, single final division --------------------------
    "q_vwap" -> ((s, dir) => {
      val C = graft.functions.Cents
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(
          sum(C.cents(col("l_extendedprice"))).as("__sp"),
          sum(C.cents(col("l_quantity"))).as("__sq"))
        .select(col("l_partkey"),
          C.centsToMoney(col("__sp")).as("total_price"),
          C.centsToMoney(col("__sq")).as("total_qty"),
          (C.centsToMoney(col("__sp")) / C.centsToMoney(col("__sq")))
            .as("vwap"))
    }),

    // ----- Time-weighted average (TWAP): each observation holds until
    // the next one (validity-interval weighting), exact decimal sums,
    // single final division — the indicator VWAP's time-domain twin ---
    "q_twap" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("__next_ts", lead(col("ts"), 1).over(w))
        .filter(col("__next_ts").isNotNull)
        .withColumn("__dur",
          unix_micros(col("__next_ts")) - unix_micros(col("ts")))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("__dur")).as("total_dur_us"),
          // cents x micros: exact integer weighted sum (the sigma-
          // outlier cents idiom — round(v*100) is IEEE-identical in
          // both engines, unlike a double -> decimal cast)
          sum(round(col("value") * 100).cast(DecimalType(38, 0)) *
            col("__dur")).as("__wsum"))
        .select(col("user_id"), col("n_intervals"), col("total_dur_us"),
          (col("__wsum").cast(DoubleType) /
            (col("total_dur_us").cast(DoubleType) * lit(100.0))).as("twap"))
    }),

    // ----- Ranking: volume rank per day ------------------------------
    "q_rank_by_volume" -> ((s, dir) => {
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
    }),

    // ----- Grouping sets: ROLLUP totals ------------------------------
    "q_grouping_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          CandleOps.moneySum(col("l_quantity")).as("sum_qty"))),

    // ----- B2 window-form dedup (full-row FINAL) ----------------------
    "q_dedup_window" -> ((s, dir) => {
      val e = Tables.events(s, dir).withColumn("minute_ts", date_trunc("minute", col("ts")))
      CandleOps.latestByKey(e, Seq("user_id", "minute_ts"), "event_id")
        .select("event_id", "ts", "user_id", "event_type", "value", "props", "minute_ts")
    }),

    // ----- Approximate distinct (HLL sketch; rows-only, sketch values
    // differ across engines by design) --------------------------------
    "q_approx_distinct" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))),

    // ----- HLL error-bound audit — the hash-checkable twin of
    // q_approx_distinct (the q_bpe_pinned pattern): the sketch VALUE is
    // engine-defined, but "the sketch landed within its advertised
    // error" is a deterministic boolean the oracle can assert as a
    // literal. Bound = 3× the default rsd (0.05), the standard ±3σ
    // envelope for HLL++'s estimator. --------------------------------
    "q_approx_distinct_audit" -> ((s, dir) => {
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
    }),

    // ----- As-of join (trade -> prevailing quote; Spark has no builtin)
    "q_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      AsOfJoin.asof(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id", "value"),
        rightPayload = Seq("value"))
        .select("event_id", "ts", "user_id", "value", "asof_ts", "asof_value")
    }),

    // ----- Forward as-of: the next click AT OR AFTER each purchase ----
    "q_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      AsOfJoin.asofForward(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id", "value"),
        rightPayload = Seq("value"))
        .select("event_id", "ts", "user_id", "value", "asof_ts", "asof_value")
    }),

    // ----- Nearest as-of: closer of the backward/forward click, ties
    // backward (pandas direction='nearest'); one union, one exchange ----
    "q_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      AsOfJoin.asofNearest(
        left = e.filter(col("event_type") === "purchase"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"), tsCol = "ts",
        leftPayload = Seq("event_id", "value"),
        rightPayload = Seq("value"))
        .select("event_id", "ts", "user_id", "value", "asof_ts", "asof_value")
    }),

    // ----- As-of staleness SLA: how old the matched click is at each
    // purchase, exact p50/p90/p99 MINUTES per weekday — asof composed
    // with the histogram-percentile cut ---------------------------------
    "q_quote_staleness" -> ((s, dir) => {
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
    }),

    // ----- Training-data pipeline: deduplication ----------------------
    "q_doc_dedup_exact" -> ((s, dir) =>
      TextOps.exactDedupGroups(Tables.documents(s, dir), "doc_id", "text")),
    "q_doc_minhash_pairs" -> ((s, dir) =>
      TextOps.minhashCandidatePairs(
        Tables.documents(s, dir), "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3)),

    // ----- Bloom-prefiltered exact membership: the zero-join scale
    // path for "seen before?" against a 100-TB standing corpus. The
    // standing content hashes fold once into an m-bit filter riding
    // the plan as one array literal; each batch row answers in a pure
    // projection, and only bloom positives (true dups + ~1% fpp) pay
    // the confirm-join shuffle. is_dup is EXACT — no false negatives
    // by construction, false positives removed by the confirm join —
    // so the oracle is the plain membership SQL. ----------------------
    "q_bloom_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      graft.operators.BloomOps
        .prefilteredFlag(batch, standing, "text_hash")
        .select(col("doc_id"), col("is_dup"))
    }),
    // The SHARDED gate — the 100-TB path the 16 MiB literal guard
    // points at: the filter stays a cluster-resident (shard, word,
    // bits) relation, probes broadcast/shuffle-join it, nothing
    // collects. Same EXACT is_dup semantics (no false negatives per
    // shard either), so the same membership oracle shape.
    "q_bloom_sharded" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      val shardRows = graft.operators.BloomOps
        .bloomShardRows(standing, "text_hash",
          nShards = 4, wordsPerShard = 256, k = 7)
      val flagged = graft.operators.BloomOps
        .flagBatchSharded(batch, "text_hash", shardRows,
          nShards = 4, wordsPerShard = 256, k = 7)
      graft.operators.BloomOps.confirmFlag(flagged, standing, "text_hash")
        .select(col("doc_id"), col("is_dup"))
    }),
    // The gate's funnel as data (bloom positives / confirmed dups /
    // false positives) — n_bloom_pos and n_false_pos depend on the
    // filter's hash stream, so no SQL oracle; q_bloom_audit is the
    // hash-green twin publishing the oracle-checkable invariants.
    "q_bloom_funnel" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      graft.operators.BloomOps.bloomFunnel(
        graft.operators.BloomOps.prefilteredFlag(batch, standing, "text_hash"))
    }),
    // Audit twin: exact counts plus the two invariants the funnel
    // rests on — zero false negatives (every confirmed duplicate was
    // bloom-positive) and the false-positive count inside the sized
    // filter's budget. A broken filter flips a boolean -> hash red.
    "q_bloom_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      val flagged = graft.operators.BloomOps
        .prefilteredFlag(batch, standing, "text_hash")
      flagged.agg(
          count(lit(1)).as("n_batch"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("is_dup") && !col("bloom_hit"), 1L).otherwise(0L))
            .as("__missed"),
          sum(when(col("bloom_hit") && !col("is_dup"), 1L).otherwise(0L))
            .as("__fp"))
        .select(col("n_batch"), col("n_dup"),
          (col("__missed") === 0L).as("no_false_negatives"),
          (col("__fp") <= greatest(lit(10L),
            ((col("n_batch") - col("n_dup")) / lit(20L)).cast(LongType)))
            .as("fp_within_budget"))
    }),

    // ----- Cap observability. Text band joins still DROP over-cap
    // buckets, so their pair sets need the CapReport.of gate
    // (n_capped_buckets == 0) before being trusted. The vector cosine
    // family is EXACT since r13 (over-cap clusters sub-shard into
    // block pairs instead of dropping), so its report
    // (CapReport.ofBlocked) is a cost gauge: split-task fan-out and
    // the quadratic comparison bill. Caps here are set low enough
    // that THIS fixture trips them (nonzero split/capped counts),
    // proving the reports distinguish a hot-bucket run; the
    // operators' own 10k default stays clean at this SF. -------------
    "q_cap_report_minhash" -> ((s, dir) =>
      TextOps.minhashCapReport(Tables.documents(s, dir), "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3, bucketCap = 2)),
    "q_cap_report_simhash" -> ((s, dir) =>
      TextOps.simhashCapReport(Tables.documents(s, dir), "doc_id", "text",
        bucketCap = 2)),
    "q_cap_report_clusters" -> ((s, dir) =>
      VectorOps.clusterCapReport(Tables.embeddings(s, dir), "vec_id", "label",
        clusterCap = 52)),
    // Full dedup resolution: LSH band buckets -> star edges ->
    // connected components -> keeper per group (rows-only: iterative
    // graph algo). CC consumes the bucket STARS, not the pair
    // cliques: identical components, but edges stay linear in the
    // corpus where clique pairs grow quadratically in duplicate-group
    // size (the r11 sweep's 1.2-exponent tail).
    "q_dedup_groups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      graft.operators.DedupGroups.resolveKeepers(docs, "doc_id", edges)
    }),
    // Quality-aware keeper: the same LSH components as q_dedup_groups,
    // but each group keeps its HIGHEST-quality member (ties -> min id)
    // — the keep-the-best-copy form production corpus dedup runs. The
    // score is q_quality_score's composite, already proven
    // bit-identical across engines.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      val scored = TextOps.textStats(docs, "doc_id", "text").select(
        col("doc_id"),
        TextOps.qualityScoreCol.as("qscore"))
      graft.operators.DedupGroups.resolveKeepersBy(scored, "doc_id", "qscore", pairs)
    }),
    // Dedup diagnostic: duplicate-group size histogram (how many
    // groups of size 1, 2, 3, ... the LSH components produce) — the
    // first report a corpus-dedup run prints, and the fastest way to
    // spot a degenerate mega-component at scale.
    "q_dedup_sizes" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      graft.operators.DedupGroups.resolveKeepers(docs, "doc_id", pairs)
        .groupBy(col("keeper_id")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))
    }),

    // ----- MinHash band calibration: estimated vs exact Jaccard per
    // candidate pair — the report that tunes (bands, rowsPerBand)
    // before a 100 TB dedup run ----------------------------------------
    "q_minhash_calibration" -> ((s, dir) =>
      TextOps.minhashEstimateVsExact(
        Tables.documents(s, dir), "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3)),
    // ----- Dedup rate by source: per-source duplicate fraction from
    // the resolved groups — the per-provider corpus health report -----
    "q_dedup_rate_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      val keepers = graft.operators.DedupGroups.resolveKeepers(docs, "doc_id", pairs)
      docs.select(col("doc_id"), col("source"))
        .join(keepers, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("is_keeper"), 0L).otherwise(1L)).as("n_dupes"))
        .withColumn("dup_rate",
          col("n_dupes").cast(DoubleType) / col("n_docs").cast(DoubleType))
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = docs.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      TextOps.ngramJaccard(docs, "doc_id", "text", pairs, shingleSize = 3)
    }),
    "q_doc_simhash" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        lower(format_string("%016x",
          SimHash64.simhash64(TextOps.tokens(col("text"))))).as("simhash"))),
    "q_simhash_neardup" -> ((s, dir) =>
      TextOps.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)),
    "q_doc_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.normalizedFingerprint(col("text")).as("fingerprint"))),

    // ----- Training-data pipeline: text analysis ----------------------
    "q_text_stats" -> ((s, dir) =>
      TextOps.textStats(Tables.documents(s, dir), "doc_id", "text")),
    "q_repetition_stats" -> ((s, dir) =>
      TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text")),
    "q_gopher_quality" -> ((s, dir) =>
      TextOps.gopherQualitySignals(Tables.documents(s, dir), "doc_id", "text")),

    // ----- Incremental ingest dedup: a simulated new batch (every
    // 10th doc under fresh ids) checked against the standing corpus —
    // work scales with the batch, never corpus² ----------------------
    "q_minhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val newBatch = syntheticBatch(docs)
      TextOps.minhashCrossPairs(newBatch, "doc_id", "text",
        docs, "doc_id", "text", bands = 4, rowsPerBand = 2, shingleSize = 3)
    }),

    // ----- Incremental SimHash: new batch vs standing corpus at
    // hamming <= 3 — the SimHash side of the incremental-ingest story
    "q_simhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val newBatch = syntheticBatch(docs)
      TextOps.simhashCrossPairs(newBatch, "doc_id", "text",
        docs, "doc_id", "text", maxHamming = 3)
    }),

    // ----- The signature store + standing-label BUILD, explicit (the
    // q_item_edges pattern): runs the REBUILD path so the one-time
    // bucketed-store materialization is its own bench line — at r11
    // it hid inside q_dedup_incremental's first pass (sf10: 202.6 s
    // cold vs 48.5 s warm for a query billed batch-proportional).
    // Named to sort BEFORE q_dedup_incremental in Bench's name-ordered
    // run, mirroring production where the store exists before the
    // day's fold: the fold entry's cold pass reads the already-built
    // store, so its cold ≡ warm. Output pins the standing label table
    // against the global-closure oracle. ------------------------------
    "q_dedup_build_store" -> ((s, dir) =>
      graft.sources.Derived.minhashStoreRebuilt(s, dir).standing
        .select(col("doc_id"), col("group_id"))),

    // ----- Incremental dedup resolution, PRODUCTION daily shape: the
    // corpus's banded signature keys and yesterday's standing labels
    // are READ from the persisted store (Derived.minhashStore, built
    // by q_dedup_build_store / at ingest time); the day pays only for
    // banding the new batch, the candidate joins, and the
    // touched-component fold — only touched components re-solve, and
    // the standing label table is scanned, never shuffled. The
    // in-query re-derivation of the store is the explicitly-named
    // stress variant below. -------------------------------------------
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val newBatch = syntheticBatch(docs)
      val store = graft.sources.Derived.minhashStore(s, dir)
      val (batchBanded, _) = TextOps.minhashBanded(
        newBatch, "doc_id", "text", bands = 4, rowsPerBand = 2,
        shingleSize = 3, bucketCap = 10000L)
      val bb = batchBanded.localCheckpoint(true)
      val cross = TextOps.minhashCrossFromBanded(
          bb, "doc_id", store.banded, "doc_id", store.keyCols)
        .select(col("new_id").as("doc_a"), col("known_id").as("doc_b"))
      val within = TextOps.minhashStarFromBanded(bb, "doc_id", store.keyCols)
      // day pairs are batch-bounded and consumed ~5x inside the fold
      // (nodes, collapse, CC, new-id probe, remap) — materialize once,
      // as production reads them from the candidate table it lands
      val dayPairs = cross.unionByName(within).localCheckpoint(true)
      val inc = graft.operators.DedupGroups
        .incrementalGroups(store.standing, dayPairs)
      docs.select(col("doc_id"))
        .unionByName(newBatch.select(col("doc_id")))
        .join(inc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
    }),

    // ----- STRESS variant: same incremental fold, but the signature
    // store and standing labels are RE-DERIVED in-query via the
    // rebuild path (bands the corpus, re-runs the standing CC solve) —
    // what a from-scratch bootstrap or a store-loss recovery costs.
    // Carries the full store-build cost as its own bench line; the
    // production read path above is the headline. --------------------
    "q_dedup_incremental_rederive" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val newBatch = syntheticBatch(docs)
      val store = graft.sources.Derived.minhashStoreRebuilt(s, dir)
      val (batchBanded, _) = TextOps.minhashBanded(
        newBatch, "doc_id", "text", bands = 4, rowsPerBand = 2,
        shingleSize = 3, bucketCap = 10000L)
      val bb = batchBanded.localCheckpoint(true)
      val cross = TextOps.minhashCrossFromBanded(
          bb, "doc_id", store.banded, "doc_id", store.keyCols)
        .select(col("new_id").as("doc_a"), col("known_id").as("doc_b"))
      val within = TextOps.minhashStarFromBanded(bb, "doc_id", store.keyCols)
      // day pairs are batch-bounded and consumed ~5x inside the fold
      // (nodes, collapse, CC, new-id probe, remap) — materialize once,
      // as production reads them from the candidate table it lands
      val dayPairs = cross.unionByName(within).localCheckpoint(true)
      val inc = graft.operators.DedupGroups
        .incrementalGroups(store.standing, dayPairs)
      docs.select(col("doc_id"))
        .unionByName(newBatch.select(col("doc_id")))
        .join(inc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
    }),

    // ----- Dedup-cascade stage tables: the persisted outputs of the
    // exact → minhash → semantic stages (what production writes per
    // ingest window and every consumer reads). Runs the REBUILD path —
    // carries the full cascade-build cost as its own bench line and
    // pins all three stage tables' content against the oracle via
    // per-doc kept flags. --------------------------------------------
    "q_dedup_stages" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = graft.sources.Derived.dedupStagesRebuilt(s, dir)
      docs.select(col("doc_id"))
        .join(st.exactKept.select(col("doc_id"), lit(true).as("__e")), Seq("doc_id"), "left")
        .join(st.nearKeepers.select(col("doc_id"), lit(true).as("__n")), Seq("doc_id"), "left")
        .join(st.semKeepers.select(col("doc_id"), lit(true).as("__s")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__e"), lit(false)).as("kept_exact"),
          coalesce(col("__n"), lit(false)).as("kept_near"),
          coalesce(col("__s"), lit(false)).as("kept_semantic"))
    }),

    // ----- Dedup funnel: the stage-attribution report over the full
    // cascade — raw → exact → minhash near-dup → semantic — answering
    // "which stage removes how much" (the number that decides whether
    // the expensive stages pay for themselves). All three stage
    // outputs are READ from their persisted tables
    // (Derived.dedupStages — in production, the cascade's own parquet
    // outputs); the funnel itself is the 4-row counting report, the
    // shape a daily governance dashboard actually runs. --------------
    "q_dedup_funnel" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = graft.sources.Derived.dedupStages(s, dir)
      docs.agg(count(lit(1)).as("n_kept")).select(lit("1_raw").as("stage"), col("n_kept"))
        .unionByName(st.exactKept.agg(count(lit(1)).as("n_kept"))
          .select(lit("2_exact").as("stage"), col("n_kept")))
        .unionByName(st.nearKeepers.agg(count(lit(1)).as("n_kept"))
          .select(lit("3_near_dup").as("stage"), col("n_kept")))
        .unionByName(st.semKeepers.agg(count(lit(1)).as("n_kept"))
          .select(lit("4_semantic").as("stage"), col("n_kept")))
    }),

    // ----- Fold-ONLY incremental dedup — the daily-ingest shape the
    // 100 TB story actually runs: standing labels are READ (here: a
    // closed-form exact-text grouping standing in for yesterday's
    // persisted label table — one window, no CC), the day's pairs are
    // cheap (exact-hash batch→corpus matches + minhash pairs WITHIN
    // the 10%-sized batch), and the only CC solve is the fold over
    // touched components. q_dedup_incremental deliberately re-derives
    // its standing groups in-query (exercising the signature store);
    // this entry isolates what a steady-state day costs. Batch docs
    // near-dup to EACH OTHER genuinely merge two standing groups, so
    // the remap path is exercised, not just new-id labeling. ----------
    "q_dedup_incremental_fold" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the batch is read once in production too — materialize instead
      // of re-deriving it per consumer (cross side + within pairs)
      val newBatch = syntheticBatch(docs).localCheckpoint(true)
      // localCheckpoint = the "persisted table" stand-in: the fold
      // consumer scans labels 3x and pairs ~4x (probes, star edges, CC,
      // remap); in production these are parquet reads, so materialize
      // once here rather than re-running the window/joins per scan
      val standing = docs
        .select(col("doc_id"), md5(col("text")).as("__h"))
        .withColumn("group_id", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
        .select(col("doc_id"), col("group_id"))
        .localCheckpoint(true)
      val cross = newBatch
        .select(col("doc_id").as("doc_a"), md5(col("text")).as("__h"))
        .join(docs.select(col("doc_id").as("doc_b"), md5(col("text")).as("__h")), "__h")
        .select(col("doc_a"), col("doc_b"))
      val within = TextOps.minhashStarEdges(newBatch, "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3)
      val dayPairs = cross.unionByName(within).localCheckpoint(true)
      val inc = graft.operators.DedupGroups.incrementalGroups(standing, dayPairs)
      docs.select(col("doc_id"))
        .unionByName(newBatch.select(col("doc_id")))
        .join(inc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
    }),
    // (end q_dedup_incremental_fold)

    // ----- Compressibility gate (rows-only: deflate has no SQL
    // counterpart; planted-case behavior pinned in TextVectorSpec) ----
    "q_compress_ratio" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.CompressRatio.compress_ratio(col("text")).as("ratio"))),

    // ----- Deflate audit — the hash-checkable twin of
    // q_compress_ratio (the q_bpe_pinned pattern): the compressed BYTES
    // are engine-defined, but the measurement's CONTRACTS are
    // deterministic booleans the oracle asserts as literals —
    // losslessness (inflate∘deflate = id, proven per row by the
    // codegen roundtrip expression) and the RFC-1951 worst-case
    // expansion envelope (≤ 5 bytes per 16383-byte stored block + slack
    // for a non-conforming blowup to hide in). n_bytes is exact UTF-8
    // length, checkable cross-engine. ---------------------------------
    "q_compress_audit" -> ((s, dir) => {
      val n = octet_length(col("text")).cast(LongType)
      val ratio = graft.functions.CompressRatio.compress_ratio(col("text"))
      val worst = (n.cast(DoubleType) + lit(5.0) * ceil(n.cast(DoubleType) / 16383.0) +
        lit(16.0)) / n.cast(DoubleType)
      Tables.documents(s, dir).select(
        col("doc_id"),
        n.as("n_bytes"),
        (n === 0 || (ratio > 0.0 && ratio <= worst)).as("ratio_in_envelope"),
        graft.functions.CompressRatio.compress_roundtrip_ok(col("text"))
          .as("roundtrip_ok"))
    }),

    // ----- Benchmark decontamination: every 50th doc under id 5000
    // plays the "eval set"; overlap = shared distinct 3-gram shingles.
    // The eval set is a FIXED benchmark (bounded panel), not a
    // corpus-proportional slice — the production contract is "fixed
    // benchmark vs growing corpus", and the round-7 sf1 checkpoint
    // measured the unbounded %50 panel at 15x for 10x docs (panel and
    // corpus both grew). Identical result at sf0.01/sf0.1 where all
    // doc ids are < 5000. --------------------------------------------
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.contaminationCheck(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5000 && col("doc_id") % 50 === 0),
        "doc_id", "text",
        shingleSize = 3, minShared = 2)
    }),

    // ----- Dataset-version diff: current corpus vs its redacted
    // prior — 'changed' rows are exactly the PII-bearing docs --------
    "q_corpus_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prior = docs
        .filter(col("doc_id") % 7 =!= 0) // every 7th doc is "new"
        .select(col("doc_id"), TextOps.redactPii(col("text")).as("text"))
      TextOps.corpusDiff(docs, prior, "doc_id", "text")
    }),
    // ----- Sessionization via native session_window (12h gap) — the
    // lag-based 30-min formulation is the pre-existing q_sessionize --
    "q_session_windows" -> ((s, dir) =>
      SessionOps.sessionSummaries(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "12 hours")),
    "q_session_assign" -> ((s, dir) =>
      SessionOps.assignSessions(
          Tables.events(s, dir), Seq("user_id"), "ts", gapSeconds = 43200L)
        .select("event_id", "user_id", "session_n")),

    // ----- ANN recall audit: recall@5 of the pinned IVF probe against
    // exact brute-force kNN, per query — THE index-ops metric (is the
    // speedup worth the misses?). Integer hit counts, one division ----
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val exact = VectorOps.knnTopK(emb, "vec_id", "embedding", col("vec_id") < 20, k = 5)
      val cents = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iterations = 1)
      val withCluster = emb.join(
        VectorOps.kmeansAssign(emb, "vec_id", "embedding", k = 8, iterations = 1)
          .withColumnRenamed("id", "vec_id"), "vec_id")
      val ivf = VectorOps.knnTopKIvfProbe(withCluster, "vec_id", "embedding", "cluster",
        VectorOps.centroidsDF(s, cents), col("vec_id") < 20, k = 5, nprobe = 2)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(ivf.select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast(DoubleType) / col("k").cast(DoubleType))
    }),

    // ----- Export-shard manifest: deterministic md5 sharding + a
    // per-shard id checksum — the reproducible-delivery audit row a
    // corpus hand-off ships with (same md5-bucket discipline as
    // split/sample assignment; the checksum pins membership, not just
    // counts, so a silently re-sharded export cannot pass) -----------
    "q_export_manifest" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast(LongType) % 8).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          md5(concat_ws(",",
            transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")))).as("id_checksum"))),

    // ----- Token collocations by lift: pairs of tokens co-occurring in
    // documents far above independence — PMI's decision ordering
    // without its logarithm (lift = n_ab·N / (n_a·n_b), exact integer
    // operands, ONE division). The pair space is vocabulary-bounded
    // (V²/2 distinct keys with map-side combine), never corpus-bounded
    "q_token_lift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs
        .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
      val byDoc = toks.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("tok"))).as("__ts"))
      val pairs = byDoc
        .select(col("__ts"), posexplode(col("__ts")).as(Seq("__i", "token_a")))
        .select(col("token_a"),
          explode(slice(col("__ts"), col("__i") + lit(2), size(col("__ts")))).as("token_b"))
        .groupBy(col("token_a"), col("token_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val nt = toks.groupBy(col("tok")).agg(count(lit(1)).as("__nt"))
      val nDocs = broadcast(docs.agg(count(lit(1)).as("__nd")))
      pairs
        .join(nt.select(col("tok").as("token_a"), col("__nt").as("__na")), "token_a")
        .join(nt.select(col("tok").as("token_b"), col("__nt").as("__nb")), "token_b")
        .crossJoin(nDocs)
        .select(col("token_a"), col("token_b"), col("n_ab"),
          ((col("n_ab") * col("__nd")).cast(DoubleType) /
            (col("__na") * col("__nb")).cast(DoubleType)).as("lift"))
        .orderBy(col("lift").desc, col("token_a"), col("token_b"))
        .limit(50)
    }),

    // ----- Audience overlap: per event-type pair, users doing both —
    // exact distinct-user Jaccard, one division ----------------------
    "q_audience_overlap" -> ((s, dir) => {
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
    }),

    // ----- Peak concurrency: ±1 interval sweep over 30-min-timeout
    // activity windows, running count by DISTRIBUTED prefix sum (range
    // partitions + broadcast offsets — never a one-task global window)
    "q_peak_concurrency" -> ((s, dir) => {
      val sess = SessionOps.sessionSummaries(
          Tables.events(s, dir), Seq("user_id"), "ts", "value", "30 minutes")
        .withColumn("active_until", col("session_end") + expr("INTERVAL 30 minutes"))
      SessionOps.peakConcurrency(sess, "session_start", "active_until")
    }),

    // ----- Daily union coverage: how much of each day was SOMEONE
    // active — cross-midnight split + per-day island merge, exact
    // microseconds ---------------------------------------------------
    "q_daily_coverage" -> ((s, dir) => {
      val sess = SessionOps.sessionSummaries(
          Tables.events(s, dir), Seq("user_id"), "ts", "value", "30 minutes")
        .withColumn("active_until", col("session_end") + expr("INTERVAL 30 minutes"))
      SessionOps.dailyCoverage(sess, "session_start", "active_until")
    }),

    // ----- Span-level dedup: drop 6-token blocks shared by >= 2 docs,
    // reassemble the survivors ---------------------------------------
    "q_span_dedup" -> ((s, dir) =>
      TextOps.spanDedup(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 6, minDocs = 2)),

    // ----- Exact-substring dedup (Lee et al.): maximal spans whose
    // 6-token windows recur in >= 2 docs, at ARBITRARY offsets — the
    // boundary-straddling shares span_dedup's block grid misses ------
    "q_substring_dedup" -> ((s, dir) =>
      TextOps.substringDedup(Tables.documents(s, dir), "doc_id", "text",
        k = 6, minDocs = 2)),

    // ----- ...and the removal half: cut those spans, reassemble -----
    "q_substring_scrub" -> ((s, dir) =>
      TextOps.substringScrub(Tables.documents(s, dir), "doc_id", "text",
        k = 6, minDocs = 2)),

    // ----- ...and the incremental-ingest form: spans in a new batch
    // already present in the standing corpus; batch-proportional ----
    "q_substring_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.substringCrossSpans(syntheticBatch(docs), "doc_id", "text",
        docs, "doc_id", "text", k = 6)
    }),

    // ----- Span-level benchmark decontamination: WHERE each training
    // doc overlaps the fixed eval panel (q_contamination's count flag,
    // upgraded to exact spans a scrub can cut); panel side is the
    // bounded set, so its hash set broadcasts and the corpus never
    // moves twice ----------------------------------------------------
    "q_decontaminate_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isEval = col("doc_id") < 5000 && col("doc_id") % 50 === 0
      TextOps.substringCrossSpans(docs.filter(!isEval), "doc_id", "text",
        docs.filter(isEval), "doc_id", "text", k = 6)
    }),

    // ----- Similarity-threshold tuning: decile histogram of exact
    // Jaccard over the adjacent-id pair sample ------------------------
    "q_jaccard_histogram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = docs.select(col("doc_id").as("doc_a"))
        .withColumn("doc_b", col("doc_a") + 1)
        .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"))
        .select("doc_a", "doc_b")
      TextOps.ngramJaccard(docs, "doc_id", "text", pairs, shingleSize = 3)
        .select(least(floor(col("jaccard") * 10), lit(9L)).cast("long").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ----- Boilerplate mining: the most cross-doc-duplicated blocks --
    "q_boilerplate_topk" -> ((s, dir) =>
      TextOps.boilerplateTopK(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 6, minDocs = 2, k = 20)),

    // ----- Line-grain scrubs over the multi-line staging of the
    // fixture (its texts are single-line): the in-doc pass keeps each
    // line's first occurrence (C4-style self-repeat cleanup); the
    // cross-corpus pass removes every copy of lines appearing in
    // >= minDocs distinct docs (RefinedWeb template strip) — the
    // staged promo header is corpus-wide boilerplate, the even-id
    // docs' repeated body is an in-doc repeat only. -------------------
    "q_line_scrub" -> ((s, dir) =>
      TextOps.lineScrub(
        multiLineDocs(Tables.documents(s, dir)), "doc_id", "text")),
    "q_boilerplate_scrub" -> ((s, dir) =>
      TextOps.boilerplateScrub(
        multiLineDocs(Tables.documents(s, dir)), "doc_id", "text",
        minDocs = 50L)),

    // ----- Composed: span dedup -> per-language corpus stats (how
    // much boilerplate removal changed the token budget) -------------
    "q_span_quality" -> ((s, dir) => {
      val cleaned = TextOps.spanDedup(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 6, minDocs = 2)
      cleaned
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("lang"),
          size(split(trim(col("text_clean")), "\\s+")).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .withColumn("avg_tokens",
          col("total_tokens").cast("double") / col("n_docs").cast("double"))
    }),

    // ----- Training-mix sampling: per-source keep rates, id-hash
    // deterministic ---------------------------------------------------
    "q_stratified_take" -> ((s, dir) =>
      TextOps.stratifiedTake(
        Tables.documents(s, dir).select("doc_id", "source", "lang"),
        "doc_id", "source", n = 5)),
    "q_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source",
        rates = Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
        defaultRate = 0.05)),

    // ----- Real BPE token accounting: train merges on the corpus,
    // count tokens under the learned vocabulary (rows-only: iterative
    // training is engine-defined, pinned instead by BpeSpec's
    // sequential-reference equivalence) ------------------------------
    "q_bpe_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Bpe.train(docs, "text", nMerges = 16)
      Bpe.tokenCounts(docs, "doc_id", "text", merges)
    }),

    // ----- BPE encode under a PINNED merge table — the hash-checked
    // twin of q_bpe_tokens (the q_ivfadc_pinned pattern). The table is
    // chosen so the greedy encode has a closed form the oracle can
    // compute: merges live on disjoint letter groups {t,h,e} (the one
    // chain th+e), {i,n}, {o,u}, {a,s}, so each merge's application
    // count equals its literal pattern occurrences — a 2-char pattern
    // of distinct chars cannot self-overlap, every literal "th" merges
    // (a prior overlapping match would need w[i+1]='t' where it is
    // 'h'), and a chained "the" always forms. Token count per doc =
    // non-whitespace chars − Σ pattern occurrences. The ENGINE side
    // runs the full encode machinery (broadcast merge map, greedy
    // lowest-rank loop, mergeOnce) — only the oracle uses the closed
    // form. ------------------------------------------------------------
    "q_bpe_pinned" -> ((s, dir) =>
      Bpe.tokenCounts(Tables.documents(s, dir), "doc_id", "text",
        Seq(Bpe.Merge(0, "t", "h"), Bpe.Merge(1, "th", "e"),
          Bpe.Merge(2, "i", "n"), Bpe.Merge(3, "o", "u"),
          Bpe.Merge(4, "a", "s")))),

    // ----- Feature-hashing TF vectors (sparse) + inverted-index
    // cosine search: a model-free text embedding and exact top-k over
    // it, both fully hash-checked ------------------------------------
    "q_hashing_tf" -> ((s, dir) =>
      TextOps.hashingTfSparse(Tables.documents(s, dir), "doc_id", "text", dim = 64)),
    "q_text_knn" -> ((s, dir) =>
      // Norm-carrying zero-shuffle TF (HashTfMap counts inside the
      // row), so the whole query is candidate-join -> pair agg ->
      // top-k: two exchanges. dim = 4096 keeps term buckets selective:
      // at dim 64 every bucket mixed several tokens, fattening the
      // candidate join ~3.5x. Stays exact (cap 0) because this
      // corpus's 31-token vocabulary makes every term a "stop word" —
      // any cap that fires prunes ALL candidates; the maxBucketDocs
      // skew guard is exercised by its own planted-hot-bucket spec.
      //
      // The query panel is a FIXED 100-doc set (doc_id < 1000, every
      // 10th), not a corpus-proportional slice: brute-force exact
      // search's production contract is "bounded query panel vs
      // growing corpus" (O(panel x corpus)). The round-7 sf1
      // checkpoint measured the previous %50 panel at 111x for 10x
      // docs — panel x postings both grew 10x, which is the
      // all-pairs dedup shape, served by the banded LSH families, not
      // by exact search (PERF.md round-7).
      TextOps.sparseCosineTopK(
        TextOps.hashingTfSparseWithNorm(Tables.documents(s, dir), "doc_id", "text", dim = 4096),
        col("doc_id") < 1000 && col("doc_id") % 10 === 0, k = 5)),

    // ----- Top-5 salient terms per doc, raw-idf TF-IDF ---------------
    "q_tfidf_topterms" -> ((s, dir) =>
      TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text",
        k = 5, minTf = 2L)),

    // ----- Positional-index phrase search: exact "spark scan"
    // occurrences by postings adjacency join — the pushed term filter
    // means only the queried terms' postings ever shuffle (a LIKE scan
    // would read every byte of a 100 TB text column) ------------------
    "q_phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
        phrase = Seq("spark", "scan"))),

    // ----- Corpus n-gram counting: every trigram over a cutoff, the
    // canonical web-scale counting job (map-side combined) ------------
    "q_ngram_counts" -> ((s, dir) =>
      TextOps.ngramCounts(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minCount = 2L, k = 100)),

    // ----- Content-defined chunking: shift-robust dedup units (an
    // edit moves fixed blocks, but CDC chunk hashes downstream of the
    // edit survive — the incremental-crawl complement of span dedup) --
    "q_cdc_chunks" -> ((s, dir) =>
      TextOps.cdcChunks(Tables.documents(s, dir), "doc_id", "text",
        w = 5, modulus = 16)),

    // ----- CDC re-crawl accounting: chunk a head-edited re-crawl of
    // every doc and count chunks whose hash survives — the dedupable
    // fraction an incremental ingest skips. Fixed blocks would reuse
    // ~nothing after the shift; CDC boundaries realign. -------------
    "q_cdc_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val edited = docs.select(col("doc_id"),
        concat(lit("edited head "), col("text")).as("text"))
      val oldChunks = TextOps.cdcChunks(docs, "doc_id", "text", w = 5, modulus = 16)
        .select(col("doc_id"), col("chunk_hash")).distinct()
      val newChunks = TextOps.cdcChunks(edited, "doc_id", "text", w = 5, modulus = 16)
        .select(col("doc_id"), col("chunk_hash"))
      newChunks
        .join(oldChunks.withColumn("__hit", lit(1L)),
          Seq("doc_id", "chunk_hash"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_reused"))
        .withColumn("reuse_frac",
          col("n_reused").cast(DoubleType) / col("n_chunks").cast(DoubleType))
    }),

    // ----- Bigram LM statistics: exact continuation probabilities
    // (what a memorization / contamination audit reads) ---------------
    "q_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLm(Tables.documents(s, dir), "doc_id", "text",
        minCount = 5L, k = 100)),

    // ----- BM25 ranked retrieval (raw-odds idf — transcendental-free
    // so the score is bit-reproducible in any IEEE engine) ------------
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("dup", "spark", "scan", "window"), k = 50)),

    // ----- Frozen linear quality classifier over hashed bag-of-words:
    // model inference as a projection (quarter-unit weights keep the
    // margin an exact dyadic — bit-identical under any partitioning) --
    "q_linear_quality" -> ((s, dir) =>
      TextOps.linearQualityScore(Tables.documents(s, dir), "doc_id", "text",
        dim = 64)),
    "q_redact_pii" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.redactPii(col("text")).as("redacted"))),
    "q_split_assign" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.splitAssign(col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))),

    // ----- Tokenizer-coverage gate: OOV rate against the corpus's
    // deterministic top-16 vocabulary --------------------------------
    "q_oov_rate" -> ((s, dir) =>
      TextOps.oovRate(Tables.documents(s, dir), "doc_id", "text", vocabSize = 16)),

    // ----- Training-window packing: concat tokens per source shard,
    // cut every 256 — each doc's offset and window span -------------
    "q_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(Tables.documents(s, dir), "doc_id", "text",
        groupCol = "source", capacity = 256L)),

    // ----- Z-order layout audit: interleave (user, hour) and report
    // per-z-bucket extents — the min/max file stats a z-clustered
    // write would expose for two-dimensional scan pruning ------------
    "q_zorder_stats" -> ((s, dir) => {
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
    }),

    // ----- Training-mix planning: per-source sampling rates that hit
    // a 50k-token budget at the requested weights --------------------
    "q_mix_rates" -> ((s, dir) =>
      TextOps.sourceMixRates(Tables.documents(s, dir), "doc_id", "text", "source",
        weights = Seq("src0" -> 0.30, "src1" -> 0.20),
        defaultWeight = 0.025, budgetTokens = 50000L)),
    // Counts-derived mixing: w ∝ tokens^(1/2) (temperature 2) —
    // small sources oversampled relative to their natural share;
    // weights micro-quantized so the rate is one exact-decimal
    // division (sqrt is correctly rounded on every IEEE engine,
    // which is why only power-of-two temperatures are offered).
    "q_temperature_mix" -> ((s, dir) =>
      TextOps.temperatureMixRates(Tables.documents(s, dir), "doc_id",
        "text", "source", budgetTokens = 50000L)),

    // ----- The full training-data pipeline as ONE query: redact ->
    // exact-dedup keepers -> quality gates -> deterministic split ->
    // per-(split, lang) counts. Every stage is an operator above; the
    // composition is what a real corpus build runs. ------------------
    "q_pipeline_e2e" -> ((s, dir) => {
      // redacted feeds four plan branches (dedup digests, both stats
      // passes, the final keeper join) and the planner re-runs the
      // regex-heavy redaction scan per branch — the r16 profile showed
      // one 1.8 s single-task stage plus two ~0.3 s twins, all
      // re-redacting the same corpus. Materialize the redaction once
      // (the q_pipeline_neardup precedent); the three token passes
      // then read the checkpointed blocks.
      val redacted = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), TextOps.redactPii(col("text")).as("text"))
        .localCheckpoint()
      val keepers = TextOps.exactDedupGroups(redacted, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val stats = TextOps.textStats(redacted, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      val rep = TextOps.repetitionStats(redacted, "doc_id", "text")
        .select(col("doc_id"), col("dup_token_ratio"))
      redacted
        .join(keepers, Seq("doc_id")) // drop non-keeper duplicates
        .join(stats, Seq("doc_id"))
        .join(rep, Seq("doc_id"))
        .filter(col("n_tokens") >= 10 &&
          (col("dup_token_ratio").isNull || col("dup_token_ratio") <= 0.5))
        .select(col("lang"),
          TextOps.splitAssign(col("doc_id"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"))
    }),
    // ----- The pipeline with the NEAR-dup stage composed in: redact ->
    // exact-dedup keepers -> minhash+LSH candidates -> connected-
    // components keeper resolution -> quality gates -> split -> counts.
    // This is the full corpus build; q_pipeline_e2e remains the
    // exact-only ablation. ------------------------------------------
    "q_pipeline_neardup" -> ((s, dir) => {
      val redacted = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), TextOps.redactPii(col("text")).as("text"))
      val exactKeepers = TextOps.exactDedupGroups(redacted, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      // exactKept feeds six plan branches (banding, CC resolution, the
      // keeper join, both stats passes, the final gate) — materialize
      // the redaction+dedup prefix once instead of re-running the
      // regex-heavy scan per branch
      val exactKept = redacted.join(exactKeepers, Seq("doc_id")).localCheckpoint()
      // CC consumes bucket stars, not pair cliques (same components,
      // linear edge volume — the r12 dedup-family fix)
      val pairs = TextOps.minhashStarEdges(exactKept, "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3)
      val ndKeepers = graft.operators.DedupGroups
        .resolveKeepers(exactKept, "doc_id", pairs)
        .filter(col("is_keeper")).select("doc_id")
      val kept = exactKept.join(ndKeepers, Seq("doc_id"))
      val stats = TextOps.textStats(kept, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      val rep = TextOps.repetitionStats(kept, "doc_id", "text")
        .select(col("doc_id"), col("dup_token_ratio"))
      kept
        .join(stats, Seq("doc_id"))
        .join(rep, Seq("doc_id"))
        .filter(col("n_tokens") >= 10 &&
          (col("dup_token_ratio").isNull || col("dup_token_ratio") <= 0.5))
        .select(col("lang"),
          TextOps.splitAssign(col("doc_id"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"))
    }),

    "q_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit(TextOps.TokenRegex), lit(0))).as("__t"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__t")).cast(LongType).as("total_tokens"))),
    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(Tables.documents(s, dir), "doc_id", "text", "lang")),

    // ----- B6: recent-N rollup buckets per key (notebook
    // fetch_recent_ohlcv) ---------------------------------------------
    "q_recent_per_key" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts").desc)
      r1h.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("user_id", "bucket_ts", "open", "high", "low", "close", "volume", "trades", "rn")
    }),

    // ----- Range join: same-user event pairs within 60 seconds --------
    "q_range_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
      val clicks = e.filter(col("event_type") === "click")
      RangeJoin.timeProximityJoin(
        purchases, clicks, Seq("user_id"), "ts", toleranceSeconds = 3600L,
        leftPayload = Seq("event_id"), rightPayload = Seq("event_id"))
        .select(
          col("user_id"), col("ts_l"), col("ts_r"),
          col("l_event_id").as("purchase_id"), col("r_event_id").as("click_id"))
    }),
    // ----- Interval-overlap join: purchase attention windows [ts,
    // ts+2h) x click windows [ts, ts+1h) per user, banded grid
    // equi-join with the report-once bucket (no distinct) -------------
    "q_interval_overlap" -> ((s, dir) => {
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
    }),

    // ----- JSON extraction from the props column ----------------------
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))),

    // ----- String function surface ------------------------------------
    "q_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).cast(LongType).as("name_len"),
        substring(col("p_name"), 1, 4).as("name_prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowels"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        (instr(col("p_name"), " ")).cast(LongType).as("space_pos"))),

    // ----- Set operations: INTERSECT / EXCEPT / UNION -----------------
    "q_set_ops" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clickers = e.filter(col("event_type") === "click").select("user_id").distinct()
      val buyers = e.filter(col("event_type") === "purchase").select("user_id").distinct()
      val errored = e.filter(col("event_type") === "error").select("user_id").distinct()
      clickers.intersect(buyers).withColumn("cohort", lit("click_and_buy"))
        .unionByName(clickers.except(errored).withColumn("cohort", lit("click_no_error")))
    }),

    // ----- Pivot-style conditional aggregation ------------------------
    "q_pivot_counts" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).cast(LongType).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).cast(LongType).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast(LongType).as("n_purchase"),
          sum(when(col("event_type") === "signup", 1).otherwise(0)).cast(LongType).as("n_signup"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).cast(LongType).as("n_error"))),

    // ----- Percentiles (exact, interpolated) --------------------------
    // Exact interpolated percentiles via the spillable rank-selection
    // operator (bit-identical to the builtin percentile(), which
    // buffers whole groups in one in-memory array and OOMs on a hot
    // group — see RankOps.exactPercentilesCont) -----------------------
    "q_percentiles" -> ((s, dir) => {
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
    }),

    // ----- Approximate percentiles (rows-only: sketch internals are
    // engine-defined). The 100 TB variant of q_percentiles: exact
    // `percentile` buffers every group's values in memory, while the
    // Greenwald-Khanna sketch behind approx_percentile is fixed-size
    // and mergeable — partial aggregation works and no group can OOM
    // an executor. accuracy=10000 → ~0.01% rank error. --------------
    "q_approx_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("p50_qty"),
          expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("p90_price"),
          expr("approx_percentile(l_extendedprice, 0.99, 10000)").as("p99_price"),
          count(lit(1)).as("n"))),

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
    "q_approx_percentiles_audit" -> ((s, dir) => {
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
    }),

    // ----- Moment statistics via exact cent sums ----------------------
    // stddev/avg computed from order-independent integer accumulations
    // (Welford order-sensitivity would break oracle hashing); the
    // squared-cents sum accumulates in DECIMAL(38,0) (HUGEINT on the
    // oracle side) — exact integers both sides, one double finish
    "q_price_stats" -> ((s, dir) => {
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
    }),

    // ----- Quality scoring: composite from text features --------------
    "q_quality_score" -> ((s, dir) => {
      val st = TextOps.textStats(Tables.documents(s, dir), "doc_id", "text")
      st.select(
        col("doc_id"),
        TextOps.qualityScoreCol.as("quality_score"))
    }),

    // ----- Curriculum binning: per-source quality deciles (what a
    // curriculum schedule or quality-pruning threshold reads) ---------
    "q_quality_deciles" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = TextOps.textStats(docs, "doc_id", "text")
      val score = st.select(
        col("doc_id"),
        TextOps.qualityScoreCol.as("quality_score"))
      TextOps.curriculumBins(
        score.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "doc_id", "source", "quality_score", nBins = 10)
        .select(col("doc_id"), col("source"), col("quality_score"), col("bin"))
    }),

    // ----- Sessionization: 30-minute-gap sessions per user ------------
    "q_sessionize" -> ((s, dir) => {
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
    }),

    // ----- Training-data pipeline: similarity search ------------------
    "q_knn_topk" -> ((s, dir) =>
      VectorOps.knnTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding", col("vec_id") < 20, k = 5)),
    "q_knn_ivf_topk" -> ((s, dir) =>
      VectorOps.knnTopKIvf(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", col("vec_id") < 50, k = 5)),

    // ----- 1-NN label purity: the embedding-quality readout behind
    // semantic dedup and clustering — per label, how often a probe's
    // nearest neighbor (self excluded, exact brute force) shares its
    // label. Integer counts + ONE division; probes are a FIXED
    // bounded panel (vec_id < 2000, every 10th — a purity readout is
    // a sample statistic, it does not need a corpus-proportional
    // panel; the unbounded %10 panel measured 88x for 10x vectors at
    // sf1, the brute-force panel x corpus trap). Identical result at
    // sf0.01/sf0.1 where all vec ids are < 2000. Candidates never
    // shuffle (broadcast query side, the knnTopK shape). -------------
    "q_knn_label_purity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nn1 = VectorOps.knnTopK(emb, "vec_id", "embedding",
        col("vec_id") < 2000 && col("vec_id") % 10 === 0, k = 1)
      val lbl = emb.select(col("vec_id"), col("label"))
      nn1
        .join(lbl.select(col("vec_id").as("query_id"), col("label").as("__ql")), "query_id")
        .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")), "neighbor_id")
        .groupBy(col("__ql").as("label"))
        .agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("__nl") === col("__ql"), 1L).otherwise(0L)).as("n_pure"))
        .withColumn("purity",
          col("n_pure").cast(DoubleType) / col("n_probes").cast(DoubleType))
    }),
    "q_embed_neardup" -> ((s, dir) =>
      VectorOps.cosineNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", threshold = 0.45)),
    // SemDeDup-style semantic dedup: cluster-bounded cosine pairs ->
    // connected components -> keeper per semantic group. The looser
    // 0.30 threshold grows a real graph (0.45 leaves ~2 pairs at
    // sf0.01); the label column plays the coarse cluster, exactly as
    // k-means/LSH buckets would at scale. Since r13 the within-
    // cluster pairs are EXACT at any cluster size (blocked
    // sub-sharding) — the cost is the all-pairs bill Σ n²/2, which
    // q_cap_report_clusters prices up front; at 100 TB you size the
    // clustering (k-means cells ≈ corpus/target-cell) so cells stay
    // near the cap, you don't shed members.
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = VectorOps.cosineNearDupPairs(
          emb, "vec_id", "embedding", "label", threshold = 0.30)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      graft.operators.DedupGroups.resolveKeepers(emb, "vec_id", pairs)
        .select(col("doc_id").as("vec_id"), col("keeper_id"), col("is_keeper"))
    }),
    // Storage-side int8 quantization summary (float32 -> int8, the 4x
    // shrink a 100 TB embedding store takes before indexing) ---------
    "q_embed_quantize" -> ((s, dir) =>
      VectorOps.quantizeInt8Stats(Tables.embeddings(s, dir), "vec_id", "embedding")),
    // Hyperplane-LSH bucketed variant. Few planes -> big buckets ->
    // high recall at this tiny SF. The seed-42 gaussian planes are
    // deterministic, so the oracle pins all 4x64 weights as literals
    // and replays bucket = OR over sign bits + in-bucket cosine —
    // fully hash-checked (left rows-only until round 5).
    "q_lsh_neardup" -> ((s, dir) =>
      VectorOps.lshNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nPlanes = 4, threshold = 0.45)),

    // ----- IVF over computed k-means clusters. iterations = 1 keeps
    // the coarse quantizer at its deterministic seed (first k vectors
    // by id), which a SQL oracle reproduces exactly — so assignment +
    // in-cell search is fully hash-checked; the Lloyd's refinement
    // loop stays exercised (and recall-pinned) by q_ivfadc_topk,
    // q_knn_ivf_probe and KmeansCompactionSpec ------------------------
    "q_knn_kmeans_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val clusters = VectorOps.kmeansAssign(emb, "vec_id", "embedding", k = 8, iterations = 1)
      val withCluster = emb.join(
        clusters.withColumnRenamed("id", "vec_id"), "vec_id")
      VectorOps.knnTopKIvf(withCluster, "vec_id", "embedding", "cluster",
        col("vec_id") < 20, k = 5)
    }),

    // ----- PQ-compressed ANN: 64-float vectors scan as 8-byte codes,
    // ADC lookup-table scoring. iterations = 1 pins the codebooks at
    // their deterministic seed (sub-slices of the first ksub vectors
    // by id), which the SQL oracle rebuilds — encode argmin, lookup
    // tables, and the ordered ADC fold are then bit-reproducible, so
    // the whole ADC path is hash-checked; Lloyd's-refined codebooks
    // stay exercised by q_ivfadc_topk and recall-pinned in PqSpec ----
    "q_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iterations = 1)
      ProductQuantizer.adcTopK(emb, "vec_id", "embedding",
        col("vec_id") < 20, model, k = 10)
    }),

    // ----- ADC shortlist + exact cosine re-rank: the two-stage ANN
    // serving shape; same pinned seed codebook as q_pq_topk, so the
    // shortlist AND the re-ranked order are both hash-checked ---------
    "q_pq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iterations = 1)
      ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        col("vec_id") < 20, model, shortlist = 30, k = 10)
    }),

    // ----- IVFADC: coarse-cell pruning + residual-PQ ADC, the full
    // memory-bound ANN index (rows-only: engine-defined codebooks;
    // recall and cell membership pinned in PqSpec) --------------------
    "q_ivfadc_topk" -> ((s, dir) =>
      ProductQuantizer.ivfadcTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, kCoarse = 8, coarseIterations = 3,
        m = 8, ksub = 16, pqIterations = 3, nprobe = 2, k = 10)),

    // ----- IVFADC at iterations = 1: the identical architecture with
    // both quantizers pinned at their deterministic seeds, so coarse
    // probing, residual encoding, AND ADC scoring are hash-checked
    // (Lloyd's-refined codebooks stay exercised by q_ivfadc_topk) -----
    "q_ivfadc_pinned" -> ((s, dir) =>
      ProductQuantizer.ivfadcTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, kCoarse = 8, coarseIterations = 1,
        m = 8, ksub = 16, pqIterations = 1, nprobe = 2, k = 10)),

    // ----- Multi-probe IVF: nprobe=2 probes each query's two nearest
    // centroids — the recall knob of a production IVF index. Like
    // q_knn_kmeans_ivf, iterations = 1 pins the coarse quantizer at
    // its deterministic seed so probe selection + in-cell search are
    // fully hash-checked; Lloyd's-refined centroids stay exercised by
    // q_ivfadc_topk and KmeansCompactionSpec --------------------------
    "q_knn_ivf_probe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iterations = 1)
      val withCluster = emb.join(
        VectorOps.kmeansAssign(emb, "vec_id", "embedding", k = 8, iterations = 1)
          .withColumnRenamed("id", "vec_id"), "vec_id")
      VectorOps.knnTopKIvfProbe(withCluster, "vec_id", "embedding", "cluster",
        VectorOps.centroidsDF(s, cents), col("vec_id") < 20, k = 5, nprobe = 2)
    }),

    // ----- Heavy hitters via the space-saving sketch (ClickHouse topK
    // analog). capacity 4096 >= distinct users at test SFs, so the
    // sketch is EXACT here and fully hash-checked against the exact
    // group-count oracle; at 100 TB the same aggregate runs with the
    // same fixed memory where an exact groupBy may not. --------------
    "q_topk_sketch" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id").cast("string").as("u"))
        .agg(graft.functions.TopKItems.topk_items(col("u"), 10, 4096).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.item").as("user_id"), col("t.cnt").as("n_events"))),

    // ----- PCA over the embedding column: the dimensionality-
    // reduction stage before LSH/IVF indexing. Components are
    // engine-internal floats (one-pass moment sums + driver Jacobi),
    // so the projection is rows-only; q_pca_audit publishes the
    // model invariants as oracle-checked booleans. ---------------------
    "q_pca_project" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.functions.PcaOps.fit(emb, "embedding", k = 8)
      graft.functions.PcaOps.project(emb, "vec_id", "embedding", model)
        .orderBy(col("vec_id"))
    }),
    "q_pca_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val k = 8
      val model = graft.functions.PcaOps.fit(emb, "embedding", k)
      val dim = model.mean.length
      // W Wt ~= I (components are rows): max abs deviation
      val maxDev = (0 until k).map { a =>
        (0 until k).map { b =>
          val dotAb = model.components(a).zip(model.components(b))
            .map { case (x, y) => x * y }.sum
          math.abs(dotAb - (if (a == b) 1.0 else 0.0))
        }.max
      }.max
      val descending = model.eigenvalues.sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1) - 1e-12)
      val topSum = model.eigenvalues.sum
      val accounted = topSum <= model.trace + 1e-9 * math.max(1.0, model.trace) &&
        topSum >= model.trace * k / dim - 1e-9
      // the DISTRIBUTED projection's first-component variance must
      // match the driver model's top eigenvalue (ties fit to project)
      val pc0 = graft.functions.PcaOps
        .project(emb, "vec_id", "embedding", model)
        .agg(var_pop(col("pc0"))).head().getDouble(0)
      val pc0Matches = math.abs(pc0 - model.eigenvalues(0)) <=
        1e-6 * math.max(1.0, model.eigenvalues(0))
      import s.implicits._
      Seq((model.nRows, dim.toLong, k.toLong,
          maxDev < 1e-8, descending, accounted, pc0Matches))
        .toDF("n_rows", "dim", "k", "orthonormal", "eigs_descending",
          "variance_accounted", "pc0_var_matches")
    }),

    // ----- Count-min sketch: mergeable point-frequency estimation
    // (HLL = distinct, bloom = membership, CMS = how often). Token
    // frequencies over the document corpus; estimates are hash-stream
    // values (rows-only), q_cms_audit publishes the two invariants —
    // counters never undercount, min-of-depth stays inside the N/width
    // collision budget — as oracle-checked booleans per token. --------
    "q_cms_counts" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val cells = graft.operators.CmsOps
        .cmsCells(toks, "token", width = 1024, depth = 4)
      graft.operators.CmsOps
        .estimateBatch(toks.distinct(), "token", cells, 1024, 4)
        .orderBy(col("token"))
    }),
    "q_cms_audit" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val nTotal = toks.count()
      val cells = graft.operators.CmsOps
        .cmsCells(toks, "token", width = 1024, depth = 4)
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_n"))
      // no_underestimate is a TRUE invariant of the sketch (min over
      // cells that each counted the token), published per token. The
      // 3N/width excess bound is only probabilistic (~(1/3)^depth per
      // token by Markov), so it is published in AGGREGATE: the count
      // of over-bound tokens must stay within a 5%+8 allowance — a
      // broken sketch blows the bound on most tokens, a hash-unlucky
      // token no longer flips the oracle red.
      val est = graft.operators.CmsOps
        .estimateBatch(exact, "token", cells, 1024, 4)
        .localCheckpoint(true) // consumed twice: rows + excess tally
      val excess = est.agg(
        sum(when(col("est") - col("exact_n") > lit(3L * nTotal / 1024L + 1L),
          lit(1L)).otherwise(lit(0L))).as("__n_over"),
        count(lit(1)).as("__n_tok"))
      est.crossJoin(broadcast(excess))
        .select(col("token"), col("exact_n"),
          (col("est") >= col("exact_n")).as("no_underestimate"),
          (col("__n_over") * lit(20L) <= col("__n_tok") + lit(160L))
            .as("bound_excess_ok"))
    }),
    // The SHARDED sketch path under the same oracle gate: the sketch
    // stays a cluster-resident relation, estimates join it, and the
    // per-shard no-undercount invariant is published the same way
    // (each key's estimate comes from its own shard's sketch, so the
    // within-shard bound is even tighter than the unsharded one).
    "q_cms_sharded_audit" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val nTotal = toks.count()
      val shardRows = graft.operators.CmsOps
        .cmsShardRows(toks, "token", nShards = 4, width = 1024, depth = 4)
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_n"))
      val est = graft.operators.CmsOps
        .estimateBatchSharded(exact, "token", shardRows,
          nShards = 4, width = 1024, depth = 4)
        .localCheckpoint(true) // consumed twice: rows + excess tally
      // same aggregate-excess publication as q_cms_audit (the bound
      // is probabilistic per token; only its mass is an invariant)
      val excess = est.agg(
        sum(when(col("est") - col("exact_n") > lit(3L * nTotal / 1024L + 1L),
          lit(1L)).otherwise(lit(0L))).as("__n_over"),
        count(lit(1)).as("__n_tok"))
      est.crossJoin(broadcast(excess))
        .select(col("token"), col("exact_n"),
          (col("est") >= col("exact_n")).as("no_underestimate"),
          (col("__n_over") * lit(20L) <= col("__n_tok") + lit(160L))
            .as("bound_excess_ok"))
    }),

    // ----- Histogram: fixed-width value buckets -----------------------
    "q_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(floor(col("value") / 25.0).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          CandleOps.moneySum(col("value")).as("bucket_sum"))),

    // ----- Winnowing fingerprints (rolling-hash dedup; engine-defined
    // hash — rows-only check, invariants unit-tested) ------------------
    "q_doc_winnow" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        explode(graft.functions.Winnowing.winnow(
          TextOps.tokens(col("text")), 4, 4)).as("fingerprint"))),
    "q_winnow_neardup" -> ((s, dir) =>
      graft.functions.Winnowing.winnowNearDupPairs(
        Tables.documents(s, dir), "doc_id", "text", k = 4, w = 4, minShared = 2)),

    // ----- Multimodal plumbing (synthetic media; stubbed codec; no SQL
    // oracle — rows-only check) --------------------------------------
    "q_media_stats" -> ((s, _) =>
      MultimodalOps.mediaStats(MultimodalOps.syntheticMedia(s, 500).toDF())),
    // feature vector projected to a scalar string: the driver's checker
    // sorts rows via pandas, which cannot hash a raw array<float> column
    "q_media_features" -> ((s, _) =>
      MultimodalOps.extractFeatures(MultimodalOps.syntheticMedia(s, 500)).toDF()
        .select(
          col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          concat_ws(",", transform(col("feature"), f => f.cast("string")))
            .as("feature_csv"))),
    "q_frame_samples" -> ((s, _) =>
      MultimodalOps.sampleFrames(MultimodalOps.syntheticMedia(s, 500).toDF(), everyMs = 500L)),
    "q_media_resize" -> ((s, _) =>
      MultimodalOps.resizeImages(MultimodalOps.syntheticMedia(s, 500), 224, 224).toDF()
        .groupBy("kind", "width", "height")
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("payload_bytes"))),

    // ----- REAL image decode: payloads are genuine PNGs, stats come
    // from javax.imageio-decoded pixels (channel sums + a nearest-
    // neighbor 8x6 downsample), and the oracle replays the pixel
    // arithmetic from generate_series — a full hash check on an
    // actual codec path. -------------------------------------------
    "q_media_decode" -> ((s, _) =>
      MultimodalOps.decodeImageStats(MultimodalOps.syntheticImages(s, 200), 8, 6)),

    // ----- Per-frame video dHashes: demux + real PNG decode + the
    // image fingerprint, oracle replays the frame pixel arithmetic ----
    "q_video_dhash" -> ((s, _) =>
      MultimodalOps.videoFrameDHashes(MultimodalOps.syntheticVideos(s, 200))
        .select(col("media_id"), col("frame_no"),
          lpad(lower(hex(col("dhash"))), 16, "0").as("dhash_hex"))),

    // ----- Scene-change detection: consecutive-frame dHash deltas,
    // paired inside the demux iterator (zero shuffle) -----------------
    "q_scene_changes" -> ((s, _) =>
      MultimodalOps.sceneChanges(MultimodalOps.syntheticVideos(s, 200), minHamming = 12)),

    // ----- Perceptual image fingerprints over the REAL decode path:
    // dHash on the 9x8 nearest-neighbor grid; oracle replays the
    // synthetic pixel arithmetic bit for bit (hash emitted as hex, the
    // simhash-oracle convention for 64-bit values) -------------------
    "q_image_dhash" -> ((s, _) =>
      MultimodalOps.imageDHashes(MultimodalOps.syntheticImages(s, 200))
        .select(col("media_id"),
          lpad(lower(hex(col("dhash"))), 16, "0").as("dhash_hex"))),

    // ----- Perceptual image near-dup pairs: real-decode dHashes into
    // the shared 4-band hamming self-join (8-byte fingerprints are all
    // that shuffles; hot fingerprint buckets capped) ------------------
    "q_image_neardup" -> ((s, _) =>
      MultimodalOps.imageNearDupPairs(
        MultimodalOps.imageDHashes(MultimodalOps.syntheticImages(s, 200)),
        maxHamming = 3)),

    // ----- REAL audio decode: payloads are genuine RIFF/PCM WAVs,
    // stats come from javax.sound.sampled-decoded samples; the oracle
    // replays the sample arithmetic (PCM is uncompressed, decode is
    // verbatim). ----------------------------------------------------
    "q_media_audio" -> ((s, _) =>
      MultimodalOps.decodeAudioStats(MultimodalOps.syntheticWavs(s, 200))),

    // ----- Audio fingerprints over the REAL WAV decode: 65-window
    // energy-gradient hash, oracle replays the PCM sample arithmetic --
    "q_audio_fingerprint" -> ((s, _) =>
      MultimodalOps.audioFingerprints(MultimodalOps.syntheticWavs(s, 200))
        .select(col("media_id"),
          lpad(lower(hex(col("ahash"))), 16, "0").as("ahash_hex"))),

    // ----- Clip-level video near-dup: frame-fingerprint containment
    // (re-post detection; only 8-byte hashes shuffle) -----------------
    "q_video_neardup" -> ((s, _) =>
      MultimodalOps.videoNearDupPairs(
        MultimodalOps.videoFrameDHashes(MultimodalOps.syntheticVideos(s, 200)),
        minShared = 2L)),

    // ----- Audio near-dup pairs: the shared banded-hamming join over
    // the energy-gradient hashes ------------------------------------
    "q_audio_neardup" -> ((s, _) =>
      MultimodalOps.audioNearDupPairs(
        MultimodalOps.audioFingerprints(MultimodalOps.syntheticWavs(s, 200)),
        maxHamming = 3)),

    // ----- Video demux + per-frame REAL PNG decode: the container is
    // a documented frame-table stand-in (no mp4 demuxer in the JDK),
    // the per-frame codec is genuine ImageIO; the oracle replays the
    // frame pixel arithmetic. ----------------------------------------
    "q_media_video_frames" -> ((s, _) =>
      MultimodalOps.decodeVideoFrameStats(MultimodalOps.syntheticVideos(s, 150))),

    // ----- Conversion funnel (windowFunnel analog): view -> click ->
    // purchase within 24h of the earliest view; one exchange on user --
    "q_funnel_steps" -> ((s, dir) =>
      EventOps.funnelSteps(Tables.events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"), windowUs = 86400000000L)),

    // ----- First-touch retention cohorts: cohort day x activity-day
    // offset matrix ---------------------------------------------------
    "q_retention_cohorts" -> ((s, dir) =>
      EventOps.retentionCohorts(Tables.events(s, dir), "user_id", "ts")),

    // ----- sequenceMatch analog: per-user ordered event-code string
    // vs regex "view then purchase with no error between" -------------
    "q_sequence_match" -> ((s, dir) =>
      EventOps.sequenceMatch(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", "v[^e]*p")),

    // ----- sequenceCount: non-overlapping repeats of the journey -----
    "q_sequence_count" -> ((s, dir) =>
      EventOps.sequenceCount(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", "v[^e]*p")),

    // ----- Exact-integer 3-sigma outliers per event type: anomaly
    // flags with no sqrt and no float tie -----------------------------
    "q_sigma_outliers" -> ((s, dir) =>
      EventOps.sigmaOutliers(Tables.events(s, dir), "event_type", "value", k = 3)
        .select("event_id", "event_type", "value")),

    // ----- Robust median/MAD outliers per event type: thresholds the
    // outliers can't inflate ------------------------------------------
    "q_mad_outliers" -> ((s, dir) =>
      EventOps.madOutliers(Tables.events(s, dir), "event_type", "value", k = 5.0)
        .select("event_id", "event_type", "value")),

    // ----- Rolling 50-event 3-sigma monitor per user: "normal" drifts
    // with the stream; same exact integer arithmetic ------------------
    "q_rolling_outliers" -> ((s, dir) =>
      EventOps.rollingSigmaOutliers(Tables.events(s, dir), "user_id", "ts",
        "event_id", "value", windowRows = 50, k = 3)
        .select("event_id", "user_id", "value")),

    // ----- Path analysis: top-20 3-step event paths ------------------
    "q_event_paths" -> ((s, dir) =>
      EventOps.eventPaths(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", k = 20)),

    // ----- Funnel latency: time-to-convert stats per step ------------
    "q_funnel_latency" -> ((s, dir) =>
      EventOps.funnelLatency(Tables.events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"), windowUs = 86400000000L)),

    // ----- Composition: conversion funnel WITHIN 12h-gap sessions —
    // sessionize, then funnel keyed on (user, session). Composite keys
    // (not a concat string) let the funnel windows reuse the
    // sessionizer's user-hash exchange: ONE shuffle end to end -------
    "q_session_funnel" -> ((s, dir) => {
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
    }),

    // ----- Inter-arrival distribution per type: exact log2 buckets ---
    "q_interarrival_hist" -> ((s, dir) =>
      EventOps.interArrivalHistogram(Tables.events(s, dir), "event_type",
        "ts", "event_id")),

    // ----- Weekly lifecycle: new / retained / resurrected / churning -
    "q_user_lifecycle" -> ((s, dir) =>
      EventOps.userLifecycle(Tables.events(s, dir), "user_id", "ts")),

    // ----- Temporal modeling (SCD2): each event opens a validity
    // interval on its user's state, closed by the next event ----------
    "q_validity_intervals" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"))
    }),

    // ----- Day-over-day volume change per type: exact-ratio doubles,
    // flag moves beyond +/-20% ----------------------------------------
    "q_dod_change" -> ((s, dir) => {
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
    }),

    // ----- A/B conversion: per-arm funnel step counts over the same
    // deterministic id-hash split -------------------------------------
    "q_ab_funnel" -> ((s, dir) => {
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
    }),

    // ----- Retention rates: the cohort triangle normalized by cohort
    // size — one IEEE division of exact integers ----------------------
    "q_retention_rates" -> ((s, dir) => {
      val cohorts = EventOps.retentionCohorts(Tables.events(s, dir),
        "user_id", "ts")
      val sizes = cohorts.filter(col("day_offset") === 0)
        .select(col("cohort_date"), col("n_users").as("cohort_size"))
      cohorts.join(broadcast(sizes), Seq("cohort_date"))
        .select(col("cohort_date"), col("day_offset"), col("n_users"),
          col("cohort_size"),
          (col("n_users").cast(DoubleType) /
            col("cohort_size").cast(DoubleType)).as("rate"))
    }),

    // ----- A/B readout: deterministic 50/50 id-hash split, exact
    // cent metric sums per arm over purchase events -------------------
    "q_ab_metrics" -> ((s, dir) => {
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
    }),

    // ----- CUPED variance-reduced A/B readout: per-user view-count
    // covariate adjusts the purchase-value metric by the pooled
    // θ = cov/var — exact co-moments, fixed composition order --------
    "q_cuped" -> ((s, dir) =>
      EventOps.cupedReadout(
        Tables.events(s, dir), "user_id", "event_type", "value",
        covariateType = "view", metricType = "purchase",
        splits = Seq("a" -> 0.5, "b" -> 0.5))),

    // ----- Markov journey model: adjacent-transition counts and
    // exact-ratio probabilities per from-type ------------------------
    "q_markov_transitions" -> ((s, dir) =>
      EventOps.markovTransitions(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id")),

    // ----- Windowed drift monitor (the streaming monitor's exact
    // semantics, oracle-checked on the batch frame): each day's
    // event-type mix vs the declared uniform reference --------------
    "q_window_drift" -> ((s, dir) =>
      EventOps.streamingDriftChi2(Tables.events(s, dir), "event_type", "ts",
        windowLen = "1 day", watermark = "1 minute",
        expected = Seq("view" -> 1L, "click" -> 1L, "purchase" -> 1L,
          "signup" -> 1L, "error" -> 1L),
        threshold100 = 384L)),

    // ----- Multi-touch attribution: first/last/linear credit per
    // channel, exact cents (linear shares as floor micro-cents) -------
    "q_attribution" -> ((s, dir) =>
      EventOps.attribution(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id", "value", convType = "purchase",
        lookbackUs = 604800000000L)),

    // ----- Categorical drift: chi-square homogeneity of event-type
    // mix across two periods, exact (num, den) decimal pair -----------
    "q_drift_chi2" -> ((s, dir) =>
      EventOps.driftChi2(Tables.events(s, dir), "event_type", "ts",
        splitTs = "2024-01-16 00:00:00", threshold100 = 384L)
        // int128-scale integers cross engines as digit strings: a
        // double cast of >2^53 values risks engine rounding-mode
        // skew, and raw decimal-vs-HUGEINT trips type-sensitive
        // comparators; the drift decision itself stays exact above
        .withColumn("chi2_num", col("chi2_num").cast("string"))
        .withColumn("chi2_den", col("chi2_den").cast("string"))),

    // ----- Quality-weighted deterministic sampling: keep documents
    // with probability proportional to length score, zero shuffle ----
    "q_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(Tables.documents(s, dir), "doc_id",
        col("n_chars"), weightScale = 600L, rate = 0.5)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))),

    // ----- Blocked fuzzy entity resolution over the part-name
    // dictionary: first/last-token blocking, levenshtein <= 2 ---------
    "q_fuzzy_match" -> ((s, dir) =>
      EntityOps.fuzzyNamePairs(Tables.part(s, dir), "p_name", maxDist = 2)),

    // ----- One-pass data-quality report: row rules in one aggregate,
    // key uniqueness, referential integrity (the reference's
    // data_quality_check battery as declarative constraints) ----------
    "q_dq_report" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      QualityReport.report(
        QualityReport.rowReport(e, Seq(
          QualityReport.notNull("value_not_null", col("value")),
          QualityReport.inRange("value_range", col("value"), 0.0, 1000.0),
          QualityReport.matches("type_known", col("event_type"),
            "^(view|click|purchase|signup|error)$"),
          QualityReport.RowRule("props_json",
            get_json_object(col("props"), "$.k").isNull))),
        QualityReport.uniqueKey(e, "event_id_unique", Seq("event_id")),
        QualityReport.refIntegrity(
          Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "lineitem_orphans"))
    }),

    // ----- AggregatingMergeTree analog: daily HLL sketch parts merged
    // back to per-type distincts (rows-only: sketch estimates are
    // engine-defined; merge==direct identity proved in SketchStoreSpec)
    "q_sketch_store" -> ((s, dir) =>
      SketchStore.mergedDistinct(
        SketchStore.dailySketches(
          Tables.events(s, dir), Seq("event_type"), "ts", "user_id"),
        Seq("event_type"))),

    // ----- The exact twin of the sketch store (uniqExactState
    // analog): daily parts carry the distinct values themselves, the
    // read-side merge counts them — merge-of-daily-states ≡ one-shot
    // aggregate over the union, hash-pinned against the oracle -------
    "q_sketch_store_exact" -> ((s, dir) =>
      SketchStore.mergedDistinctExact(
        SketchStore.dailyExactParts(
          Tables.events(s, dir), Seq("event_type"), "ts", "user_id"),
        Seq("event_type"))),

    // ----- Ranking-function suite over one sorted window: every row
    // its own peer group (custkey tiebreak) so ranks are exact --------
    "q_window_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir)
        .filter(col("c_custkey") % 10 === 0)
        .select(
          col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          row_number().over(w).cast(LongType).as("rn"),
          dense_rank().over(w).cast(LongType).as("drk"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // ----- Resample + forward-fill: continuous per-key 1h series, gaps
    // carrying the last observed close (read-side companion of G2/G3's
    // gap *detection* — pandas resample().ffill() / WITH FILL analog) --
    "q_gap_fill_ffill" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.resampleFfill(r1h, Seq("user_id"), "bucket_ts", "close", "1h")
    }),

    // ----- Truncated EWMA in exact integers: weights (n-1)^j(n+1)^(n-1-j)
    // make numerator/denominator exact decimal sums; ema is ONE IEEE
    // division (same bit-reproducibility contract as q_rsi/q_bollinger).
    // n = 12 keeps the numerator under 2^63 so BOTH engines cast the
    // same int64 to double correctly rounded — DuckDB's HUGEINT→DOUBLE
    // goes through two 64-bit halves and double-rounds ~1e-16 of rows,
    // so the hash contract pins the sums to the BIGINT range ----------
    "q_ema" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.ema(r1h, Seq("user_id"), "bucket_ts", "close", nWindow = 12)
    }),

    // ----- TPC-H Q5 shape: 6-way join lineitem⋈orders⋈customer⋈supplier
    // ⋈nation⋈region with the local-supplier predicate. The three dim
    // tables broadcast (AQE size-based); the fact joins shuffle on
    // orderkey/custkey — the canonical star-join plan ------------------
    "q5_local_supplier" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ----- TPC-H Q10 shape: returned-item revenue per customer, top 20
    "q10_returned_items" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // ----- TPC-H Q18 shape: large-volume orders (HAVING over a fact
    // aggregate, then re-join the fact — two passes over lineitem but
    // the second is semi-join-pruned by the qualifying orderkeys) ------
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(graft.functions.Cents.cents(col("l_quantity"))).as("__sq"))
        .filter(col("__sq") > 25000)
        .select(col("l_orderkey").as("bq_orderkey"),
          graft.functions.Cents.centsToMoney(col("__sq")).as("total_qty"))
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("bq_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(100)
    }),

    // ----- Exact per-group median: cents-integer midpoint of the two
    // middle order statistics — no approx sketch, reproducible ---------
    "q_exact_median" -> ((s, dir) => {
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
    }),

    // ----- Fixed-width value histogram per event type: exact integer
    // bin edges (floor of cents/5000), zero-shuffle bin assignment -----
    "q_value_histogram" -> ((s, dir) =>
      Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT) div 5000").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"))),

    // ----- Quality-first token budget: keep each source's best docs
    // until the cumulative token count hits the per-source budget ------
    "q_token_budget" -> ((s, dir) =>
      graft.functions.TextOps.tokenBudget(
        Tables.documents(s, dir), "doc_id", "text", "source",
        budgetTokens = 800)),

    // ----- ROLLUP grouping sets: order counts + exact decimal revenue
    // at (priority, status), (priority), () levels with grouping ids ---
    "q_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          CandleOps.moneySum(col("o_totalprice")).as("total_price"),
          grouping_id().cast(LongType).as("gid"))),

    // ----- PIVOT: per-user event-type counts as fixed columns (the
    // pinned IN-list keeps the plan a single hash aggregate — no
    // second pivot pass, no driver-side distinct scan) -----------------
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)),

    // ----- Max drawdown per key: running-peak window in exact cents,
    // per-key max of (peak - close) and its IEEE-division ratio -------
    "q_drawdown" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.drawdown(r1h, Seq("user_id"), "bucket_ts", "close")
    }),

    // ----- Realized-volatility summary: exact-integer close-to-close
    // move stats (n·Σd² − (Σd)² variance, never divides early) --------
    "q_move_stats" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.moveStats(r1h, Seq("user_id"), "bucket_ts", "close")
    }),

    // ----- Beta/correlation vs a benchmark key: broadcast the one
    // benchmark series into the bucket join; five exact co-moment
    // sums, one division (beta) and one sqrt (corr) -------------------
    "q_beta" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.betaVsBenchmark(
        r1h, Seq("user_id"), "bucket_ts", "close", col("user_id") === 7)
    }),

    // ----- Candlestick pattern stream: doji/hammer/engulfing flags in
    // pure integer-cents comparisons, one lag window, flagged rows only
    "q_candle_patterns" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.candlePatterns(r1h, Seq("user_id"), "bucket_ts")
    }),

    // ----- Seasonality profile: hour-of-day x day-of-week load shape
    // per event type; 7x24 cells per type, one hash aggregate ---------
    "q_seasonality" -> ((s, dir) =>
      EventOps.seasonalityProfile(Tables.events(s, dir), "event_type", "ts")),

    // ----- Right-to-be-forgotten cascade audit: tombstoned customers
    // propagate through orders to lineitem; broadcast membership
    // probes, one scan per table, 3-row compliance report -------------
    "q_forget_audit" -> ((s, dir) =>
      PurgeOps.cascadeDeleteAudit(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        col("c_custkey") % 37 === 0)),

    // ----- Stochastic oscillator: raw %K one division of exact cent
    // longs; slow line smooths num/den separately so it stays one
    // division too (an SMA of doubles would not hash-match) ----------
    "q_stochastic" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.stochastic(r1h, Seq("user_id"), "bucket_ts", nWindow = 14, smoothN = 3)
    }),

    // ----- ATR: true range in exact cents, windowed-mean smoothing
    // (one division by the actual frame size) ------------------------
    "q_atr" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.atr(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    }),

    // ----- Donchian channel: rolling extreme band + close position --
    "q_donchian" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.donchian(r1h, Seq("user_id"), "bucket_ts", nWindow = 20)
    }),

    // ----- The shared co-purchase edge list itself: the stored-rollup
    // derivation the seven graph queries read (Derived.itemEdges
    // materializes it once per session). This entry runs the REBUILD
    // path: it both pins the derivation's content against the oracle
    // and carries the full build cost as its own bench line (a cache
    // read here would hide the ingest-time cost entirely), instead of
    // smearing that cost across every graph query. -------------------
    "q_item_edges" -> ((s, dir) =>
      graft.sources.Derived.itemEdgesRebuilt(s, dir)),

    // ----- Incremental edge-store maintenance, the daily production
    // shape that replaces the whole-corpus rebuild above (35.9 s at
    // sf1): a synthetic new-order batch (every 10th order under fresh
    // ids) folds into the STANDING support table — pair supports are
    // additive over baskets, so the fold is delta-aggregate +
    // full-outer sum, work scaling with the batch. Keeping
    // sub-threshold supports in the store is what lets the fold
    // promote pairs across the >= 2 threshold (asserted non-trivial
    // in DerivedSpec). Oracle = full recompute over the union. ------
    "q_item_edges_incremental" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val offset = li.agg((max(col("l_orderkey")) + 1).as("__o"))
      val newBatch = li.crossJoin(broadcast(offset))
        .filter(col("l_orderkey") % 10 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + col("__o"))
        .drop("__o")
      // the standing side reads the BUCKETED store in place — zero
      // exchange/sort on the (arbitrarily large) standing table, only
      // the delta shuffles (FoldPlanSpec pins the plan)
      graft.operators.GraphOps.foldItemEdgeSupports(
          graft.sources.Derived.itemEdgeSupportsStored(s, dir),
          newBatch, "l_orderkey", "l_partkey")
        .filter(col("support") >= 2)
    }),

    // ----- Item-graph triangles: degree-ordered orientation bounds
    // the wedge join by the O(sqrt m) arboricity bound — per-node
    // triangle counts + local clustering, all exact ------------------
    "q_triangles" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.triangleStats(edges)
    }),

    // ----- Pinned fixed-point PageRank over the co-purchase graph:
    // integer-scaled ranks, floor divisions, 3 iterations — the CC
    // loop's join+aggregate shape, bit-identical on any engine -------
    "q_pagerank" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.pagerankPinned(edges, iterations = 3)
    }),

    // ----- SAX words: 6-segment symbolic shape of each user's last 24
    // daily closes (the test streams span ~30 active days), digitized
    // against the window's own exact quartiles — regime/motif matching
    // as a string join ------------------------------------------------
    "q_sax" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      CandleOps.saxWords(r1d, Seq("user_id"), "bucket_ts", "close",
        nDays = 24, segLen = 4)
    }),

    // ----- Benford first-digit audit per metric: exact counts from the
    // cents DECIMAL STRING, one division for the share ----------------
    "q_benford" -> ((s, dir) =>
      EventOps.benfordDigits(Tables.events(s, dir), "event_type", "value")),

    // ----- Exact weighted median: the median CHARACTER lives in a doc
    // of this length, per source — integer cumulative-weight compare,
    // no division -----------------------------------------------------
    "q_weighted_median" -> ((s, dir) =>
      graft.operators.RankOps.weightedMedian(
        Tables.documents(s, dir), Seq("source"), "n_chars", "n_chars", "doc_id")),

    // ----- Mann–Kendall monotonic-trend gate: exact integer pair
    // concordance + tie-corrected variance, one sqrt-division z ------
    "q_mann_kendall" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      CandleOps.mannKendall(r1d, Seq("user_id"), "bucket_ts", "close")
    }),

    // ----- Whale gate: per-metric user-concentration HHI as one exact
    // rational division, with effective-user count ---------------------
    "q_concentration" -> ((s, dir) =>
      EventOps.concentration(Tables.events(s, dir), "event_type", "user_id")),

    // ----- Theil–Sen robust trend: lower median of all pairwise daily
    // slopes — the outlier-immune complement to q_trend_slope --------
    "q_theil_sen" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      CandleOps.theilSen(r1d, Seq("user_id"), "bucket_ts", "close")
    }),

    // ----- Runs test: do up/down days streak beyond chance? Exact
    // counts; expected/variance one division each; z mirrors the
    // oracle op-for-op -----------------------------------------------
    "q_runs_test" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      CandleOps.runsTest(r1d, Seq("user_id"), "bucket_ts", "close")
    }),

    // ----- Ichimoku cloud: channel midpoints + displaced spans, every
    // line ONE division of exact integer cents -----------------------
    "q_ichimoku" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.ichimoku(r1h, Seq("user_id"), "bucket_ts")
    }),

    // ----- On-balance volume: signed cumulative volume in exact
    // decimal, published as BIGINT cents -----------------------------
    "q_obv" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollupCents(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.obv(r1h, Seq("user_id"), "bucket_ts", "close", "vol_cents")
    }),

    // ----- MACD as exact rationals: fast/slow truncated EMAs cross-
    // multiplied before the ONE division; signal EMA re-enters integer
    // arithmetic via the floor-quantized micro-cents macd ------------
    "q_macd" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.macd(r1h, Seq("user_id"), "bucket_ts", "close",
        fast = 6, slow = 13, signalN = 5)
    }),

    // ----- Brown's double exponential smoothing: level/trend/one-step
    // forecast, each ONE division of exact decimals over the
    // twice-applied truncated EWMA (the macd quantize discipline) ----
    "q_holt_brown" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.holtBrown(r1h, Seq("user_id"), "bucket_ts", "close",
        nWindow = 6)
    }),

    // ----- Keltner channels: rational EWMA middle ± k×windowed-ATR,
    // each band one division over the common denominator --------------
    "q_keltner" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.keltner(r1h, Seq("user_id"), "bucket_ts",
        emaN = 13, atrN = 10, k = 2)
    }),

    // ----- EWMA volatility (RiskMetrics): truncated rational EWMA of
    // squared cent moves, vol = one division then one sqrt ------------
    "q_ewma_vol" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.ewmaVolatility(r1h, Seq("user_id"), "bucket_ts", "close",
        nWindow = 6)
    }),

    // ----- RFM segmentation: quintile scores over total orders so the
    // ntile edges are engine-deterministic ---------------------------
    "q_rfm" -> ((s, dir) =>
      EventOps.rfm(Tables.events(s, dir), "user_id", "ts", "value",
        col("event_type") === "purchase")),

    // ----- Power-user curve: activity deciles and each decile's share
    // of all events ---------------------------------------------------
    "q_power_curve" -> ((s, dir) =>
      EventOps.powerCurve(Tables.events(s, dir), "user_id")),

    // ----- DAU/MAU stickiness: two exact distinct grains joined on
    // the broadcast month side ---------------------------------------
    "q_stickiness" -> ((s, dir) =>
      EventOps.stickiness(Tables.events(s, dir), "user_id", "ts")),

    // ----- Bounce rate per user over 12h-gap sessions ----------------
    "q_bounce_rate" -> ((s, dir) =>
      SessionOps.bounceRate(
        SessionOps.sessionSummaries(
          Tables.events(s, dir), Seq("user_id"), "ts", "value", "12 hours"),
        Seq("user_id"))),

    // ----- Market-basket co-occurrence: same-order part pairs, fan-out
    // bounded by the per-order line cap, deterministic top-100 --------
    "q_copurchase" -> ((s, dir) =>
      BasketOps.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", topN = 100)),

    // ----- Floor-trader pivot points from the previous day's candle --
    "q_pivot_points" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      CandleOps.pivotPoints(r1d, Seq("user_id"), "bucket_ts")
    }),

    // ----- Volume-at-price profile: $1 price buckets per key ---------
    "q_volume_profile" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollupCents(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.volumeProfile(r1h, Seq("user_id"), "close", "vol_cents",
        bucketCents = 100L)
    }),

    // ----- Cohort LTV curve: first-seen-month cohorts, cumulative
    // purchase cents, per-user division -------------------------------
    "q_cohort_ltv" -> ((s, dir) =>
      EventOps.cohortLtv(Tables.events(s, dir), "user_id", "ts", "value",
        col("event_type") === "purchase")),

    // ----- Session-depth histogram over 12h-gap sessions -------------
    "q_session_depth" -> ((s, dir) =>
      SessionOps.depthHistogram(
        SessionOps.sessionSummaries(
          Tables.events(s, dir), Seq("user_id"), "ts", "value", "12 hours"))),

    // ----- Token-rarity score: rank-based surprisal bits, exact ints
    // plus one division — the hash-checkable perplexity proxy ---------
    "q_rarity_score" -> ((s, dir) =>
      TextOps.rarityScore(Tables.documents(s, dir), "doc_id", "text")),

    // ----- Topic-cluster labels: k-means over embeddings (iterations=1
    // pins the seed-centroid assignment, the q_knn_kmeans_ivf pattern)
    // joined to documents, top distinctive terms per cluster by
    // cluster-tf x corpus-idf ----------------------------------------
    "q_cluster_topics" -> ((s, dir) => {
      val assign = VectorOps.kmeansAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iterations = 1)
        .withColumnRenamed("id", "doc_id")
      TextOps.clusterTopTerms(Tables.documents(s, dir), assign,
        "doc_id", "text", k = 5)
    }),

    // ----- Dataset card: per-(source, lang) docs/chars/tokens, exact
    // unique-hash dedup ratio, mean tokens — the corpus release report
    "q_corpus_card" -> ((s, dir) =>
      TextOps.corpusCard(Tables.documents(s, dir))),

    // ----- windowFunnel strict_order mode: a link breaks when any
    // funnel-step event interleaves — same chained window minima, one
    // extra guard minimum per link, still one exchange ----------------
    "q_funnel_strict_order" -> ((s, dir) =>
      EventOps.funnelLevelsByKeyModal(Tables.events(s, dir), Seq("user_id"),
        "event_type", "ts", Seq("view", "click", "purchase"),
        windowUs = 86400000000L, mode = "strict_order")
        .groupBy(col("level")).agg(count(lit(1)).as("n_users"))),

    // ----- windowFunnel strict_dedup mode: a link breaks when the
    // previous step repeats before the next step fires ----------------
    "q_funnel_strict_dedup" -> ((s, dir) =>
      EventOps.funnelLevelsByKeyModal(Tables.events(s, dir), Seq("user_id"),
        "event_type", "ts", Seq("view", "click", "purchase"),
        windowUs = 86400000000L, mode = "strict_dedup")
        .groupBy(col("level")).agg(count(lit(1)).as("n_users"))),

    // ----- Embedding drift monitor: worst per-dimension mean shift
    // between two cohorts per label — exact micro-unit sums, one
    // division per cohort mean, MAX reduction (order-insensitive) ----
    "q_embed_drift" -> ((s, dir) =>
      VectorOps.embeddingDrift(Tables.embeddings(s, dir), "embedding",
        "label", col("vec_id") % 2 === 0)),

    // ----- Training-set rows: trailing day-range features + a
    // strictly-future purchase label, all exact integers -------------
    "q_user_features" -> ((s, dir) =>
      EventOps.rollingUserFeatures(Tables.events(s, dir), "user_id", "ts",
        "value", col("event_type") === "purchase")),

    // ----- TPC-H Q4 shape: EXISTS-semi-join order-priority count
    // (orders with any line shipped after the order date) -------------
    "q4_order_priority" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))),

    // ----- TPC-H Q12 shape: conditional priority mix after a fact-to-
    // dim join (shipmode column absent; returnflag carries the split) -
    "q12_priority_by_flag" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))),

    // ----- TPC-H Q14 shape: promo revenue share. Revenue is the EXACT
    // integer cents x (100 - discount%) product — a whole-table
    // double->decimal quantization drifts on rounding ties at 600k
    // rows (one ulp was enough to hash-split the engines); integer
    // cross-products cannot. Two divisions at the very end -----------
    "q14_promo_revenue" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val revCp = (round(col("l_extendedprice") * 100).cast(LongType) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))).cast(dec)
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", revCp).otherwise(lit(0).cast(dec)))
            .cast(LongType).as("__pr"),
          sum(revCp).cast(LongType).as("__tot"))
        .select(
          (lit(100.0) * col("__pr").cast(DoubleType) /
            col("__tot").cast(DoubleType)).as("promo_revenue_pct"),
          (col("__tot").cast(DoubleType) / lit(10000.0)).as("total_revenue"))
    }),

    // ----- Point-in-time feature join: every purchase event picks up
    // the latest feature row whose availability day (feature day + 1 —
    // day-grain features publish at midnight) is on or before the
    // event's day. The as-of union-merge keeps it one shuffle; the +1
    // shift is what makes the join leak-free at day grain ------------
    "q_pit_features" -> ((s, dir) => {
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
    }),

    // ----- TPC-H Q22 shape: above-average balances (exact cents x count
    // cross-multiply, no float mean) anti-joined against urgent orders -
    "q22_wealthy_inactive" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val cust = Tables.customer(s, dir)
      val cents = round(col("c_acctbal") * 100).cast(LongType)
      val pos = cust.filter(col("c_acctbal") > 0)
        .agg(count(lit(1)).as("__n"),
          sum(round(col("c_acctbal") * 100).cast(LongType).cast(dec))
            .cast(LongType).as("__s"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      cust.join(broadcast(pos))
        .filter(cents * col("__n") > col("__s"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          sum(cents.cast(dec)).cast(LongType).as("acctbal_cents"))
    }),

    // ----- Exact two-sample KS drift per event type: max CDF gap
    // before/after the split, decided entirely in integers -------------
    "q_ks_drift" -> ((s, dir) =>
      EventOps.driftKs(Tables.events(s, dir), "event_type", "ts", "value",
        splitTs = "2024-01-16 00:00:00")),

    // ----- Column-stats drift gate: null-rate / user-reach / value-
    // range movement per type between the same two cohorts -------------
    "q_stats_drift" -> ((s, dir) =>
      EventOps.statsDrift(Tables.events(s, dir), "event_type", "ts", "value",
        "user_id", splitTs = "2024-01-16 00:00:00", thresholdMilli = 50L)),

    // ----- Equi-depth histogram of line revenue: 16 equal-count value
    // buckets from the DISTRIBUTED exact ntile (no single-task sort) ---
    "q_equidepth_hist" -> ((s, dir) => {
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
    }),

    // ----- N-gram novelty: fraction of each doc's distinct shingles
    // first contributed by that doc (md5-keyed shuffles, never text) ---
    "q_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3)),

    // ----- Bigram fluency: mean corpus-conditional transition
    // probability per doc, floor-milli integers end to end -------------
    "q_bigram_fluency" -> ((s, dir) =>
      TextOps.bigramFluency(Tables.documents(s, dir), "doc_id", "text")),

    // ----- TPC-H Q7 shape: volume shipping between two nation pairs,
    // revenue by (supp nation, cust nation, ship year) -----------------
    "q7_volume_shipping" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("__sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("__ck"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("__sk"))
        .join(broadcast(n2), col("c_nationkey") === col("__ck"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast(LongType).as("l_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ----- TPC-H Q8 shape: one nation's market share of a part type
    // in one region's orders, per year — the share is ONE division of
    // two exact decimal sums --------------------------------------------
    "q8_market_share" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      val nc = Tables.nation(s, dir)
        .select(col("n_nationkey").as("__ck"), col("n_regionkey").as("__crk"))
      val ns = Tables.nation(s, dir)
        .select(col("n_nationkey").as("__sk"), col("n_name").as("supp_nation"))
      val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nc), col("c_nationkey") === col("__ck"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("__crk") === col("r_regionkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(ns), col("s_nationkey") === col("__sk"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_5", vol)
            .otherwise(lit(0).cast(dec))).as("__nv"),
          sum(vol).as("__tv"))
        .select(col("o_year"),
          (col("__nv").cast(DoubleType) / col("__tv").cast(DoubleType)).as("mkt_share"),
          col("__nv").cast(DoubleType).as("nation_volume"),
          col("__tv").cast(DoubleType).as("total_volume"))
    }),

    // ----- TPC-H Q13 shape: order-count distribution across customers
    // including the zero-order tail (left join, count non-null) --------
    "q13_custdist" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // ----- TPC-H Q21 shape: suppliers who alone kept a finished order
    // waiting — a late line, EXISTS another supplier in the order,
    // NOT EXISTS another LATE supplier (semi + anti self-correlation
    // on lineitem; late = shipped >60 days past order date, the
    // receipt/commit columns this schema does not carry) ---------------
    "q21_waiting_suppliers" -> ((s, dir) => {
      val ord = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val withOrd = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("__late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 days"))
      val l1 = withOrd.filter(col("__late"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = li.select(col("l_orderkey").as("__o2"), col("l_suppkey").as("__s2"))
      val l3 = withOrd.filter(col("__late"))
        .select(col("l_orderkey").as("__o3"), col("l_suppkey").as("__s3"))
      l1
        .join(l2, col("l_orderkey") === col("__o2") && col("l_suppkey") =!= col("__s2"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("__o3") && col("l_suppkey") =!= col("__s3"),
          "left_anti")
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // ----- TPC-H Q9 shape: product-line profit by nation and year
    // (retail-price cost proxy — the schema carries no partsupp) -------
    "q9_product_profit" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_name").contains("red")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("l_shipdate")).cast(LongType).as("o_year"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          col("p_retailprice") * lit(0.6) * col("l_quantity")).cast(dec))
          .cast(DoubleType).as("profit"),
          count(lit(1)).as("n_items"))
    }),

    // ----- TPC-H Q16 shape: supplier variety per part attribute for
    // parts actually shipped, excluding red-flagged suppliers via
    // broadcast anti-join (no partsupp in schema: lineitem stands in) --
    "q16_part_supplier_variety" -> ((s, dir) => {
      val flagged = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("__bad"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(flagged), col("l_suppkey") === col("__bad"), "left_anti")
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .filter(col("p_size").isin(1, 9, 19, 29, 39, 49))
        .groupBy(col("p_brand"), col("p_type"), col("p_size").cast(LongType).as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // ----- TPC-H Q19 shape: OR-of-ANDs predicate revenue — Catalyst
    // pushes the common filters into the scan, the disjunction stays
    // one pass (no union of three scans) -------------------------------
    "q19_discounted_revenue" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      val li = Tables.lineitem(s, dir)
      val branch1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
      val branch2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
      val branch3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
      li.filter(col("l_discount").between(0.02, 0.08))
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .filter(branch1 || branch2 || branch3)
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ----- Per-user OLS price trend: exact integer moment sums over
    // the hourly rollup, closed-form least squares ---------------------
    "q_trend_slope" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.trendSlope(r1h, Seq("user_id"), "bucket_ts", "close",
        originTs = "2024-01-01 00:00:00")
    }),

    // ----- Spend concentration: exact Gini over per-user cents totals
    // ranked by the distributed exact ranker ---------------------------
    "q_gini" -> ((s, dir) =>
      EventOps.giniConcentration(Tables.events(s, dir), "user_id", "value")),

    // ----- TPC-H Q15 shape: top supplier(s) by quarter revenue — the
    // max is an exact decimal compare against a broadcast 1-row agg ----
    "q15_top_supplier" -> ((s, dir) => {
      val dec = DecimalType(25, 8)
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .as("__rev"), count(lit(1)).as("n_items"))
      val mx = rev.agg(max(col("__rev")).as("__mx"))
      rev.join(broadcast(mx))
        .filter(col("__rev") === col("__mx"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("__rev").cast(DoubleType).as("total_revenue"), col("n_items"))
    }),

    // ----- TPC-H Q17 shape: small-quantity revenue — the per-part
    // average gate is an exact cents x count cross-multiply ------------
    "q17_small_quantity_revenue" -> ((s, dir) => {
      val dec38 = DecimalType(38, 0)
      val qc = round(col("l_quantity") * 100).cast(LongType)
      val per = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("__pk"))
        .agg(count(lit(1)).as("__n"), sum(qc.cast(dec38)).as("__sq"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .join(per, col("l_partkey") === col("__pk"))
        .filter((qc * lit(5L) * col("__n")).cast(dec38) < col("__sq"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast(DecimalType(25, 8)))
            .cast(DoubleType).as("revenue"))
        .withColumn("avg_yearly", col("revenue") / lit(7.0))
    }),

    // ----- TPC-H Q20 shape: dominant suppliers — who shipped more
    // than half a part's 1996 volume (exact decimal cross-multiply);
    // the per-part total is a window over the (part, supp) aggregate --
    "q20_volume_suppliers" -> ((s, dir) => {
      val dec38 = DecimalType(38, 0)
      val qc = round(col("l_quantity") * 100).cast(LongType)
      val sq = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(qc.cast(dec38)).as("__sq"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
      sq.withColumn("__tot", sum(col("__sq")).over(w))
        .filter(col("__sq") * lit(2) > col("__tot"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_parts_dominated"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_parts_dominated"))
    }),

    // ----- Grid resample with linear interpolation (WITH FILL ...
    // INTERPOLATE analog): missing buckets take the exact straight
    // line between bracketing observations; no extrapolation ----------
    "q_gap_fill_linear" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.resampleInterpolate(r1h, Seq("user_id"), "bucket_ts", "close", "1h")
    }),

    // ----- Cross-source overlap matrix: distinct shared 3-gram
    // shingles per unordered source pair — digests shuffle, not text --
    "q_cross_source_overlap" -> ((s, dir) =>
      TextOps.crossSourceOverlap(Tables.documents(s, dir), "text")),

    // ----- Lag-1 autocorrelation per user: mean-reversion diagnostic
    // from exact integer moments; IEEE sqrt is correctly rounded ------
    "q_autocorr" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.autocorrelation(r1h, Seq("user_id"), "bucket_ts", "close", k = 1)
    }),

    // ----- 10% trimmed mean per type: robust center by exact rank
    // cuts — integer floor arithmetic on (rank, count) ----------------
    "q_trimmed_mean" -> ((s, dir) =>
      EventOps.trimmedMean(Tables.events(s, dir), "event_type", "event_id",
        "value", trimPermille = 100L)),

    // ----- Traffic burstiness: Fano factor + peak-to-mean of hourly
    // counts per type, exact integer moments --------------------------
    "q_burstiness" -> ((s, dir) =>
      EventOps.burstiness(Tables.events(s, dir), "event_type", "ts")),

    // ----- CUSUM change-point: WHERE the per-type value level shifted,
    // exact-integer argmax with smallest-index tie-break --------------
    "q_changepoint" -> ((s, dir) =>
      EventOps.changePoint(Tables.events(s, dir), "event_type", "ts",
        "event_id", "value")),

    // ----- Longest up/down day streaks per user: gaps-and-islands on
    // the sign of the daily move; the momentum-persistence readout of
    // the candle series. Flat days BREAK streaks: the overall day
    // index (__rn_all) is assigned BEFORE flat rows are dropped, so a
    // flat day leaves a hole in __rn_all and splits the island — an
    // up-flat-up sequence is two 1-day streaks, not one 2-day streak.
    "q_streaks" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val cents = round(col("close") * 100).cast(LongType)
      val (c, pc) = (col("__c"), col("__pc"))
      val sgn = when(c > pc, 1).when(c < pc, -1).otherwise(0)
      val wSgn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("sgn")).orderBy(col("bucket_ts"))
      r1d.select(col("user_id"), col("bucket_ts"), cents.as("__c"),
          lag(cents, 1).over(w).as("__pc"))
        .select(col("user_id"), col("bucket_ts"), sgn.as("sgn"),
          pc.isNotNull.as("__has_prev"))
        .filter(col("__has_prev"))
        .withColumn("__rn_all", row_number().over(w))
        .filter(col("sgn") =!= 0)
        .withColumn("__isl",
          col("__rn_all") - row_number().over(wSgn))
        .groupBy(col("user_id"), col("sgn"), col("__isl"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id"))
        .agg(
          coalesce(max(when(col("sgn") === 1, col("__len"))), lit(0L))
            .as("longest_up"),
          coalesce(max(when(col("sgn") === -1, col("__len"))), lit(0L))
            .as("longest_down"))
    }),

    // ----- Lorenz curve deciles: the distribution behind q_gini —
    // cumulative spend share per user-decile, deciles from the
    // distributed exact ntile, shares one division each -------------
    "q_lorenz_deciles" -> ((s, dir) => {
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
    }),

    // ----- Global five-number summary by EXACT distributed order
    // statistics: rank selection at ceil(n*p) over the range-
    // partitioned ranking — no approx sketch, no one-task sort -------
    "q_five_number" -> ((s, dir) => {
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
    }),

    // ----- Heikin-Ashi candles: ha_close one division of the cents
    // OHLC sum; ha_open the truncated dyadic-weight EWMA of past
    // ha_closes (exact longs, one division), seeded at raw (o+c)/2 ---
    "q_heikin_ashi" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      CandleOps.heikinAshi(r1h, Seq("user_id"), "bucket_ts", nWindow = 12)
    }),

    // ----- Daily top movers: largest absolute day-over-day returns.
    // Rank key is floor basis points in INTEGERS (a float-ratio sort
    // could tie-break differently across engines); reported bps stays
    // the one IEEE division. TakeOrdered top-k, no global sort -------
    "q_top_movers" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val cents = round(col("close") * 100).cast(LongType)
      r1d.select(col("user_id"), col("bucket_ts"), cents.as("close_cents"))
        .withColumn("prev_cents", lag(col("close_cents"), 1).over(w))
        .filter(col("prev_cents").isNotNull && col("prev_cents") =!= 0)
        .withColumn("move_cents", col("close_cents") - col("prev_cents"))
        .withColumn("__bps_floor",
          expr("abs(move_cents) * 10000 div abs(prev_cents)"))
        .withColumn("move_bps",
          (col("move_cents") * lit(10000L)).cast(DoubleType) /
            col("prev_cents").cast(DoubleType))
        .orderBy(col("__bps_floor").desc, col("user_id"), col("bucket_ts"))
        .limit(25)
        .select(col("user_id"), col("bucket_ts"), col("close_cents"),
          col("prev_cents"), col("move_cents"), col("move_bps"))
    }),

    // ----- Williams %R: close position in the trailing high/low
    // envelope; exact cent bounds, one division --------------------------
    "q_williams_r" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.williamsR(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    }),

    // ----- Aroon: bars-since-extreme via the packed-integer rolling
    // argmax (no first/last nondeterminism), one division ----------------
    "q_aroon" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.aroon(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    }),

    // ----- Money flow index: volume-weighted RSI on 3x typical price
    // (exact longs), one division ----------------------------------------
    "q_mfi" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollupCents(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.mfi(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    }),

    // ----- CCI: the window's OWN mean deviation folded exactly with a
    // higher-order aggregate over the collected window ------------------
    "q_cci" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.cci(r1h, Seq("user_id"), "bucket_ts", nWindow = 20)
    }),

    // ----- Roll's implied spread: 2*sqrt(-serial autocovariance) of
    // cent moves; integer co-moments, sqrt of one division --------------
    "q_roll_spread" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.rollSpread(r1h, Seq("user_id"), "bucket_ts")
    }),

    // ----- Kyle's lambda: OLS of cent move on tick-rule signed cent
    // volume — price impact per key, decimal co-moments -----------------
    "q_kyle_lambda" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollupCents(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.kyleLambda(r1h, Seq("user_id"), "bucket_ts")
    }),

    // ----- Amihud-style illiquidity, ratio-of-sums per (key, day):
    // cents moved per cent of volume, one division -----------------------
    "q_amihud" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollupCents(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.amihud(r1h, Seq("user_id"), "bucket_ts")
    }),

    // ----- Pairwise return-correlation matrix: bucket-aligned self-
    // join (universe^2 pairs, map-side-combined co-moments) --------------
    "q_corr_matrix" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.corrMatrix(r1h, "user_id", "bucket_ts")
    }),

    // ----- Kaplan-Meier time-to-first-purchase by entry cohort: exact
    // risk sets and death counts, the survival product folded left-to-
    // right as a fixed IEEE tree (censoring handled, the estimator's
    // point) -------------------------------------------------------------
    "q_survival_km" -> ((s, dir) =>
      EventOps.kaplanMeier(Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "purchase")),

    // ----- Day-of-week return seasonality: mean daily move per
    // weekday as a ratio of exact sums — "is Monday red?" ---------------
    "q_dow_returns" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val cents = round(col("close") * 100).cast(LongType)
      val dec = DecimalType(38, 0)
      r1d.select(col("user_id"), col("bucket_ts"),
        (cents - lag(cents, 1).over(w)).as("__d"))
        .filter(col("__d").isNotNull)
        .groupBy(dayofweek(col("bucket_ts")).cast(LongType).as("weekday"))
        .agg(
          count(lit(1)).as("n_moves"),
          sum(col("__d").cast(dec)).cast(LongType).as("sum_move_cents"),
          sum(when(col("__d") > 0, 1L).otherwise(0L)).as("n_up"),
          (sum(col("__d").cast(dec)).cast(LongType).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("mean_move_cents"))
    }),

    // ----- Overnight gaps: each day's open vs the prior day's close,
    // exact cents and one bps division ----------------------------------
    "q_overnight_gaps" -> ((s, dir) => {
      val r1d = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val openC = round(col("open") * 100).cast(LongType)
      val closeC = round(col("close") * 100).cast(LongType)
      r1d.select(col("user_id"), col("bucket_ts"), openC.as("open_cents"),
        lag(closeC, 1).over(w).as("prev_close_cents"))
        .filter(col("prev_close_cents").isNotNull &&
          col("prev_close_cents") =!= 0)
        .withColumn("gap_cents", col("open_cents") - col("prev_close_cents"))
        .withColumn("gap_bps",
          (col("gap_cents") * 10000).cast(DoubleType) /
            abs(col("prev_close_cents")).cast(DoubleType))
    }),

    // ----- Ship-delay SLA: exact p50/p90/p99 of integer delay days per
    // priority via the value histogram — no per-group sort, no approx --
    "q_ship_delay_sla" -> ((s, dir) => {
      val delays = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast(LongType)
            .as("delay_days"))
      graft.operators.RankOps.histogramPercentiles(
        delays, Seq("o_orderpriority"), "delay_days", Seq(50, 90, 99))
    }),

    // ----- Seasonal value index: what an hour-of-day is WORTH vs the
    // type's average, exact cross-multiplied basis points ---------------
    "q_seasonal_index" -> ((s, dir) =>
      EventOps.seasonalIndex(Tables.events(s, dir), "event_type", "ts", "value")),

    // ----- Demand-slope screen: OLS of quantity on observed unit price
    // per part type — the betaVsBenchmark co-moment pattern on a
    // dimension join ----------------------------------------------------
    "q_price_elasticity" -> ((s, dir) => {
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
    }),

    // ----- ABC / Pareto classes over part value: distributed prefix
    // sum + integer cross-multiplied class cuts, no float shares --------
    "q_abc_classes" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast(LongType).cast(dec))
          .cast(LongType).as("value_cents"))
      graft.operators.RankOps.abcClasses(perPart, "l_partkey", "value_cents")
    }),

    // ----- Top-k leaderboard churn: day-over-day overlap of the top-10
    // users by value; ranks tie-broken on the key, day pairs by
    // observed-day lag so calendar holes don't fake churn ---------------
    "q_topk_churn" -> ((s, dir) =>
      EventOps.topKSetChurn(
        Tables.events(s, dir), "user_id", "ts", "value", k = 10)),

    // ----- VPIN-style flow toxicity on the volume clock: equal-volume
    // buckets via a per-key prefix sum, tick-rule signed flow, one
    // division per bucket. Cents are derived PER ROW before the rollup
    // aggregation via the pure-IEEE floor(v*100+0.5) (Cents.scala) and
    // summed as longs — no engine-owned rounding policy anywhere in the
    // hash-compared path, and every oracle column carries an explicit
    // portable CAST (the r6-r8 red was the uncast HUGEINT vol_bucket,
    // whose pandas/arrow conversion differs across DuckDB releases) ----
    "q_vpin" -> ((s, dir) => {
      val cents = graft.functions.Cents.cents(col("value"))
      val pre = Tables.events(s, dir)
        .groupBy(col("user_id"),
          graft.functions.TimeBucket.time_bucket(col("ts"), "1 hour")
            .as("bucket_ts"))
        .agg(
          max_by(cents, col("ts")).as("close_cents"),
          sum(cents).as("vol_cents"))
      MicrostructureOps.vpinFromCents(pre, Seq("user_id"), "bucket_ts",
        "close_cents", "vol_cents", bucketVolumeCents = 50000L)
    }),

    // ----- Lo-MacKinlay variance ratio (q=4): random-walk diagnostic,
    // both variances rational, one division of decimal products ---------
    "q_variance_ratio" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.varianceRatio(r1h, Seq("user_id"), "bucket_ts", q = 4)
    }),

    // ----- k-anonymity / l-diversity release gate over quasi-
    // identifiers: one hash aggregate with an exact distinct ------------
    "q_k_anonymity" -> ((s, dir) =>
      PurgeOps.kAnonymityReport(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        "c_acctbal", k = 10L, l = 5L)),

    // ----- Distributed OLS (trend + weekend dummy) by exact normal
    // equations: nine integer sufficient statistics, Cramer dets in
    // decimal, one division per coefficient -----------------------------
    "q_ols_trend" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.olsSeasonalTrend(
        r1h, Seq("user_id"), "bucket_ts", originTs = "2024-01-01 00:00:00")
    }),

    // ----- TextRank keywords: pinned integer PageRank run directly on
    // word nodes of the adjacency graph; exact scaled-long ranks ---------
    "q_textrank" -> ((s, dir) =>
      TextOps.textrankKeywords(Tables.documents(s, dir), "doc_id", "text", topK = 25)),

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
    "q_codec_roundtrip" -> ((s, dir) => {
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
    }),

    // ----- Correlation SCREEN — the scale path the corrMatrix doc
    // routes large universes to (sf1 measured the exact matrix at
    // universe² = 164× for 10× keys): 64-bit sign-sketch per key,
    // banded candidate join at the AUTO-SIZED band width
    // (autoBandBits from a measured approx_count_distinct of the key
    // universe — the r11 sweep measured the old fixed 8-bit width at
    // exponent 1.87 / 964 s on sf10's 150k universe vs 0.91 / 37 s
    // sized), exact co-moment corr on the candidates only. corr
    // values bit-match the full matrix's entries for the screened
    // pairs. At the driver's universes (150 keys at sf0.01, 1500 at
    // sf0.1 — both ≤ the 2048-key 8-bit boundary) auto picks 8-bit,
    // which is exactly the width the DuckDB oracle bands at; sf1+
    // universes auto-promote to 16/32-bit. maxHamming 24 exercises
    // the probabilistic-recall regime (guaranteed ≤ 7) because this
    // fixture's keys are independent random walks — at ≤ 7 the
    // correct answer is zero pairs, which would hash-check trivially.
    "q_corr_screen" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.corrScreenAuto(r1h, "user_id", "bucket_ts",
        maxHamming = 24)
    }),

    // ----- BOTH sides of the screen: co-moving AND anti-moving pairs
    // (complement-band candidates — the pairs-trading/hedge screen);
    // an anti pair's corr is the full matrix's negative entry bitwise.
    // Auto-sized band width like q_corr_screen (8-bit at the driver's
    // universes, matching the oracle's banding).
    "q_corr_screen_signed" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.corrScreenSignedAuto(r1h, "user_id", "bucket_ts",
        maxHamming = 24)
    }),

    // ----- The same screen at the 16-bit band width production runs
    // past a few thousand keys (2^bandBits ≳ universe): near-linear at
    // sf1 where 8-bit bands saturate. Planted-copycat recall is
    // spec-pinned (MicrostructureSpec); on this independent-walk
    // fixture the correct small-SF answer is few/no pairs. -----------
    "q_corr_screen_wide" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.corrScreen(r1h, "user_id", "bucket_ts",
        maxHamming = 24, bandBits = 16)
    }),

    // ----- The AUTO screen at a >2048-key universe: 20 replicas of
    // the event stream under offset user_ids push the measured
    // universe to ~3000 keys at sf0.01, so measuredBandBits COMMITS
    // the 16-bit decision under the oracle (through r12 only the
    // 8-bit branch ran end-to-end; 16/32 were spec-only). maxHamming
    // 24 sits in the probabilistic-recall regime, where the candidate
    // set depends on the band width — the hash only matches if the
    // oracle bands at exactly the width the engine chose, so the
    // DECISION itself is what this query pins (at radius-guaranteed
    // hammings 8- and 16-bit banding would coincide). Replica
    // families are identical series: corr exactly 1.0 at hamming 0,
    // one IEEE division of equal exact co-moments on both engines.
    // user_id < 200 makes the fixture a FIXED panel past sf0.01 (the
    // q_contamination convention): the replica blow-up exists to pin
    // a band-width decision, not to scale — unbounded it multiplied
    // the whole corpus 20x and benched 264 s at sf1; the decision
    // needs ~3-4k keys, not 20k.
    "q_corr_screen_hicard" -> ((s, dir) => {
      val reps = s.range(0, 20).select(col("id").as("__r"))
      val wide = Tables.events(s, dir)
        .filter(col("user_id") < 200)
        .select(col("user_id"), col("ts"), col("value"))
        .crossJoin(broadcast(reps))
        .select((col("user_id") + col("__r") * lit(1000000L)).as("user_id"),
          col("ts"), col("value"))
      val r1h = CandleOps.ohlcvRollup(wide, Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.corrScreenAuto(r1h, "user_id", "bucket_ts",
        maxHamming = 24)
    }),

    // ----- Lead-lag cross-correlation vs the benchmark key: who moves
    // first — co-moment longs per (key, lag), broadcast lag-exploded
    // benchmark, one division -------------------------------------------
    "q_lead_lag" -> ((s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.leadLagCorr(
        r1h, "user_id", "bucket_ts", col("user_id") === 7, maxLag = 3)
    }),

    // ----- RAKE keyword extraction, ratio-of-sums scoring: stopword-
    // delimited phrase runs, word degree/freq longs, ONE division,
    // top-K by the floor-scaled integer ratio ---------------------------
    "q_rake_keywords" -> ((s, dir) =>
      TextOps.rakeKeywords(Tables.documents(s, dir), "doc_id", "text", topK = 25)),

    // ----- Flesch reading ease: letter-run words, [.!?]+ sentences,
    // vowel-group syllables — a per-row fixed expression tree ------------
    "q_readability" -> ((s, dir) =>
      TextOps.readability(Tables.documents(s, dir), "doc_id", "text")),

    // ----- Edge-level neighborhood Jaccard (tie strength / bridge
    // detection): triangles exploded onto their 3 edges, one division -
    "q_edge_overlap" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.edgeOverlap(edges)
    }),

    // ----- k-core by 4 pinned peeling rounds: the tightly-knit
    // sub-catalog that survives repeated low-degree removal ---------------
    "q_kcore" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.kCorePinned(edges, k = 3, rounds = 4)
    }),

    // ----- Degree assortativity: do hub items co-sell with hubs?
    // One number, exact decimal co-moments over edges x degrees ----------
    "q_assortativity" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.assortativity(edges)
    }),

    // ----- Community detection: synchronous label propagation, 3
    // pinned rounds, ties to the smallest label via the integer pack ----
    "q_label_prop" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.labelPropagationPinned(edges, rounds = 3)
    }),

    // ----- Degree distribution of the co-purchase graph: the hub
    // health check before any pairwise op -------------------------------
    "q_degree_dist" -> ((s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.degreeHistogram(edges)
    }),

    // ----- TPC-H Q11 shape (adapted — no partsupp): parts carrying
    // more than 1/1600 of total observed value. The threshold compare is
    // an integer cross-multiply in decimal (value*1600 > total): no
    // float fraction, no global sort — the filter IS the answer --------
    "q11_important_stock" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val cents = round(col("l_extendedprice") * 100).cast(LongType)
      val perPart = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(cents.cast(dec)).cast(LongType).as("value_cents"))
      val tot = broadcast(perPart.agg(
        sum(col("value_cents").cast(dec)).as("__tot")))
      perPart.crossJoin(tot)
        .filter(col("value_cents").cast(dec) * lit(1600) > col("__tot"))
        .select(col("l_partkey"), col("value_cents"))
    }),

    // ----- TPC-H Q2 shape (adapted — no partsupp table): cheapest
    // supplier per part from observed lineitem prices, the argmin as a
    // packed integer (cents * 2^32 + suppkey) so ties break to the
    // smallest suppkey deterministically in ONE min aggregate ------------
    "q2_min_cost_supplier" -> ((s, dir) => {
      val P = 1L << 32
      val epC = round(col("l_extendedprice") * 100).cast(LongType)
      val packed = min(epC * P + col("l_suppkey")).as("__p")
      Tables.lineitem(s, dir)
        .groupBy(col("l_partkey"))
        .agg(packed)
        .select(col("l_partkey"),
          shiftright(col("__p"), 32).as("min_price_cents"),
          col("__p").bitwiseAND(lit(P - 1)).as("supp_key"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("supp_key") === col("s_suppkey"))
        .select(col("l_partkey"), col("min_price_cents"), col("supp_key"),
          col("s_name"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** Shared CTE chain reproducing the MinHash signature + LSH banding
    * pipeline in DuckDB: one md5 per shingle reduced mod 2^61-1, the
    * same (a_j, b_j) permutation constants as the Spark expression
    * (inlined as literals), HUGEINT mulmod, minima per doc, bands of 2
    * consecutive signature entries. Ends with CTEs `bands` defined.
    */
  private def minhashSigCtes(src: String = "documents", sfx: String = ""): String = {
    val (a, b) = graft.functions.MinHashSig.params(8)
    val p = graft.functions.MinHashSig.P
    val hs = (0 until 8).map(j =>
      s"min(CAST((CAST(x AS HUGEINT) * ${a(j)} + ${b(j)}) % $p AS BIGINT)) AS h$j")
      .mkString(", ")
    val bandRows = (0 until 4).map(bnd =>
      if (bnd == 0) s"SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sig$sfx"
      else s"SELECT doc_id, $bnd, h${bnd * 2}, h${bnd * 2 + 1} FROM sig$sfx")
      .mkString("\n           UNION ALL ")
    s"""toks$sfx AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM $src),
       sh$sfx AS (SELECT DISTINCT doc_id,
                unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS s
              FROM toks$sfx WHERE len(t) >= 3),
       xs$sfx AS (SELECT doc_id,
                CAST(('0x' || substr(md5(s), 1, 16)) AS UBIGINT) % CAST($p AS UBIGINT) AS x
              FROM sh$sfx),
       sig$sfx AS (SELECT doc_id, $hs FROM xs$sfx GROUP BY 1),
       bands$sfx AS ($bandRows),
       gbands$sfx AS (SELECT * FROM bands$sfx
                  QUALIFY count(*) OVER (PARTITION BY band, k0, k1) <= 10000)"""
  }

  /** SimHash fingerprint + banded/guarded keys per source table, CTE
    * suffix `sfx` — the oracle-side analog of TextOps.bandFp64 (same
    * text as the q_simhash_neardup oracle, parameterized for the
    * incremental two-source form).
    */
  private def simhashBandCtes(src: String = "documents", sfx: String = ""): String =
    s"""toks$sfx AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM $src),
       th$sfx AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks$sfx),
       bits$sfx AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                FROM th$sfx, (SELECT unnest(generate_series(0, 63)) AS j) AS js(j) GROUP BY 1, 2),
       fp$sfx AS (SELECT doc_id,
                bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                            ELSE CAST(0 AS UBIGINT) END) AS sh
              FROM bits$sfx GROUP BY 1),
       banded$sfx AS (SELECT doc_id, sh, bs.band,
                    (sh >> (bs.band * 16)) & 65535 AS h
                  FROM fp$sfx CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
       kept$sfx AS (SELECT band, h FROM banded$sfx GROUP BY band, h HAVING count(*) <= 10000),
       guarded$sfx AS (SELECT banded$sfx.* FROM banded$sfx JOIN kept$sfx USING (band, h))"""

  private val minhashPairsSelect: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM gbands a JOIN gbands b USING (band, k0, k1)
       WHERE a.doc_id < b.doc_id"""

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

  /** The synthetic media table is pure arithmetic over the id
    * (MultimodalOps.syntheticMedia), so DuckDB reproduces it from
    * generate_series with no parquet input — which upgrades the
    * metadata-shaped media queries from rows-only to full hash checks.
    * (Feature extraction stays rows-only: its checksum walks payload
    * bytes through Java wrapping arithmetic.)
    */
  private val syntheticMediaCte: String =
    """m AS (
       SELECT g.id AS media_id,
         CASE WHEN g.id % 3 = 0 THEN 'image'
              WHEN g.id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CASE WHEN g.id % 3 = 0 THEN 0 ELSE 1000 + (g.id % 9000) END AS duration_ms,
         CASE WHEN g.id % 3 = 0 THEN 640 ELSE 0 END AS width,
         CASE WHEN g.id % 3 = 0 THEN 480 ELSE 0 END AS height,
         64 + (g.id % 64) AS n_payload
       FROM generate_series(0, 499) AS g(id))"""

  /** Winnowing pipeline in DuckDB: md5-based token hashes (shared base
    * hash with MinHash), rolling 4-gram polynomial mod 2^61-1
    * (HUGEINT), rightmost-min window selection via a framed arg_min on
    * the composite key gh·2^20 − gi (smaller hash wins, ties to the
    * rightmost index; gi < 2^20 always holds for document-sized
    * inputs). Distinct selected indices ARE the dedup-consecutive
    * picks: an index can only be re-picked while still covered, so
    * repeats are always adjacent. Ends with CTE `fp`.
    */
  private val winnowFpCtes: String =
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       tok_rows AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks),
       th AS (SELECT doc_id, i - 1 AS ti,
                CAST(CAST(('0x' || substr(md5(t[i]), 1, 16)) AS UBIGINT)
                     % CAST(2305843009213693951 AS UBIGINT) AS BIGINT) AS th
              FROM tok_rows),
       grams AS (SELECT doc_id, ti AS gi,
                   CAST((((
                     ((((CAST(th AS HUGEINT) * 1000003 + th1) % 2305843009213693951)
                        * 1000003 + th2) % 2305843009213693951)
                     * 1000003 + th3) % 2305843009213693951)) AS BIGINT) AS gh
                 FROM (SELECT doc_id, ti, th,
                         lead(th, 1) OVER w AS th1, lead(th, 2) OVER w AS th2,
                         lead(th, 3) OVER w AS th3,
                         count(*) OVER (PARTITION BY doc_id) AS nt
                       FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY ti))
                 WHERE ti + 3 < nt),
       keyed AS (SELECT doc_id, gi, gh,
                   CAST(gh AS HUGEINT) * 1048576 - gi AS key,
                   count(*) OVER (PARTITION BY doc_id) AS ng
                 FROM grams),
       wins AS (SELECT doc_id, gi, ng,
                  arg_min(gi, key) OVER (PARTITION BY doc_id ORDER BY gi
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
                FROM keyed),
       picked AS (SELECT DISTINCT doc_id, sel FROM wins WHERE gi <= greatest(ng - 4, 0)),
       fp AS (SELECT p.doc_id, g.gh AS fingerprint
              FROM picked p JOIN grams g ON g.doc_id = p.doc_id AND g.gi = p.sel)"""

  def oracleSql: Map[String, String] = Map(
    "q_rollup_gap_scan" -> gapScanOracleSql,
    "q_doc_winnow" ->
      s"""$winnowFpCtes
         SELECT doc_id, fingerprint FROM fp""",
    "q_winnow_neardup" ->
      s"""$winnowFpCtes,
         dfp AS (SELECT DISTINCT doc_id, fingerprint FROM fp),
         gfp AS (SELECT * FROM dfp
                 QUALIFY count(*) OVER (PARTITION BY fingerprint) <= 10000)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM gfp a JOIN gfp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q_media_stats" ->
      s"""WITH $syntheticMediaCte
         SELECT kind, count(*) AS n_items,
                CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
                avg(width * height) AS avg_pixels
         FROM m GROUP BY 1""",
    "q_frame_samples" ->
      s"""WITH $syntheticMediaCte
         SELECT media_id, CAST(f // 500 AS INT) AS frame_no, f AS frame_ts_ms
         FROM (SELECT media_id, unnest(generate_series(0, duration_ms - 1, 500)) AS f
               FROM m WHERE kind IN ('video', 'audio') AND duration_ms > 0)""",
    // the StubCodec's rolling checksum emulated with HUGEINT wrap
    // arithmetic (Java long overflow ≡ mod 2^64, signed view at the
    // end); float-to-string renderings verified identical across both
    // engines for all 256 possible feature byte values
    "q_media_features" ->
      """WITH m AS (SELECT g.id AS media_id,
              CASE WHEN g.id % 3 = 0 THEN 'image' WHEN g.id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
              64 + (g.id % 64) AS nb
            FROM generate_series(0, 499) AS g(id)),
         ck AS (SELECT media_id, kind, nb,
            list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
              list_transform(generate_series(0, nb - 1), i ->
                CAST(CASE WHEN (media_id * 31 + i) % 251 >= 128
                          THEN (media_id * 31 + i) % 251 - 256
                          ELSE (media_id * 31 + i) % 251 END AS HUGEINT))),
              (h, b) -> (((31 * h + b) % 18446744073709551616) + 18446744073709551616) % 18446744073709551616) AS u
            FROM m)
         SELECT media_id, kind, CAST(nb AS BIGINT) AS n_bytes,
           CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS checksum,
           concat_ws(',',
             CAST(CAST((u // 1 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 256 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 65536 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 16777216 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 4294967296 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 1099511627776 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 281474976710656 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 72057594037927936 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR)
           ) AS feature_csv
         FROM ck""",
    "q_media_resize" ->
      s"""WITH $syntheticMediaCte
         SELECT kind,
                CASE WHEN kind = 'image' THEN 224 ELSE 0 END AS width,
                CASE WHEN kind = 'image' THEN 224 ELSE 0 END AS height,
                count(*) AS n, CAST(sum(n_payload) AS BIGINT) AS payload_bytes
         FROM m GROUP BY 1, 2, 3""",
    // replays MultimodalOps.synthPixel over the 32x24 grid (PNG decode
    // is lossless, so decoded pixels ARE the formula); the 8x6 resize
    // samples src = dst*srcDim//dstDim = dst*4 on both axes
    "q_video_dhash" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         nf AS (SELECT id, 2 + (id % 4) AS nf FROM ids),
         fr AS (SELECT id, unnest([f for f in generate_series(0, nf - 1)]) AS f FROM nf),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, f, gy, gx,
                 ((id * 3 + f * 7 + ((gx * 16) // 9) * 5) % 256)
               + ((id * 5 + f * 11 + ((gy * 12) // 8) * 3) % 256)
               + ((id + f + ((gx * 16) // 9) * ((gy * 12) // 8)) % 256) AS gray
               FROM fr, gxs, gys),
         b AS (SELECT l.id, l.f, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.f = l.f AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray),
         fp AS (SELECT id, f, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                FROM b GROUP BY 1, 2)
         SELECT fr.id AS media_id, fr.f AS frame_no,
                lower(lpad(to_hex(COALESCE(fp.h, CAST(0 AS UBIGINT))), 16, '0')) AS dhash_hex
         FROM fr LEFT JOIN fp ON fp.id = fr.id AND fp.f = fr.f""",
    // same frame-pixel replay as q_video_dhash, then consecutive-frame
    // xor popcount over the cut threshold
    "q_scene_changes" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         nf AS (SELECT id, 2 + (id % 4) AS nf FROM ids),
         fr AS (SELECT id, unnest([f for f in generate_series(0, nf - 1)]) AS f FROM nf),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, f, gy, gx,
                 ((id * 3 + f * 7 + ((gx * 16) // 9) * 5) % 256)
               + ((id * 5 + f * 11 + ((gy * 12) // 8) * 3) % 256)
               + ((id + f + ((gx * 16) // 9) * ((gy * 12) // 8)) % 256) AS gray
               FROM fr, gxs, gys),
         b AS (SELECT l.id, l.f, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.f = l.f AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray),
         fp0 AS (SELECT id, f, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                 FROM b GROUP BY 1, 2),
         fp AS (SELECT fr.id, fr.f, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM fr LEFT JOIN fp0 ON fp0.id = fr.id AND fp0.f = fr.f),
         d AS (SELECT a.id, a.f, CAST(bit_count(xor(a.h, p.h)) AS BIGINT) AS hamming
               FROM fp a JOIN fp p ON p.id = a.id AND p.f = a.f - 1)
         SELECT id AS media_id, f AS frame_no, hamming FROM d WHERE hamming >= 12""",
    // frame-dhash replay, then distinct-hash containment between clips
    "q_video_neardup" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         nf AS (SELECT id, 2 + (id % 4) AS nf FROM ids),
         fr AS (SELECT id, unnest([f for f in generate_series(0, nf - 1)]) AS f FROM nf),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, f, gy, gx,
                 ((id * 3 + f * 7 + ((gx * 16) // 9) * 5) % 256)
               + ((id * 5 + f * 11 + ((gy * 12) // 8) * 3) % 256)
               + ((id + f + ((gx * 16) // 9) * ((gy * 12) // 8)) % 256) AS gray
               FROM fr, gxs, gys),
         b AS (SELECT l.id, l.f, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.f = l.f AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray),
         fp0 AS (SELECT id, f, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                 FROM b GROUP BY 1, 2),
         fp AS (SELECT fr.id, fr.f, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM fr LEFT JOIN fp0 ON fp0.id = fr.id AND fp0.f = fr.f),
         uniq AS (SELECT DISTINCT id, h FROM fp),
         sizes AS (SELECT id, count(*) AS n FROM uniq GROUP BY 1),
         kept AS (SELECT h FROM uniq GROUP BY h HAVING count(*) <= 10000),
         guarded AS (SELECT uniq.* FROM uniq JOIN kept USING (h)),
         pairs AS (SELECT a.id AS media_a, b.id AS media_b, count(*) AS n_shared
                   FROM guarded a JOIN guarded b ON b.h = a.h AND a.id < b.id
                   GROUP BY 1, 2)
         SELECT media_a, media_b, n_shared,
                CAST(n_shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
         FROM pairs JOIN sizes sa ON sa.id = media_a
                    JOIN sizes sb ON sb.id = media_b
         WHERE n_shared >= 2""",
    // audio energy-gradient replay + the shared band guard + hamming
    "q_audio_neardup" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         n AS (SELECT id, 64 + (id % 64) AS ns FROM ids),
         s AS (SELECT id, unnest([{'i': i, 'v': abs(((id * 31 + i * 7) % 65536) - 32768)}
                                  for i in generate_series(0, ns - 1)]) AS u
               FROM n),
         sam AS (SELECT id, u.i AS i, u.v AS v FROM s),
         wsum AS (SELECT sam.id, CAST((i * 65) // n.ns AS INT) AS win, sum(v) AS e
                  FROM sam JOIN n ON n.id = sam.id GROUP BY 1, 2),
         grid AS (SELECT n.id, ws.win FROM n, (SELECT unnest(generate_series(0, 64)) AS win) ws),
         e AS (SELECT grid.id, grid.win, COALESCE(wsum.e, 0) AS e
               FROM grid LEFT JOIN wsum ON wsum.id = grid.id AND wsum.win = grid.win),
         b AS (SELECT l.id, l.win AS w FROM e l JOIN e r ON r.id = l.id AND r.win = l.win + 1
               WHERE l.win < 64 AND r.e > l.e),
         fp0 AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(w AS INT)) AS h FROM b GROUP BY 1),
         fp AS (SELECT n.id, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM n LEFT JOIN fp0 ON fp0.id = n.id),
         banded AS (SELECT id, h, bs.band, (h >> (bs.band * 16)) & 65535 AS bh
                    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
         kept AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, bh))
         SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         FROM guarded a JOIN guarded b USING (band, bh)
         WHERE a.id < b.id AND bit_count(xor(a.h, b.h)) <= 3""",
    "q_audio_fingerprint" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         n AS (SELECT id, 64 + (id % 64) AS ns FROM ids),
         s AS (SELECT id, unnest([{'i': i, 'v': abs(((id * 31 + i * 7) % 65536) - 32768)}
                                  for i in generate_series(0, ns - 1)]) AS u
               FROM n),
         sam AS (SELECT id, u.i AS i, u.v AS v FROM s),
         wsum AS (SELECT sam.id, CAST((i * 65) // n.ns AS INT) AS win, sum(v) AS e
                  FROM sam JOIN n ON n.id = sam.id GROUP BY 1, 2),
         grid AS (SELECT n.id, ws.win FROM n, (SELECT unnest(generate_series(0, 64)) AS win) ws),
         e AS (SELECT grid.id, grid.win, COALESCE(wsum.e, 0) AS e
               FROM grid LEFT JOIN wsum ON wsum.id = grid.id AND wsum.win = grid.win),
         b AS (SELECT l.id, l.win AS w FROM e l JOIN e r ON r.id = l.id AND r.win = l.win + 1
               WHERE l.win < 64 AND r.e > l.e),
         fp AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(w AS INT)) AS h FROM b GROUP BY 1)
         SELECT ids.id AS media_id,
                lower(lpad(to_hex(COALESCE(fp.h, CAST(0 AS UBIGINT))), 16, '0')) AS ahash_hex
         FROM ids LEFT JOIN fp ON fp.id = ids.id""",
    "q_image_dhash" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, gy, gx,
                 ((id * 3 + ((gx * 32) // 9) * 5) % 256)
               + ((id * 7 + ((gy * 24) // 8) * 11) % 256)
               + ((id + ((gx * 32) // 9) * ((gy * 24) // 8)) % 256) AS gray
               FROM ids, gxs, gys),
         b AS (SELECT l.id, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray),
         fp AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                FROM b GROUP BY 1)
         SELECT ids.id AS media_id,
                lower(lpad(to_hex(COALESCE(fp.h, CAST(0 AS UBIGINT))), 16, '0')) AS dhash_hex
         FROM ids LEFT JOIN fp ON fp.id = ids.id""",
    // image-dhash replay + the 4x16-bit band guard + hamming verify,
    // the q_simhash_neardup convention over the image fingerprint
    "q_image_neardup" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, gy, gx,
                 ((id * 3 + ((gx * 32) // 9) * 5) % 256)
               + ((id * 7 + ((gy * 24) // 8) * 11) % 256)
               + ((id + ((gx * 32) // 9) * ((gy * 24) // 8)) % 256) AS gray
               FROM ids, gxs, gys),
         b AS (SELECT l.id, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray),
         fp0 AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                 FROM b GROUP BY 1),
         fp AS (SELECT ids.id, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM ids LEFT JOIN fp0 ON fp0.id = ids.id),
         banded AS (SELECT id, h, bs.band, (h >> (bs.band * 16)) & 65535 AS bh
                    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
         kept AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, bh))
         SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         FROM guarded a JOIN guarded b USING (band, bh)
         WHERE a.id < b.id AND bit_count(xor(a.h, b.h)) <= 3""",
    "q_media_decode" ->
      """WITH px AS (
           SELECT g.id AS media_id,
                  CAST((g.id * 3 + x.x * 5) % 256 AS BIGINT) AS r,
                  CAST((g.id * 7 + y.y * 11) % 256 AS BIGINT) AS gch,
                  CAST((g.id + x.x * y.y) % 256 AS BIGINT) AS b
           FROM generate_series(0, 199) AS g(id)
           CROSS JOIN generate_series(0, 31) AS x(x)
           CROSS JOIN generate_series(0, 23) AS y(y)),
         f AS (SELECT media_id, CAST(sum(r) AS BIGINT) AS sum_r,
                      CAST(sum(gch) AS BIGINT) AS sum_g,
                      CAST(sum(b) AS BIGINT) AS sum_b
               FROM px GROUP BY 1),
         rz AS (SELECT g.id AS media_id,
                       CAST(sum((g.id * 3 + (rx.rx * 4) * 5) % 256) AS BIGINT) AS sum_r_resized
                FROM generate_series(0, 199) AS g(id)
                CROSS JOIN generate_series(0, 7) AS rx(rx)
                CROSS JOIN generate_series(0, 5) AS ry(ry)
                GROUP BY 1)
         SELECT f.media_id, 32 AS img_w, 24 AS img_h, CAST(768 AS BIGINT) AS n_px,
                sum_r, sum_g, sum_b, sum_r_resized
         FROM f JOIN rz USING (media_id)""",
    "q_media_video_frames" ->
      """WITH px AS (
           SELECT g.id AS media_id, f.f AS frame_no,
                  CAST((g.id * 3 + f.f * 7 + x.x * 5) % 256 AS BIGINT) AS r,
                  CAST((g.id * 5 + f.f * 11 + y.y * 3) % 256 AS BIGINT) AS gc,
                  CAST((g.id + f.f + x.x * y.y) % 256 AS BIGINT) AS b
           FROM generate_series(0, 149) AS g(id)
           CROSS JOIN generate_series(0, 5) AS f(f)
           CROSS JOIN generate_series(0, 15) AS x(x)
           CROSS JOIN generate_series(0, 11) AS y(y)
           WHERE f.f < 2 + (g.id % 4))
         SELECT media_id, CAST(frame_no AS INT) AS frame_no,
                CAST(sum(r) AS BIGINT) AS sum_r,
                CAST(sum(gc) AS BIGINT) AS sum_g,
                CAST(sum(b) AS BIGINT) AS sum_b
         FROM px GROUP BY 1, 2""",
    "q_media_audio" ->
      """WITH s AS (
           SELECT g.id AS media_id, i.i AS i,
                  CAST((g.id * 31 + i.i * 7) % 65536 - 32768 AS BIGINT) AS smp,
                  64 + (g.id % 64) AS ns
           FROM generate_series(0, 199) AS g(id)
           CROSS JOIN generate_series(0, 127) AS i(i)
           WHERE i.i < 64 + (g.id % 64))
         SELECT media_id, 8000 AS sample_rate,
                CAST(max(ns) AS BIGINT) AS n_samples,
                CAST(sum(smp) AS BIGINT) AS sum_s,
                CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
                CAST(min(smp) AS INT) AS min_s,
                CAST(max(smp) AS INT) AS max_s
         FROM s GROUP BY 1""",
    "q_alerts" ->
      s"""WITH gaps AS (
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
         FROM fresh WHERE lag_us > 120000000""",
    "q_ohlcv_rollup_15m" ->
      """SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts,
         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         arg_max(value, ts) AS close,
         (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS volume,
         count(*) AS trades
         FROM events GROUP BY 1, 2""",
    "q_ohlcv_rollup_1h" ->
      """SELECT event_type, user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         arg_max(value, ts) AS close,
         (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS volume,
         count(*) AS trades
         FROM events GROUP BY 1, 2, 3""",
    "q_rollup_cascade_15m_to_1h" ->
      """WITH r15 AS (
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
         FROM r15 GROUP BY 1, 2""",
    "q_dedup_latest" ->
      """SELECT user_id, date_trunc('minute', ts) AS minute_ts,
         arg_max(event_type, event_id) AS event_type,
         arg_max(value, event_id) AS value,
         arg_max(ts, event_id) AS ts,
         max(event_id) AS event_id
         FROM events GROUP BY 1, 2""",
    "q_recent_topk" ->
      "SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 400",
    "q_latest_per_key" ->
      """SELECT user_id, arg_max(event_type, ts) AS event_type,
         arg_max(value, ts) AS value, arg_max(event_id, ts) AS event_id,
         max(ts) AS last_ts
         FROM events GROUP BY 1""",
    "q_distinct_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_count_distinct_range" ->
      """SELECT user_id, count(DISTINCT date_trunc('minute', ts)) AS n_buckets
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY 1""",
    "q_earliest_per_symbol" ->
      """SELECT user_id, min(ts) AS earliest_ts FROM events
         WHERE event_type = 'click' GROUP BY 1""",
    "q_minmax_window" ->
      """SELECT min(ts) AS window_start, max(ts) AS window_end, count(*) AS n_rows
         FROM events WHERE user_id = 7 AND event_type = 'view'""",
    "q_symbol_history" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE user_id = 42 AND event_type = 'view' ORDER BY ts""",
    "q_filter_in_range" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE user_id IN (1, 2, 3, 5, 8, 13) AND ts >= TIMESTAMP '2024-01-15 00:00:00'""",
    "q_validate_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag
         FROM lineitem
         WHERE isfinite(l_quantity) AND l_quantity > 0
           AND isfinite(l_extendedprice) AND l_extendedprice >= 0
           AND l_discount >= 0 AND l_discount <= 1 AND l_tax >= 0
           AND l_returnflag IN ('A', 'N', 'R') AND length(l_linestatus) > 0""",
    "q_symbol_filter" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
         WHERE contains(p_name, 'ring') AND p_name NOT IN ('small ring')
         ORDER BY p_name""",
    "q_missing_buckets" ->
      """WITH obs AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts FROM events),
         b AS (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM obs GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts FROM b)
         SELECT grid.user_id, grid.bucket_ts FROM grid ANTI JOIN obs USING (user_id, bucket_ts)""",
    "q_gap_ranges" ->
      """WITH obs AS (SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS b FROM events),
         x AS (SELECT user_id, b,
                 CASE WHEN lag(b) OVER w IS NULL OR b - lag(b) OVER w > INTERVAL '1 hour'
                      THEN 1 ELSE 0 END AS ni
               FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY b)),
         y AS (SELECT user_id, b,
                 sum(ni) OVER (PARTITION BY user_id ORDER BY b ROWS UNBOUNDED PRECEDING) AS island_id
               FROM x)
         SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
                min(b) AS range_start, max(b) AS range_end, count(*) AS n_buckets
         FROM y GROUP BY 1, 2""",
    "q_freshness_lag" ->
      s"""SELECT user_id, max(ts) AS last_ts,
          epoch_us(TIMESTAMP '$anchor') - epoch_us(max(ts)) AS lag_us,
          (epoch_us(TIMESTAMP '$anchor') - epoch_us(max(ts))) > 120000000 AS is_stale
          FROM events GROUP BY 1""",
    "q_floor_to_grain" ->
      """SELECT user_id, ts, time_bucket(INTERVAL '15 minutes', ts) AS bucket_15m,
         CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_1h,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_1d
         FROM events WHERE user_id <= 5""",
    "q_backfill_chunks" ->
      """WITH e AS (SELECT user_id, time_bucket(INTERVAL '1 hour', min(ts)) AS earliest FROM events GROUP BY 1),
         g AS (SELECT user_id, earliest,
                 unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00', earliest, INTERVAL '6 hours')) AS chunk_start
               FROM e WHERE earliest > TIMESTAMP '2024-01-01 00:00:00')
         SELECT user_id, chunk_start,
                least(chunk_start + INTERVAL '6 hours', earliest) AS chunk_end
         FROM g WHERE chunk_start < earliest""",
    "q_listing_diff" ->
      """WITH cur AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 12:00:00' AND ts < TIMESTAMP '2024-01-15 13:00:00'),
         kn AS (SELECT DISTINCT user_id FROM events
           WHERE ts >= TIMESTAMP '2024-01-15 11:00:00' AND ts < TIMESTAMP '2024-01-15 12:00:00')
         SELECT user_id, 'added' AS status FROM cur ANTI JOIN kn USING (user_id)
         UNION ALL
         SELECT user_id, 'removed' AS status FROM kn ANTI JOIN cur USING (user_id)""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS sum_qty,
         (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS DECIMAL(25,8))) AS DOUBLE) AS sum_charge,
         (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*) AS avg_qty,
         (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*) AS avg_price,
         (CAST(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
         GROUP BY 1, 2""",
    "q_join_orders_customer" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         (CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_revenue,
         count(DISTINCT o_custkey) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q_join_5way" ->
      """SELECT n_name, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1""",
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q6_revenue_filter" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "q_sma" ->
      """WITH r1h AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                  arg_max(value, ts) AS close,
                  sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vol_cents
           FROM events GROUP BY 1, 2)
         SELECT user_id, bucket_ts, close,
                CAST(sum(vol_cents) OVER w AS DOUBLE) / 100 / count(*) OVER w AS vol_sma7,
                CAST(count(*) OVER w AS BIGINT) AS n_in_frame
         FROM r1h
         WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    "q_bollinger" ->
      """WITH r1h AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                  arg_max(value, ts) AS close
           FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h)
         SELECT user_id, bucket_ts, cents AS close_cents,
                count(*) OVER w AS n_in_frame,
                CAST(sum(cents) OVER w AS DOUBLE)
                  / CAST(count(*) OVER w AS DOUBLE) AS mid_cents,
                CAST(sum(cents) OVER w AS DOUBLE)
                  / CAST(count(*) OVER w AS DOUBLE)
                  + 2 * sqrt(CAST(count(*) OVER w * (sum(cents * cents) OVER w)
                               - (sum(cents) OVER w) * (sum(cents) OVER w) AS DOUBLE)
                             / CAST(count(*) OVER w * count(*) OVER w AS DOUBLE))
                  AS upper_cents,
                CAST(sum(cents) OVER w AS DOUBLE)
                  / CAST(count(*) OVER w AS DOUBLE)
                  - 2 * sqrt(CAST(count(*) OVER w * (sum(cents * cents) OVER w)
                               - (sum(cents) OVER w) * (sum(cents) OVER w) AS DOUBLE)
                             / CAST(count(*) OVER w * count(*) OVER w AS DOUBLE))
                  AS lower_cents
         FROM c
         WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""",
    "q_rsi" ->
      """WITH r1h AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                  arg_max(value, ts) AS close
           FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 cents - lag(cents) OVER (PARTITION BY user_id
                   ORDER BY bucket_ts) AS dd FROM c),
         g AS (SELECT user_id, bucket_ts,
                 CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) OVER w AS BIGINT) AS gains_cents,
                 CAST(sum(CASE WHEN dd < 0 THEN -dd ELSE 0 END) OVER w AS BIGINT) AS losses_cents
               FROM d
               WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, gains_cents, losses_cents,
                CASE WHEN gains_cents + losses_cents = 0 THEN NULL
                     ELSE CAST(gains_cents * 100 AS DOUBLE)
                          / CAST(gains_cents + losses_cents AS DOUBLE)
                END AS rsi
         FROM g""",
    "q_vwap" ->
      """SELECT l_partkey,
                (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  AS total_price,
                (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  AS total_qty,
                (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  / (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  AS vwap
         FROM lineitem GROUP BY 1""",
    // Observation-holds-until-next weighting; decimal-exact weighted
    // sum, BIGINT-cast duration sum (DuckDB sum() is HUGEINT), one
    // IEEE division at the end.
    "q_twap" ->
      """WITH iv AS (
           SELECT user_id, value,
                  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                    - epoch_us(ts) AS dur
           FROM events
           QUALIFY lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL)
         SELECT user_id,
                count(*) AS n_intervals,
                CAST(sum(dur) AS BIGINT) AS total_dur_us,
                CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0)) * dur) AS DOUBLE)
                  / (CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) * 100.0) AS twap
         FROM iv GROUP BY 1""",
    "q_rank_by_volume" ->
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
                  sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vol_cents
           FROM events GROUP BY 1, 2)
         SELECT bucket_ts, user_id, CAST(vol_cents AS DOUBLE) / 100 AS volume, vol_rank FROM (
           SELECT bucket_ts, user_id, vol_cents,
                  CAST(row_number() OVER (PARTITION BY bucket_ts
                       ORDER BY vol_cents DESC, user_id) AS INT) AS vol_rank
           FROM daily)
         WHERE vol_rank <= 10""",
    "q_grouping_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
         (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_dedup_window" ->
      """SELECT event_id, ts, user_id, event_type, value, props, minute_ts FROM (
           SELECT *, date_trunc('minute', ts) AS minute_ts,
                  row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
                                     ORDER BY event_id DESC) AS rn
           FROM events)
         WHERE rn = 1""",
    "q_asof_join" ->
      """SELECT p.event_id, p.ts, p.user_id, p.value, c.ts AS asof_ts, c.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q_quote_staleness" ->
      """WITH m AS (SELECT p.ts, c.ts AS asof_ts
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
         FROM c GROUP BY 1""",
    "q_asof_forward" ->
      """SELECT p.event_id, p.ts, p.user_id, p.value, c.ts AS asof_ts, c.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts <= c.ts""",
    "q_asof_nearest" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
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
         FROM b JOIN f USING (event_id)""",
    "q_doc_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY 1""",
    // Bloom membership: the published flag is EXACT (prefilter has no
    // false negatives; the confirm join removes false positives), so
    // the oracle is the plain content-membership predicate — derived
    // on raw text equality, independent of the engine's md5 keying.
    "q_bloom_dedup" ->
      """WITH o AS (SELECT max(doc_id) + 1 AS off FROM documents),
         batch AS (
           SELECT doc_id + (SELECT off FROM o) AS doc_id, text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2 * (SELECT off FROM o) AS doc_id,
                  text || ' [rev2]' AS text
           FROM documents WHERE doc_id % 10 = 5)
         SELECT b.doc_id AS doc_id,
                EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text)
                  AS is_dup
         FROM batch b""",
    "q_bloom_sharded" ->
      """WITH o AS (SELECT max(doc_id) + 1 AS off FROM documents),
         batch AS (
           SELECT doc_id + (SELECT off FROM o) AS doc_id, text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2 * (SELECT off FROM o) AS doc_id,
                  text || ' [rev2]' AS text
           FROM documents WHERE doc_id % 10 = 5)
         SELECT b.doc_id AS doc_id,
                EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text)
                  AS is_dup
         FROM batch b""",
    "q_bloom_audit" ->
      """WITH o AS (SELECT max(doc_id) + 1 AS off FROM documents),
         batch AS (
           SELECT doc_id + (SELECT off FROM o) AS doc_id, text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2 * (SELECT off FROM o) AS doc_id,
                  text || ' [rev2]' AS text
           FROM documents WHERE doc_id % 10 = 5)
         SELECT CAST(count(*) AS BIGINT) AS n_batch,
                CAST(count(CASE WHEN EXISTS (SELECT 1 FROM documents d
                                             WHERE d.text = b.text)
                           THEN 1 END) AS BIGINT) AS n_dup,
                TRUE AS no_false_negatives,
                TRUE AS fp_within_budget
         FROM batch b""",
    "q_doc_minhash_pairs" ->
      s"""WITH ${minhashSigCtes()}
         $minhashPairsSelect""",
    // Cap-report oracles: per-bucket counts over the UNCAPPED banded
    // CTE, one-row summary at the query's deliberately-low cap.
    // n_entities_affected = distinct entities holding >= 1 membership
    // in an over-cap bucket.
    "q_cap_report_minhash" ->
      s"""WITH ${minhashSigCtes()},
         bn AS (SELECT band, k0, k1, count(*) AS n FROM bands GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(count(CASE WHEN n > 2 THEN 1 END) AS BIGINT) AS n_capped_buckets,
                CAST(coalesce(sum(CASE WHEN n > 2 THEN n END), 0) AS BIGINT) AS n_rows_dropped,
                CAST((SELECT count(DISTINCT b.doc_id) FROM bands b JOIN bn x
                        ON b.band = x.band AND b.k0 = x.k0 AND b.k1 = x.k1
                      WHERE x.n > 2) AS BIGINT) AS n_entities_affected,
                CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_n
         FROM bn""",
    "q_cap_report_simhash" ->
      s"""WITH ${simhashBandCtes()},
         bn AS (SELECT band, h, count(*) AS n FROM banded GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(count(CASE WHEN n > 2 THEN 1 END) AS BIGINT) AS n_capped_buckets,
                CAST(coalesce(sum(CASE WHEN n > 2 THEN n END), 0) AS BIGINT) AS n_rows_dropped,
                CAST((SELECT count(DISTINCT b.doc_id) FROM banded b JOIN bn x
                        ON b.band = x.band AND b.h = x.h
                      WHERE x.n > 2) AS BIGINT) AS n_entities_affected,
                CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_n
         FROM bn""",
    "q_cap_report_clusters" ->
      """WITH bn AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(count(CASE WHEN n > 52 THEN 1 END) AS BIGINT) AS n_split_buckets,
                CAST(coalesce(sum(CASE WHEN n > 52 THEN (n + 51) // 52 END), 0) AS BIGINT)
                  AS n_split_blocks,
                CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_n,
                CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_pair_comparisons
         FROM bn""",
    "q_minhash_incremental" ->
      s"""WITH newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                           FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes()},
         ${minhashSigCtes("newdocs", "_n")}
         SELECT DISTINCT n.doc_id AS new_id, k.doc_id AS known_id
         FROM gbands_n n JOIN gbands k USING (band, k0, k1)""",
    "q_simhash_incremental" ->
      s"""WITH newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                           FROM documents WHERE doc_id % 10 = 0),
         ${simhashBandCtes()},
         ${simhashBandCtes("newdocs", "_n")}
         SELECT DISTINCT n.doc_id AS new_id, k.doc_id AS known_id,
                CAST(bit_count(xor(n.sh, k.sh)) AS BIGINT) AS hamming
         FROM guarded_n n JOIN guarded k USING (band, h)
         WHERE bit_count(xor(n.sh, k.sh)) <= 3""",
    // Dedup funnel: each stage's keeper set restated in SQL — exact
    // hash-groups, minhash CC over exact keepers, semantic CC over
    // near-dup survivors (two recursive CTEs in one WITH RECURSIVE).
    "q_dedup_stages" ->
      s"""WITH RECURSIVE
         keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         kdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN keep1 USING (doc_id)),
         ${minhashSigCtes("kdocs")},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         near AS (SELECT k.doc_id FROM kdocs k LEFT JOIN grp g USING (doc_id)
                  WHERE coalesce(g.group_id, k.doc_id) = k.doc_id),
         se AS (SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS emb
                FROM embeddings e JOIN near n ON n.doc_id = e.vec_id),
         scand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                   FROM se a JOIN se b ON a.label = b.label AND a.vec_id < b.vec_id
                   WHERE list_cosine_similarity(a.emb, b.emb) >= 0.30),
         sedges AS (SELECT doc_a AS src, doc_b AS dst FROM scand
                    UNION SELECT doc_b, doc_a FROM scand),
         reach2(id, lbl) AS (
           SELECT DISTINCT src, src FROM sedges
           UNION
           SELECT g2.src, r.lbl FROM sedges g2 JOIN reach2 r ON r.id = g2.dst),
         sgrp AS (SELECT id, min(lbl) AS group_id FROM reach2 GROUP BY id),
         sem AS (SELECT s.vec_id FROM se s LEFT JOIN sgrp g ON g.id = s.vec_id
                 WHERE coalesce(g.group_id, s.vec_id) = s.vec_id)
         SELECT d.doc_id,
                (k.doc_id IS NOT NULL) AS kept_exact,
                (n.doc_id IS NOT NULL) AS kept_near,
                (m.vec_id IS NOT NULL) AS kept_semantic
         FROM documents d
         LEFT JOIN keep1 k ON k.doc_id = d.doc_id
         LEFT JOIN near n ON n.doc_id = d.doc_id
         LEFT JOIN sem m ON m.vec_id = d.doc_id""",
    "q_dedup_funnel" ->
      s"""WITH RECURSIVE
         keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         kdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN keep1 USING (doc_id)),
         ${minhashSigCtes("kdocs")},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         near AS (SELECT k.doc_id FROM kdocs k LEFT JOIN grp g USING (doc_id)
                  WHERE coalesce(g.group_id, k.doc_id) = k.doc_id),
         se AS (SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS emb
                FROM embeddings e JOIN near n ON n.doc_id = e.vec_id),
         scand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                   FROM se a JOIN se b ON a.label = b.label AND a.vec_id < b.vec_id
                   WHERE list_cosine_similarity(a.emb, b.emb) >= 0.30),
         sedges AS (SELECT doc_a AS src, doc_b AS dst FROM scand
                    UNION SELECT doc_b, doc_a FROM scand),
         reach2(id, lbl) AS (
           SELECT DISTINCT src, src FROM sedges
           UNION
           SELECT g2.src, r.lbl FROM sedges g2 JOIN reach2 r ON r.id = g2.dst),
         sgrp AS (SELECT id, min(lbl) AS group_id FROM reach2 GROUP BY id),
         sem AS (SELECT s.vec_id FROM se s LEFT JOIN sgrp g ON g.id = s.vec_id
                 WHERE coalesce(g.group_id, s.vec_id) = s.vec_id)
         SELECT '1_raw' AS stage, count(*) AS n_kept FROM documents
         UNION ALL SELECT '2_exact', count(*) FROM keep1
         UNION ALL SELECT '3_near_dup', count(*) FROM near
         UNION ALL SELECT '4_semantic', count(*) FROM sem""",
    // Incremental CC folds new pairs into standing groups; the oracle
    // is the EQUIVALENT global statement — transitive closure over the
    // union of old and new candidate edges (star edges reproduce old
    // connectivity exactly, so the incremental result matches it).
    // Store build: standing labels = CC over the corpus's own banded
    // candidate pairs (docs in some duplicate group only).
    "q_dedup_build_store" ->
      s"""WITH RECURSIVE
         ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst)
         SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id""",
    "q_dedup_incremental" ->
      s"""WITH RECURSIVE
         newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                     FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes()},
         ${minhashSigCtes("newdocs", "_n")},
         cand AS ($minhashPairsSelect),
         crossc AS (SELECT DISTINCT n.doc_id AS doc_a, k.doc_id AS doc_b
                    FROM gbands_n n JOIN gbands k USING (band, k0, k1)),
         withinc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM gbands_n a JOIN gbands_n b USING (band, k0, k1)
                     WHERE a.doc_id < b.doc_id),
         alle AS (SELECT doc_a, doc_b FROM cand
                  UNION SELECT doc_a, doc_b FROM crossc
                  UNION SELECT doc_a, doc_b FROM withinc),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM alle
                   UNION SELECT doc_b, doc_a FROM alle),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         ad AS (SELECT doc_id FROM documents
                UNION ALL SELECT doc_id FROM newdocs)
         SELECT ad.doc_id, coalesce(g.group_id, ad.doc_id) AS group_id
         FROM ad LEFT JOIN grp g USING (doc_id)""",
    // Stress variant: identical semantics (the rebuild path derives the
    // same store the read path consumes), so the same global-closure
    // oracle applies verbatim.
    "q_dedup_incremental_rederive" ->
      s"""WITH RECURSIVE
         newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                     FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes()},
         ${minhashSigCtes("newdocs", "_n")},
         cand AS ($minhashPairsSelect),
         crossc AS (SELECT DISTINCT n.doc_id AS doc_a, k.doc_id AS doc_b
                    FROM gbands_n n JOIN gbands k USING (band, k0, k1)),
         withinc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM gbands_n a JOIN gbands_n b USING (band, k0, k1)
                     WHERE a.doc_id < b.doc_id),
         alle AS (SELECT doc_a, doc_b FROM cand
                  UNION SELECT doc_a, doc_b FROM crossc
                  UNION SELECT doc_a, doc_b FROM withinc),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM alle
                   UNION SELECT doc_b, doc_a FROM alle),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         ad AS (SELECT doc_id FROM documents
                UNION ALL SELECT doc_id FROM newdocs)
         SELECT ad.doc_id, coalesce(g.group_id, ad.doc_id) AS group_id
         FROM ad LEFT JOIN grp g USING (doc_id)""",
    // Fold-only incremental CC: standing star edges come from the
    // closed-form exact-text grouping (min doc_id per text), new edges
    // are exact-text batch→corpus matches plus minhash pairs within the
    // batch; transitive closure over the union equals the fold.
    "q_dedup_incremental_fold" ->
      s"""WITH RECURSIVE
         newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                     FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes("newdocs", "_n")},
         stand AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS group_id
                   FROM documents),
         crossc AS (SELECT n.doc_id AS doc_a, d.doc_id AS doc_b
                    FROM newdocs n JOIN documents d ON n.text = d.text),
         withinc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM gbands_n a JOIN gbands_n b USING (band, k0, k1)
                     WHERE a.doc_id < b.doc_id),
         alle AS (SELECT doc_id AS doc_a, group_id AS doc_b FROM stand
                  UNION SELECT doc_a, doc_b FROM crossc
                  UNION SELECT doc_a, doc_b FROM withinc),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM alle
                   UNION SELECT doc_b, doc_a FROM alle),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         ad AS (SELECT doc_id FROM documents
                UNION ALL SELECT doc_id FROM newdocs)
         SELECT ad.doc_id, coalesce(g.group_id, ad.doc_id) AS group_id
         FROM ad LEFT JOIN grp g USING (doc_id)""",
    // Connected components via transitive closure: DuckDB's recursive
    // CTE accumulates every (node, reachable-label) pair; min per node
    // is the component minimum — same contract as the distributed
    // min-label propagation loop in DedupGroups.
    "q_dedup_groups" ->
      s"""WITH RECURSIVE
         ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id)
         SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS keeper_id,
                coalesce(g.group_id, d.doc_id) = d.doc_id AS is_keeper
         FROM documents d LEFT JOIN grp g USING (doc_id)""",
    // Estimated Jaccard = matching signature components / 8 (a dyadic
    // rational — exact in both engines); exact Jaccard from the same
    // distinct-shingle CTE the signatures hash (intersection count /
    // inclusion-exclusion union).
    "q_minhash_calibration" ->
      s"""WITH ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
                   FROM cand c JOIN sh a2 ON a2.doc_id = c.doc_a
                               JOIN sh b2 ON b2.doc_id = c.doc_b AND b2.s = a2.s
                   GROUP BY 1, 2),
         ex AS (SELECT c.doc_a, c.doc_b,
                  CASE WHEN ca.n + cb.n - coalesce(i.ni, 0) = 0 THEN 0.0
                       ELSE CAST(coalesce(i.ni, 0) AS DOUBLE)
                            / CAST(ca.n + cb.n - coalesce(i.ni, 0) AS DOUBLE)
                  END AS jaccard
                FROM cand c JOIN cnt ca ON ca.doc_id = c.doc_a
                            JOIN cnt cb ON cb.doc_id = c.doc_b
                            LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b),
         est AS (SELECT c.doc_a, c.doc_b,
                   CAST((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) AS DOUBLE) / 8.0
                     AS est_jaccard
                 FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
                             JOIN sig sb ON sb.doc_id = c.doc_b)
         SELECT e.doc_a, e.doc_b, e.est_jaccard, x.jaccard,
                abs(e.est_jaccard - x.jaccard) AS abs_err
         FROM est e JOIN ex x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b""",
    // Per-source duplicate fraction over the same resolved components.
    "q_dedup_rate_by_source" ->
      s"""WITH RECURSIVE
         ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         res AS (SELECT d.doc_id, d.source,
                        coalesce(g.group_id, d.doc_id) = d.doc_id AS is_keeper
                 FROM documents d LEFT JOIN grp g USING (doc_id))
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dupes,
                CAST(sum(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_rate
         FROM res GROUP BY 1""",
    // Same components as q_dedup_groups; keeper = per-group argmax of
    // the q_quality_score composite (row_number over qscore DESC, id).
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE
         ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         lab AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id,
                        least(CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
                        + (1.0 - least(CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                                 / CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS DOUBLE) * 5.0, 1.0)) * 0.3
                        + least(CAST(len(list_filter(string_split(trim(d.text), ' '),
                                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                                / CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS DOUBLE) * 10.0, 1.0) * 0.3
                          AS qscore
                 FROM documents d LEFT JOIN grp g USING (doc_id)),
         keep AS (SELECT group_id, doc_id AS keeper_id,
                         row_number() OVER (PARTITION BY group_id ORDER BY qscore DESC, doc_id) AS rn
                  FROM lab)
         SELECT lab.doc_id, k.keeper_id, k.keeper_id = lab.doc_id AS is_keeper
         FROM lab JOIN (SELECT group_id, keeper_id FROM keep WHERE rn = 1) k USING (group_id)""",
    // Group-size histogram over the same components (count() is BIGINT
    // in both engines — no HUGEINT cast needed, unlike sum()).
    "q_dedup_sizes" ->
      s"""WITH RECURSIVE
         ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         sizes AS (SELECT coalesce(g.group_id, d.doc_id) AS keeper, count(*) AS group_size
                   FROM documents d LEFT JOIN grp g USING (doc_id) GROUP BY 1)
         SELECT group_size, count(*) AS n_groups FROM sizes GROUP BY 1""",
    "q_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS ss
                  FROM toks),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ss AS ss_a, b.ss AS ss_b
                   FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1)
         SELECT doc_a, doc_b,
           CASE WHEN len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) = 0 THEN 0.0
                ELSE CAST(len(list_intersect(ss_a, ss_b)) AS DOUBLE)
                     / CAST(len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) AS DOUBLE)
           END AS jaccard
         FROM pairs""",
    "q_doc_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
         bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                  FROM th, (SELECT unnest(generate_series(0, 63)) AS j) AS js(j) GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM bits GROUP BY 1)
         SELECT doc_id, lower(lpad(to_hex(sh), 16, '0')) AS simhash FROM fp""",
    "q_simhash_neardup" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
         bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                  FROM th, (SELECT unnest(generate_series(0, 63)) AS j) AS js(j) GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM bits GROUP BY 1),
         banded AS (SELECT doc_id, sh, bs.band,
                      (sh >> (bs.band * 16)) & 65535 AS h
                    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM guarded a JOIN guarded b USING (band, h)
         WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3""",
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
         FROM documents""",
    "q_text_stats" ->
      """SELECT doc_id,
         CAST(length(text) AS BIGINT) AS text_len,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
           / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) AS punct_ratio,
         CAST(len(list_filter(string_split(trim(text), ' '),
              x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stopwords,
         CAST(len(list_filter(string_split(trim(text), ' '),
              x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
           / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS stopword_ratio
         FROM documents""",
    "q_repetition_stats" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t,
                        string_split(text, chr(10)) AS l
                      FROM documents),
         base AS (SELECT doc_id,
                    CAST(len(l) AS BIGINT) AS n_lines,
                    CASE WHEN len(l) = 0 THEN NULL
                         ELSE CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l) END AS dup_line_ratio,
                    CAST(len(t) AS BIGINT) AS n_tokens,
                    CASE WHEN len(t) = 0 THEN NULL
                         ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) END AS dup_token_ratio
                  FROM toks),
         bg AS (SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS g
                FROM toks WHERE len(t) >= 2),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS top_bigram_n,
                   CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
                 FROM cnt GROUP BY 1)
         SELECT base.doc_id, n_lines, dup_line_ratio, n_tokens, dup_token_ratio,
                top_bigram_n, top_bigram_frac
         FROM base LEFT JOIN top USING (doc_id)""",
    "q_gopher_quality" ->
      """WITH x AS (SELECT doc_id,
             string_split(trim(text), ' ') AS w,
             string_split(text, chr(10)) AS l,
             length(replace(trim(text), ' ', '')) AS nonspace_len,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE CAST(nonspace_len AS DOUBLE) / len(w) END AS mean_word_len,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) END AS frac_alpha_words,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE CAST(hashes + ellipses AS DOUBLE) / len(w) END AS symbol_word_ratio,
           CASE WHEN len(l) = 0 THEN NULL
                ELSE CAST(len(list_filter(l, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE) / len(l) END AS bullet_line_frac,
           CASE WHEN len(l) = 0 THEN NULL
                ELSE CAST(len(list_filter(l, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(l) END AS ellipsis_line_frac
         FROM x""",
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS s
                FROM toks WHERE len(t) >= 3),
         p AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id < 5000 AND doc_id % 50 = 0)
         SELECT c.doc_id, p.probe_id, count(*) AS n_shared
         FROM sh c JOIN p ON c.s = p.s
         WHERE c.doc_id <> p.probe_id
         GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q_corpus_diff" ->
      """WITH c AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fc
           FROM documents),
         k AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{10,}', '<NUM>', 'g'))), '\s+', ' ', 'g')) AS fk
           FROM documents WHERE doc_id % 7 <> 0)
         SELECT COALESCE(c.doc_id, k.doc_id) AS doc_id,
                CASE WHEN k.fk IS NULL THEN 'added'
                     WHEN c.fc IS NULL THEN 'removed'
                     WHEN c.fc <> k.fk THEN 'changed' END AS status
         FROM c FULL OUTER JOIN k ON c.doc_id = k.doc_id
         WHERE (CASE WHEN k.fk IS NULL THEN 'added'
                     WHEN c.fc IS NULL THEN 'removed'
                     WHEN c.fc <> k.fk THEN 'changed' END) IS NOT NULL""",
    "q_session_windows" ->
      """WITH e AS (SELECT user_id, ts, value,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts, value,
              sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sn
            FROM e)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_value
         FROM s GROUP BY user_id, sn""",
    "q_session_assign" ->
      """WITH e AS (SELECT event_id, user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
         SELECT event_id, user_id,
                CAST(sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
         FROM e""",
    // recall@5: the q_knn_ivf_probe pinned-IVF CTEs + the q_knn_topk
    // exact CTE, joined on (query, neighbor)
    "q_ann_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb AS cent,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         c2 AS (SELECT j, cent, list_inner_product(cent, cent) AS cc FROM seed),
         asg AS (SELECT vec_id, j AS cluster FROM (
             SELECT e.vec_id, t.j,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY t.cc - 2.0 * list_inner_product(e.emb, t.cent), t.j) AS rn
             FROM e, c2 t) WHERE rn = 1),
         ec AS (SELECT e.vec_id, e.emb, asg.cluster FROM e JOIN asg USING (vec_id)),
         q AS (SELECT vec_id AS query_id, emb AS qemb
               FROM ec WHERE vec_id < 20),
         pr AS (SELECT query_id, j AS probe_cluster FROM (
             SELECT q.query_id, t.j,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY t.cc - 2.0 * list_inner_product(q.qemb, t.cent), t.j) AS rn
             FROM q, c2 t) WHERE rn <= 2),
         p AS (SELECT q.query_id, ec.vec_id AS neighbor_id,
                      list_cosine_similarity(q.qemb, ec.emb) AS sim
               FROM q JOIN pr USING (query_id)
               JOIN ec ON ec.vec_id <> q.query_id AND ec.cluster = pr.probe_cluster),
         iv AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM p) WHERE rnk <= 5),
         xp AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(q.qemb, e.emb) AS sim
                FROM q JOIN e ON e.vec_id <> q.query_id),
         xx AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM xp) WHERE rnk <= 5)
         SELECT xx.query_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(iv.neighbor_id) AS BIGINT) AS n_hits,
                CAST(count(iv.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
         FROM xx LEFT JOIN iv USING (query_id, neighbor_id)
         GROUP BY 1""",
    "q_export_manifest" ->
      """WITH s AS (SELECT doc_id, n_chars,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS shard
              FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS id_checksum
         FROM s GROUP BY 1""",
    "q_token_lift" ->
      """WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents),
         tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
         pr AS (SELECT a.doc_id, a.tok AS ta, b.tok AS tb
                FROM tk2 a JOIN tk2 b USING (doc_id) WHERE a.tok < b.tok),
         nab AS (SELECT ta, tb, count(*) AS n_ab FROM pr GROUP BY 1, 2
                 HAVING count(*) >= 5),
         nt AS (SELECT tok, count(*) AS n_t FROM tk2 GROUP BY 1),
         nn AS (SELECT count(*) AS nd FROM documents)
         SELECT ta AS token_a, tb AS token_b, n_ab,
                CAST(n_ab * nd AS DOUBLE) / CAST(na.n_t * nb.n_t AS DOUBLE) AS lift
         FROM nab JOIN nt na ON na.tok = ta JOIN nt nb ON nb.tok = tb CROSS JOIN nn
         ORDER BY lift DESC, ta, tb LIMIT 50""",
    "q_audience_overlap" ->
      """WITH ue AS (SELECT DISTINCT event_type, user_id FROM events),
         na AS (SELECT event_type, count(*) AS n FROM ue GROUP BY 1),
         bo AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
                FROM ue a JOIN ue b USING (user_id)
                WHERE a.event_type < b.event_type GROUP BY 1, 2)
         SELECT type_a, type_b, n_both,
                CAST(n_both AS DOUBLE) / CAST(x.n + y.n - n_both AS DOUBLE) AS jaccard
         FROM bo JOIN na x ON x.event_type = type_a JOIN na y ON y.event_type = type_b""",
    "q_peak_concurrency" ->
      """WITH e AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                 sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sn
               FROM e),
         iv AS (SELECT min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
                FROM s GROUP BY user_id, sn),
         d AS (SELECT st AS ts, 1 AS dd FROM iv UNION ALL SELECT en, -1 FROM iv),
         r AS (SELECT ts, dd,
                 sum(dd) OVER (ORDER BY ts, dd DESC ROWS UNBOUNDED PRECEDING) AS conc
               FROM d),
         p AS (SELECT max(conc) AS peak FROM r)
         SELECT CAST(p.peak AS BIGINT) AS peak_concurrency, min(r.ts) AS first_peak_ts
         FROM r, p WHERE r.conc = p.peak GROUP BY 1""",
    "q_daily_coverage" ->
      """WITH e AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                 sum(f) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sn
               FROM e),
         iv AS (SELECT min(ts) AS st, max(ts) + INTERVAL 30 MINUTE AS en
                FROM s GROUP BY user_id, sn),
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
         FROM bl GROUP BY 1""",
    "q_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         bl AS (SELECT doc_id,
                  unnest([{'bi': i, 'blk': array_to_string(t[(i-1)*6+1:i*6], ' ')}
                          for i in generate_series(1, CAST(ceil(len(t)/6.0) AS BIGINT))]) AS u
                FROM toks),
         b AS (SELECT doc_id, u.bi AS bi, u.blk AS blk, md5(u.blk) AS h FROM bl),
         dup AS (SELECT h FROM b GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
         SELECT doc_id,
                string_agg(blk, ' ' ORDER BY bi) AS text_clean,
                count(*) AS n_blocks_kept
         FROM b WHERE h NOT IN (SELECT h FROM dup)
         GROUP BY doc_id""",
    "q_substring_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT doc_id,
                  unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                          for i in generate_series(1, len(t) - 5)]) AS u
                FROM toks WHERE len(t) >= 6),
         s AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM sh),
         dup AS (SELECT g FROM s GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         d AS (SELECT doc_id, pos FROM s WHERE g IN (SELECT g FROM dup)),
         m AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 6
                      THEN 0 ELSE 1 END AS brk
               FROM d),
         r AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
               FROM m)
         SELECT doc_id,
                CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 6 AS BIGINT) AS span_end,
                CAST(max(pos) + 6 - min(pos) AS BIGINT) AS n_tokens
         FROM r GROUP BY doc_id, grp""",
    "q_substring_scrub" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT doc_id,
                  unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                          for i in generate_series(1, len(t) - 5)]) AS u
                FROM toks WHERE len(t) >= 6),
         s AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM sh),
         dup AS (SELECT g FROM s GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         d AS (SELECT doc_id, pos FROM s WHERE g IN (SELECT g FROM dup)),
         m AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 6
                      THEN 0 ELSE 1 END AS brk
               FROM d),
         r AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
               FROM m),
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 6 AS e
                FROM r GROUP BY doc_id, grp),
         cutpos AS (SELECT doc_id, unnest(range(s, e)) AS p FROM sp),
         tok AS (SELECT doc_id, unnest(t) AS tk, unnest(range(len(t))) AS p FROM toks),
         kept AS (SELECT tok.doc_id, tok.tk, tok.p FROM tok
                  ANTI JOIN cutpos ON tok.doc_id = cutpos.doc_id AND tok.p = cutpos.p)
         SELECT toks.doc_id,
                coalesce(string_agg(kept.tk, ' ' ORDER BY kept.p), '') AS text_clean,
                CAST(count(kept.tk) AS BIGINT) AS n_tokens_kept,
                CAST(len(toks.t) - count(kept.tk) AS BIGINT) AS n_tokens_dropped
         FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id
         GROUP BY toks.doc_id, len(toks.t)""",
    "q_substring_incremental" ->
      """WITH newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                          FROM documents WHERE doc_id % 10 = 0),
         tc AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
         gc AS (SELECT DISTINCT unnest([array_to_string(t[i : i + 5], ' ')
                                        for i in generate_series(1, len(t) - 5)]) AS g
                FROM tc WHERE len(t) >= 6),
         tn AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM newdocs),
         sn AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
                  SELECT doc_id,
                         unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                                 for i in generate_series(1, len(t) - 5)]) AS u
                  FROM tn WHERE len(t) >= 6)),
         d AS (SELECT doc_id, pos FROM sn WHERE g IN (SELECT g FROM gc)),
         m AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 6
                      THEN 0 ELSE 1 END AS brk
               FROM d),
         r AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
               FROM m)
         SELECT doc_id,
                CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 6 AS BIGINT) AS span_end,
                CAST(max(pos) + 6 - min(pos) AS BIGINT) AS n_tokens
         FROM r GROUP BY doc_id, grp""",
    "q_decontaminate_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         ev AS (SELECT doc_id, t FROM toks WHERE doc_id < 5000 AND doc_id % 50 = 0),
         co AS (SELECT doc_id, t FROM toks WHERE NOT (doc_id < 5000 AND doc_id % 50 = 0)),
         ge AS (SELECT DISTINCT unnest([array_to_string(t[i : i + 5], ' ')
                                        for i in generate_series(1, len(t) - 5)]) AS g
                FROM ev WHERE len(t) >= 6),
         sn AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
                  SELECT doc_id,
                         unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                                 for i in generate_series(1, len(t) - 5)]) AS u
                  FROM co WHERE len(t) >= 6)),
         d AS (SELECT doc_id, pos FROM sn WHERE g IN (SELECT g FROM ge)),
         m AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 6
                      THEN 0 ELSE 1 END AS brk
               FROM d),
         r AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
               FROM m)
         SELECT doc_id,
                CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 6 AS BIGINT) AS span_end,
                CAST(max(pos) + 6 - min(pos) AS BIGINT) AS n_tokens
         FROM r GROUP BY doc_id, grp""",
    "q_jaccard_histogram" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS ss
                  FROM toks),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ss AS ss_a, b.ss AS ss_b
                   FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1),
         j AS (SELECT
           CASE WHEN len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) = 0 THEN 0.0
                ELSE CAST(len(list_intersect(ss_a, ss_b)) AS DOUBLE)
                     / CAST(len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) AS DOUBLE)
           END AS jaccard
           FROM pairs)
         SELECT LEAST(CAST(floor(jaccard * 10) AS BIGINT), 9) AS bin, count(*) AS n_pairs
         FROM j GROUP BY 1""",
    "q_boilerplate_topk" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         bl AS (SELECT doc_id,
                  unnest([{'bi': i, 'blk': array_to_string(t[(i-1)*6+1:i*6], ' ')}
                          for i in generate_series(1, CAST(ceil(len(t)/6.0) AS BIGINT))]) AS u
                FROM toks),
         b AS (SELECT doc_id, u.blk AS blk FROM bl)
         SELECT blk, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
         FROM b GROUP BY blk
         HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occurrences DESC, blk
         LIMIT 20""",
    // Line-scrub oracles re-derive the same multi-line staging; the
    // in-doc pass keeps a line iff its first list position is its own
    // (DuckDB lambda indexes are 1-based; Spark's filter index is
    // 0-based, hence the +1 on the engine side).
    "q_line_scrub" ->
      """WITH staged AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
               THEN concat_ws(chr(10), 'subscribe to our newsletter', text,
                              'subscribe to our newsletter', text)
               ELSE concat_ws(chr(10), 'subscribe to our newsletter', text,
                              'thanks for reading') END AS text
           FROM documents),
         l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM staged),
         k AS (SELECT doc_id, lines,
                 list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
               FROM l)
         SELECT doc_id, array_to_string(kept, chr(10)) AS scrubbed_text,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(lines) - len(kept) AS BIGINT) AS n_removed
         FROM k""",
    "q_boilerplate_scrub" ->
      """WITH staged AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
               THEN concat_ws(chr(10), 'subscribe to our newsletter', text,
                              'subscribe to our newsletter', text)
               ELSE concat_ws(chr(10), 'subscribe to our newsletter', text,
                              'thanks for reading') END AS text
           FROM documents),
         ln AS (SELECT doc_id,
                  unnest(string_split(text, chr(10))) AS l,
                  unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
                FROM staged),
         freq AS (SELECT l FROM ln GROUP BY l
                  HAVING count(DISTINCT doc_id) >= 50),
         kept AS (SELECT doc_id, l, i FROM ln
                  WHERE l NOT IN (SELECT l FROM freq)),
         reb AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS scrubbed_text,
                   count(*) AS n_lines_kept
                 FROM kept GROUP BY doc_id),
         base AS (SELECT doc_id,
                    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                  FROM staged)
         SELECT b.doc_id, coalesce(r.scrubbed_text, '') AS scrubbed_text,
                b.n_lines,
                b.n_lines - CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_removed
         FROM base b LEFT JOIN reb r USING (doc_id)""",
    "q_span_quality" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         bl AS (SELECT doc_id,
                  unnest([{'bi': i, 'blk': array_to_string(t[(i-1)*6+1:i*6], ' ')}
                          for i in generate_series(1, CAST(ceil(len(t)/6.0) AS BIGINT))]) AS u
                FROM toks),
         b AS (SELECT doc_id, u.bi AS bi, u.blk AS blk, md5(u.blk) AS h FROM bl),
         dup AS (SELECT h FROM b GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         cleaned AS (SELECT doc_id, string_agg(blk, ' ' ORDER BY bi) AS text_clean
                     FROM b WHERE h NOT IN (SELECT h FROM dup) GROUP BY doc_id),
         j AS (SELECT d.lang,
                 CAST(len(string_split_regex(trim(c.text_clean), '\s+')) AS BIGINT) AS n_tokens
               FROM cleaned c JOIN documents d USING (doc_id))
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
         FROM j GROUP BY lang""",
    "q_stratified_take" ->
      """SELECT doc_id, source, lang FROM documents
         QUALIFY row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5""",
    "q_stratified_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) <
           CASE source WHEN 'src0' THEN 65536 WHEN 'src1' THEN 32768
                       WHEN 'src2' THEN 16384 WHEN 'src3' THEN 6553
                       ELSE 3276 END""",
    "q_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         p AS (SELECT doc_id, u.pos, u.term
               FROM (SELECT doc_id,
                       unnest([{'pos': i - 1, 'term': t[i]}
                               for i in generate_series(1, len(t))]) AS u
                     FROM toks)),
         s1 AS (SELECT doc_id, pos FROM p WHERE term = 'spark'),
         s2 AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE term = 'scan')
         SELECT doc_id, CAST(pos AS BIGINT) AS pos
         FROM s1 JOIN s2 USING (doc_id, pos)""",
    "q_ngram_counts" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS ngram
               FROM toks),
         c AS (SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
               FROM g GROUP BY 1)
         SELECT ngram, n_docs, n_occurrences FROM c WHERE n_occurrences >= 2
         ORDER BY n_occurrences DESC, ngram LIMIT 100""",
    "q_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         c AS (SELECT doc_id, t,
                 [0] || [i for i in generate_series(5, len(t)-1)
                         if CAST(('0x' || substr(md5(array_to_string(t[i-4:i], ' ')), 1, 8)) AS BIGINT) % 16 = 0]
                     || [len(t)] AS cuts
               FROM d),
         x AS (SELECT doc_id, unnest([{'ci': k-1, 'chunk': t[cuts[k]+1 : cuts[k+1]]}
                 for k in generate_series(1, len(cuts)-1)]) AS s FROM c)
         SELECT doc_id, CAST(s.ci AS BIGINT) AS chunk_idx,
                md5(array_to_string(s.chunk, ' ')) AS chunk_hash,
                CAST(len(s.chunk) AS BIGINT) AS n_tokens,
                array_to_string(s.chunk, ' ') AS chunk_text
         FROM x""",
    "q_cdc_incremental" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         c AS (SELECT doc_id, t,
                 [0] || [i for i in generate_series(5, len(t)-1)
                         if CAST(('0x' || substr(md5(array_to_string(t[i-4:i], ' ')), 1, 8)) AS BIGINT) % 16 = 0]
                     || [len(t)] AS cuts
               FROM d),
         oldc AS (SELECT DISTINCT doc_id,
                    md5(array_to_string(t[cuts[k]+1 : cuts[k+1]], ' ')) AS chunk_hash
                  FROM c, (SELECT unnest(generate_series(1, 200)) AS k) ks
                  WHERE k <= len(cuts) - 1),
         ed AS (SELECT doc_id, string_split(trim('edited head ' || text), ' ') AS t FROM documents),
         ec AS (SELECT doc_id, t,
                 [0] || [i for i in generate_series(5, len(t)-1)
                         if CAST(('0x' || substr(md5(array_to_string(t[i-4:i], ' ')), 1, 8)) AS BIGINT) % 16 = 0]
                     || [len(t)] AS cuts
               FROM ed),
         newc AS (SELECT doc_id,
                    md5(array_to_string(t[cuts[k]+1 : cuts[k+1]], ' ')) AS chunk_hash
                  FROM ec, (SELECT unnest(generate_series(1, 200)) AS k) ks
                  WHERE k <= len(cuts) - 1)
         SELECT n.doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN o.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
                CAST(sum(CASE WHEN o.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS reuse_frac
         FROM newc n LEFT JOIN oldc o
           ON o.doc_id = n.doc_id AND o.chunk_hash = n.chunk_hash
         GROUP BY 1""",
    "q_bigram_lm" ->
      """WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
         g AS (SELECT unnest([{'w1': t[i], 'w2': t[i+1]}
                              for i in generate_series(1, len(t)-1)]) AS u
               FROM toks),
         bi AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS n_pair FROM g GROUP BY 1, 2),
         uni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_prefix FROM bi GROUP BY 1)
         SELECT bi.w1, bi.w2, bi.n_pair, uni.n_prefix,
                CAST(bi.n_pair AS DOUBLE) / CAST(uni.n_prefix AS DOUBLE) AS p
         FROM bi JOIN uni USING (w1)
         WHERE bi.n_pair >= 5
         ORDER BY bi.n_pair DESC, bi.w1, bi.w2 LIMIT 100""",
    "q_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS t,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
                    FROM documents),
         corpus AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
                      count(*) AS n_docs FROM d),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
                WHERE term IN ('dup', 'spark', 'scan', 'window') GROUP BY 1, 2, 3),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id, tf.term,
                 (CAST(c.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)
                   * (CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / c.avgdl)) AS s
               FROM tf JOIN df USING (term) CROSS JOIN corpus c),
         agg AS (SELECT doc_id,
                   sum(CASE WHEN term = 'dup' THEN s ELSE 0.0 END) AS s1,
                   sum(CASE WHEN term = 'spark' THEN s ELSE 0.0 END) AS s2,
                   sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END) AS s3,
                   sum(CASE WHEN term = 'window' THEN s ELSE 0.0 END) AS s4,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
                 FROM s GROUP BY 1)
         SELECT doc_id, ((s1 + s2) + s3) + s4 AS score, n_terms_matched FROM agg
         ORDER BY score DESC, doc_id LIMIT 50""",
    "q_linear_quality" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
                 CAST(count(*) AS BIGINT) AS c
               FROM t WHERE tok <> '' GROUP BY 1, 2),
         w AS (SELECT doc_id, bucket, c,
                 CAST(CAST(('0x' || substr(md5('w' || bucket), 1, 8)) AS BIGINT) % 7 - 3 AS DOUBLE) / 4.0 AS w
               FROM b)
         SELECT doc_id,
                sum(CAST(c AS DOUBLE) * w) + -0.25 AS margin,
                (sum(CAST(c AS DOUBLE) * w) + -0.25) > 0.0 AS keep,
                CAST(sum(c) AS BIGINT) AS n_tokens
         FROM w GROUP BY 1""",
    "q_hashing_tf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
                 count(*) AS c
               FROM t WHERE tok <> '' GROUP BY 1, 2)
         SELECT doc_id, bucket, c,
                CAST(c AS DOUBLE) / sqrt(CAST(sum(c * c) OVER (PARTITION BY doc_id) AS DOUBLE)) AS w
         FROM b""",
    "q_text_knn" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS bucket,
                 count(*) AS c
               FROM t WHERE tok <> '' GROUP BY 1, 2),
         n2 AS (SELECT doc_id, sum(c * c) AS n2 FROM b GROUP BY 1),
         q AS (SELECT doc_id AS query_id, bucket, c AS qc FROM b
               WHERE doc_id < 1000 AND doc_id % 10 = 0),
         d AS (SELECT q.query_id, b.doc_id, sum(b.c * q.qc) AS dot
               FROM b JOIN q USING (bucket)
               WHERE b.doc_id <> q.query_id
               GROUP BY 1, 2),
         s AS (SELECT d.query_id, d.doc_id,
                 CAST(d.dot AS DOUBLE) /
                   (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS sim
               FROM d JOIN n2 nc ON nc.doc_id = d.doc_id
                      JOIN n2 nq ON nq.doc_id = d.query_id)
         SELECT query_id, doc_id AS neighbor_id, sim, rank FROM (
           SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
           FROM s) WHERE rank <= 5""",
    "q_tfidf_topterms" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                    FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                 CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
               FROM tf JOIN dfq USING (term) CROSS JOIN n
               WHERE tf.tf >= 2)
         SELECT doc_id, term, tf, df, score, rank FROM (
           SELECT s.*, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
           FROM s) WHERE rank <= 5""",
    "q_redact_pii" ->
      """SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{10,}', '<NUM>', 'g') AS redacted
         FROM documents""",
    "q_split_assign" -> {
      // cutoffs computed with the same arithmetic as TextOps.splitAssign
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail.map(c => (c * 65536).toInt)
      s"""SELECT doc_id,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(0)} THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(1)} THEN 'val'
               ELSE 'test' END AS split
          FROM documents"""
    },
    "q_pipeline_e2e" -> {
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail.map(c => (c * 65536).toInt)
      s"""WITH red AS (SELECT doc_id, lang,
              regexp_replace(
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{10,}', '<NUM>', 'g') AS text
            FROM documents),
         keep AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)),
         gated AS (SELECT r.doc_id, r.lang,
                     len(regexp_extract_all(r.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     string_split(trim(r.text), ' ') AS t
                   FROM red r JOIN keep USING (doc_id)),
         kept AS (SELECT doc_id, lang FROM gated
                  WHERE n_tokens >= 10 AND
                    (len(t) = 0 OR
                     CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) <= 0.5))
         SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(0)} THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(1)} THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM kept GROUP BY 1, 2"""
    },
    "q_pipeline_neardup" -> {
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail.map(c => (c * 65536).toInt)
      s"""WITH RECURSIVE red AS (SELECT doc_id, lang,
              regexp_replace(
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{10,}', '<NUM>', 'g') AS text
            FROM documents),
         keep1 AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)),
         kdocs AS (SELECT r.doc_id, r.lang, r.text FROM red r JOIN keep1 USING (doc_id)),
         ${minhashSigCtes("kdocs")},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         kept2 AS (SELECT k.doc_id, k.lang, k.text
                   FROM kdocs k LEFT JOIN grp g USING (doc_id)
                   WHERE coalesce(g.group_id, k.doc_id) = k.doc_id),
         gated AS (SELECT doc_id, lang,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     string_split(trim(text), ' ') AS t
                   FROM kept2),
         kept AS (SELECT doc_id, lang FROM gated
                  WHERE n_tokens >= 10 AND
                    (len(t) = 0 OR
                     CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) <= 0.5))
         SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(0)} THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(1)} THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM kept GROUP BY 1, 2"""
    },

    "q_token_count" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_tokens
         FROM documents GROUP BY 1""",
    // Pinned-BPE closed form (see the queries entry for the proof):
    // tokens = non-ws chars − occ(th) − occ(the) − occ(in) − occ(ou)
    // − occ(as), occurrences counted on the lowered full text (patterns
    // contain no whitespace, so per-word and whole-text counts agree)
    // Deflate contract audit: n_bytes exact; the envelope/roundtrip
    // booleans are the codec's guarantees, asserted as literals
    "q_compress_audit" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         TRUE AS ratio_in_envelope,
         TRUE AS roundtrip_ok
         FROM documents""",
    "q_bpe_pinned" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents)
         SELECT doc_id,
           CAST(length(regexp_replace(t, '\s', '', 'g'))
              - (length(t) - length(replace(t, 'th', ''))) / 2
              - (length(t) - length(replace(t, 'the', ''))) / 3
              - (length(t) - length(replace(t, 'in', ''))) / 2
              - (length(t) - length(replace(t, 'ou', ''))) / 2
              - (length(t) - length(replace(t, 'as', ''))) / 2 AS BIGINT)
             AS n_bpe_tokens
         FROM d""",
    "q_lang_id" ->
      """SELECT doc_id, lang,
         CASE WHEN len(list_filter(string_split(trim(text), ' '),
                x -> x IN ('the', 'a', 'of', 'and', 'is'))) >= 1
              THEN 'en' ELSE 'unknown' END AS predicted_lang,
         CAST(len(list_filter(string_split(trim(text), ' '),
                x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS en_score
         FROM documents""",
    "q_topk_sketch" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, count(*) AS n_events
         FROM events GROUP BY 1
         ORDER BY n_events DESC, user_id LIMIT 10""",
    // CMS audit: exact per-token counts + literal booleans for the
    // sketch invariants the engine computes (a broken sketch flips a
    // boolean -> hash red); the estimates themselves are
    // hash-stream-dependent, so q_cms_counts stays rows-only.
    // PCA audit: counts + literal booleans for the model invariants
    // the engine verifies (orthonormal components, descending
    // eigenvalues, variance accounting, distributed-projection
    // variance == top eigenvalue); the component floats themselves
    // are engine-internal, so q_pca_project stays rows-only.
    "q_pca_audit" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST((SELECT len(embedding) FROM embeddings LIMIT 1) AS BIGINT) AS dim,
                CAST(8 AS BIGINT) AS k,
                TRUE AS orthonormal, TRUE AS eigs_descending,
                TRUE AS variance_accounted, TRUE AS pc0_var_matches
         FROM embeddings""",
    "q_cms_audit" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                    FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS exact_n,
                TRUE AS no_underestimate, TRUE AS bound_excess_ok
         FROM t GROUP BY token""",
    "q_cms_sharded_audit" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                    FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS exact_n,
                TRUE AS no_underestimate, TRUE AS bound_excess_ok
         FROM t GROUP BY token""",
    "q_histogram" ->
      """SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket, count(*) AS n,
         (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS bucket_sum
         FROM events GROUP BY 1""",
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1""",
    "q_string_funcs" ->
      """SELECT p_partkey,
         upper(p_name) AS name_upper,
         CAST(length(p_name) AS BIGINT) AS name_len,
         substr(p_name, 1, 4) AS name_prefix,
         regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowels,
         concat_ws('|', p_brand, p_type) AS brand_type,
         CAST(strpos(p_name, ' ') AS BIGINT) AS space_pos
         FROM part""",
    "q_recent_per_key" ->
      """WITH r1h AS (
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
         WHERE rn <= 20""",
    "q_range_join" ->
      """SELECT p.user_id, p.ts AS ts_l, c.ts AS ts_r,
                p.event_id AS purchase_id, c.event_id AS click_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 3600000000""",
    // Plain inequality form of the banded overlap join — the engine's
    // report-once bucket trick emits each overlapping pair exactly
    // once, so no DISTINCT is needed on either side.
    "q_interval_overlap" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
                least(epoch_us(p.ts) + 7200000000, epoch_us(c.ts) + 3600000000)
                  - greatest(epoch_us(p.ts), epoch_us(c.ts)) AS overlap_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id
          AND epoch_us(p.ts) < epoch_us(c.ts) + 3600000000
          AND epoch_us(c.ts) < epoch_us(p.ts) + 7200000000""",
    "q_set_ops" ->
      """WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         errored AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
         SELECT user_id, 'click_and_buy' AS cohort FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
         UNION ALL
         SELECT user_id, 'click_no_error' AS cohort FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM errored)""",
    "q_pivot_counts" ->
      """SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1""",
    "q_percentiles" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50_qty,
         quantile_cont(l_extendedprice, 0.9) AS p90_price,
         quantile_cont(l_extendedprice, 0.99) AS p99_price,
         count(*) AS n
         FROM lineitem GROUP BY 1""",
    // The sketch audit: window edges are exact cross-engine; the
    // in-bounds booleans are the sketch's advertised contract, asserted
    // as literals (a Spark-side sketch regression turns the row red)
    "q_approx_percentiles_audit" ->
      """SELECT l_returnflag,
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
         FROM lineitem GROUP BY 1""",
    "q_approx_distinct_audit" ->
      """SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
         TRUE AS within_3rsd,
         CAST(0.15 AS DOUBLE) AS bound
         FROM events GROUP BY 1""",
    "q_price_stats" ->
      """SELECT l_returnflag, count(*) AS n,
         (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*) AS avg_price,
         CAST(floor(sqrt((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
               - (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                 * (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / count(*))
              / (count(*) - 1)) * 1000000.0) AS BIGINT) AS stddev_price_micros
         FROM lineitem GROUP BY 1""",
    "q_quality_score" ->
      """SELECT doc_id,
           least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
           + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                    / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) * 5.0, 1.0)) * 0.3
           + least(CAST(len(list_filter(string_split(trim(text), ' '),
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) * 10.0, 1.0) * 0.3
           AS quality_score
         FROM documents""",
    "q_quality_deciles" ->
      """WITH q AS (SELECT doc_id,
           least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
           + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                    / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) * 5.0, 1.0)) * 0.3
           + least(CAST(len(list_filter(string_split(trim(text), ' '),
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) * 10.0, 1.0) * 0.3
           AS quality_score
         FROM documents)
         SELECT q.doc_id, d.source, q.quality_score,
                CAST(ntile(10) OVER (PARTITION BY d.source
                                     ORDER BY q.quality_score, q.doc_id) AS BIGINT) AS bin
         FROM q JOIN documents d ON d.doc_id = q.doc_id""",
    "q_sessionize" ->
      """WITH x AS (
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
         FROM y GROUP BY 1, 2""",
    "q_knn_label_purity" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS ql, emb AS qemb FROM e WHERE vec_id < 2000 AND vec_id % 10 = 0),
         p AS (SELECT query_id, ql, e.vec_id AS neighbor_id, e.label AS nl,
                 list_cosine_similarity(qemb, e.emb) AS sim
               FROM q JOIN e ON e.vec_id <> query_id),
         r AS (SELECT query_id, ql, nl,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
               FROM p)
         SELECT ql AS label, count(*) AS n_probes,
                CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
                CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS purity
         FROM r WHERE rnk = 1 GROUP BY 1""",
    "q_knn_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
         p AS (SELECT query_id, e.vec_id AS neighbor_id, list_cosine_similarity(qemb, e.emb) AS sim
               FROM q JOIN e ON e.vec_id <> query_id)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""",
    "q_knn_ivf_topk" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS qlabel, emb AS qemb FROM e WHERE vec_id < 50),
         p AS (SELECT query_id, e.vec_id AS neighbor_id, list_cosine_similarity(qemb, e.emb) AS sim
               FROM q JOIN e ON e.vec_id <> query_id AND e.label = qlabel)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""",
    // Seed-coarse-quantizer IVF: centroid j = vector of the j-th
    // smallest vec_id; assignment = argmin |c|^2 - 2 v·c with
    // first-minimum (smallest j) tie-break — exactly kmeansAssign at
    // iterations = 1 — then exact in-cell cosine top-k.
    "q_knn_kmeans_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb AS cent,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         c2 AS (SELECT j, cent, list_inner_product(cent, cent) AS cc FROM seed),
         asg AS (SELECT vec_id, j AS cluster FROM (
             SELECT e.vec_id, t.j,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY t.cc - 2.0 * list_inner_product(e.emb, t.cent), t.j) AS rn
             FROM e, c2 t) WHERE rn = 1),
         ec AS (SELECT e.vec_id, e.emb, asg.cluster FROM e JOIN asg USING (vec_id)),
         q AS (SELECT vec_id AS query_id, emb AS qemb, cluster AS qc
               FROM ec WHERE vec_id < 20),
         p AS (SELECT query_id, ec.vec_id AS neighbor_id,
                      list_cosine_similarity(qemb, ec.emb) AS sim
               FROM q JOIN ec ON ec.vec_id <> query_id AND ec.cluster = qc)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""",
    // Seed-coarse-quantizer multi-probe IVF: same centroid/assignment
    // construction as q_knn_kmeans_ivf, but each query probes its TWO
    // nearest centroids (rn <= 2, distance then smallest-j tie-break —
    // knnTopKIvfProbe's __pr window) before the exact in-cell cosine
    // top-k over the union of both cells.
    "q_knn_ivf_probe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb AS cent,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         c2 AS (SELECT j, cent, list_inner_product(cent, cent) AS cc FROM seed),
         asg AS (SELECT vec_id, j AS cluster FROM (
             SELECT e.vec_id, t.j,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY t.cc - 2.0 * list_inner_product(e.emb, t.cent), t.j) AS rn
             FROM e, c2 t) WHERE rn = 1),
         ec AS (SELECT e.vec_id, e.emb, asg.cluster FROM e JOIN asg USING (vec_id)),
         q AS (SELECT vec_id AS query_id, emb AS qemb
               FROM ec WHERE vec_id < 20),
         pr AS (SELECT query_id, j AS probe_cluster FROM (
             SELECT q.query_id, t.j,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY t.cc - 2.0 * list_inner_product(q.qemb, t.cent), t.j) AS rn
             FROM q, c2 t) WHERE rn <= 2),
         p AS (SELECT q.query_id, ec.vec_id AS neighbor_id,
                      list_cosine_similarity(q.qemb, ec.emb) AS sim
               FROM q JOIN pr USING (query_id)
               JOIN ec ON ec.vec_id <> q.query_id AND ec.cluster = pr.probe_cluster)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""",
    // Seed-codebook PQ/ADC: codebook (j, c) = 8-dim sub-slice j of the
    // vector with the c-th smallest vec_id (ProductQuantizer.train at
    // iterations = 1); encode = per-subspace argmin |c|^2 - 2 v·c,
    // smallest c on ties; ADC dot and reconstructed norm fold the 8
    // per-subspace lookup values IN SUBSPACE ORDER (list(... ORDER BY
    // j) then explicit left-assoc indexing) to match the engine's
    // ascending accumulation bit-for-bit.
    "q_pq_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
         js AS (SELECT CAST(unnest(range(8)) AS INT) AS j),
         cent2 AS (SELECT js.j, seed.c,
                     list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8) AS cent,
                     list_inner_product(
                       list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8),
                       list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8)) AS c2
                   FROM seed, js),
         enc AS (SELECT vec_id, j, c, c2 FROM (
             SELECT e.vec_id, t.j, t.c, t.c2,
                    row_number() OVER (PARTITION BY e.vec_id, t.j
                      ORDER BY t.c2 - 2.0 * list_inner_product(
                        list_slice(e.emb, t.j * 8 + 1, t.j * 8 + 8), t.cent), t.c) AS rn
             FROM e, cent2 t) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qemb,
                      sqrt(list_inner_product(emb, emb)) AS qnorm
               FROM e WHERE vec_id < 20),
         dt AS (SELECT q.query_id, t.j, t.c,
                       list_inner_product(
                         list_slice(q.qemb, t.j * 8 + 1, t.j * 8 + 8), t.cent) AS d
                FROM q, cent2 t),
         parts AS (SELECT q.query_id, enc.vec_id,
                          list(dt.d ORDER BY enc.j) AS ds,
                          list(enc.c2 ORDER BY enc.j) AS cs,
                          any_value(q.qnorm) AS qnorm
                   FROM enc
                   JOIN q ON enc.vec_id <> q.query_id
                   JOIN dt ON dt.query_id = q.query_id AND dt.j = enc.j AND dt.c = enc.c
                   GROUP BY 1, 2),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
             CASE WHEN (cs[1]+cs[2]+cs[3]+cs[4]+cs[5]+cs[6]+cs[7]+cs[8]) = 0.0
                       OR qnorm = 0.0 THEN 0.0
                  ELSE (ds[1]+ds[2]+ds[3]+ds[4]+ds[5]+ds[6]+ds[7]+ds[8])
                       / (qnorm * sqrt(cs[1]+cs[2]+cs[3]+cs[4]+cs[5]+cs[6]+cs[7]+cs[8]))
             END AS sim
           FROM parts)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM scored)
         WHERE rnk <= 10""",
    // IVFADC with both quantizers at their deterministic seeds: coarse
    // cells = first-8 vectors (assignment argmin |c|^2 - 2 v.c, ties
    // to the lower cell), probing = top-2 cells by RAW DOT descending
    // (the MIPS contract — not distance), residual PQ codebooks =
    // sub-slices of the first-16 residuals, ADC score = coarse dot +
    // per-subspace lookups folded in ascending j (left-assoc chain
    // mirrors the engine's accumulation bit for bit)
    "q_ivfadc_pinned" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cseed AS (SELECT emb AS cent, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl
                   FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         casg AS (SELECT vec_id, cl FROM (
             SELECT e.vec_id, c.cl,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_inner_product(c.cent, c.cent)
                               - 2.0 * list_inner_product(e.emb, c.cent), c.cl) AS rn
             FROM e, cseed c) WHERE rn = 1),
         res AS (SELECT e.vec_id, a.cl,
                   [e.emb[i] - c.cent[i] for i in generate_series(1, 64)] AS r
                 FROM e JOIN casg a USING (vec_id) JOIN cseed c ON c.cl = a.cl),
         pseed AS (SELECT r, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
                   FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16)),
         js AS (SELECT CAST(unnest(range(8)) AS INT) AS j),
         cent2 AS (SELECT js.j, pseed.c,
                     list_slice(pseed.r, js.j * 8 + 1, js.j * 8 + 8) AS cent,
                     list_inner_product(
                       list_slice(pseed.r, js.j * 8 + 1, js.j * 8 + 8),
                       list_slice(pseed.r, js.j * 8 + 1, js.j * 8 + 8)) AS c2
                   FROM pseed, js),
         enc AS (SELECT vec_id, cl, j, c FROM (
             SELECT res.vec_id, res.cl, t.j, t.c,
                    row_number() OVER (PARTITION BY res.vec_id, t.j
                      ORDER BY t.c2 - 2.0 * list_inner_product(
                        list_slice(res.r, t.j * 8 + 1, t.j * 8 + 8), t.cent), t.c) AS rn
             FROM res, cent2 t) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
         pr AS (SELECT query_id, cl AS probe_cl, coarse_dot FROM (
             SELECT q.query_id, c.cl,
                    list_inner_product(q.qemb, c.cent) AS coarse_dot,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY list_inner_product(q.qemb, c.cent) DESC, c.cl) AS rn
             FROM q, cseed c) WHERE rn <= 2),
         dt AS (SELECT q.query_id, t.j, t.c,
                  list_inner_product(
                    list_slice(q.qemb, t.j * 8 + 1, t.j * 8 + 8), t.cent) AS d
                FROM q, cent2 t),
         parts AS (SELECT q.query_id, enc.vec_id, enc.cl,
                     list(dt.d ORDER BY enc.j) AS ds
                   FROM enc
                   JOIN q ON enc.vec_id <> q.query_id
                   JOIN dt ON dt.query_id = q.query_id AND dt.j = enc.j AND dt.c = enc.c
                   GROUP BY 1, 2, 3),
         scored AS (SELECT p.query_id, p.vec_id AS neighbor_id,
                      pr.coarse_dot + ds[1] + ds[2] + ds[3] + ds[4]
                        + ds[5] + ds[6] + ds[7] + ds[8] AS sim
                    FROM parts p
                    JOIN pr ON pr.query_id = p.query_id AND pr.probe_cl = p.cl)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM scored)
         WHERE rnk <= 10""",
    // Same pinned seed codebook as q_pq_topk; the ADC scan proposes a
    // 30-deep shortlist, the true cosine on raw vectors re-ranks it
    "q_pq_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
         js AS (SELECT CAST(unnest(range(8)) AS INT) AS j),
         cent2 AS (SELECT js.j, seed.c,
                     list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8) AS cent,
                     list_inner_product(
                       list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8),
                       list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8)) AS c2
                   FROM seed, js),
         enc AS (SELECT vec_id, j, c, c2 FROM (
             SELECT e.vec_id, t.j, t.c, t.c2,
                    row_number() OVER (PARTITION BY e.vec_id, t.j
                      ORDER BY t.c2 - 2.0 * list_inner_product(
                        list_slice(e.emb, t.j * 8 + 1, t.j * 8 + 8), t.cent), t.c) AS rn
             FROM e, cent2 t) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qemb,
                      sqrt(list_inner_product(emb, emb)) AS qnorm
               FROM e WHERE vec_id < 20),
         dt AS (SELECT q.query_id, t.j, t.c,
                       list_inner_product(
                         list_slice(q.qemb, t.j * 8 + 1, t.j * 8 + 8), t.cent) AS d
                FROM q, cent2 t),
         parts AS (SELECT q.query_id, enc.vec_id,
                          list(dt.d ORDER BY enc.j) AS ds,
                          list(enc.c2 ORDER BY enc.j) AS cs,
                          any_value(q.qnorm) AS qnorm
                   FROM enc
                   JOIN q ON enc.vec_id <> q.query_id
                   JOIN dt ON dt.query_id = q.query_id AND dt.j = enc.j AND dt.c = enc.c
                   GROUP BY 1, 2),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
             CASE WHEN (cs[1]+cs[2]+cs[3]+cs[4]+cs[5]+cs[6]+cs[7]+cs[8]) = 0.0
                       OR qnorm = 0.0 THEN 0.0
                  ELSE (ds[1]+ds[2]+ds[3]+ds[4]+ds[5]+ds[6]+ds[7]+ds[8])
                       / (qnorm * sqrt(cs[1]+cs[2]+cs[3]+cs[4]+cs[5]+cs[6]+cs[7]+cs[8]))
             END AS sim
           FROM parts),
         sl AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
             FROM scored)
           WHERE rnk <= 30),
         ex AS (SELECT sl.query_id, sl.neighbor_id,
                       list_cosine_similarity(q.qemb, e.emb) AS sim
                FROM sl
                JOIN q USING (query_id)
                JOIN e ON e.vec_id = sl.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM ex)
         WHERE rnk <= 10""",
    // Pinned-plane hyperplane LSH: the 4x64 seed-42 gaussian plane
    // weights are embedded as literals (Double.toString round-trips
    // exactly), bucket bit j = sign(v . plane_j) as in
    // hyperplaneBucketKernel, then within-bucket pairs verified by
    // exact cosine at 0.45 — byte-for-byte the engine's lshNearDupPairs.
    "q_lsh_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         b AS (SELECT e.vec_id,
                      CAST(sum(CASE WHEN list_inner_product(e.emb, p.plane) > 0.0
                                    THEN 1 << p.j ELSE 0 END) AS INT) AS cluster
               FROM e, (SELECT * FROM (VALUES
           (0, [1.1419053154730547, 0.9194079489827879, -0.9498666368908959, -1.1069902863993377, 0.2809776380727795, 0.6846227956326554, -0.8172214073987268, -1.3966434026780434, -0.19094451307087512, 1.4862133923906502, 0.8023071496873626, -0.12151292466549345, 1.4105062239438624, -0.6402327822135738, -1.2096444592532913, 0.35375769787202876, -0.4903496491990076, 0.5507215382743629, -1.2035510019650835, 0.3210160806416416, 1.5511476388671834, 0.43853028624710505, 0.4815980608245389, 1.5196310789680683, -0.2768317291873249, -0.08393897849486337, 1.255833005788796, -0.3252727938665772, -0.17329033306108363, -1.8585851445864527, 1.4238069456328435, -1.363726024075023, -1.964666098753878, -0.9185948439341892, -2.548887393384806, -1.6309606578419305, -0.12200477461989162, 1.289159071801577, -0.2691388556559934, 0.2574914085090889, -0.3199143760045327, -1.7684998592513064, -0.4834503128592458, -0.5099904653893699, 1.1166733769661994, -0.04094720151728288, -1.1076715169200795, 1.8623214176471945, 1.1457411377091524, -1.0586772048930921, 1.0725991339400673, -1.9317441520296659, 0.30102521611534994, 0.2475231582804265, 1.406156849249087, -1.5202207203569256, 0.2709294126920897, 0.561249284813777, -0.5298295780368607, 0.5390221914988275, 2.2123402141787243, -0.6329335687728442, -1.8831759122084633, 0.3865659853763343]),
           (1, [0.32582927090649455, -0.9013043195000002, -0.002680308907617573, -0.4739592549853249, -0.5479781547659026, -0.01910014847196348, 1.6468163882596327, -1.107062592215791, 0.5938103926672539, -0.15566462108511642, 0.6632872929286855, 1.226793360688623, 0.8839698437730904, 0.22172454670212935, 0.9197020859698617, -0.7393758185888677, 0.803517749531419, -0.2539417447630359, -0.7638388605060555, -1.8645567427274516, -1.861306200027518, -0.576599881116305, -0.40899380621224757, 0.24846093761654187, -0.48091295490277447, 0.44621205735391023, -0.4465888888803913, 0.045638687865053575, 0.7045663273135641, -0.2718240183671583, 0.08074877915238832, 1.2590964696340183, 0.7635098382407334, 1.7220810801509723, 0.14595005405372477, -0.9946630124621867, 0.2007496259633872, 0.8962364439355677, 1.5117192131332227, -1.4034737280748781, -1.9069696484274985, 1.3685654487373131, -0.5596730323653845, 0.7446081536741976, 1.573665595681067, 1.1280434418181906, -0.19208158669725373, -2.2544936618345086, 0.439851862908128, 0.6568003265998675, -0.7449501614293713, 1.1994753269490135, 1.7797467521986703, 0.06740415207570563, 1.2950640220107117, -0.5826765284502453, 0.7688682382458406, 0.4176645501737688, -0.46909223599067523, 0.4141481732625842, 0.6630227275361512, 0.8671946375362719, 0.29670087780568055, 0.32152305651538937]),
           (2, [2.2242953580982188, 0.8358482078498958, -1.1933022979733765, 0.1188051459900597, 0.5580410346433533, -1.9527104650970353, 1.4960553383489514, -0.7625821886812193, 0.8951776489120974, -0.18267090292344199, 0.9297634639960395, -0.4374803598273085, -0.10491093903022966, -0.6114382438880094, 0.35276466448456023, -1.1445166107986677, -0.6538317989304822, 2.677097108514281, 0.15132171644246425, 1.8470372001182738, 0.4407433149811739, 0.8773090852445982, 0.946980694388772, -0.6997736460145386, -2.315207227451069, 0.09480020117496452, 0.1920371028231238, -1.0081308322886091, -2.150717205632501, 1.6170416083849217, 0.5473509656354903, 1.6230096333098776, 0.36966929887014705, 1.2240526315272633, 0.8751209163514154, -0.29000442763399675, 0.4333345396190892, 1.0069743967645715, 1.7830081455237958, 1.356870316505785, 0.4459302415658664, 1.3915127940536753, 0.03295541525474264, -0.8018248798505966, -0.017182633216773876, -1.3164854365297216, -0.027818555215940465, 1.9719833390831583, 1.3758681039407463, -1.2706898498985282, 0.2920337802284907, 1.533319271731563, 0.10462042588973046, -1.3131603671758911, 1.7799964944316888, 0.3952547694086232, -0.5004628323242984, -2.0407393926238933, 1.0869289165797924, -1.0408491311776968, 1.9616582572418195, 0.9258632212977318, 1.361656934659277, 2.8896525506477344]),
           (3, [-0.4910136707454713, -0.710198583176802, 1.5704667206621972, -0.842408497299511, -0.3319307686020679, -1.698847669879108, -0.5311415117921071, -2.5875629832762232, 0.3015645247761741, -1.1528052896236403, -1.7133285086762593, 0.08131975803507514, -1.3278612176303164, 0.6965862080356764, -1.2876713313576322, 1.2509059068665722, 0.012552200267459757, 0.6566974914450203, -1.321353005901397, 0.8149172295041944, 0.6110409277400992, 0.12348089487854173, 0.38840257501965103, -0.5821272380571016, 0.43343568884177824, -0.7960431045019911, 0.06399529912314222, -0.7421110756691232, 1.1806635961066305, 0.9198186083780134, 1.2380051788351232, -0.07088550150391275, -0.5658960602508907, 1.0508212282447211, 0.9441165305261189, -0.6911609067777333, 0.8859638093504211, -2.533371339542391, 0.4163203752064485, 0.4062903984061704, 0.8418616457792908, -0.3480736064260179, 1.0703545150299583, -0.23477690871527593, 0.15572639860723536, 0.6683095785190067, 0.3685121432402299, 0.09709933719650744, -1.2388537517698515, -0.2653296755913956, -0.6031387254158636, -0.14638328860844366, 1.8821103658250251, 1.8435869679890158, -0.7743715896031117, -0.15335007392100358, 0.13720880703462834, -0.9119325994640678, 0.1906821021913211, 0.7232172113039873, -0.43633626572057416, -0.18091541708210968, 0.8037789293095281, 1.3862531407675853])) AS t(j, plane)) p
               GROUP BY e.vec_id),
         ec AS (SELECT e.vec_id, e.emb, b.cluster FROM e JOIN b USING (vec_id))
         SELECT a.vec_id AS id_a, c.vec_id AS id_b
         FROM ec a JOIN ec c ON a.cluster = c.cluster AND a.vec_id < c.vec_id
         WHERE list_cosine_similarity(a.emb, c.emb) >= 0.45""",
    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45""",
    "q_oov_rate" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY tok
                                    ORDER BY n DESC, tok LIMIT 16)),
         known AS (SELECT doc_id, count(*) AS n_known FROM toks
                   WHERE tok IN (SELECT tok FROM vocab) GROUP BY doc_id),
         base AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                  FROM documents)
         SELECT b.doc_id, b.n_tokens,
                b.n_tokens - coalesce(k.n_known, 0) AS n_oov,
                CAST(b.n_tokens - coalesce(k.n_known, 0) AS DOUBLE)
                  / CAST(b.n_tokens AS DOUBLE) AS oov_rate
         FROM base b LEFT JOIN known k USING (doc_id)""",
    "q_pack_sequences" ->
      """WITH t AS (SELECT source AS grp, doc_id,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         c AS (SELECT grp, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
               FROM t)
         SELECT grp, doc_id, n_tokens, tok_start,
           CAST(floor(tok_start / 256) AS BIGINT) AS win_first,
           CAST(floor((tok_start + n_tokens - 1) / 256) AS BIGINT) AS win_last
         FROM c""",
    // Same transitive-closure contract as q_dedup_groups, over the
    // cosine candidate graph instead of the MinHash one.
    "q_semantic_dedup" ->
      """WITH RECURSIVE
         e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.30),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT g.src, r.lbl FROM edges g JOIN reach r ON r.id = g.dst),
         grp AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY id)
         SELECT v.vec_id, coalesce(g.group_id, v.vec_id) AS keeper_id,
                coalesce(g.group_id, v.vec_id) = v.vec_id AS is_keeper
         FROM embeddings v LEFT JOIN grp g ON g.id = v.vec_id""",
    // Bit-interleave restated as a sum of disjoint-bit terms (one per
    // input bit position) — exactly the spread-merge the codegen'd
    // ZValue expression computes.
    "q_zorder_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
         z AS (SELECT user_id, hr,
                 CAST(list_aggregate(
                   [(((CAST(user_id AS BIGINT) >> j) & 1) << (2*j)) +
                    (((CAST(hr AS BIGINT) >> j) & 1) << (2*j + 1))
                    for j in generate_series(0, 30)], 'sum') AS BIGINT) AS zval
               FROM e)
         SELECT zval >> 12 AS z_bucket, count(*) AS n_events,
                min(user_id) AS min_user, max(user_id) AS max_user,
                min(hr) AS min_hr, max(hr) AS max_hr
         FROM z GROUP BY 1""",
    "q_mix_rates" ->
      """WITH t AS (SELECT source, count(*) AS n_docs,
                      sum(CAST(len(string_split(trim(text), ' ')) AS BIGINT)) AS n_tokens
                    FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CASE source WHEN 'src0' THEN CAST(0.30 AS DOUBLE)
                             WHEN 'src1' THEN CAST(0.20 AS DOUBLE)
                             ELSE CAST(0.025 AS DOUBLE) END AS wt
               FROM t)
         SELECT source, n_docs, n_tokens,
                CAST(50000 AS DOUBLE) * wt AS target_tokens,
                least(CAST(1.0 AS DOUBLE),
                      CAST(50000 AS DOUBLE) * wt / CAST(n_tokens AS DOUBLE)) AS rate
         FROM w""",
    "q_temperature_mix" ->
      """WITH t AS (SELECT source, count(*) AS n_docs,
                      sum(CAST(len(string_split(trim(text), ' ')) AS BIGINT)) AS n_tokens
                    FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                   AS weight_micro
               FROM t),
         s AS (SELECT sum(weight_micro) AS wsum FROM w)
         SELECT source, n_docs, n_tokens, weight_micro,
                least(CAST(1.0 AS DOUBLE),
                      CAST(CAST(50000 AS HUGEINT) * CAST(weight_micro AS HUGEINT)
                        AS DOUBLE)
                        / CAST(CAST(wsum AS HUGEINT) * CAST(n_tokens AS HUGEINT)
                        AS DOUBLE)) AS rate
         FROM w, s""",
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         q AS (SELECT vec_id, scale,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS qs
               FROM s)
         SELECT vec_id, scale, list_min(qs) AS q_min, list_max(qs) AS q_max,
                CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_sum
         FROM q""",
    "q_funnel_steps" ->
      """WITH a AS (SELECT user_id, event_type, ts,
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
            FROM b),
         u AS (SELECT user_id, max(CASE WHEN t3 IS NOT NULL THEN 3
                                        WHEN t2 IS NOT NULL THEN 2
                                        WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS lvl
            FROM c GROUP BY 1)
         SELECT s.step, s.step_name, count(*) AS n_users
         FROM u JOIN (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
           s(step, step_name) ON u.lvl >= s.step
         GROUP BY 1, 2""",
    "q_retention_cohorts" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
            FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
         SELECT f.cohort_date,
                date_diff('day', f.cohort_date, a.d) AS day_offset,
                count(*) AS n_users
         FROM a JOIN f ON a.user_id = f.user_id
         GROUP BY 1, 2""",
    "q_sequence_match" ->
      """SELECT user_id, count(*) AS n_events,
                regexp_matches(
                  string_agg(substr(event_type, 1, 1), ''
                             ORDER BY ts, event_id), 'v[^e]*p') AS matched
         FROM events GROUP BY user_id""",
    "q_sequence_count" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(len(regexp_extract_all(
                  string_agg(substr(event_type, 1, 1), ''
                             ORDER BY ts, event_id), 'v[^e]*p')) AS BIGINT)
                  AS n_matches
         FROM events GROUP BY user_id""",
    "q_sigma_outliers" ->
      """WITH c AS (SELECT event_id, event_type, value,
                CAST(round(value * 100) AS BIGINT) AS v FROM events
              WHERE value IS NOT NULL),
         s AS (SELECT event_type, count(*) AS n, sum(v) AS sx, sum(v*v) AS sxx
            FROM c GROUP BY 1)
         SELECT c.event_id, c.event_type, c.value
         FROM c JOIN s ON c.event_type = s.event_type
         WHERE (s.n*c.v - s.sx)*(s.n*c.v - s.sx) > 9*(s.n*s.sxx - s.sx*s.sx)""",
    "q_session_funnel" ->
      """WITH e AS (SELECT user_id, event_type, ts,
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
         GROUP BY 1, 2""",
    "q_funnel_latency" ->
      """WITH a AS (SELECT user_id, event_type, ts,
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
            FROM b),
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
         GROUP BY 1, 2""",
    "q_dq_report" ->
      """SELECT 'value_not_null' AS rule,
                count(*) FILTER (WHERE value IS NULL) AS violations,
                count(*) AS total FROM events
         UNION ALL
         SELECT 'value_range',
                count(*) FILTER (WHERE value IS NULL OR value < 0 OR value > 1000),
                count(*) FROM events
         UNION ALL
         SELECT 'type_known',
                count(*) FILTER (WHERE event_type IS NULL OR NOT
                  regexp_matches(event_type, '^(view|click|purchase|signup|error)$')),
                count(*) FROM events
         UNION ALL
         SELECT 'props_json',
                count(*) FILTER (WHERE json_extract(props, '$.k') IS NULL),
                count(*) FROM events
         UNION ALL
         SELECT 'event_id_unique',
                CAST(COALESCE(sum(n - 1), 0) AS BIGINT),
                CAST(COALESCE(sum(n), 0) AS BIGINT)
         FROM (SELECT count(*) AS n FROM events GROUP BY event_id)
         UNION ALL
         SELECT 'lineitem_orphans',
                (SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)),
                (SELECT count(*) FROM lineitem)""",
    "q_validity_intervals" ->
      """SELECT user_id, event_id, event_type,
                ts AS valid_from,
                lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS valid_to
         FROM events""",
    "q_dod_change" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
            FROM events GROUP BY 1, 2),
         x AS (SELECT event_type, day, n,
                 lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
            FROM d)
         SELECT event_type, day, n, prev_n,
                CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE) AS change
         FROM x WHERE prev_n IS NOT NULL
           AND abs(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE)) > 0.2""",
    "q_user_lifecycle" ->
      """WITH wk AS (SELECT DISTINCT user_id,
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
         FROM cl GROUP BY 1""",
    "q_ab_funnel" ->
      """WITH a AS (SELECT user_id, event_type, ts,
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
            FROM b),
         u AS (SELECT user_id, max(CASE WHEN t3 IS NOT NULL THEN 3
                                        WHEN t2 IS NOT NULL THEN 2
                                        WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS lvl
            FROM c GROUP BY 1),
         v AS (SELECT user_id, lvl,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                        < 32768 THEN 'a' ELSE 'b' END AS variant
            FROM u)
         SELECT v.variant, s.step, s.step_name, count(*) AS n_users
         FROM v JOIN (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
           s(step, step_name) ON v.lvl >= s.step
         GROUP BY 1, 2, 3""",
    "q_retention_rates" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
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
         FROM r JOIN z ON r.cohort_date = z.cohort_date""",
    // CUPED: theta and every mean are one division of exact integer
    // moments; the adjustment composes them in the SAME fixed order as
    // the engine expression, so the doubles match bitwise.
    "q_cuped" ->
      """WITH u AS (SELECT user_id,
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
         FROM j""",
    "q_ab_metrics" ->
      """SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS INT)
                       < 32768 THEN 'a' ELSE 'b' END AS variant,
                count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                (CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_value,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
                  AS total_value_sq
         FROM events WHERE event_type = 'purchase'
         GROUP BY 1""",
    "q_window_drift" ->
      """WITH w AS (SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
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
         FROM cells""",
    "q_markov_transitions" ->
      """WITH adj AS (SELECT event_type AS from_type,
                lead(event_type, 1) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS to_type
            FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM adj
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
                CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
         FROM c""",
    "q_attribution" ->
      """WITH b AS (SELECT user_id, event_type, ts, event_id, value,
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
         FROM j GROUP BY 1""",
    "q_drift_chi2" ->
      """WITH p AS (SELECT event_type,
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
         FROM x""",
    "q_weighted_sample" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
               * 600 < n_chars * 32768""",
    "q_event_paths" ->
      """WITH p AS (SELECT event_type AS t0,
                lead(event_type, 1) OVER w AS t1,
                lead(event_type, 2) OVER w AS t2
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS n_paths
         FROM p WHERE t2 IS NOT NULL
         GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20""",
    "q_interarrival_hist" ->
      """WITH g AS (SELECT event_type,
                epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
            FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
         SELECT event_type,
                CAST(CASE WHEN gap <= 0 THEN -1
                          ELSE length(bin(gap)) - 1 END AS BIGINT) AS bucket,
                count(*) AS n_gaps
         FROM g WHERE gap IS NOT NULL
         GROUP BY 1, 2""",
    "q_mad_outliers" ->
      """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1),
         d AS (SELECT e.event_id, e.event_type, e.value,
                 abs(e.value - m.med) AS dev
            FROM events e JOIN m ON e.event_type = m.event_type),
         md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
            FROM d GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value
         FROM d JOIN md ON d.event_type = md.event_type
         WHERE d.dev > 5.0 * md.mad""",
    "q_rolling_outliers" ->
      """WITH c AS (SELECT event_id, user_id, ts, value,
                CAST(round(value * 100) AS BIGINT) AS v FROM events
              WHERE value IS NOT NULL),
         r AS (SELECT event_id, user_id, value, v,
                count(*) OVER w AS n, sum(v) OVER w AS sx,
                sum(v*v) OVER w AS sxx
            FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, value FROM r
         WHERE (n*v - sx)*(n*v - sx) > 9*(n*sxx - sx*sx)""",
    "q_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
         k AS (SELECT name, split_part(name, ' ', 1) AS b1,
                 regexp_extract(name, '[^ ]+$') AS b2 FROM n),
         k1 AS (SELECT * FROM k
                QUALIFY count(*) OVER (PARTITION BY b1) <= 10000),
         k2 AS (SELECT * FROM k
                QUALIFY count(*) OVER (PARTITION BY b2) <= 10000),
         c AS (SELECT a.name AS name_a, b.name AS name_b
                 FROM k1 a JOIN k1 b ON a.b1 = b.b1 AND a.name < b.name
               UNION
               SELECT a.name, b.name
                 FROM k2 a JOIN k2 b ON a.b2 = b.b2 AND a.name < b.name)
         SELECT name_a, name_b,
                CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
         FROM c WHERE levenshtein(name_a, name_b) <= 2""",
    // The store contract the approximate sketch path can't hash-pin:
    // merge of exact daily parts == one-shot distinct over the union.
    "q_sketch_store_exact" ->
      """WITH parts AS (SELECT event_type, CAST(ts AS DATE) AS day, user_id,
                CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2, 3)
         SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
                CAST(count(DISTINCT day) AS BIGINT) AS n_parts,
                CAST(sum(n) AS BIGINT) AS n_rows
         FROM parts GROUP BY 1""",
    "q_window_rank" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
                CAST(row_number() OVER w AS BIGINT) AS rn,
                CAST(dense_rank() OVER w AS BIGINT) AS drk,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM customer WHERE c_custkey % 10 = 0
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""",
    "q_gap_fill_ffill" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
                  FROM r1h GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket_ts
                  FROM span),
         j AS (SELECT g.user_id, g.bucket_ts, r.close AS raw_close
               FROM grid g LEFT JOIN r1h r
                 ON g.user_id = r.user_id AND g.bucket_ts = r.bucket_ts)
         SELECT user_id, bucket_ts,
                last_value(raw_close IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
                raw_close IS NULL AS filled
         FROM j""",
    "q_ema" -> emaOracleSql(nWindow = 12),
    "q5_local_supplier" ->
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE c_nationkey = s_nationkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1""",
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name, c_acctbal,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
                (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_qty
            FROM lineitem GROUP BY 1
            HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 25000)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
         FROM orders
         JOIN big ON o_orderkey = big.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_qty DESC, o_orderkey LIMIT 100""",
    "q_exact_median" ->
      """WITH c AS (SELECT event_type,
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
         GROUP BY 1""",
    "q_value_histogram" ->
      """SELECT event_type,
                CAST(round(value * 100) AS BIGINT) // 5000 AS bin,
                count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM events WHERE value IS NOT NULL
         GROUP BY 1, 2""",
    "q_token_budget" ->
      """WITH st AS (SELECT doc_id, source,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
           least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
           + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                    / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) * 5.0, 1.0)) * 0.3
           + least(CAST(len(list_filter(string_split(trim(text), ' '),
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) * 10.0, 1.0) * 0.3
           AS quality_score
         FROM documents),
         cum AS (SELECT doc_id, source, n_tokens, quality_score,
                   CAST(sum(n_tokens) OVER
                     (PARTITION BY source
                      ORDER BY quality_score DESC NULLS LAST, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS cum_tokens
                 FROM st)
         SELECT * FROM cum WHERE cum_tokens <= 800""",
    "q_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
                count(*) AS n_orders,
                (CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_price,
                CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
         FROM orders
         GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
    "q_pivot" ->
      """SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         FROM events GROUP BY 1""",
    "q_drawdown" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         p AS (SELECT user_id, cents,
                 max(cents) OVER (PARTITION BY user_id ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
               FROM c)
         SELECT user_id, count(*) AS n_buckets,
                CAST(max(peak) AS BIGINT) AS peak_cents,
                CAST(max(peak - cents) AS BIGINT) AS max_dd_cents,
                max(CASE WHEN peak > 0
                      THEN CAST(peak - cents AS DOUBLE) / CAST(peak AS DOUBLE)
                    END) AS max_dd_frac
         FROM p GROUP BY 1""",
    "q_move_stats" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         d AS (SELECT user_id, cents - lag(cents) OVER
                 (PARTITION BY user_id ORDER BY bucket_ts) AS d FROM c)
         SELECT user_id, count(*) AS n_moves,
                CAST(sum(d) AS BIGINT) AS sum_move_cents,
                CAST(sum(d * d) AS BIGINT) AS sum_move_sq,
                CAST(CAST(sum(d) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_move,
                CASE WHEN count(*) > 1 THEN
                  CAST(count(*) * CAST(sum(d * d) AS BIGINT)
                       - CAST(sum(d) AS BIGINT) * CAST(sum(d) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) * count(*) AS DOUBLE)
                END AS var_move,
                CAST(max(d) AS BIGINT) AS max_up_cents,
                CAST(min(d) AS BIGINT) AS max_down_cents
         FROM d WHERE d IS NOT NULL GROUP BY 1""",
    "q_beta" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         m AS (SELECT user_id, bucket_ts, dx FROM (
                 SELECT user_id, bucket_ts, cents - lag(cents) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dx FROM c)
               WHERE dx IS NOT NULL),
         b AS (SELECT bucket_ts, dx AS dy FROM m WHERE user_id = 7),
         j AS (SELECT m.user_id, m.dx, b.dy
               FROM m JOIN b USING (bucket_ts) WHERE m.user_id <> 7),
         a AS (SELECT user_id, count(*) AS n,
                 CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                 CAST(sum(dx * dy) AS BIGINT) AS sxy,
                 CAST(sum(dx * dx) AS BIGINT) AS sxx,
                 CAST(sum(dy * dy) AS BIGINT) AS syy
               FROM j GROUP BY 1)
         SELECT user_id, n AS n_aligned, sx AS sum_dx, sy AS sum_dy,
                sxy AS sum_dxdy, sxx AS sum_dx2, syy AS sum_dy2,
                CASE WHEN n * syy - sy * sy > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * syy - sy * sy AS DOUBLE)
                END AS beta,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))
                END AS corr
         FROM a""",
    "q_candle_patterns" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_min(value, ts) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(open * 100) AS BIGINT) AS o,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         f AS (SELECT user_id, bucket_ts, o, h, l, cl,
                 abs(cl - o) AS body, h - l AS rng,
                 least(o, cl) - l AS ls, h - greatest(o, cl) AS us,
                 lag(o) OVER w AS po, lag(cl) OVER w AS pc
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, o AS open_cents, h AS high_cents,
                l AS low_cents, cl AS close_cents,
                body * 10 <= rng AND rng > 0 AS doji,
                ls >= body * 2 AND us <= body AND body > 0 AS hammer,
                coalesce(pc IS NOT NULL AND pc < po AND cl > o
                         AND cl >= po AND o <= pc, FALSE) AS bullish_engulfing,
                coalesce(pc IS NOT NULL AND pc > po AND cl < o
                         AND cl <= po AND o >= pc, FALSE) AS bearish_engulfing
         FROM f
         WHERE (body * 10 <= rng AND rng > 0)
            OR (ls >= body * 2 AND us <= body AND body > 0)
            OR coalesce(pc IS NOT NULL AND pc < po AND cl > o
                        AND cl >= po AND o <= pc, FALSE)
            OR coalesce(pc IS NOT NULL AND pc > po AND cl < o
                        AND cl <= po AND o >= pc, FALSE)""",
    "q_seasonality" ->
      """WITH cells AS (SELECT event_type,
                CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                CAST(hour(ts) AS BIGINT) AS hour_of_day,
                count(*) AS n
            FROM events GROUP BY 1, 2, 3)
         SELECT event_type, dow, hour_of_day, n,
                CAST(n AS DOUBLE)
                  / CAST(CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                         AS DOUBLE) AS share
         FROM cells""",
    "q_forget_audit" ->
      """WITH dead AS (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
         deadord AS (SELECT o_orderkey FROM orders
                     WHERE o_custkey IN (SELECT c_custkey FROM dead)),
         c AS (SELECT 'customer' AS table_name, count(*) AS n_before,
                 CAST(sum(CASE WHEN c_custkey % 37 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_purged
               FROM customer),
         o AS (SELECT 'orders', count(*),
                 CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM dead)
                     THEN 1 ELSE 0 END) AS BIGINT)
               FROM orders),
         l AS (SELECT 'lineitem', count(*),
                 CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM deadord)
                     THEN 1 ELSE 0 END) AS BIGINT)
               FROM lineitem)
         SELECT table_name, n_before, n_purged,
                n_before - n_purged AS n_after
         FROM (SELECT * FROM c UNION ALL SELECT * FROM o
               UNION ALL SELECT * FROM l)""",
    "q_stochastic" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         b AS (SELECT user_id, bucket_ts,
                 cl - min(l) OVER w14 AS num,
                 max(h) OVER w14 - min(l) OVER w14 AS den
               FROM c
               WINDOW w14 AS (PARTITION BY user_id ORDER BY bucket_ts
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, num AS k_num_cents, den AS k_den_cents,
                CASE WHEN den > 0 THEN CAST(num * 100 AS DOUBLE)
                                       / CAST(den AS DOUBLE) END AS k_raw,
                CASE WHEN CAST(sum(den) OVER w3 AS BIGINT) > 0
                     THEN CAST(CAST(sum(num) OVER w3 AS BIGINT) * 100 AS DOUBLE)
                          / CAST(CAST(sum(den) OVER w3 AS BIGINT) AS DOUBLE)
                END AS k_slow
         FROM b
         WINDOW w3 AS (PARTITION BY user_id ORDER BY bucket_ts
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "q_atr" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         t AS (SELECT user_id, bucket_ts,
                 CASE WHEN lag(cl) OVER w IS NULL THEN h - l
                      ELSE greatest(h - l, abs(h - lag(cl) OVER w),
                                    abs(l - lag(cl) OVER w)) END AS tr
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, tr AS tr_cents,
                CAST(CAST(sum(tr) OVER w14 AS BIGINT) AS DOUBLE)
                  / CAST(count(*) OVER w14 AS DOUBLE) AS atr_cents
         FROM t
         WINDOW w14 AS (PARTITION BY user_id ORDER BY bucket_ts
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""",
    "q_donchian" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h)
         SELECT user_id, bucket_ts, cl AS close_cents,
                max(h) OVER w20 AS upper_cents,
                min(l) OVER w20 AS lower_cents,
                CAST(max(h) OVER w20 + min(l) OVER w20 AS DOUBLE) / 2.0 AS mid_cents,
                CASE WHEN max(h) OVER w20 > min(l) OVER w20
                     THEN CAST(cl - min(l) OVER w20 AS DOUBLE)
                          / CAST(max(h) OVER w20 - min(l) OVER w20 AS DOUBLE)
                END AS position
         FROM c
         WINDOW w20 AS (PARTITION BY user_id ORDER BY bucket_ts
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""",
    "q_mann_kendall" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         p AS (SELECT user_id,
                 date_diff('day', DATE '1970-01-01', CAST(bucket_ts AS DATE)) AS x,
                 CAST(round(close * 100) AS BIGINT) AS y FROM r1d),
         sp AS (SELECT a.user_id, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat
                FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x GROUP BY 1),
         tg AS (SELECT user_id, y, count(*) AS t FROM p GROUP BY 1, 2),
         ti AS (SELECT user_id, CAST(sum(t) AS BIGINT) AS n,
                  CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tieterm
                FROM tg GROUP BY 1)
         SELECT sp.user_id, ti.n AS n_obs, sp.s_stat,
                ti.n * (ti.n - 1) * (ti.n * 2 + 5) - ti.tieterm AS var18,
                CAST(CASE WHEN sp.s_stat > 0 THEN sp.s_stat - 1
                          WHEN sp.s_stat < 0 THEN sp.s_stat + 1
                          ELSE 0 END AS DOUBLE)
                  / sqrt(CAST(ti.n * (ti.n - 1) * (ti.n * 2 + 5) - ti.tieterm AS DOUBLE)
                         / 18.0) AS z
         FROM sp JOIN ti USING (user_id)
         WHERE ti.n * (ti.n - 1) * (ti.n * 2 + 5) - ti.tieterm > 0""",
    "q_concentration" ->
      """WITH pu AS (SELECT event_type, user_id, count(*) AS c
                     FROM events GROUP BY 1, 2)
         SELECT event_type, count(*) AS n_users,
                CAST(sum(c) AS BIGINT) AS n_events,
                CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
                  / CAST(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT) AS DOUBLE) AS hhi,
                1.0 / (CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE)
                       / CAST(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT) AS DOUBLE))
                  AS effective_users
         FROM pu GROUP BY 1""",
    "q_theil_sen" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         p AS (SELECT user_id,
                 date_diff('day', DATE '1970-01-01', CAST(bucket_ts AS DATE)) AS x,
                 CAST(round(close * 100) AS BIGINT) AS y FROM r1d),
         s AS (SELECT a.user_id,
                 CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
               FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x),
         r AS (SELECT user_id, sl,
                 row_number() OVER (PARTITION BY user_id ORDER BY sl) AS rk,
                 count(*) OVER (PARTITION BY user_id) AS m
               FROM s)
         SELECT user_id, CAST(max(m) AS BIGINT) AS n_pairs, min(sl) AS theil_sen_slope
         FROM r WHERE rk * 2 = m OR rk * 2 = m + 1 GROUP BY 1""",
    "q_runs_test" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, CAST(round(close * 100) AS BIGINT) AS v FROM r1d),
         m AS (SELECT user_id, bucket_ts,
                 CASE WHEN v > lag(v) OVER w THEN 1
                      WHEN v < lag(v) OVER w THEN -1 ELSE 0 END AS sgn
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         f AS (SELECT user_id, bucket_ts, sgn,
                 lag(sgn) OVER (PARTITION BY user_id ORDER BY bucket_ts) AS prev
               FROM m WHERE sgn <> 0),
         g AS (SELECT user_id,
                 CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
                 CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
                 CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
               FROM f GROUP BY 1)
         SELECT user_id, n_plus, n_minus, n_runs,
                1.0 + CAST(n_plus * n_minus * 2 AS DOUBLE)
                      / CAST(n_plus + n_minus AS DOUBLE) AS expected_runs,
                CASE WHEN (n_plus * n_minus * 2) * (n_plus * n_minus * 2 - (n_plus + n_minus)) > 0
                     THEN (CAST(n_runs AS DOUBLE)
                           - (1.0 + CAST(n_plus * n_minus * 2 AS DOUBLE)
                                    / CAST(n_plus + n_minus AS DOUBLE)))
                          / sqrt(CAST((n_plus * n_minus * 2) * (n_plus * n_minus * 2 - (n_plus + n_minus)) AS DOUBLE)
                                 / CAST((n_plus + n_minus) * (n_plus + n_minus) * (n_plus + n_minus - 1) AS DOUBLE))
                END AS z
         FROM g WHERE n_plus + n_minus >= 2 AND n_plus > 0 AND n_minus > 0""",
    "q_item_edges" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y FROM e""",
    // Fold == full recompute over the union (new basket ids disjoint)
    "q_item_edges_incremental" ->
      """WITH mx AS (SELECT max(l_orderkey) + 1 AS o FROM lineitem),
         nb AS (SELECT l_orderkey + (SELECT o FROM mx) AS bk, l_partkey AS it
                FROM lineitem WHERE l_orderkey % 10 = 0),
         u AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem
               UNION ALL SELECT bk, it FROM nb),
         b AS (SELECT bk, it FROM u GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y, CAST(count(*) AS BIGINT) AS support
               FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, support FROM e""",
    "q_triangles" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                 SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
         t AS (SELECT e1.x AS a, e1.y AS bb, e2.y AS c
               FROM e e1 JOIN e e2 ON e1.y = e2.x
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
         pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                  SELECT a AS node FROM t
                  UNION ALL SELECT bb FROM t
                  UNION ALL SELECT c FROM t) GROUP BY 1)
         SELECT d.node, d.degree, coalesce(pn.n_triangles, 0) AS n_triangles,
                CASE WHEN d.degree >= 2
                     THEN CAST(coalesce(pn.n_triangles, 0) * 2 AS DOUBLE)
                          / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                     ELSE 0.0 END AS clustering
         FROM d LEFT JOIN pn USING (node)""",
    // 3 unrolled fixed-point iterations; every arithmetic step is a
    // positive-integer floor, so HUGEINT intermediates cast back to
    // BIGINT losslessly and the ranks match the engine bit for bit
    "q_pagerank" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         bo AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
         d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM bo GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
         r0 AS (SELECT src AS node, CAST(1000000000 // nn AS BIGINT) AS rank, deg
                FROM d CROSS JOIN n),
         c0 AS (SELECT node AS src, rank // deg AS c FROM r0),
         i0 AS (SELECT bo.dst AS node, sum(c0.c) AS i FROM bo JOIN c0 USING (src) GROUP BY 1),
         r1 AS (SELECT d.src AS node,
                  CAST(15000000000 // (100 * n.nn)
                       + (85 * coalesce(i0.i, 0)) // 100 AS BIGINT) AS rank, d.deg
                FROM d CROSS JOIN n LEFT JOIN i0 ON i0.node = d.src),
         c1 AS (SELECT node AS src, rank // deg AS c FROM r1),
         i1 AS (SELECT bo.dst AS node, sum(c1.c) AS i FROM bo JOIN c1 USING (src) GROUP BY 1),
         r2 AS (SELECT d.src AS node,
                  CAST(15000000000 // (100 * n.nn)
                       + (85 * coalesce(i1.i, 0)) // 100 AS BIGINT) AS rank, d.deg
                FROM d CROSS JOIN n LEFT JOIN i1 ON i1.node = d.src),
         c2 AS (SELECT node AS src, rank // deg AS c FROM r2),
         i2 AS (SELECT bo.dst AS node, sum(c2.c) AS i FROM bo JOIN c2 USING (src) GROUP BY 1),
         r3 AS (SELECT d.src AS node,
                  CAST(15000000000 // (100 * n.nn)
                       + (85 * coalesce(i2.i, 0)) // 100 AS BIGINT) AS rank
                FROM d CROSS JOIN n LEFT JOIN i2 ON i2.node = d.src)
         SELECT node, rank AS rank_scaled FROM r3""",
    "q_sax" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, CAST(round(close * 100) AS BIGINT) AS v FROM r1d),
         r AS (SELECT user_id, v,
                 row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts DESC) AS rn
               FROM c),
         k AS (SELECT user_id, v, rn, count(*) OVER (PARTITION BY user_id) AS nk
               FROM r WHERE rn <= 24),
         f AS (SELECT user_id, v, rn, (24 - rn) // 4 AS seg,
                 row_number() OVER (PARTITION BY user_id ORDER BY v, rn) AS qr
               FROM k WHERE nk = 24),
         q AS (SELECT user_id,
                 max(CASE WHEN qr = 6 THEN v END) AS q1,
                 max(CASE WHEN qr = 12 THEN v END) AS q2,
                 max(CASE WHEN qr = 18 THEN v END) AS q3
               FROM f GROUP BY 1),
         s AS (SELECT user_id, seg, sum(v) AS sv FROM f GROUP BY 1, 2),
         y AS (SELECT s.user_id, s.seg,
                 CASE WHEN sv < q1 * 4 THEN 'a'
                      WHEN sv < q2 * 4 THEN 'b'
                      WHEN sv < q3 * 4 THEN 'c'
                      ELSE 'd' END AS sym
               FROM s JOIN q USING (user_id))
         SELECT user_id, string_agg(sym, '' ORDER BY seg) AS sax_word
         FROM y GROUP BY 1""",
    "q_benford" ->
      """WITH c AS (SELECT event_type, abs(CAST(round(value * 100) AS BIGINT)) AS v
                    FROM events WHERE value IS NOT NULL),
         d AS (SELECT event_type, substr(CAST(v AS VARCHAR), 1, 1) AS digit
               FROM c WHERE v > 0)
         SELECT event_type, digit, count(*) AS n,
                CAST(count(*) AS DOUBLE)
                  / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS share
         FROM d GROUP BY 1, 2""",
    "q_weighted_median" ->
      """WITH c AS (SELECT source, n_chars, doc_id FROM documents
                    WHERE n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT source, n_chars,
                 sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 sum(n_chars) OVER (PARTITION BY source) AS tw
               FROM c)
         SELECT source, min(n_chars) AS weighted_median,
                CAST(max(tw) AS BIGINT) AS total_weight
         FROM r WHERE cw * 2 >= tw GROUP BY 1""",
    "q_ichimoku" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, close,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l
               FROM r1h),
         m AS (SELECT user_id, bucket_ts, close,
                 max(h) OVER w9 + min(l) OVER w9 AS t2,
                 max(h) OVER w26 + min(l) OVER w26 AS k2,
                 max(h) OVER w52 + min(l) OVER w52 AS b2
               FROM c
               WINDOW w9 AS (PARTITION BY user_id ORDER BY bucket_ts
                             ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                      w26 AS (PARTITION BY user_id ORDER BY bucket_ts
                              ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                      w52 AS (PARTITION BY user_id ORDER BY bucket_ts
                              ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts,
                CAST(t2 AS DOUBLE) / 200.0 AS tenkan,
                CAST(k2 AS DOUBLE) / 200.0 AS kijun,
                CAST(lag(t2 + k2, 26) OVER wo AS DOUBLE) / 400.0 AS senkou_a,
                CAST(lag(b2, 26) OVER wo AS DOUBLE) / 200.0 AS senkou_b,
                lead(close, 26) OVER wo AS chikou
         FROM m
         WINDOW wo AS (PARTITION BY user_id ORDER BY bucket_ts)""",
    "q_obv" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl,
                 vol_cents AS v
               FROM r1h),
         d AS (SELECT user_id, bucket_ts, cl,
                 CASE WHEN cl - lag(cl) OVER w > 0 THEN v
                      WHEN cl - lag(cl) OVER w < 0 THEN -v
                      ELSE 0 END AS sv
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cl AS close_cents,
                CAST(sum(sv) OVER (PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS obv_cents
         FROM d""",
    "q_macd" -> macdOracleSql(fast = 6, slow = 13, signalN = 5),
    "q_holt_brown" -> holtOracleSql(n = 6),
    "q_ewma_vol" -> ewmaVolOracleSql(n = 6),
    "q_keltner" -> keltnerOracleSql(emaN = 13, atrN = 10, k = 2),
    "q_rfm" ->
      """WITH u AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
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
         FROM r""",
    "q_power_curve" ->
      """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
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
         FROM g""",
    "q_stickiness" ->
      """WITH dau AS (SELECT time_bucket(INTERVAL '1 day', ts) AS day,
                time_bucket(INTERVAL '1 month', ts) AS m,
                count(DISTINCT user_id) AS dau
            FROM events GROUP BY 1, 2),
         mau AS (SELECT time_bucket(INTERVAL '1 month', ts) AS m,
                count(DISTINCT user_id) AS mau
            FROM events GROUP BY 1)
         SELECT dau.day, dau.dau, mau.mau,
                CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
         FROM dau JOIN mau USING (m)""",
    "q_bounce_rate" ->
      """WITH e AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000
                   THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
              sum(f) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sn
            FROM e),
         sess AS (SELECT user_id, sn, count(*) AS ne FROM s GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
                CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_bounces,
                CAST(CAST(sum(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bounce_rate
         FROM sess GROUP BY 1""",
    "q_copurchase" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS itm
                    FROM lineitem)
         SELECT a.itm AS item_a, bb.itm AS item_b, count(*) AS n_baskets
         FROM i a JOIN i bb ON a.b = bb.b AND a.itm < bb.itm
         GROUP BY 1, 2
         ORDER BY n_baskets DESC, item_a, item_b
         LIMIT 100""",
    "q_pivot_points" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1d),
         p AS (SELECT user_id, bucket_ts, cl,
                 lag(h) OVER w AS ph, lag(l) OVER w AS pl, lag(cl) OVER w AS pc
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cl AS close_cents,
                ph AS prev_high_cents, pl AS prev_low_cents,
                pc AS prev_close_cents,
                CAST(ph + pl + pc AS DOUBLE) / 3.0 AS pivot,
                2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(pl AS DOUBLE) AS r1,
                2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(ph AS DOUBLE) AS s1,
                (CAST(ph + pl + pc AS DOUBLE) / 3.0) + CAST(ph - pl AS DOUBLE) AS r2,
                (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(ph - pl AS DOUBLE) AS s2
         FROM p""",
    "q_volume_profile" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id,
                 CAST(floor(CAST(round(close * 100) AS BIGINT) / 100.0) AS BIGINT)
                   AS price_bucket,
                 vol_cents AS v
               FROM r1h),
         g AS (SELECT user_id, price_bucket, count(*) AS n_buckets,
                 CAST(sum(v) AS BIGINT) AS volume_cents
               FROM c GROUP BY 1, 2)
         SELECT user_id, price_bucket, n_buckets, volume_cents,
                CAST(volume_cents AS DOUBLE)
                  / CAST(CAST(sum(volume_cents) OVER (PARTITION BY user_id)
                         AS BIGINT) AS DOUBLE) AS share
         FROM g""",
    "q_cohort_ltv" ->
      """WITH coh AS (SELECT user_id,
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
         FROM cum JOIN sizes USING (cohort_month)""",
    "q_session_depth" ->
      """WITH e AS (SELECT user_id, ts,
              CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 43200000000
                   THEN 1 ELSE 0 END AS f
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
              sum(f) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sn
            FROM e),
         sess AS (SELECT user_id, sn, count(*) AS ne FROM s GROUP BY 1, 2),
         hist AS (SELECT ne AS depth, count(*) AS n_sessions
                  FROM sess GROUP BY 1)
         SELECT depth, n_sessions,
                CAST(n_sessions AS DOUBLE)
                  / CAST(CAST(sum(n_sessions) OVER () AS BIGINT) AS DOUBLE)
                  AS share
         FROM hist""",
    "q_rarity_score" ->
      """WITH t AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents),
         tk AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
         v AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
         r AS (SELECT tok,
                 CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
                   AS rank
               FROM v)
         SELECT tk.doc_id, count(*) AS n_tokens,
                CAST(sum(length(bin(rank)) - 1) AS BIGINT) AS surprisal_bits,
                CAST(CAST(sum(length(bin(rank)) - 1) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_bits
         FROM tk JOIN r USING (tok) GROUP BY 1""",
    "q_cluster_topics" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb AS cent,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         c2 AS (SELECT j, cent, list_inner_product(cent, cent) AS cc FROM seed),
         asg AS (SELECT vec_id, j AS cluster FROM (
             SELECT e.vec_id, t.j,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY t.cc - 2.0 * list_inner_product(e.emb, t.cent), t.j) AS rn
             FROM e, c2 t) WHERE rn = 1),
         t AS (SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
               FROM documents),
         tk AS (SELECT doc_id, term FROM t WHERE term <> ''),
         dfq AS (SELECT term, count(*) AS df FROM (
                   SELECT doc_id, term FROM tk GROUP BY 1, 2) GROUP BY 1),
         nd AS (SELECT count(*) AS n FROM documents),
         ctf AS (SELECT asg.cluster, tk.term, count(*) AS tf
                 FROM tk JOIN asg ON tk.doc_id = asg.vec_id GROUP BY 1, 2),
         scored AS (SELECT cluster, ctf.term, tf, dfq.df,
                      CAST(tf AS DOUBLE)
                        * (CAST(nd.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
                    FROM ctf JOIN dfq ON ctf.term = dfq.term, nd)
         SELECT cluster, term, tf, df, score, CAST(rnk AS INT) AS rank FROM (
           SELECT cluster, term, tf, df, score,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY score DESC, term) AS rnk
           FROM scored)
         WHERE rnk <= 5""",
    "q_corpus_card" ->
      """SELECT source, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END)
                     AS BIGINT) AS total_tokens,
                count(DISTINCT md5(text)) AS n_unique,
                CAST(CAST(sum(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END)
                     AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS mean_tokens,
                CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM documents GROUP BY 1, 2""",
    "q_user_features" ->
      """WITH daily AS (
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
                   RANGE BETWEEN 1 FOLLOWING AND 7 FOLLOWING)""",
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY 1""",
    "q12_priority_by_flag" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q14_promo_revenue" ->
      """WITH r AS (SELECT p_type,
                CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
            FROM lineitem JOIN part ON l_partkey = p_partkey),
         a AS (SELECT
                CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cp ELSE 0 END)
                     AS BIGINT) AS pr,
                CAST(sum(rev_cp) AS BIGINT) AS tot
               FROM r)
         SELECT 100.0 * CAST(pr AS DOUBLE) / CAST(tot AS DOUBLE)
                  AS promo_revenue_pct,
                CAST(tot AS DOUBLE) / 10000.0 AS total_revenue
         FROM a""",
    "q_funnel_strict_order" ->
      """WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
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
         SELECT level, count(*) AS n_users FROM u GROUP BY 1""",
    "q_funnel_strict_dedup" ->
      """WITH base AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
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
         SELECT level, count(*) AS n_users FROM u GROUP BY 1""",
    "q_embed_drift" ->
      """WITH comp AS (
           SELECT label, vec_id % 2 = 0 AS a,
                  CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1
                       AS BIGINT) AS pos,
                  CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 1000000)
                       AS BIGINT) AS m
           FROM embeddings),
         per_dim AS (
           SELECT label, pos,
                  CAST(sum(CASE WHEN a THEN m END) AS BIGINT) AS sa,
                  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(sum(CASE WHEN NOT a THEN m END) AS BIGINT) AS sb,
                  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb
           FROM comp GROUP BY 1, 2),
         d AS (SELECT label, pos,
                 abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                     - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) AS delta
               FROM per_dim WHERE na > 0 AND nb > 0),
         w AS (SELECT label, pos, delta,
                 row_number() OVER (PARTITION BY label
                   ORDER BY delta DESC, pos DESC) AS rn,
                 count(*) OVER (PARTITION BY label) AS n_dims
               FROM d)
         SELECT label, n_dims, delta AS max_abs_delta_micro, pos AS worst_dim
         FROM w WHERE rn = 1""",
    "q_pit_features" ->
      """WITH daily AS (
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
           ON p.user_id = f.user_id AND p.t >= f.t""",
    "q22_wealthy_inactive" ->
      """WITH pos AS (SELECT count(*) AS n,
                CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s
            FROM customer WHERE c_acctbal > 0),
         rich AS (SELECT c_custkey, c_nationkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                  FROM customer, pos
                  WHERE CAST(round(c_acctbal * 100) AS BIGINT) * pos.n > pos.s)
         SELECT c_nationkey, count(*) AS n_custs,
                CAST(sum(cents) AS BIGINT) AS acctbal_cents
         FROM rich
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = rich.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",
    // KS numerators cross engines as digit strings (HUGEINT vs
    // decimal(38,0) trips type-sensitive hashing); the statistic and
    // flag derive from the same exact integers on both sides
    "q_ks_drift" ->
      """WITH v AS (SELECT event_type,
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
         FROM m""",
    "q_stats_drift" ->
      """WITH e AS (SELECT event_type, user_id, value,
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
         FROM p""",
    "q_equidepth_hist" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                l_orderkey, l_linenumber
            FROM lineitem),
         t AS (SELECT cents,
                 CAST(ntile(16) OVER (ORDER BY cents, l_orderkey, l_linenumber)
                      AS BIGINT) AS bucket
               FROM c)
         SELECT bucket, count(*) AS n,
                min(cents) AS lo_cents, max(cents) AS hi_cents,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM t GROUP BY 1""",
    // shingle identity never crosses engines — each side groups its
    // own shingles (md5 on the Spark side is a shuffle-width choice,
    // not part of the contract); only counts and the ratio compare
    "q_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                   for i in generate_series(1, len(t) - 2)]) AS ss
                  FROM toks),
         ds AS (SELECT doc_id, unnest(ss) AS s FROM sets),
         own AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY 1)
         SELECT ds.doc_id,
                count(*) AS n_shingles,
                CAST(sum(CASE WHEN own.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN own.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         FROM ds JOIN own USING (s)
         GROUP BY 1""",
    "q_bigram_fluency" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest([{'w1': t[i], 'w2': t[i+1]}
                         for i in generate_series(1, len(t) - 1)]) AS u
               FROM toks),
         pd AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, count(*) AS m
                FROM g GROUP BY 1, 2, 3),
         bi AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS n_pair FROM pd GROUP BY 1, 2),
         uni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_prefix FROM bi GROUP BY 1)
         SELECT pd.doc_id,
                CAST(sum(pd.m) AS BIGINT) AS n_bigrams,
                CAST(sum(pd.m * (bi.n_pair * 1000 // uni.n_prefix)) AS BIGINT)
                  AS fluency_sum_milli,
                CAST(sum(pd.m * (bi.n_pair * 1000 // uni.n_prefix)) AS DOUBLE)
                  / CAST(sum(pd.m) AS DOUBLE) AS mean_fluency_milli
         FROM pd JOIN bi USING (w1, w2) JOIN uni USING (w1)
         GROUP BY 1""",
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
             OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         GROUP BY 1, 2, 3""",
    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(sum(CASE WHEN n1.n_name = 'NATION_5'
                              THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))
                              ELSE CAST(0 AS DECIMAL(25,8)) END) AS DOUBLE)
                  / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE)
                  AS mkt_share,
                CAST(sum(CASE WHEN n1.n_name = 'NATION_5'
                              THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))
                              ELSE CAST(0 AS DECIMAL(25,8)) END) AS DOUBLE) AS nation_volume,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE)
                  AS total_volume
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         JOIN region ON n2.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1""",
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         GROUP BY 1""",
    "q21_waiting_suppliers" ->
      """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
         l AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem),
         w AS (SELECT l.l_orderkey, l.l_suppkey,
                 l.l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
               FROM l JOIN f ON l_orderkey = o_orderkey),
         l1 AS (SELECT l_orderkey, l_suppkey FROM w WHERE late)
         SELECT s_name, count(*) AS numwait
         FROM l1
         JOIN supplier ON l1.l_suppkey = s_suppkey
         WHERE EXISTS (SELECT 1 FROM l l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM w l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""",
    "q9_product_profit" ->
      """SELECT n_name,
                CAST(year(l_shipdate) AS BIGINT) AS o_year,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                              - p_retailprice * 0.6 * l_quantity
                              AS DECIMAL(25,8))) AS DOUBLE) AS profit,
                count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2""",
    "q16_part_supplier_variety" ->
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
         JOIN part ON l_partkey = p_partkey
         WHERE p_size IN (1, 9, 19, 29, 39, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    "q19_discounted_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE l_discount BETWEEN 0.02 AND 0.08
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))""",
    // OLS moments cross as digit strings; slope/intercept divide the
    // same exact integers once as doubles on both sides
    "q_trend_slope" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id,
                 (epoch_us(bucket_ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 3600000000 AS x,
                 CAST(round(close * 100) AS BIGINT) AS y
               FROM r1h),
         m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
               FROM c GROUP BY 1)
         SELECT user_id, n_obs,
                CAST(n_obs * sxy - sx * sy AS VARCHAR) AS slope_num,
                CAST(sy * sxx - sx * sxy AS VARCHAR) AS intercept_num,
                CAST(n_obs * sxx - sx * sx AS VARCHAR) AS den,
                CASE WHEN n_obs * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(n_obs * sxy - sx * sy AS DOUBLE)
                          / CAST(n_obs * sxx - sx * sx AS DOUBLE) END
                  AS slope_cents_per_hour,
                CASE WHEN n_obs * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
                          / CAST(n_obs * sxx - sx * sx AS DOUBLE) END
                  AS intercept_cents
         FROM m""",
    "q_gini" ->
      """WITH t AS (SELECT user_id,
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
         FROM m""",
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
                sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS r,
                count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue, n_items
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE r = (SELECT max(r) FROM rev)""",
    "q17_small_quantity_revenue" ->
      """WITH per AS (SELECT l_partkey, count(*) AS n,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS HUGEINT) AS sq
            FROM lineitem GROUP BY 1)
         SELECT count(*) AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) / 7.0
                  AS avg_yearly
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN per USING (l_partkey)
         WHERE p_brand = 'Brand#23'
           AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * per.n < per.sq""",
    "q20_volume_suppliers" ->
      """WITH sq AS (SELECT l_partkey, l_suppkey,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS HUGEINT) AS s
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2),
         dom AS (SELECT l_suppkey, count(*) AS n_parts_dominated FROM (
             SELECT l_partkey, l_suppkey, s,
                    sum(s) OVER (PARTITION BY l_partkey) AS tot
             FROM sq)
           WHERE s * 2 > tot GROUP BY 1)
         SELECT s_suppkey, s_name, n_parts_dominated
         FROM dom JOIN supplier ON l_suppkey = s_suppkey""",
    // interpolated close = one division of exact integers: cents
    // endpoints weighted by integer hour distances
    "q_gap_fill_linear" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         span AS (SELECT user_id, min(bucket_ts) AS mn, max(bucket_ts) AS mx
                  FROM r1h GROUP BY 1),
         grid AS (SELECT user_id,
                    unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket_ts
                  FROM span),
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
         FROM b""",
    // counts are grain-identical whether keyed by shingle string
    // (here) or its md5 (engine's shuffle-width choice)
    "q_cross_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT source,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in generate_series(1, len(t) - 2)]) AS s
                FROM toks)
         SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         GROUP BY 1, 2""",
    "q_autocorr" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS y FROM r1h),
         p AS (SELECT user_id, lag(y) OVER w AS x, y
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
               FROM p WHERE x IS NOT NULL GROUP BY 1)
         SELECT user_id, n_pairs,
                CAST(n_pairs * sxy - sx * sy AS VARCHAR) AS r_num,
                CASE WHEN (n_pairs * sxx - sx * sx) = 0
                       OR (n_pairs * syy - sy * sy) = 0 THEN NULL
                     ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) END
                  AS autocorr
         FROM m""",
    "q_trimmed_mean" ->
      """WITH c AS (SELECT event_type, event_id,
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
         GROUP BY 1""",
    "q_burstiness" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
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
         FROM m""",
    "q_changepoint" ->
      """WITH c AS (SELECT event_type, ts, event_id,
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
         FROM best WHERE rk = 1""",
    "q_streaks" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1d),
         m AS (SELECT user_id, bucket_ts,
                 CASE WHEN cents > lag(cents) OVER w THEN 1
                      WHEN cents < lag(cents) OVER w THEN -1 ELSE 0 END AS sgn,
                 lag(cents) OVER w IS NOT NULL AS has_prev
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, bucket_ts, sgn,
                 row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts) AS rn_all
               FROM m WHERE has_prev),
         f AS (SELECT user_id, bucket_ts, sgn,
                 rn_all
                 - row_number() OVER (PARTITION BY user_id, sgn ORDER BY bucket_ts) AS isl
               FROM g WHERE sgn <> 0),
         s AS (SELECT user_id, sgn, isl, CAST(count(*) AS BIGINT) AS len
               FROM f GROUP BY 1, 2, 3)
         SELECT user_id,
                CAST(coalesce(max(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT)
                  AS longest_up,
                CAST(coalesce(max(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT)
                  AS longest_down
         FROM s GROUP BY 1""",
    "q_lorenz_deciles" ->
      """WITH t AS (SELECT user_id,
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
         FROM p""",
    "q_five_number" ->
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
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
         FROM r""",
    "q_heikin_ashi" -> haOracleSql(nWindow = 12),
    "q_top_movers" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS close_cents FROM r1d),
         m AS (SELECT user_id, bucket_ts, close_cents,
                 lag(close_cents) OVER (PARTITION BY user_id
                   ORDER BY bucket_ts) AS prev_cents
               FROM c),
         d AS (SELECT user_id, bucket_ts, close_cents, prev_cents,
                 close_cents - prev_cents AS move_cents
               FROM m WHERE prev_cents IS NOT NULL AND prev_cents <> 0)
         SELECT user_id, bucket_ts, close_cents, prev_cents, move_cents,
                CAST(move_cents * 10000 AS DOUBLE) / CAST(prev_cents AS DOUBLE)
                  AS move_bps
         FROM d
         ORDER BY abs(move_cents) * 10000 // abs(prev_cents) DESC,
                  user_id, bucket_ts
         LIMIT 25""",
    "q_williams_r" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         e AS (SELECT user_id, bucket_ts,
                 max(h) OVER w AS hh, min(l) OVER w AS ll, cl
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts,
                hh - cl AS hh_minus_close_cents,
                hh - ll AS range_cents,
                CASE WHEN hh - ll > 0 THEN
                  CAST((hh - cl) * -100 AS DOUBLE) / CAST(hh - ll AS DOUBLE)
                END AS willr
         FROM e""",
    "q_aroon" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts)
                      AS BIGINT) AS rn
               FROM r1h),
         p AS (SELECT user_id, bucket_ts, rn,
                 h * 4294967296 + rn AS ph,
                 l * 4294967296 + (4294967295 - rn) AS pl
               FROM c),
         e AS (SELECT user_id, bucket_ts, rn,
                 CAST(count(*) OVER w AS BIGINT) AS m,
                 max(ph) OVER w AS mph, min(pl) OVER w AS mpl
               FROM p WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts,
                rn - (((mph % 4294967296) + 4294967296) % 4294967296) AS bars_since_high,
                rn - (4294967295 - (((mpl % 4294967296) + 4294967296) % 4294967296)) AS bars_since_low,
                CAST((m - (rn - (((mph % 4294967296) + 4294967296) % 4294967296))) * 100 AS DOUBLE)
                  / CAST(m AS DOUBLE) AS aroon_up,
                CAST((m - (rn - (4294967295 - (((mpl % 4294967296) + 4294967296) % 4294967296)))) * 100 AS DOUBLE)
                  / CAST(m AS DOUBLE) AS aroon_down
         FROM e""",
    "q_mfi" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) + CAST(round(low * 100) AS BIGINT)
                   + CAST(round(close * 100) AS BIGINT) AS tp3,
                 vol_cents AS v
               FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 CASE WHEN tp3 - lag(tp3) OVER o > 0 THEN tp3 * v ELSE 0 END AS pos,
                 CASE WHEN tp3 - lag(tp3) OVER o < 0 THEN tp3 * v ELSE 0 END AS neg
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         e AS (SELECT user_id, bucket_ts,
                 CAST(sum(pos) OVER w AS BIGINT) AS pf,
                 CAST(sum(neg) OVER w AS BIGINT) AS nf
               FROM d WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, pf AS pos_flow, nf AS neg_flow,
                CASE WHEN pf + nf > 0 THEN
                  CAST(pf * 100 AS DOUBLE) / CAST(pf + nf AS DOUBLE)
                END AS mfi
         FROM e""",
    "q_cci" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) + CAST(round(low * 100) AS BIGINT)
                   + CAST(round(close * 100) AS BIGINT) AS tp3
               FROM r1h),
         e AS (SELECT user_id, bucket_ts, tp3,
                 CAST(count(*) OVER w AS BIGINT) AS m,
                 CAST(sum(tp3) OVER w AS BIGINT) AS s,
                 list(tp3) OVER w AS l
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         f AS (SELECT user_id, bucket_ts, tp3, m, s,
                 CAST(list_sum(list_transform(l, x -> abs(m * x - s))) AS BIGINT)
                   AS dev_sum
               FROM e)
         SELECT user_id, bucket_ts,
                m * tp3 - s AS tp3_dev,
                dev_sum,
                CASE WHEN dev_sum > 0 THEN
                  CAST(m * (m * tp3 - s) * 1000 AS DOUBLE)
                  / CAST(dev_sum * 15 AS DOUBLE)
                END AS cci
         FROM f""",
    "q_roll_spread" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 cl - lag(cl) OVER o AS dt
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         p AS (SELECT user_id, dt, lag(dt) OVER o AS dp
               FROM d WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, count(*) AS n,
                 CAST(sum(dt) AS BIGINT) AS sx, CAST(sum(dp) AS BIGINT) AS sy,
                 CAST(sum(dt * dp) AS BIGINT) AS sxy
               FROM p WHERE dt IS NOT NULL AND dp IS NOT NULL GROUP BY 1)
         SELECT user_id, n AS n_pairs, sx AS sum_dt, sy AS sum_dp,
                sxy AS sum_dtdp,
                CASE WHEN n > 1 AND n * sxy - sx * sy < 0 THEN
                  sqrt(CAST(sx * sy - n * sxy AS DOUBLE)
                       / CAST(n * n AS DOUBLE)) * 2.0
                END AS roll_spread_cents
         FROM g""",
    "q_kyle_lambda" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl,
                 vol_cents AS v
               FROM r1h),
         d AS (SELECT user_id,
                 cl - lag(cl) OVER o AS y,
                 CASE WHEN cl - lag(cl) OVER o > 0 THEN v
                      WHEN cl - lag(cl) OVER o < 0 THEN -v
                      ELSE 0 END AS x
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
               FROM d WHERE y IS NOT NULL GROUP BY 1)
         SELECT user_id, n AS n_moves,
                CAST(sx AS BIGINT) AS sum_sv, CAST(sy AS BIGINT) AS sum_d,
                CASE WHEN n * sxx - sx * sx > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                END AS kyle_lambda
         FROM g""",
    "q_amihud" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl,
                 vol_cents AS v
               FROM r1h),
         d AS (SELECT user_id, CAST(bucket_ts AS DATE) AS day,
                 cl - lag(cl) OVER o AS dd, v
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, day, count(*) AS n_moves,
                CAST(sum(abs(dd)) AS BIGINT) AS sum_abs_move_cents,
                CAST(sum(v) AS BIGINT) AS sum_volume_cents,
                CASE WHEN CAST(sum(v) AS BIGINT) > 0 THEN
                  CAST(CAST(sum(abs(dd)) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                END AS illiq
         FROM d WHERE dd IS NOT NULL GROUP BY 1, 2""",
    // Codec round-trip: the oracle asserts the VERDICT booleans the
    // engine computes (decode==original, DoubleDelta under raw for
    // real series) — the codec bytes themselves are engine-defined,
    // the identity contract is what's checkable cross-engine.
    "q_codec_roundtrip" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts
            FROM events GROUP BY 1, 2)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
                TRUE AS ts_roundtrip_ok, TRUE AS px_roundtrip_ok,
                TRUE AS tr_roundtrip_ok,
                TRUE AS dd_compresses, TRUE AS t64_compresses
         FROM r1h GROUP BY 1""",
    // Sign-sketch screen: md5-derived 64-axis majority-sign
    // fingerprint, 8x8-bit banded candidates at hamming <= 7, exact
    // co-moment corr on candidates only (same arithmetic as the full
    // matrix, so screened corr values match its entries bitwise).
    "q_corr_screen" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, epoch_us(bucket_ts) AS us, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         ax AS (SELECT user_id,
                  CAST(('0x' || substr(md5(CAST(us AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS j,
                  dd AS s
                FROM m WHERE dd <> 0),
         votes AS (SELECT user_id, j, sum(s) AS vote FROM ax GROUP BY 1, 2),
         fp AS (SELECT user_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM votes GROUP BY 1),
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 8)) & 255 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bs(band)),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h)),
         pairs AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                     CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                   FROM guarded a JOIN guarded b USING (band, h)
                   WHERE a.user_id < b.user_id
                     AND bit_count(xor(a.sh, b.sh)) <= 24),
         al AS (SELECT p.key_a, p.key_b, p.hamming, a.dd AS da, b.dd AS db
                FROM pairs p
                JOIN m a ON a.user_id = p.key_a
                JOIN m b ON b.user_id = p.key_b AND b.us = a.us),
         g AS (SELECT key_a, key_b, max(hamming) AS hamming, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM al GROUP BY 1, 2)
         SELECT key_a, key_b, hamming, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""",
    // Signed screen: co-moving candidates from direct bands, anti-moving
    // from complement bands; hamming on the anti side is the distance to
    // the complement.
    "q_corr_screen_signed" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, epoch_us(bucket_ts) AS us, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         ax AS (SELECT user_id,
                  CAST(('0x' || substr(md5(CAST(us AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS j,
                  dd AS s
                FROM m WHERE dd <> 0),
         votes AS (SELECT user_id, j, sum(s) AS vote FROM ax GROUP BY 1, 2),
         fp AS (SELECT user_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM votes GROUP BY 1),
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 8)) & 255 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bs(band)),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h)),
         bandedc AS (SELECT user_id, sh, bs.band,
                      (xor(sh, CAST(18446744073709551615 AS UBIGINT)) >> (bs.band * 8)) & 255 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bs(band)),
         keptc AS (SELECT band, h FROM bandedc GROUP BY band, h HAVING count(*) <= 10000),
         guardedc AS (SELECT bandedc.* FROM bandedc JOIN keptc USING (band, h)),
         cop AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming,
                   'co_moving' AS side
                 FROM guarded a JOIN guarded b USING (band, h)
                 WHERE a.user_id < b.user_id
                   AND bit_count(xor(a.sh, b.sh)) <= 24),
         ap AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                  CAST(64 - bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming,
                  'anti_moving' AS side
                FROM guarded a JOIN guardedc b USING (band, h)
                WHERE a.user_id < b.user_id
                  AND 64 - bit_count(xor(a.sh, b.sh)) <= 24),
         pairs AS (SELECT * FROM cop UNION SELECT * FROM ap),
         al AS (SELECT p.key_a, p.key_b, p.side, p.hamming, a.dd AS da, b.dd AS db
                FROM pairs p
                JOIN m a ON a.user_id = p.key_a
                JOIN m b ON b.user_id = p.key_b AND b.us = a.us),
         g AS (SELECT key_a, key_b, side, max(hamming) AS hamming, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM al GROUP BY 1, 2, 3)
         SELECT key_a, key_b, side, hamming, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""",
    // 16-bit-band twin: 4 bands, guaranteed recall to hamming 3,
    // probabilistic beyond -- the production width past a few thousand keys.
    "q_corr_screen_wide" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, epoch_us(bucket_ts) AS us, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         ax AS (SELECT user_id,
                  CAST(('0x' || substr(md5(CAST(us AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS j,
                  dd AS s
                FROM m WHERE dd <> 0),
         votes AS (SELECT user_id, j, sum(s) AS vote FROM ax GROUP BY 1, 2),
         fp AS (SELECT user_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM votes GROUP BY 1),
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 16)) & 65535 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bs(band)),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h)),
         pairs AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                     CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                   FROM guarded a JOIN guarded b USING (band, h)
                   WHERE a.user_id < b.user_id
                     AND bit_count(xor(a.sh, b.sh)) <= 24),
         al AS (SELECT p.key_a, p.key_b, p.hamming, a.dd AS da, b.dd AS db
                FROM pairs p
                JOIN m a ON a.user_id = p.key_a
                JOIN m b ON b.user_id = p.key_b AND b.us = a.us),
         g AS (SELECT key_a, key_b, max(hamming) AS hamming, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM al GROUP BY 1, 2)
         SELECT key_a, key_b, hamming, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""",
    // Auto-width screen at a ~3000-key universe: the oracle bands at
    // 16 bits because that is what autoBandBits commits for this
    // replica fixture — a hash match at maxHamming 24 (probabilistic
    // regime) certifies the engine's measured decision, not just the
    // pair math.
    "q_corr_screen_hicard" ->
      """WITH ev AS (SELECT events.user_id + 1000000 * r.i AS user_id, ts, value
                     FROM events CROSS JOIN
                       (SELECT unnest(generate_series(0, 19)) AS i) r(i)
                     WHERE events.user_id < 200),
         r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM ev GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, epoch_us(bucket_ts) AS us, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         ax AS (SELECT user_id,
                  CAST(('0x' || substr(md5(CAST(us AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS j,
                  dd AS s
                FROM m WHERE dd <> 0),
         votes AS (SELECT user_id, j, sum(s) AS vote FROM ax GROUP BY 1, 2),
         fp AS (SELECT user_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM votes GROUP BY 1),
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 16)) & 65535 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bs(band)),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h)),
         pairs AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                     CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                   FROM guarded a JOIN guarded b USING (band, h)
                   WHERE a.user_id < b.user_id
                     AND bit_count(xor(a.sh, b.sh)) <= 24),
         al AS (SELECT p.key_a, p.key_b, p.hamming, a.dd AS da, b.dd AS db
                FROM pairs p
                JOIN m a ON a.user_id = p.key_a
                JOIN m b ON b.user_id = p.key_b AND b.us = a.us),
         g AS (SELECT key_a, key_b, max(hamming) AS hamming, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM al GROUP BY 1, 2)
         SELECT key_a, key_b, hamming, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""",
    "q_corr_matrix" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, bucket_ts, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         j AS (SELECT a.user_id AS key_a, b.user_id AS key_b,
                 a.dd AS da, b.dd AS db
               FROM m a JOIN m b
                 ON a.bucket_ts = b.bucket_ts AND a.user_id < b.user_id),
         g AS (SELECT key_a, key_b, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM j GROUP BY 1, 2)
         SELECT key_a, key_b, n AS n_aligned, sab AS sum_ab, saa AS sum_aa,
                sbb AS sum_bb,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""",
    "q_survival_km" ->
      """WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
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
         FROM k""",
    "q_dow_returns" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1d),
         d AS (SELECT user_id, bucket_ts, cl - lag(cl) OVER
                 (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
         SELECT CAST(dayofweek(bucket_ts) + 1 AS BIGINT) AS weekday,
                count(*) AS n_moves,
                CAST(sum(dd) AS BIGINT) AS sum_move_cents,
                CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
                CAST(CAST(sum(dd) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_move_cents
         FROM d WHERE dd IS NOT NULL GROUP BY 1""",
    "q_overnight_gaps" ->
      """WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_min(value, ts) AS open, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(open * 100) AS BIGINT) AS open_cents,
                 lag(CAST(round(close * 100) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS prev_close_cents
               FROM r1d)
         SELECT user_id, bucket_ts, open_cents, prev_close_cents,
                open_cents - prev_close_cents AS gap_cents,
                CAST((open_cents - prev_close_cents) * 10000 AS DOUBLE)
                  / CAST(abs(prev_close_cents) AS DOUBLE) AS gap_bps
         FROM c WHERE prev_close_cents IS NOT NULL AND prev_close_cents <> 0""",
    "q_ship_delay_sla" ->
      """WITH d AS (SELECT o.o_orderpriority,
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
         FROM c GROUP BY 1""",
    "q_seasonal_index" ->
      """WITH ph AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
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
         FROM ph JOIN t USING (event_type)""",
    "q_price_elasticity" ->
      """WITH b AS (SELECT p.p_type,
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
         FROM g""",
    "q_abc_classes" ->
      """WITH p AS (SELECT l_partkey,
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
         FROM c CROSS JOIN t""",
    "q_topk_churn" ->
      """WITH pd AS (SELECT CAST(ts AS DATE) AS day, user_id,
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
                 LEFT JOIN cm ON cm.day = dp.day AND cm.prev_day = dp.prev_day""",
    "q_vpin" ->
      """WITH e AS (SELECT user_id, ts,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events),
         c AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                 arg_max(cents, ts) AS cl,
                 CAST(sum(cents) AS BIGINT) AS v
            FROM e GROUP BY 1, 2),
         d AS (SELECT user_id, bucket_ts, cl - lag(cl) OVER o AS dd, v
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         f AS (SELECT user_id, bucket_ts,
                 CASE WHEN dd > 0 THEN v WHEN dd < 0 THEN -v ELSE 0 END AS sv, v
               FROM d WHERE dd IS NOT NULL AND v > 0),
         s AS (SELECT user_id, sv, v,
                 sum(v) OVER (PARTITION BY user_id ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS cum
               FROM f),
         b AS (SELECT user_id, CAST(cum // 50000 AS BIGINT) AS vol_bucket, sv, v FROM s)
         SELECT user_id, vol_bucket, CAST(count(*) AS BIGINT) AS n_bars,
                CAST(abs(sum(sv)) AS BIGINT) AS imbalance_cents,
                CAST(sum(v) AS BIGINT) AS total_cents,
                CAST(abs(sum(sv)) * 10000 AS DOUBLE)
                  / CAST(sum(v) AS DOUBLE) AS toxicity_bps
         FROM b GROUP BY 1, 2""",
    "q_variance_ratio" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         d AS (SELECT user_id,
                 cl - lag(cl, 1) OVER o AS d1,
                 cl - lag(cl, 4) OVER o AS dq
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, count(d1) AS n1, count(dq) AS nq,
                 sum(d1) AS s1, sum(d1 * d1) AS s11,
                 sum(dq) AS sq, sum(dq * dq) AS sqq
               FROM d GROUP BY 1)
         SELECT user_id, CAST(n1 AS BIGINT) AS n_1, CAST(nq AS BIGINT) AS n_q,
                CASE WHEN nq > 0 AND n1 * s11 - s1 * s1 > 0 THEN
                  CAST((nq * sqq - sq * sq) * n1 * n1 AS DOUBLE)
                  / CAST((n1 * s11 - s1 * s1) * nq * nq * 4 AS DOUBLE)
                END AS variance_ratio
         FROM g""",
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
                CAST(count(*) AS BIGINT) AS group_size,
                CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
                count(*) >= 10 AS meets_k,
                count(DISTINCT c_acctbal) >= 5 AS meets_l
         FROM customer GROUP BY 1, 2""",
    "q_ols_trend" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         v AS (SELECT user_id,
                 (epoch_us(bucket_ts)
                  - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 3600000000 AS x1,
                 CASE WHEN dayofweek(bucket_ts) IN (0, 6) THEN 1 ELSE 0 END AS x2,
                 CAST(round(close * 100) AS BIGINT) AS y
               FROM r1h),
         g AS (SELECT user_id, count(*) AS n,
                 sum(x1) AS s1, sum(x2) AS s2,
                 sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
                 sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
               FROM v GROUP BY 1),
         d AS (SELECT user_id, n,
                 n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                   + s2 * (s1 * s12 - s2 * s11) AS det,
                 sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
                   + s2 * (s1y * s12 - s11 * s2y) AS det0,
                 n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
                   + s2 * (s1 * s2y - s1y * s2) AS det1,
                 n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
                   + sy * (s1 * s12 - s11 * s2) AS det2
               FROM g)
         SELECT user_id, CAST(n AS BIGINT) AS n_obs, CAST(det AS DOUBLE) AS det,
                CASE WHEN det <> 0 THEN
                  CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) END AS intercept_cents,
                CASE WHEN det <> 0 THEN
                  CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) END AS trend_cents_per_hour,
                CASE WHEN det <> 0 THEN
                  CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) END AS weekend_shift_cents
         FROM d""",
    "q_textrank" ->
      """WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
         pr AS (SELECT t[i] AS w1, t[i + 1] AS w2
                FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                      FROM toks)),
         e AS (SELECT least(w1, w2) AS x, greatest(w1, w2) AS y FROM pr
               WHERE w1 <> '' AND w2 <> '' AND w1 <> w2
                 AND w1 NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
                 AND w2 NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
               GROUP BY 1, 2),
         bo AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
         d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM bo GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
         r0 AS (SELECT src AS node, CAST(1000000000 // nn AS BIGINT) AS rank, deg
                FROM d CROSS JOIN n),
         c0 AS (SELECT node AS src, rank // deg AS c FROM r0),
         i0 AS (SELECT bo.dst AS node, sum(c0.c) AS i FROM bo JOIN c0 USING (src) GROUP BY 1),
         r1 AS (SELECT d.src AS node,
                  CAST(15000000000 // (100 * n.nn)
                       + (85 * coalesce(i0.i, 0)) // 100 AS BIGINT) AS rank, d.deg
                FROM d CROSS JOIN n LEFT JOIN i0 ON i0.node = d.src),
         c1 AS (SELECT node AS src, rank // deg AS c FROM r1),
         i1 AS (SELECT bo.dst AS node, sum(c1.c) AS i FROM bo JOIN c1 USING (src) GROUP BY 1),
         r2 AS (SELECT d.src AS node,
                  CAST(15000000000 // (100 * n.nn)
                       + (85 * coalesce(i1.i, 0)) // 100 AS BIGINT) AS rank, d.deg
                FROM d CROSS JOIN n LEFT JOIN i1 ON i1.node = d.src),
         c2 AS (SELECT node AS src, rank // deg AS c FROM r2),
         i2 AS (SELECT bo.dst AS node, sum(c2.c) AS i FROM bo JOIN c2 USING (src) GROUP BY 1),
         r3 AS (SELECT d.src AS node,
                  CAST(15000000000 // (100 * n.nn)
                       + (85 * coalesce(i2.i, 0)) // 100 AS BIGINT) AS rank
                FROM d CROSS JOIN n LEFT JOIN i2 ON i2.node = d.src)
         SELECT node AS word, rank AS rank_scaled FROM r3
         ORDER BY rank DESC, word LIMIT 25""",
    "q_lead_lag" ->
      """WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, epoch_us(bucket_ts) AS us, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         b AS (SELECT us AS bus, dd AS db FROM m WHERE user_id = 7),
         l AS (SELECT unnest(generate_series(-3, 3)) AS lag),
         bl AS (SELECT CAST(l.lag AS BIGINT) AS lag_steps,
                  b.bus + l.lag * 3600000000 AS jus, b.db
                FROM b CROSS JOIN l),
         j AS (SELECT m.user_id, bl.lag_steps, m.dd AS da, bl.db
               FROM m JOIN bl ON m.us = bl.jus WHERE m.user_id <> 7),
         g AS (SELECT user_id, lag_steps, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM j GROUP BY 1, 2)
         SELECT user_id, lag_steps, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS xcorr
         FROM g""",
    "q_rake_keywords" ->
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         tk AS (SELECT doc_id, t[i] AS tok, i AS pos
                FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                      FROM toks)
                WHERE t[i] <> ''),
         ns AS (SELECT doc_id, tok, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM tk
                WHERE tok NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')),
         pl AS (SELECT doc_id, grp, tok, pos,
                  CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS len
                FROM ns),
         ws AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(len) AS BIGINT) AS degree FROM pl GROUP BY 1),
         pp AS (SELECT pl.doc_id, pl.grp,
                  string_agg(pl.tok, ' ' ORDER BY pl.pos) AS phrase,
                  CAST(count(*) AS BIGINT) AS len,
                  CAST(sum(ws.degree) AS BIGINT) AS sdeg,
                  CAST(sum(ws.freq) AS BIGINT) AS sfreq
                FROM pl JOIN ws USING (tok) GROUP BY 1, 2),
         g AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
                 max(len) AS n_words, max(sdeg) AS sum_degree,
                 max(sfreq) AS sum_freq
               FROM pp GROUP BY 1)
         SELECT phrase, n_occurrences, n_words, sum_degree, sum_freq,
                CAST(sum_degree AS DOUBLE) / CAST(sum_freq AS DOUBLE)
                  AS rake_score
         FROM g
         ORDER BY sum_degree * 10000 // sum_freq DESC, phrase
         LIMIT 25""",
    "q_readability" ->
      """WITH c AS (SELECT doc_id, text,
                list_filter(string_split(
                  regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                  x -> x <> '') AS w
            FROM documents),
         s AS (SELECT doc_id,
                 CAST(len(w) AS BIGINT) AS n_words,
                 greatest(CAST(1 AS BIGINT),
                   CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                   AS n_sentences,
                 CAST(coalesce(list_sum(list_transform(w,
                   x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))),
                   0) AS BIGINT) AS n_syllables
               FROM c)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CASE WHEN n_words > 0 THEN
                  206.835
                  - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                END AS flesch
         FROM s""",
    "q_edge_overlap" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                 SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
         t AS (SELECT e1.x AS a, e1.y AS bb, e2.y AS c
               FROM e e1 JOIN e e2 ON e1.y = e2.x
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
         ed AS (SELECT a AS x, bb AS y FROM t
                UNION ALL SELECT a, c FROM t
                UNION ALL SELECT bb, c FROM t),
         cm AS (SELECT x, y, CAST(count(*) AS BIGINT) AS common
                FROM ed GROUP BY 1, 2)
         SELECT e.x, e.y, dx.degree AS deg_x, dy.degree AS deg_y,
                coalesce(cm.common, 0) AS common_neighbors,
                dx.degree + dy.degree - 2 - coalesce(cm.common, 0)
                  AS union_neighbors,
                CASE WHEN dx.degree + dy.degree - 2 - coalesce(cm.common, 0) > 0
                     THEN CAST(coalesce(cm.common, 0) AS DOUBLE)
                          / CAST(dx.degree + dy.degree - 2
                                 - coalesce(cm.common, 0) AS DOUBLE)
                END AS jaccard
         FROM e LEFT JOIN cm ON e.x = cm.x AND e.y = cm.y
                JOIN d dx ON e.x = dx.node
                JOIN d dy ON e.y = dy.node""",
    "q11_important_stock" ->
      """WITH p AS (SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
               FROM lineitem GROUP BY 1),
         t AS (SELECT sum(value_cents) AS tot FROM p)
         SELECT l_partkey, value_cents
         FROM p CROSS JOIN t
         WHERE value_cents * 1600 > tot""",
    "q_kcore" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         a0 AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
         k1 AS (SELECT src FROM a0 GROUP BY 1 HAVING count(*) >= 3),
         a1 AS (SELECT a0.src, a0.dst FROM a0
                WHERE a0.src IN (SELECT src FROM k1)
                  AND a0.dst IN (SELECT src FROM k1)),
         k2 AS (SELECT src FROM a1 GROUP BY 1 HAVING count(*) >= 3),
         a2 AS (SELECT a1.src, a1.dst FROM a1
                WHERE a1.src IN (SELECT src FROM k2)
                  AND a1.dst IN (SELECT src FROM k2)),
         k3 AS (SELECT src FROM a2 GROUP BY 1 HAVING count(*) >= 3),
         a3 AS (SELECT a2.src, a2.dst FROM a2
                WHERE a2.src IN (SELECT src FROM k3)
                  AND a2.dst IN (SELECT src FROM k3)),
         k4 AS (SELECT src FROM a3 GROUP BY 1 HAVING count(*) >= 3),
         a4 AS (SELECT a3.src, a3.dst FROM a3
                WHERE a3.src IN (SELECT src FROM k4)
                  AND a3.dst IN (SELECT src FROM k4))
         SELECT src AS node, CAST(count(*) AS BIGINT) AS residual_degree
         FROM a4 GROUP BY 1""",
    "q_assortativity" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         bo AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
         d AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
               FROM bo GROUP BY 1),
         j AS (SELECT ds.degree AS da, dd.degree AS db
               FROM bo JOIN d ds ON bo.src = ds.node
                       JOIN d dd ON bo.dst = dd.node),
         g AS (SELECT count(*) AS n, sum(da) AS sa, sum(db) AS sb,
                 sum(da * db) AS sab, sum(da * da) AS saa,
                 sum(db * db) AS sbb
               FROM j)
         SELECT CAST(n AS BIGINT) AS n_directed_edges,
                CAST(sa AS BIGINT) AS sum_deg,
                CAST(sab AS BIGINT) AS sum_deg_prod,
                CAST(saa AS BIGINT) AS sum_deg_sq,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS assortativity
         FROM g""",
    "q_label_prop" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         bo AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
         nodes AS (SELECT DISTINCT src AS node FROM bo),
         l0 AS (SELECT node, node AS lbl FROM nodes),
         n1 AS (SELECT bo.dst AS node, l0.lbl FROM bo JOIN l0 ON bo.src = l0.node),
         c1 AS (SELECT node, lbl, CAST(count(*) AS BIGINT) AS c FROM n1 GROUP BY 1, 2),
         p1 AS (SELECT node, max(c * 4294967296 + (4294967295 - lbl)) AS pk
                FROM c1 GROUP BY 1),
         l1 AS (SELECT node, 4294967295 - (pk % 4294967296) AS lbl FROM p1),
         n2 AS (SELECT bo.dst AS node, l1.lbl FROM bo JOIN l1 ON bo.src = l1.node),
         c2 AS (SELECT node, lbl, CAST(count(*) AS BIGINT) AS c FROM n2 GROUP BY 1, 2),
         p2 AS (SELECT node, max(c * 4294967296 + (4294967295 - lbl)) AS pk
                FROM c2 GROUP BY 1),
         l2 AS (SELECT node, 4294967295 - (pk % 4294967296) AS lbl FROM p2),
         n3 AS (SELECT bo.dst AS node, l2.lbl FROM bo JOIN l2 ON bo.src = l2.node),
         c3 AS (SELECT node, lbl, CAST(count(*) AS BIGINT) AS c FROM n3 GROUP BY 1, 2),
         p3 AS (SELECT node, max(c * 4294967296 + (4294967295 - lbl)) AS pk
                FROM c3 GROUP BY 1),
         l3 AS (SELECT node, 4294967295 - (pk % 4294967296) AS lbl FROM p3)
         SELECT node, lbl AS community FROM l3""",
    "q_degree_dist" ->
      """WITH b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                 SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1)
         SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         FROM d GROUP BY 1""",
    "q2_min_cost_supplier" ->
      """WITH g AS (SELECT l_partkey,
                 min(CAST(round(l_extendedprice * 100) AS BIGINT) * 4294967296
                     + l_suppkey) AS p
               FROM lineitem GROUP BY 1)
         SELECT g.l_partkey,
                g.p // 4294967296 AS min_price_cents,
                g.p % 4294967296 AS supp_key,
                s.s_name
         FROM g JOIN supplier s ON g.p % 4294967296 = s.s_suppkey"""
  )

  /** Oracle for q_ema: the same truncated-EWMA integer weights
    * (n-1)^j (n+1)^(n-1-j) as CandleOps.ema, generated as BIGINT
    * literals over explicit lags so DuckDB reproduces the exact
    * numerator/denominator and the single IEEE division bit-for-bit.
    * BIGINT, not HUGEINT, on purpose: DuckDB's HUGEINT→DOUBLE cast
    * converts the two 64-bit halves separately and double-rounds on
    * rare values, while int64→double is correctly rounded in both
    * engines — so the checked configuration must keep
    * n·(n+1)^(n-1)·maxCents under 2^63 (n=12 covers cents to ~4e5;
    * DuckDB raises on overflow rather than wrapping, so a violation
    * is loud).
    */
  /** Oracle for q_macd, mirroring [[graft.operators.CandleOps.macd]]'s
    * exact-rational arithmetic: the weighted-lag EMA numerators/
    * denominators accumulate in HUGEINT (the cross-multiplies reach
    * ~1e28, past int64), the macd is ONE double division, the signal
    * EMA runs over the floor-quantized micro-cents macd.
    */
  private def macdOracleSql(fast: Int, slow: Int, signalN: Int): String = {
    def weights(n: Int) = (0 until n).map { j =>
      BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(n: Int, x: String) = weights(n).zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(n: Int, x: String) = weights(n).zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         m1 AS (SELECT user_id, bucket_ts, cents,
                 ${numSql(fast, "cents")} AS nf,
                 ${denSql(fast, "cents")} AS df,
                 ${numSql(slow, "cents")} AS ns,
                 ${denSql(slow, "cents")} AS ds
                FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         m2 AS (SELECT user_id, bucket_ts, cents,
                 CAST(nf * ds - ns * df AS DOUBLE) / CAST(df * ds AS DOUBLE) AS macd
                FROM m1),
         m3 AS (SELECT user_id, bucket_ts, cents, macd,
                 CAST(floor(macd * 1000000) AS BIGINT) AS macd_micro FROM m2),
         sig AS (SELECT user_id, bucket_ts, cents, macd, macd_micro,
                 CAST(${numSql(signalN, "macd_micro")} AS DOUBLE)
                 / CAST(${denSql(signalN, "macd_micro")} AS DOUBLE) AS sig_v
                FROM m3 WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cents AS close_cents, macd AS macd_cents,
                macd_micro, sig_v AS signal_micro,
                CAST(macd_micro AS DOUBLE) - sig_v AS hist_micro
         FROM sig"""
  }

  /** Oracle for q_holt_brown: the engine's twice-applied truncated
    * EWMA with Brown's rational identities expanded over HUGEINTs —
    * level/trend/forecast each one IEEE division, matching the
    * decimal(38,0) arithmetic bit for bit.
    */
  private def holtOracleSql(n: Int): String = {
    def weights = (0 until n).map { j =>
      BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         m1 AS (SELECT user_id, bucket_ts, cents,
                 ${numSql("cents")} AS n1,
                 ${denSql("cents")} AS d1
                FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         m2 AS (SELECT user_id, bucket_ts, cents,
                 CAST(floor((CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE)) * 1000000)
                      AS BIGINT) AS s1_micro
                FROM m1),
         m3 AS (SELECT user_id, bucket_ts, cents, s1_micro,
                 ${numSql("s1_micro")} AS n2,
                 ${denSql("s1_micro")} AS d2
                FROM m2 WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cents AS close_cents, s1_micro,
                CAST(2 * s1_micro * d2 - n2 AS DOUBLE) / CAST(d2 AS DOUBLE)
                  AS level_micro,
                CAST(2 * (s1_micro * d2 - n2) AS DOUBLE)
                  / CAST(${n - 1} * d2 AS DOUBLE) AS trend_micro,
                CAST((2 * s1_micro * d2 - n2) * ${n - 1}
                     + 2 * (s1_micro * d2 - n2) AS DOUBLE)
                  / CAST(${n - 1} * d2 AS DOUBLE) AS forecast_micro
         FROM m3"""
  }

  /** Oracle for q_keltner: EMA num/den weights and the windowed TR
    * sum/count combined over the common denominator in HUGEINTs —
    * mid/upper/lower each one IEEE division.
    */
  private def keltnerOracleSql(emaN: Int, atrN: Int, k: Int): String = {
    def weights = (0 until emaN).map { j =>
      BigInt(emaN - 1).pow(j) * BigInt(emaN + 1).pow(emaN - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         t AS (SELECT user_id, bucket_ts, cl,
                 CASE WHEN lag(cl) OVER w IS NULL THEN h - l
                      ELSE greatest(h - l, abs(h - lag(cl) OVER w),
                                    abs(l - lag(cl) OVER w)) END AS tr,
                 ${numSql("cl")} AS ne,
                 ${denSql("cl")} AS de
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         s AS (SELECT user_id, bucket_ts, cl, tr, ne, de,
                 CAST(sum(tr) OVER wa AS HUGEINT) AS ts,
                 CAST(count(*) OVER wa AS HUGEINT) AS tc
               FROM t
               WINDOW wa AS (PARTITION BY user_id ORDER BY bucket_ts
                             ROWS BETWEEN ${atrN - 1} PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, cl AS close_cents, tr AS tr_cents,
                CAST(ne AS DOUBLE) / CAST(de AS DOUBLE) AS mid_cents,
                CAST(ne * tc + $k * ts * de AS DOUBLE)
                  / CAST(de * tc AS DOUBLE) AS upper_cents,
                CAST(ne * tc - $k * ts * de AS DOUBLE)
                  / CAST(de * tc AS DOUBLE) AS lower_cents
         FROM s"""
  }

  /** Oracle for q_ewma_vol: the truncated EWMA weights over squared
    * cent moves in HUGEINTs; variance = one division, vol = its sqrt.
    */
  private def ewmaVolOracleSql(n: Int): String = {
    def weights = (0 until n).map { j =>
      BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 cents - lag(cents) OVER w AS dd,
                 (cents - lag(cents) OVER w) * (cents - lag(cents) OVER w) AS d2
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         v AS (SELECT user_id, bucket_ts, dd,
                 ${numSql("d2")} AS nv,
                 ${denSql("d2")} AS dv
               FROM d WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, dd AS move_cents,
                CASE WHEN dd IS NOT NULL
                     THEN CAST(nv AS DOUBLE) / CAST(dv AS DOUBLE) END
                  AS ewma_var_cents2,
                CASE WHEN dd IS NOT NULL
                     THEN sqrt(CAST(nv AS DOUBLE) / CAST(dv AS DOUBLE)) END
                  AS ewma_vol_cents
         FROM v"""
  }

  /** Oracle for q_heikin_ashi: hc4 = cents OHLC sum (= 4·ha_close
    * cents); ha_open = Σ 2^(n-j)·hc4_lag_j / (400·Σ 2^(n-j) present),
    * the engine's truncated dyadic EWMA, seeded at raw (o+c)/2.
    */
  private def haOracleSql(nWindow: Int): String = {
    def lagExpr(j: Int) = s"lag(hc4, $j) OVER w"
    val numTerms = (1 to nWindow).map { j =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN ${1L << (nWindow - j)} * ${lagExpr(j)} ELSE 0 END"
    }.mkString("\n                + ")
    val wTerms = (1 to nWindow).map { j =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN CAST(${1L << (nWindow - j)} AS BIGINT) ELSE 0 END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_min(value, ts) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, open, high, low, close,
                 CAST(round(open * 100) AS BIGINT) AS oc,
                 CAST(round(close * 100) AS BIGINT) AS cc,
                 CAST(round(open * 100) AS BIGINT) + CAST(round(high * 100) AS BIGINT)
                   + CAST(round(low * 100) AS BIGINT) + CAST(round(close * 100) AS BIGINT) AS hc4
               FROM r1h),
         h AS (SELECT user_id, bucket_ts, high, low, oc, cc, hc4,
                 $numTerms AS num,
                 $wTerms AS wsum
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         ha AS (SELECT user_id, bucket_ts, high, low,
                 CASE WHEN wsum = 0
                      THEN CAST(oc + cc AS DOUBLE) / 200.0
                      ELSE CAST(num AS DOUBLE) / CAST(wsum * 400 AS DOUBLE) END AS ha_open,
                 CAST(hc4 AS DOUBLE) / 400.0 AS ha_close
               FROM h)
         SELECT user_id, bucket_ts, ha_open, ha_close,
                greatest(high, ha_open, ha_close) AS ha_high,
                least(low, ha_open, ha_close) AS ha_low
         FROM ha"""
  }

  private def emaOracleSql(nWindow: Int): String = {
    val weights = (0 until nWindow).map { j =>
      BigInt(nWindow - 1).pow(j) * BigInt(nWindow + 1).pow(nWindow - 1 - j)
    }
    def lagExpr(j: Int) = if (j == 0) "cents" else s"lag(cents, $j) OVER w"
    val numTerms = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN CAST($wj AS BIGINT) * ${lagExpr(j)} ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n                + ")
    val denTerms = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN CAST($wj AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h)
         SELECT user_id, bucket_ts, cents AS close_cents,
                CAST($numTerms AS DOUBLE)
                / CAST($denTerms AS DOUBLE) AS ema_cents
         FROM c
         WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)"""
  }
}
