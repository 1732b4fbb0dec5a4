package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.operators.{CandleOps, EntityOps, PurgeOps, QualityReport}
import graft.sources.Tables

/** The TPC-H shapes and warehouse joins queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object TpchQueries {
  /** Exact product-of-money expression: double arithmetic (IEEE-identical
    * in Spark and DuckDB for identical input order) cast once to decimal
    * for order-independent summation.
    */
  private def moneyExpr(c: Column): Column = c.cast(DecimalType(25, 8))

  val all: Seq[Q] = Seq(
    // ----- Extension: TPC-H-style aggregation + joins (SURVEY §7.2 M6)
    Q("q1_agg", (s, dir) => {
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
    },
      Some("""SELECT l_returnflag, l_linestatus,
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
         GROUP BY 1, 2""")),

    Q("q_join_orders_customer", (s, dir) =>
      Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          CandleOps.moneySum(col("o_totalprice")).as("total_revenue"),
          countDistinct(col("o_custkey")).as("n_customers")),
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
         (CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_revenue,
         count(DISTINCT o_custkey) AS n_customers
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""")),

    Q("q_join_5way", (s, dir) => {
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
    },
      Some("""SELECT n_name, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1""")),

    Q("q_topk_orders", (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    Q("q3_shipping_priority", (s, dir) => {
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
    },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    Q("q6_revenue_filter", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(moneyExpr(col("l_extendedprice") * col("l_discount")))
          .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items")),
      Some("""SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""")),

    // ----- Volume-weighted average price per part over lineitem:
    // exact cent sums, single final division --------------------------
    Q("q_vwap", (s, dir) => {
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
    },
      Some("""SELECT l_partkey,
                (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  AS total_price,
                (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  AS total_qty,
                (CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  / (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100)
                  AS vwap
         FROM lineitem GROUP BY 1""")),

    // ----- Grouping sets: ROLLUP totals ------------------------------
    Q("q_grouping_rollup", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          CandleOps.moneySum(col("l_quantity")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
         (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // ----- String function surface ------------------------------------
    Q("q_string_funcs", (s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).cast(LongType).as("name_len"),
        substring(col("p_name"), 1, 4).as("name_prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowels"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        (instr(col("p_name"), " ")).cast(LongType).as("space_pos")),
      Some("""SELECT p_partkey,
         upper(p_name) AS name_upper,
         CAST(length(p_name) AS BIGINT) AS name_len,
         substr(p_name, 1, 4) AS name_prefix,
         regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowels,
         concat_ws('|', p_brand, p_type) AS brand_type,
         CAST(strpos(p_name, ' ') AS BIGINT) AS space_pos
         FROM part""")),

    // ----- Blocked fuzzy entity resolution over the part-name
    // dictionary: first/last-token blocking, levenshtein <= 2 ---------
    Q("q_fuzzy_match", (s, dir) =>
      EntityOps.fuzzyNamePairs(Tables.part(s, dir), "p_name", maxDist = 2),
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
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
         FROM c WHERE levenshtein(name_a, name_b) <= 2""")),

    // ----- One-pass data-quality report: row rules in one aggregate,
    // key uniqueness, referential integrity (the reference's
    // data_quality_check battery as declarative constraints) ----------
    Q("q_dq_report", (s, dir) => {
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
    },
      Some("""SELECT 'value_not_null' AS rule,
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
                (SELECT count(*) FROM lineitem)""")),

    // ----- Ranking-function suite over one sorted window: every row
    // its own peer group (custkey tiebreak) so ranks are exact --------
    Q("q_window_rank", (s, dir) => {
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
    },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
                CAST(row_number() OVER w AS BIGINT) AS rn,
                CAST(dense_rank() OVER w AS BIGINT) AS drk,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM customer WHERE c_custkey % 10 = 0
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""")),

    // ----- TPC-H Q5 shape: 6-way join lineitem⋈orders⋈customer⋈supplier
    // ⋈nation⋈region with the local-supplier predicate. The three dim
    // tables broadcast (AQE size-based); the fact joins shuffle on
    // orderkey/custkey — the canonical star-join plan ------------------
    Q("q5_local_supplier", (s, dir) => {
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
    },
      Some("""SELECT n_name,
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
         GROUP BY 1""")),

    // ----- TPC-H Q10 shape: returned-item revenue per customer, top 20
    Q("q10_returned_items", (s, dir) => {
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
    },
      Some("""SELECT c_custkey, c_name, n_name, c_acctbal,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ----- TPC-H Q18 shape: large-volume orders (HAVING over a fact
    // aggregate, then re-join the fact — two passes over lineitem but
    // the second is semi-join-pruned by the qualifying orderkeys) ------
    Q("q18_large_orders", (s, dir) => {
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
    },
      Some("""WITH big AS (SELECT l_orderkey,
                (CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_qty
            FROM lineitem GROUP BY 1
            HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 25000)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
         FROM orders
         JOIN big ON o_orderkey = big.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_qty DESC, o_orderkey LIMIT 100""")),

    // ----- ROLLUP grouping sets: order counts + exact decimal revenue
    // at (priority, status), (priority), () levels with grouping ids ---
    Q("q_grouping_sets", (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          CandleOps.moneySum(col("o_totalprice")).as("total_price"),
          grouping_id().cast(LongType).as("gid")),
      Some("""SELECT o_orderpriority, o_orderstatus,
                count(*) AS n_orders,
                (CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) AS total_price,
                CAST(grouping(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
         FROM orders
         GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""")),

    // ----- Right-to-be-forgotten cascade audit: tombstoned customers
    // propagate through orders to lineitem; broadcast membership
    // probes, one scan per table, 3-row compliance report -------------
    Q("q_forget_audit", (s, dir) =>
      PurgeOps.cascadeDeleteAudit(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
        col("c_custkey") % 37 === 0),
      Some("""WITH dead AS (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
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
               UNION ALL SELECT * FROM l)""")),

    // ----- TPC-H Q4 shape: EXISTS-semi-join order-priority count
    // (orders with any line shipped after the order date) -------------
    Q("q4_order_priority", (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders")),
      Some("""SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY 1""")),

    // ----- TPC-H Q12 shape: conditional priority mix after a fact-to-
    // dim join (shipmode column absent; returnflag carries the split) -
    Q("q12_priority_by_flag", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count")),
      Some("""SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""")),

    // ----- TPC-H Q14 shape: promo revenue share. Revenue is the EXACT
    // integer cents x (100 - discount%) product — a whole-table
    // double->decimal quantization drifts on rounding ties at 600k
    // rows (one ulp was enough to hash-split the engines); integer
    // cross-products cannot. Two divisions at the very end -----------
    Q("q14_promo_revenue", (s, dir) => {
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
    },
      Some("""WITH r AS (SELECT p_type,
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
         FROM a""")),

    // ----- TPC-H Q22 shape: above-average balances (exact cents x count
    // cross-multiply, no float mean) anti-joined against urgent orders -
    Q("q22_wealthy_inactive", (s, dir) => {
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
    },
      Some("""WITH pos AS (SELECT count(*) AS n,
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
         GROUP BY 1""")),

    // ----- TPC-H Q7 shape: volume shipping between two nation pairs,
    // revenue by (supp nation, cust nation, ship year) -----------------
    Q("q7_volume_shipping", (s, dir) => {
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
    },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
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
         GROUP BY 1, 2, 3""")),

    // ----- TPC-H Q8 shape: one nation's market share of a part type
    // in one region's orders, per year — the share is ONE division of
    // two exact decimal sums --------------------------------------------
    Q("q8_market_share", (s, dir) => {
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
    },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
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
         GROUP BY 1""")),

    // ----- TPC-H Q13 shape: order-count distribution across customers
    // including the zero-order tail (left join, count non-null) --------
    Q("q13_custdist", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist")),
      Some("""SELECT c_count, count(*) AS custdist FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         GROUP BY 1""")),

    // ----- TPC-H Q21 shape: suppliers who alone kept a finished order
    // waiting — a late line, EXISTS another supplier in the order,
    // NOT EXISTS another LATE supplier (semi + anti self-correlation
    // on lineitem; late = shipped >60 days past order date, the
    // receipt/commit columns this schema does not carry) ---------------
    Q("q21_waiting_suppliers", (s, dir) => {
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
    },
      Some("""WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
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
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""")),

    // ----- TPC-H Q9 shape: product-line profit by nation and year
    // (retail-price cost proxy — the schema carries no partsupp) -------
    Q("q9_product_profit", (s, dir) => {
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
    },
      Some("""SELECT n_name,
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
         GROUP BY 1, 2""")),

    // ----- TPC-H Q16 shape: supplier variety per part attribute for
    // parts actually shipped, excluding red-flagged suppliers via
    // broadcast anti-join (no partsupp in schema: lineitem stands in) --
    Q("q16_part_supplier_variety", (s, dir) => {
      val flagged = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("__bad"))
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(broadcast(flagged), col("l_suppkey") === col("__bad"), "left_anti")
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .filter(col("p_size").isin(1, 9, 19, 29, 39, 49))
        .groupBy(col("p_brand"), col("p_type"), col("p_size").cast(LongType).as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    },
      Some("""SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) li
         JOIN part ON l_partkey = p_partkey
         WHERE p_size IN (1, 9, 19, 29, 39, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""")),

    // ----- TPC-H Q19 shape: OR-of-ANDs predicate revenue — Catalyst
    // pushes the common filters into the scan, the disjunction stays
    // one pass (no union of three scans) -------------------------------
    Q("q19_discounted_revenue", (s, dir) => {
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
    },
      Some("""SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE l_discount BETWEEN 0.02 AND 0.08
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))""")),

    // ----- TPC-H Q15 shape: top supplier(s) by quarter revenue — the
    // max is an exact decimal compare against a broadcast 1-row agg ----
    Q("q15_top_supplier", (s, dir) => {
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
    },
      Some("""WITH rev AS (SELECT l_suppkey,
                sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,8))) AS r,
                count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue, n_items
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE r = (SELECT max(r) FROM rev)""")),

    // ----- TPC-H Q17 shape: small-quantity revenue — the per-part
    // average gate is an exact cents x count cross-multiply ------------
    Q("q17_small_quantity_revenue", (s, dir) => {
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
    },
      Some("""WITH per AS (SELECT l_partkey, count(*) AS n,
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
           AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * per.n < per.sq""")),

    // ----- TPC-H Q20 shape: dominant suppliers — who shipped more
    // than half a part's 1996 volume (exact decimal cross-multiply);
    // the per-part total is a window over the (part, supp) aggregate --
    Q("q20_volume_suppliers", (s, dir) => {
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
    },
      Some("""WITH sq AS (SELECT l_partkey, l_suppkey,
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
         FROM dom JOIN supplier ON l_suppkey = s_suppkey""")),

    // ----- k-anonymity / l-diversity release gate over quasi-
    // identifiers: one hash aggregate with an exact distinct ------------
    Q("q_k_anonymity", (s, dir) =>
      PurgeOps.kAnonymityReport(
        Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
        "c_acctbal", k = 10L, l = 5L),
      Some("""SELECT c_nationkey, c_mktsegment,
                CAST(count(*) AS BIGINT) AS group_size,
                CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
                count(*) >= 10 AS meets_k,
                count(DISTINCT c_acctbal) >= 5 AS meets_l
         FROM customer GROUP BY 1, 2""")),

    // ----- TPC-H Q11 shape (adapted — no partsupp): parts carrying
    // more than 1/1600 of total observed value. The threshold compare is
    // an integer cross-multiply in decimal (value*1600 > total): no
    // float fraction, no global sort — the filter IS the answer --------
    Q("q11_important_stock", (s, dir) => {
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
    },
      Some("""WITH p AS (SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
               FROM lineitem GROUP BY 1),
         t AS (SELECT sum(value_cents) AS tot FROM p)
         SELECT l_partkey, value_cents
         FROM p CROSS JOIN t
         WHERE value_cents * 1600 > tot""")),

    // ----- TPC-H Q2 shape (adapted — no partsupp table): cheapest
    // supplier per part from observed lineitem prices, the argmin as a
    // packed integer (cents * 2^32 + suppkey) so ties break to the
    // smallest suppkey deterministically in ONE min aggregate ------------
    Q("q2_min_cost_supplier", (s, dir) => {
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
    },
      Some("""WITH g AS (SELECT l_partkey,
                 min(CAST(round(l_extendedprice * 100) AS BIGINT) * 4294967296
                     + l_suppkey) AS p
               FROM lineitem GROUP BY 1)
         SELECT g.l_partkey,
                g.p // 4294967296 AS min_price_cents,
                g.p % 4294967296 AS supp_key,
                s.s_name
         FROM g JOIN supplier s ON g.p % 4294967296 = s.s_suppkey"""))
  )
}
