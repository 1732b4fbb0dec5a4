package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.BasketOps
import graft.sources.Tables

/** The the co-purchase graph queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object GraphQueries {
  /** Co-purchase edge list: item pairs in two or more baskets, smaller
    * item first (`b`, `e`).
    */
  private val itemEdgeCtes: String =
    """b AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2)"""

  /** Co-purchase edges and item degrees (`e`, `d`). */
  private val degreeCtes: String =
    s"""$itemEdgeCtes,
         d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                 SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1)"""

  /** Item degrees (`d`) and degree-ordered triangles (`t`). */
  private val triangleCtes: String =
    s"""$degreeCtes,
         t AS (SELECT e1.x AS a, e1.y AS bb, e2.y AS c
               FROM e e1 JOIN e e2 ON e1.y = e2.x
                         JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)"""

  val all: Seq[Q] = Seq(
    // ----- The shared co-purchase edge list itself: the stored-rollup
    // derivation the seven graph queries read (Derived.itemEdges
    // materializes it once per session). This entry runs the REBUILD
    // path: it both pins the derivation's content against the oracle
    // and carries the full build cost as its own bench line (a cache
    // read here would hide the ingest-time cost entirely), instead of
    // smearing that cost across every graph query. -------------------
    Q("q_item_edges", (s, dir) =>
      graft.sources.Derived.itemEdgesRebuilt(s, dir),
      Some(s"""WITH $itemEdgeCtes
         SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y FROM e""")),

    // ----- Incremental edge-store maintenance, the daily production
    // shape that replaces the whole-corpus rebuild above (35.9 s at
    // sf1): a synthetic new-order batch (every 10th order under fresh
    // ids) folds into the STANDING support table — pair supports are
    // additive over baskets, so the fold is delta-aggregate +
    // full-outer sum, work scaling with the batch. Keeping
    // sub-threshold supports in the store is what lets the fold
    // promote pairs across the >= 2 threshold (asserted non-trivial
    // in DerivedSpec). Oracle = full recompute over the union. ------
    Q("q_item_edges_incremental", (s, dir) => {
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
    },
      // Fold == full recompute over the union (new basket ids disjoint)
      Some("""WITH mx AS (SELECT max(l_orderkey) + 1 AS o FROM lineitem),
         nb AS (SELECT l_orderkey + (SELECT o FROM mx) AS bk, l_partkey AS it
                FROM lineitem WHERE l_orderkey % 10 = 0),
         u AS (SELECT l_orderkey AS bk, l_partkey AS it FROM lineitem
               UNION ALL SELECT bk, it FROM nb),
         b AS (SELECT bk, it FROM u GROUP BY 1, 2),
         e AS (SELECT a.it AS x, c.it AS y, CAST(count(*) AS BIGINT) AS support
               FROM b a JOIN b c USING (bk)
               WHERE a.it < c.it GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, support FROM e""")),

    // ----- Item-graph triangles: degree-ordered orientation bounds
    // the wedge join by the O(sqrt m) arboricity bound — per-node
    // triangle counts + local clustering, all exact ------------------
    Q("q_triangles", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.triangleStats(edges)
    },
      Some(s"""WITH $triangleCtes,
         pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                  SELECT a AS node FROM t
                  UNION ALL SELECT bb FROM t
                  UNION ALL SELECT c FROM t) GROUP BY 1)
         SELECT d.node, d.degree, coalesce(pn.n_triangles, 0) AS n_triangles,
                CASE WHEN d.degree >= 2
                     THEN CAST(coalesce(pn.n_triangles, 0) * 2 AS DOUBLE)
                          / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                     ELSE 0.0 END AS clustering
         FROM d LEFT JOIN pn USING (node)""")),

    // ----- Pinned fixed-point PageRank over the co-purchase graph:
    // integer-scaled ranks, floor divisions, 3 iterations — the CC
    // loop's join+aggregate shape, bit-identical on any engine -------
    Q("q_pagerank", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.pagerankPinned(edges, iterations = 3)
    },
      // 3 unrolled fixed-point iterations; every arithmetic step is a
      // positive-integer floor, so HUGEINT intermediates cast back to
      // BIGINT losslessly and the ranks match the engine bit for bit
      Some(s"""WITH $itemEdgeCtes,
         ${Shared.pagerankCtes}
         SELECT node, rank AS rank_scaled FROM r3""")),

    // ----- Market-basket co-occurrence: same-order part pairs, fan-out
    // bounded by the per-order line cap, deterministic top-100 --------
    Q("q_copurchase", (s, dir) =>
      BasketOps.coOccurrence(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey", topN = 100),
      Some("""WITH i AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS itm
                    FROM lineitem)
         SELECT a.itm AS item_a, bb.itm AS item_b, count(*) AS n_baskets
         FROM i a JOIN i bb ON a.b = bb.b AND a.itm < bb.itm
         GROUP BY 1, 2
         ORDER BY n_baskets DESC, item_a, item_b
         LIMIT 100""")),

    // ----- Edge-level neighborhood Jaccard (tie strength / bridge
    // detection): triangles exploded onto their 3 edges, one division -
    Q("q_edge_overlap", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.edgeOverlap(edges)
    },
      Some(s"""WITH $triangleCtes,
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
                JOIN d dy ON e.y = dy.node""")),

    // ----- k-core by 4 pinned peeling rounds: the tightly-knit
    // sub-catalog that survives repeated low-degree removal ---------------
    Q("q_kcore", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.kCorePinned(edges, k = 3, rounds = 4)
    },
      Some(s"""WITH $itemEdgeCtes,
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
         FROM a4 GROUP BY 1""")),

    // ----- Degree assortativity: do hub items co-sell with hubs?
    // One number, exact decimal co-moments over edges x degrees ----------
    Q("q_assortativity", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.assortativity(edges)
    },
      Some(s"""WITH $itemEdgeCtes,
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
         FROM g""")),

    // ----- Community detection: synchronous label propagation, 3
    // pinned rounds, ties to the smallest label via the integer pack ----
    Q("q_label_prop", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.labelPropagationPinned(edges, rounds = 3)
    },
      Some(s"""WITH $itemEdgeCtes,
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
         SELECT node, lbl AS community FROM l3""")),

    // ----- Degree distribution of the co-purchase graph: the hub
    // health check before any pairwise op -------------------------------
    Q("q_degree_dist", (s, dir) => {
      val edges = graft.sources.Derived.itemEdges(s, dir)
      graft.operators.GraphOps.degreeHistogram(edges)
    },
      Some(s"""WITH $degreeCtes
         SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         FROM d GROUP BY 1"""))
  )
}
