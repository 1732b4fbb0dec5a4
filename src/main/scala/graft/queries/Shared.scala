package graft.queries

/** Oracle fragments copied verbatim into oracles of more than one
  * family module.
  */
object Shared {
  /** Pinned integer PageRank, 3 unrolled iterations over the undirected
    * edges `e(x, y)`: ranks scaled by 1e9 in `r3`.
    */
  private[queries] val pagerankCtes: String =
    """bo AS (SELECT x AS src, y AS dst FROM e UNION ALL SELECT y, x FROM e),
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
                FROM d CROSS JOIN n LEFT JOIN i2 ON i2.node = d.src)"""
}
