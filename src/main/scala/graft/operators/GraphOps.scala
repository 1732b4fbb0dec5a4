package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Graph analytics over co-occurrence graphs — the network step after
  * [[BasketOps]]: items that sell together form a graph; its triangles
  * and stationary ranks answer "which item communities are tight" and
  * "which items anchor the catalog" (the same shapes near-dup cluster
  * audits need). Everything is exact integer arithmetic, so results
  * hash-match any engine.
  */
object GraphOps {

  /** Canonical co-occurrence pair SUPPORTS (x < y, support = number of
    * baskets containing both) — the UNFILTERED carrier table a stored
    * edge rollup persists: keeping sub-threshold supports is what lets
    * a later incremental fold promote a pair across the threshold
    * (the same carrier-column principle as the rollup cascade's A6/A7
    * state columns). Two shuffles: basket gather + pair count.
    */
  def itemEdgeSupports(
      facts: DataFrame,
      basketCol: String,
      itemCol: String,
      pinWidth: Boolean = false
  ): DataFrame = {
    // Par.spread on the basket key: same rationale and trade-off as
    // [[BasketOps.coOccurrence]] — the fused complete-aggregate +
    // C(items,2) pair-expansion + partial-count stage is the compute
    // bill, and AQE sizes it by its few-MB input (1 task at sf0.1 on
    // 32 cores, round-15 profile). The exchange carries projected raw
    // (basket, item) rows instead of partial sets; the pair stage's
    // per-byte amplification dominates that 2-3x byte delta.
    // pinWidth default FALSE (r15 advice — RankOps' convention): the
    // pinned 32-wide stage's fixed per-task costs beat its win on
    // small inputs (q_item_edges_incremental 0.82 -> 1.20 s when the
    // delta was pinned, round-15 measured), so AQE sizes every caller
    // that doesn't opt in; the corpus-scale call sites ([[itemEdges]],
    // Derived's standing-store derivations, StreamBench's full-corpus
    // legs) pass pinWidth = true explicitly.
    val projected = facts.select(col(basketCol), col(itemCol))
    val spread =
      if (pinWidth) graft.api.Par.spread(projected, Seq(col(basketCol)))
      else projected
    val baskets = spread
      .groupBy(col(basketCol).as("__b"))
      .agg(sort_array(collect_set(col(itemCol).cast(LongType))).as("__items"))
    baskets
      .select(col("__items"), posexplode(col("__items")).as(Seq("__i", "x")))
      .select(col("x"),
        explode(slice(col("__items"), col("__i") + lit(2), size(col("__items")))).as("y"))
      // Deliberately NOT spread (unlike [[BasketOps.coOccurrence]]'s
      // pair count): this aggregate's output feeds the Derived
      // checkpoint that the iterative graph consumers (pagerank, label
      // propagation, triangles) re-read once per iteration — a
      // 32-partition checkpoint multiplied their per-iteration
      // scheduling cost past the whole win (q_pagerank 1.0 → 3.6 s
      // wall, round-15 measured) while the support merge it would have
      // widened costs well under a second. AQE's byte-sized coalescing
      // is the right currency for an iteration-fanout carrier.
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("support"))
  }

  /** Canonical co-occurrence edges (x < y) with support ≥ `minSupport`
    * baskets — the read view over [[itemEdgeSupports]], the
    * [[BasketOps.coOccurrence]] shape with a support threshold instead
    * of a top-N.
    */
  def itemEdges(
      facts: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long
  ): DataFrame =
    itemEdgeSupports(facts, basketCol, itemCol, pinWidth = true)
      .filter(col("support") >= minSupport)
      .select(col("x"), col("y"))

  /** Incremental edge-store maintenance: fold a NEW batch of baskets
    * into the standing support table. Pair supports are additive over
    * baskets (each basket contributes its own pairs exactly once and
    * batch basket ids are disjoint from standing ones), so the fold is
    * delta-aggregate + full-outer sum — work scales with the DELTA's
    * pair volume; the standing side is read, never re-derived. Under
    * a (x, y)-bucketed store ([[graft.sources.BucketedStore]]) the
    * join is co-located and only the delta shuffles — the daily
    * production shape that replaces the whole-corpus rebuild
    * (measured 35.9 s at sf1, PERF.md round-7) with a batch-sized
    * fold.
    */
  def foldItemEdgeSupports(
      standing: DataFrame,
      newFacts: DataFrame,
      basketCol: String,
      itemCol: String
  ): DataFrame = {
    val delta = itemEdgeSupports(newFacts, basketCol, itemCol, pinWidth = false)
      .withColumnRenamed("support", "__ds")
    standing.withColumnRenamed("support", "__ss")
      .join(delta, Seq("x", "y"), "full_outer")
      .select(col("x"), col("y"),
        (coalesce(col("__ss"), lit(0L)) + coalesce(col("__ds"), lit(0L)))
          .as("support"))
  }

  /** Shared triangle enumeration: canonical edges, degrees, and the
    * exactly-once triangle list (a, b, c) — `a` the lowest-(degree, id)
    * vertex, `b < c` the canonical closing edge.
    *
    * Scale shape — degree-ordered orientation: each edge points from
    * its lower-(degree, id) endpoint to the higher, wedges form only
    * at each node's OUT-neighbors, and a wedge closes iff its two ends
    * are an edge. Out-degrees under this orientation are bounded by
    * O(√m) on any graph (arboricity bound), so the wedge join is
    * Σ outdeg² — not the Σ deg² of a naive wedge enumeration that a
    * power-law hub would blow up. Each triangle is produced exactly
    * once (at its unique lowest-(degree, id) vertex). [[edgeOverlap]]
    * reuses the same enumeration so the two reports can never disagree.
    */
  private def trianglesOf(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // the edge list feeds five plan branches (degrees, two orientation
    // sides, the closing join, the final report); materialize it once
    // instead of re-running the upstream pair generation per branch
    val canon = edges.select(col("x").cast(LongType), col("y").cast(LongType))
      .localCheckpoint(true)
    val deg = canon.select(col("x").as("node"))
      .unionByName(canon.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // orient: (src, dst) with (deg, id) of src < of dst
    val dx = deg.select(col("node").as("x"), col("degree").as("__dx"))
    val dy = deg.select(col("node").as("y"), col("degree").as("__dy"))
    val oriented = canon.join(dx, "x").join(dy, "y")
      .select(
        when(col("__dx") < col("__dy") ||
          (col("__dx") === col("__dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("src"),
        when(col("__dx") < col("__dy") ||
          (col("__dx") === col("__dy") && col("x") < col("y")), col("y"))
          .otherwise(col("x")).as("dst"))
    val w1 = oriented.select(col("src").as("a"), col("dst").as("b"))
    val w2 = oriented.select(col("src").as("a"), col("dst").as("c"))
    // wedge ends in canonical order so the closing join hits the
    // canonical edge list directly
    val wedges = w1.join(w2, "a").filter(col("b") < col("c"))
    val tris = wedges.join(canon,
      col("b") === col("x") && col("c") === col("y"))
      .select(col("a"), col("b"), col("c"))
    (canon, deg, tris)
  }

  /** Per-node triangle counts + local clustering coefficient over
    * canonical (x < y) edges — see [[trianglesOf]] for the wedge-join
    * bound. Clustering = 2T/deg(deg−1), one division of exact longs.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val (_, deg, tris) = trianglesOf(edges)
    val perNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Edge-level neighborhood overlap: for every canonical edge (x, y),
    * the common-neighbor count (= triangles through that edge), the
    * neighborhood-union size |N(x)∪N(y)|∖{x,y} = deg(x)+deg(y)−2−common,
    * and their Jaccard similarity — the tie-strength measure behind
    * weak-tie/bridge detection (a low-Jaccard edge joins communities;
    * a high one sits inside a clique).
    *
    * No new join shape: each triangle from [[trianglesOf]] is exploded
    * into its 3 canonical edges and counted — the expensive part is the
    * same arboricity-bounded wedge join the triangle report pays, and
    * the explode adds 3 rows per triangle, shuffled once by edge.
    * Jaccard is one division of exact longs; an isolated edge (union 0)
    * reports NULL rather than a fake 0 or 1.
    */
  def edgeOverlap(edges: DataFrame): DataFrame = {
    val (canon, deg, tris) = trianglesOf(edges)
    // the 3 edges of (a,b,c): a is min-(deg,id), not min-id — but each
    // pair below IS id-canonical: (a,b),(a,c) came oriented off canon
    // edges, and (b,c) is the canonical closing edge with b < c… except
    // (a,b)/(a,c) when a is the HIGHER id (orientation is by degree).
    // Normalize with least/greatest so the count lands on canon's key.
    val triEdges = tris.select(explode(array(
      struct(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y")),
      struct(least(col("a"), col("c")).as("x"), greatest(col("a"), col("c")).as("y")),
      struct(least(col("b"), col("c")).as("x"), greatest(col("b"), col("c")).as("y"))))
      .as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
    val common = triEdges.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common_neighbors"))
    val dx = deg.select(col("node").as("x"), col("degree").as("deg_x"))
    val dy = deg.select(col("node").as("y"), col("degree").as("deg_y"))
    val cn = coalesce(col("common_neighbors"), lit(0L))
    val union = col("deg_x") + col("deg_y") - lit(2L) - cn
    canon.join(common, Seq("x", "y"), "left")
      .join(dx, "x").join(dy, "y")
      .select(col("x"), col("y"), col("deg_x"), col("deg_y"),
        cn.as("common_neighbors"), union.as("union_neighbors"),
        when(union > 0, cn.cast("double") / union.cast("double"))
          .as("jaccard"))
  }

  /** Degree distribution of the co-occurrence graph: how many nodes
    * have each degree — the one-line health check that catches a
    * degenerate basket (a hub touching everything) before it blows up
    * a downstream pairwise op. Two hash aggregates, no joins.
    */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.select(col("x").cast(LongType).as("node"))
      .unionByName(edges.select(col("y").cast(LongType).as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Degree assortativity (practical variant): the Pearson correlation
    * of endpoint degrees over the DIRECTED both-orientation edge list —
    * positive means hubs link hubs, negative means hubs fan out to the
    * periphery (what a co-purchase catalog usually does). Exact long
    * co-moments, one division by a correctly-rounded sqrt — the
    * [[MicrostructureOps.corrMatrix]] contract on graph structure.
    * One aggregate over (edges ⋈ degrees); no iteration.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val canon = edges.select(col("x").cast(LongType), col("y").cast(LongType))
    val both = canon.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(canon.select(col("y").as("src"), col("x").as("dst")))
    val deg = both.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val ds = deg.select(col("node").as("src"), col("degree").as("__da"))
    val dd = deg.select(col("node").as("dst"), col("degree").as("__db"))
    val joined = both.join(ds, "src").join(dd, "dst")
    // decimal co-moments: n·Σd² on a hub-heavy graph runs past int64
    // long before the graph is "big" (1e6 edges of degree 1e4 already
    // overflow); DuckDB's HUGEINT mirrors the decimal exactly
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val n = count(lit(1)).cast(dec)
    val sa = sum(col("__da").cast(dec))
    val sb = sum(col("__db").cast(dec))
    val sab = sum((col("__da") * col("__db")).cast(dec))
    val saa = sum((col("__da") * col("__da")).cast(dec))
    val sbb = sum((col("__db") * col("__db")).cast(dec))
    joined.agg(
      n.cast(LongType).as("n_directed_edges"),
      sa.cast(LongType).as("sum_deg"),
      sab.cast(LongType).as("sum_deg_prod"),
      saa.cast(LongType).as("sum_deg_sq"),
      when(n * saa - sa * sa > 0 && n * sbb - sb * sb > 0,
        (n * sab - sa * sb).cast("double") /
          sqrt((n * saa - sa * sa).cast("double") *
            (n * sbb - sb * sb).cast("double")))
        .as("assortativity"))
  }

  /** Synchronous label propagation with PINNED rounds: every node
    * starts labeled by its own id; each round it adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label —
    * picked by one integer max over `count·2³² + (2³²−1−label)` (the
    * [[MicrostructureOps.aroon]] pack: no first/last nondeterminism,
    * no float). A fixed round count instead of convergence detection
    * makes the result a pure function of the edge list — bit-identical
    * on any engine — at the price the PageRank pin already documents
    * (sync LPA can oscillate on bipartite structures; a pinned horizon
    * reports that state honestly).
    *
    * Each round = one join + two hash aggregates over (edge, label);
    * label state is node-sized and checkpointed per round.
    */
  def labelPropagationPinned(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 10, s"rounds=$rounds outside [1, 10]")
    val P = 1L << 32
    val canon = edges.select(col("x").cast(LongType), col("y").cast(LongType))
    val both = canon.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(canon.select(col("y").as("src"), col("x").as("dst")))
      .localCheckpoint(true)
    val guard = (c: Column) => when(c >= 0 && c < P - 1, c)
      .otherwise(raise_error(concat(
        lit("labelPropagationPinned: node id "), c.cast("string"),
        lit(s" outside the pack-exact range [0, ${P - 2}]"))))
    var labels = both.select(guard(col("src")).as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val nbr = both.join(
        labels.select(col("node").as("src"), col("lbl")), "src")
      val picked = nbr.groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("dst").as("node"))
        .agg(max(col("__c") * P + (lit(P - 1) - col("lbl"))).as("__pk"))
      labels = picked
        .select(col("node"), (lit(P - 1) - pmod(col("__pk"), lit(P))).as("lbl"))
        .localCheckpoint(true)
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** k-core by PINNED peeling rounds: each round simultaneously drops
    * every node whose CURRENT degree is below `k`, then recomputes
    * degrees over the surviving subgraph. True k-core peeling runs to a
    * fixpoint; a fixed round count keeps the result a pure function of
    * the edge list (the [[pagerankPinned]]/[[labelPropagationPinned]]
    * pin) and reports the un-converged residue honestly: surviving
    * nodes carry their residual degree, which may still dip under `k`
    * if `rounds` didn't reach the fixpoint — callers see it, not a
    * silent wrong core. Peeling is monotone, so every TRUE k-core
    * member always survives every round.
    *
    * Each round = one aggregate + two semi-joins over the alive edge
    * list, which only shrinks; state is edge-sized, checkpointed per
    * round.
    */
  def kCorePinned(edges: DataFrame, k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(rounds >= 1 && rounds <= 10, s"rounds=$rounds outside [1, 10]")
    val canon = edges.select(col("x").cast(LongType), col("y").cast(LongType))
    var alive = canon.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(canon.select(col("y").as("src"), col("x").as("dst")))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = alive.groupBy(col("src")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select(col("src"))
      alive = alive
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(true)
    }
    alive.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("residual_degree"))
  }

  /** Fixed-point PageRank over the undirected graph, pinned for
    * hash-equality: ranks are integers scaled by `scale`, every
    * division is a FLOOR of positive integers, and the iteration count
    * is fixed — so two engines produce bit-identical ranks (floats
    * would drift by summation order; floor-quantized fixed point
    * cannot). The usual price: ~1e-9 of mass floors away per hop,
    * which is noise against the teleport term.
    *
    * Iteration shape = the CC loop's: one join + one aggregate per
    * round over (edge, rank) — rank state is node-sized, edges shuffle
    * once per round keyed by src.
    */
  def pagerankPinned(
      edges: DataFrame,
      iterations: Int = 3,
      scale: Long = 1000000000L,
      dampingPct: Long = 85L
  ): DataFrame =
    pagerankPinnedKeyed(
      edges.select(col("x").cast(LongType), col("y").cast(LongType)),
      iterations, scale, dampingPct)

  /** [[pagerankPinned]] without the long-id cast: node ids keep their
    * type (string words for TextRank, longs for item graphs) — the
    * fixed-point arithmetic never touches the id, only joins on it.
    */
  def pagerankPinnedKeyed(
      edges: DataFrame,
      iterations: Int = 3,
      scale: Long = 1000000000L,
      dampingPct: Long = 85L
  ): DataFrame = {
    require(iterations >= 1 && iterations <= 10, s"iterations=$iterations outside [1, 10]")
    require(dampingPct >= 0 && dampingPct <= 100, s"dampingPct=$dampingPct outside [0, 100]")
    // materialize the directed edge list once: every iteration joins
    // it, and the degree/count frames derive from it — without this
    // the co-occurrence pair generation re-runs 3x per iteration
    val canon = edges.select(col("x"), col("y"))
    val both = canon.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(canon.select(col("y").as("src"), col("x").as("dst")))
      .localCheckpoint(true)
    val deg = both.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val nNodes = broadcast(deg.agg(count(lit(1)).as("__n")))
    var ranks = deg.crossJoin(nNodes)
      .select(col("src").as("node"), expr(s"$scale div __n").as("rank"), col("__deg"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val contrib = ranks.select(col("node").as("src"), expr("rank div __deg").as("__c"))
      val inbound = both.join(contrib, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c")).as("__in"))
      ranks = ranks.drop("rank").join(inbound, Seq("node"), "left")
        .crossJoin(nNodes)
        .withColumn("rank",
          // teleport constant folded in Scala: scale*(100-d) overflows
          // an INT32 literal if left to the SQL parser
          expr(s"((${scale * (100L - dampingPct)}L div (100 * __n)))" +
            s" + (($dampingPct * coalesce(__in, 0)) div 100)"))
        .select(col("node"), col("rank"), col("__deg"))
        .localCheckpoint(true)
    }
    ranks.select(col("node"), col("rank").as("rank_scaled"))
  }
}
