package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over near-duplicate candidate pairs — the
  * final step of every dedup pipeline: pairs (from MinHash/SimHash/
  * winnowing/cosine) form a graph; each connected component is one
  * duplicate group; the minimum id in the component is the keeper.
  *
  * Two solvers, one answer. A graph small enough to broadcast is
  * small enough to solve where the broadcast would be built: up to
  * `spark.sql.autoBroadcastJoinThreshold` / 16 directed edges (two
  * longs each) are collected and solved on the driver by union-find,
  * min id as each component's root, and come back as a local
  * relation. A near-dup graph of a few hundred edges then costs one
  * collect instead of a cache, two checkpoints and a probe — each a
  * Spark job of driver time. A larger graph (or a threshold of -1,
  * which turns broadcasting off) runs iterative min-label propagation
  * over DataFrames (small-star style): every node repeatedly adopts
  * the smallest label among itself and its neighbors until a
  * fixpoint, each iteration one join + one aggregate, with pointer
  * doubling so a long chain converges in O(log diameter) rounds; the
  * loop exits early when an iteration changes nothing. Both are
  * deterministic: labels are ids, min is order-free.
  */
object DedupGroups {

  /** Bytes a directed edge (two longs) counts against the broadcast
    * threshold when choosing the solver.
    */
  private val EdgeBytes = 16L

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("group_id", LongType)))

  /** @param pairs columns (doc_a, doc_b) — undirected candidate edges
    * @param maxIterations round limit of the distributed propagation
    *        only; the driver solve is exact at any depth
    * @return (doc_id, group_id) for every doc appearing in any pair;
    *         group_id = min doc_id of its connected component
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 10): DataFrame = {
    // Both edge directions come from ONE pass over the pair lineage
    // (explode, not self-union — the union form executed the upstream
    // pair generation twice before the cache could fill), and edges
    // are NOT distinct'd: every consumer is a min() aggregate or a
    // min-feeding join, both insensitive to duplicate edges, so the
    // dedup shuffle bought nothing.
    // (Tried round-15: caching PRE-PARTITIONED on dst so each round's
    // edges⋈labels join reads the cache in place. Helped the clique-
    // shaped single-round consumers ~0.2 s each, but cached plans pin
    // their partitioning — AQE cannot re-coalesce inside a cache — so
    // the chain-shaped semantic CC (many rounds over a tiny edge set)
    // paid the un-coalesced width every round: q_semantic_dedup
    // 1.93 → 3.16 s. Reverted; the cache stays AQE-sized.)
    val edges = pairs
      .select(col("doc_a").cast("long").as("__a"), col("doc_b").cast("long").as("__b"))
      .select(explode(array(
        struct(col("__a").as("src"), col("__b").as("dst")),
        struct(col("__b").as("src"), col("__a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
    // One size probe (graft.api.Par.bySize) reads the same cache the
    // propagation loop reads, so a graph past the bound has its pair
    // lineage computed once; the loop's eager checkpoints outlive it.
    graft.api.Par.bySize(edges, EdgeBytes)(solveOnDriver(pairs.sparkSession, _))(
      propagate(_, maxIterations))
  }

  /** Union-find over collected (src, dst) edges, rooted at each
    * component's min id. Null endpoints get the row the propagation
    * loop gives them, so both solvers agree row for row: the loop
    * keys every null-source edge to one `doc_id = null` row that
    * starts at the least non-null partner and never joins as a
    * neighbor, so only pointer doubling moves it — to that partner's
    * root once any round changes a label (a null label then drops
    * out of the doubling join), and nowhere when the start labeling
    * is already the fixpoint.
    */
  private def solveOnDriver(spark: SparkSession, edges: Array[Row]): DataFrame = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var v = x
      while (parent(v) != v) {
        val up = parent(parent(v))
        parent(v) = up
        v = up
      }
      v
    }
    var nullRow = false
    var partner: Option[Long] = None
    edges.foreach { r =>
      if (r.isNullAt(0)) {
        nullRow = true
        if (!r.isNullAt(1)) partner = Some(partner.fold(r.getLong(1))(math.min(_, r.getLong(1))))
      } else {
        val s = r.getLong(0)
        parent.getOrElseUpdate(s, s)
        if (!r.isNullAt(1)) {
          val d = r.getLong(1)
          parent.getOrElseUpdate(d, d)
          val (a, b) = (find(s), find(d))
          if (a < b) parent(b) = a else if (b < a) parent(a) = b
        }
      }
    }
    // whether the loop's first round lowers any label: some node sees
    // a neighbor whose start label (min over itself and its
    // neighbors) is below its own
    def changesAtStart: Boolean = {
      val start = mutable.LongMap.empty[Long]
      val linked = edges.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      linked.foreach { r =>
        val s = r.getLong(0)
        start(s) = math.min(start.getOrElse(s, s), r.getLong(1))
      }
      linked.exists(r => start(r.getLong(1)) < start(r.getLong(0)))
    }
    val nulls =
      if (!nullRow) Nil
      else if (!changesAtStart) Seq(Row(null, partner.map(Long.box).orNull))
      else partner.map(p => Row(null, find(p))).toList
    val rows = parent.keys.toSeq.map(v => Row(v, find(v))) ++ nulls
    spark.createDataFrame(rows.asJava, Schema)
  }

  /** Iterative min-label propagation over the cached directed `edges`. */
  private def propagate(edges: DataFrame, maxIterations: Int): DataFrame = {
    // (Tried: AQE off for the loop — 1.5-2x SLOWER. The adaptive
    // coalescing of each round's tiny shuffles down to 1-2 partitions
    // is worth far more than the re-planning overhead it costs.)
    // localCheckpoint each round: iterative self-referential lineage
    // otherwise doubles the plan every iteration (exponential plan
    // size -> analysis/explain OOM long before any data problem).
    // Checkpoints are EAGER on purpose: lazy checkpoints (materialized
    // by the convergence-sum action) measured consistently 1.5-3x
    // slower under AQE — the sum then recomputes the final stage
    // instead of scanning persisted blocks.
    // Initialize each node at min(self, direct neighbors) — the same
    // aggregate the first propagation round would compute, minus its
    // join (edges already carry dst). Clique-shaped components (the
    // common case for near-dup groups: mutually-similar docs pair all
    // ways) converge at init, so the loop's first round is already the
    // no-change detection round.
    // (Tried: leaving init unmaterialized so round 0 computes it
    // inline — measured ~20% SLOWER across the family; the round's two
    // uses of the init subtree don't reliably collapse into one
    // ReusedExchange under AQE, so the eager checkpoint stays.)
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("__m"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("__m")).as("group_id"))
      .localCheckpoint(true)

    // Convergence probe: a per-row __changed flag set where the
    // propagation step lowered a label, folded max() over the
    // checkpointed round output. Exact — labels only ever decrease, so
    // "no row lowered" IS the propagation fixpoint — and it replaces
    // the old label-sum probe, whose extra init-round action it
    // deletes. Probing the PRE-doubling state is sound: at a
    // propagation fixpoint every neighbor pair shares a label, so each
    // label is its component min and doubling is the identity.
    // (Tried round-16: PROBE-FIRST — a take(1) over
    // edges⋈labels⋈labels asking "∃ edge with label(dst) <
    // label(src)" BEFORE each round, so a converged graph skips the
    // confirmation round entirely. The probe plan reused the edges
    // cache (InMemoryTableScan verified), but each probe still cost
    // 0.27-0.43 s of driver choreography — two BroadcastExchange jobs
    // plus the take — vs ~0.6 s for a whole fused round, and every
    // CHANGING round paid it on top. Only converge-at-init graphs
    // won; the engine's star/cosine graphs run 1-2 changing rounds,
    // and the dedup family regressed (stage counts +25-40%).
    // Reverted to the observe-rides-the-checkpoint form below.)
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      // each node adopts min(own label, neighbors' labels) — left join
      // + least() rather than union+groupBy (a Union above shared join
      // lineage trips constraint rewriting in the later self-join)
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id")), "dst")
        .groupBy(col("src"))
        .agg(min("group_id").as("__nmin"))
        .withColumnRenamed("src", "doc_id")
      val propagated = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          least(col("group_id"), coalesce(col("__nmin"), col("group_id"))).as("group_id"),
          (coalesce(col("__nmin"), col("group_id")) < col("group_id")).as("__changed"))
      // pointer doubling: label(u) <- label(label(u)). Labels are
      // always doc ids present in the table, so the self-join is
      // total. One extra shuffle of the (small) label table per round
      // turns convergence from O(diameter) rounds into O(log diameter)
      // — a pathological 1000-doc duplicate chain converges in ~10
      // rounds instead of 1000.
      // (Tried: persist() + flag-probe as ONE materializing action per
      // round instead of checkpoint-then-probe — persist does not
      // truncate the LOGICAL lineage, and the self-join below
      // references `propagated` twice, so the plan tree doubles per
      // round and deep-chain graphs abort in plan printing long
      // before any data problem. The eager checkpoint stays; the
      // probe job scans its materialized blocks in ~0.1 s.)
      //
      // Round 0 skips the doubling self-join: init is already the
      // 1-hop min, so cliques — the overwhelmingly common near-dup
      // component shape — converge at init and round 0 is only the
      // no-change confirmation; paying a label(label(u)) join there
      // buys nothing. Deep chains still get doubling from round 1 on,
      // keeping O(log diameter) convergence one round later at worst.
      val next =
        if (it == 0) propagated
        else propagated.as("a")
          .join(
            propagated.select(col("doc_id").as("__l"), col("group_id").as("__lg")),
            col("a.group_id") === col("__l"))
          .select(col("a.doc_id").as("doc_id"), col("__lg").as("group_id"),
            col("a.__changed").as("__changed"))
      // The probe rides the checkpoint: observe() metrics fire on the
      // eager localCheckpoint's own action (verified on Spark 4.1.2),
      // so convergence detection costs ZERO extra jobs per round. The
      // metric arrives on the listener bus, i.e. asynchronously —
      // poll briefly, then fall back to the explicit aggregate over
      // the checkpointed blocks (the pre-round-6 probe) if it never
      // lands. An empty round observes [null] -> no change.
      val obs = new org.apache.spark.sql.Observation()
      val updated = next
        .observe(obs, max(col("__changed")).as("any"))
        .localCheckpoint(true)
      var probed: Option[Boolean] = None
      var waitedMs = 0
      // Poll budget 150 ms (was 1000): the observation rides the
      // async listener bus, which lags by whole fractions of a second
      // when the session is busy (round-15: the CC-heavy queries'
      // walls swung 1.9-3.2 s with near-zero task time — driver waits,
      // ~rounds × poll). The fallback aggregate over the checkpointed
      // blocks costs ~0.1 s deterministically, so a short budget
      // bounds the worst case instead of sleeping toward it.
      while (probed.isEmpty && waitedMs < 150) {
        obs.future.value match {
          case Some(scala.util.Success(row)) =>
            probed = Some(!row.isNullAt(0) && row.getBoolean(0))
          case Some(scala.util.Failure(_)) => waitedMs = 150
          case None => Thread.sleep(2); waitedMs += 2
        }
      }
      val anyChanged = probed.getOrElse(
        updated.agg(coalesce(max(col("__changed")), lit(false))).head().getBoolean(0))
      labels = updated.drop("__changed")
      converged = !anyChanged
      it += 1
    }
    labels
  }

  /** Fold a batch of NEW candidate pairs into standing dedup groups
    * without re-running global CC — the operation a 100 TB corpus
    * actually performs daily (you never re-cluster the world; you
    * merge the day's near-dup pairs into yesterday's groups).
    *
    * The fold runs CC on the COLLAPSED graph: each pair endpoint is
    * replaced by its standing group id (or kept as itself when the doc
    * is new), and edges that land inside one group are dropped. Nodes
    * are then group ids and new ids only, so the solved graph is
    * bounded by the DAY'S PAIRS — never by the size of the touched
    * groups (one hot pair into a billion-doc standing group costs one
    * collapsed node, not a billion star edges; the earlier star-edge
    * formulation paid the whole touched component). Because standing
    * labels are min-labelings (group_id = min member id — the contract
    * below), the min over collapsed node ids IS the min over all
    * underlying member ids, so the collapsed solve and the full solve
    * agree exactly.
    *
    * The standing label table itself is SCANNED twice but never
    * shuffled: the node probe and the (old group → new group) remap
    * are broadcast into it. New pairs may reference docs absent from
    * `labels` (a brand-new batch); those come back labeled too. Docs
    * in no pair and no standing row stay absent (coalesce at the call
    * site, as [[resolveKeepers]] does).
    *
    * @param labels standing assignment (doc_id, group_id) — an earlier
    *               [[connectedComponents]]/[[resolveKeepers]] output.
    *               MUST be a min-labeling: group_id = min doc_id of the
    *               group (what both of those produce). A score-based
    *               [[resolveKeepersBy]] labeling is NOT a valid input.
    * @param newPairs columns (doc_a, doc_b) — the new batch's edges
    */
  def incrementalGroups(
      labels: DataFrame,
      newPairs: DataFrame,
      maxIterations: Int = 10
  ): DataFrame = {
    // The batch-bounded frames (nodes/nodeLbl/remap/...) are hinted
    // broadcast — right for the daily-ingest shape, where the batch is
    // orders of magnitude under the corpus.
    val pairs = newPairs.select(
      col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"))
    val lbl = labels.select(
      col("doc_id").cast("long").as("doc_id"), col("group_id").cast("long").as("group_id"))
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    // standing rows for docs incident to a new pair (batch-bounded);
    // the one scan of the corpus-sized label table on the fold path
    val nodeLbl = lbl.join(broadcast(nodes), Seq("doc_id"))
    // collapse endpoints to their standing groups; an edge whose ends
    // share a group carries no new information and is dropped
    val collapsed = pairs
      .join(broadcast(nodeLbl.select(col("doc_id").as("doc_a"), col("group_id").as("__ga"))),
        Seq("doc_a"), "left")
      .join(broadcast(nodeLbl.select(col("doc_id").as("doc_b"), col("group_id").as("__gb"))),
        Seq("doc_b"), "left")
      .select(coalesce(col("__ga"), col("doc_a")).as("doc_a"),
        coalesce(col("__gb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // cc nodes = touched group ids + new doc ids; labels = component
    // min over them = component min over all underlying members
    val cc = connectedComponents(collapsed, maxIterations)
    val newIds = nodes.join(broadcast(nodeLbl.select(col("doc_id"))), Seq("doc_id"), "left_anti")
    val newDocRows = cc.join(broadcast(newIds), Seq("doc_id"))
    lbl.withColumnRenamed("group_id", "old_group")
      .join(broadcast(cc.select(col("doc_id").as("old_group"), col("group_id"))),
        Seq("old_group"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("old_group")).as("group_id"))
      .unionByName(newDocRows)
  }

  /** Full dedup resolution: every document keeps its id; members of a
    * duplicate group point at the group's keeper (min id); singletons
    * keep themselves.
    */
  def resolveKeepers(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIterations: Int = 10
  ): DataFrame = {
    val groups = connectedComponents(pairs, maxIterations)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(groups, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("keeper_id"),
        (coalesce(col("group_id"), col("doc_id")) === col("doc_id")).as("is_keeper"))
  }

  /** Quality-aware dedup resolution: like [[resolveKeepers]], but the
    * keeper of each duplicate group is its member with the HIGHEST
    * score (ties → smallest id) instead of the arbitrary minimum id —
    * the form production corpus dedup actually runs ("keep the best
    * copy, drop the rest"). `docs` must carry one row per id with the
    * score column already computed.
    *
    * Scale: after component resolution, one shuffle by group_id for
    * the per-group argmax window; near-dup components are small (and
    * the pair generators upstream cap degenerate buckets), so the
    * window state per group is a handful of rows.
    */
  def resolveKeepersBy(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame,
      maxIterations: Int = 10
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val groups = connectedComponents(pairs, maxIterations)
    val labeled = docs
      .select(col(idCol).cast("long").as("doc_id"), col(scoreCol).as("__score"))
      .join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__score"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
    val w = Window.partitionBy("group_id")
      .orderBy(col("__score").desc, col("doc_id").asc)
    labeled
      .withColumn("keeper_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("keeper_id"),
        (col("keeper_id") === col("doc_id")).as("is_keeper"))
  }
}
