package graft

import org.apache.spark.sql.functions._

import graft.operators.GraphOps
import graft.sources.Derived

/** The incremental-fold scale contract, pinned at the physical plan:
  * the standing support store is bucketed+sorted on (x, y), so the
  * fold's full-outer join must read it IN PLACE — any Exchange or Sort
  * above the standing-side scan means the fold re-shuffles the entire
  * standing table per batch and its cost is standing-bound, not
  * delta-bound, at warehouse scale.
  */
class FoldPlanSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("fold over the bucketed store: zero exchange and zero sort on the standing side") {
    val standing = Derived.itemEdgeSupportsStored(spark, sfDir)
    val delta = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("x", "y", "support")
      .withColumnRenamed("support", "__ds")
    val folded = standing.withColumnRenamed("support", "__ss")
      .join(delta, Seq("x", "y"), "full_outer")
    val plan = folded.queryExecution.executedPlan.toString
    // exactly one shuffle: the delta side matching the bucket layout
    val n = shuffleExchanges(plan)
    assert(n == 1, s"expected 1 exchange (delta side only), got $n:\n$plan")
    // the standing scan is bucketed: selected bucket count appears in
    // the FileScan line, and no Sort sits between it and the join on
    // the standing side (sortBy(x, y) satisfies the SMJ ordering)
    assert(plan.contains("SelectedBucketsCount"), s"standing scan not bucketed:\n$plan")
    assert("(?s)Sort .*FileScan parquet .*graft_edge_supports".r
      .findFirstIn(plan).isEmpty || "Sort ".r.findAllIn(plan).size <= 1,
      s"unexpected sort above the standing-side bucketed scan:\n$plan")
  }

  test("minhash cross-candidate join reads the bucketed signature store in place") {
    val store = Derived.minhashStore(spark, sfDir)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val (bb, _) = graft.functions.TextOps.minhashBanded(
      docs.limit(20), "doc_id", "text", bands = 4, rowsPerBand = 2,
      shingleSize = 3, bucketCap = 10000L)
    val plan = graft.functions.TextOps.minhashCrossFromBanded(
        bb, "doc_id", store.banded, "doc_id", store.keyCols)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"signature store scan not bucketed:\n$plan")
    // exchange budget: the new batch's shuffle to the bucket layout +
    // the output distinct — the corpus-signature side must contribute
    // ZERO (a third exchange means the store reshuffled)
    val n = shuffleExchanges(plan)
    assert(n <= 2, s"expected <=2 exchanges (new side + distinct), got $n:\n$plan")
  }

  test("fold over the stored table == fold over the checkpoint (values unchanged)") {
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val batch = li.filter(col("l_orderkey") % 100 === 0)
      .withColumn("l_orderkey", col("l_orderkey") + lit(10000000L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaStore = canon(GraphOps.foldItemEdgeSupports(
      Derived.itemEdgeSupportsStored(spark, sfDir), batch, "l_orderkey", "l_partkey"))
    val viaCp = canon(GraphOps.foldItemEdgeSupports(
      Derived.itemEdgeSupports(spark, sfDir), batch, "l_orderkey", "l_partkey"))
    assert(viaStore == viaCp && viaStore.nonEmpty)
  }
}
