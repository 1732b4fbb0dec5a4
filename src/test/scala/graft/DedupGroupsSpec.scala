package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.operators.DedupGroups

/** Connected components and the keeper resolutions built on it. Every
  * case runs on both solvers: the driver union-find a graph under the
  * broadcast threshold takes, and the distributed propagation that a
  * threshold of -1 forces.
  */
class DedupGroupsSpec extends SparkSpec {
  import spark.implicits._

  /** `body` with broadcasting off, which forces the distributed solver. */
  private def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A case run on both solvers. */
  private def bothPaths(name: String)(body: => Unit): Unit = test(name) {
    withClue("driver solve: ")(body)
    distributed(withClue("distributed propagation: ")(body))
  }

  /** The connected components rows, nulls as None, sorted. */
  private def rows(cc: DataFrame): Seq[(Option[Long], Option[Long])] =
    cc.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      Option(r.get(1)).map(_.asInstanceOf[Long]))).sortBy(_.toString)

  bothPaths("chains, cliques, and singletons resolve to min-id components") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("doc_a", "doc_b")
    val cc = DedupGroups.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
  }

  bothPaths("long chain converges within the iteration budget") {
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = DedupGroups.connectedComponents(pairs, maxIterations = 10)
      .as[(Long, Long)].collect().toMap
    assert((0L to 9L).forall(cc(_) == 0L))
  }

  bothPaths("resolveKeepers marks keepers and leaves singletons alone") {
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = DedupGroups.resolveKeepers(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)))
    assert(out(3L) == ((1L, false)))
    assert(out(4L) == ((4L, true))) // singleton
    assert(out(5L) == ((5L, true)))
  }

  bothPaths("resolveKeepersBy keeps the highest-scoring member, ties to min id") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5), // component {1,2,3}: best is 2
      (4L, 0.7), (5L, 0.7),            // component {4,5}: tie -> min id 4
      (6L, 0.1)                        // singleton keeps itself
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val out = DedupGroups.resolveKeepersBy(docs, "doc_id", "score", pairs)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((2L, false)))
    assert(out(2L) == ((2L, true)))
    assert(out(3L) == ((2L, false)))
    assert(out(4L) == ((4L, true)))
    assert(out(5L) == ((4L, false)))
    assert(out(6L) == ((6L, true)))
  }

  bothPaths("resolveKeepersBy with no pairs keeps every doc as its own keeper") {
    val docs = Seq((1L, 0.9), (2L, 0.1)).toDF("doc_id", "score")
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = DedupGroups.resolveKeepersBy(docs, "doc_id", "score", empty)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 1L, true), (2L, 2L, true)))
  }

  test("pointer doubling: a 100-link chain converges within 10 rounds") {
    // worst case for plain min-label propagation (needs diameter =
    // 100 rounds); with label compression it must finish inside the
    // default maxIterations = 10 (~log2 diameter)
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = distributed(DedupGroups.connectedComponents(chain, maxIterations = 10)
      .as[(Long, Long)].collect().toMap)
    assert(cc.size == 101)
    assert((0L to 100L).forall(cc(_) == 0L))
  }

  test("maxIterations bounds only the distributed loop; the driver solve is exact") {
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def roots() = DedupGroups.connectedComponents(chain, maxIterations = 1)
      .as[(Long, Long)].collect().toMap
    assert(roots().values.toSet == Set(0L))
    assert(distributed(roots()).values.toSet.size > 1)
  }

  test("property: driver and distributed solvers emit identical rows on 20 graphs") {
    val id = Gen.choose(0L, 40L)
    def edge(a: Long, b: Long) = (Option(a), Option(b))
    val chain = for (s <- id; n <- Gen.choose(1, 12)) yield (s until s + n).map(i => edge(i, i + 1))
    val clique = Gen.containerOfN[Set, Long](5, id).map { ms =>
      for (a <- ms.toSeq; b <- ms.toSeq if a < b) yield edge(a, b)
    }
    val star = for (c <- id; ms <- Gen.listOfN(5, id)) yield ms.map(edge(_, c))
    val self = id.map(i => Seq(edge(i, i)))
    val nulls = Gen.oneOf(
      Gen.const(Seq((None, None))),
      id.map(i => Seq((None, Some(i)))),
      id.map(i => Seq((Some(i), None))),
      Gen.listOfN(3, id).map(_.map(i => (None, Some(i)))))
    // a null endpoint paired with a member of a component
    def tethered(g: Gen[Seq[(Option[Long], Option[Long])]]) = g.flatMap { es =>
      if (es.isEmpty) Gen.const(es) else Gen.oneOf(es.map(_._2)).map(m => (None, m) +: es)
    }
    // graphs of shapes whose start labeling is already the fixpoint,
    // and graphs of any shape: a null endpoint's row differs between
    // the two
    val flat = Gen.frequency(2 -> clique, 1 -> self, 1 -> nulls, 1 -> tethered(clique))
    val any = Gen.frequency(3 -> chain, 2 -> clique, 2 -> star, 1 -> self, 1 -> nulls,
      1 -> tethered(Gen.oneOf(chain, star)))
    val graphs = for {
      flatOnly <- Gen.oneOf(true, false)
      n <- Gen.choose(0, 4)
      parts <- Gen.listOfN(n, if (flatOnly) flat else any)
      dup <- Gen.choose(0, 3)
      flip <- Gen.oneOf(false, true)
    } yield {
      val es = parts.flatten
      val edges = es ++ es.take(dup) // duplicate edges
      if (flip) edges.map(_.swap) else edges
    }
    val prop = Prop.forAllNoShrink(graphs) { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val local = DedupGroups.connectedComponents(pairs)
      val spread = distributed(DedupGroups.connectedComponents(pairs))
      (local.schema == spread.schema && rows(local) == rows(spread)) :|
        s"edges $edges: driver ${rows(local)} distributed ${rows(spread)}"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(Seed(20261019L)), prop)
    assert(result.passed, result.status.toString)
  }

  bothPaths("end-to-end: minhash pairs -> dedup groups on planted dups") {
    import graft.functions.TextOps
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), // triple exact dup
      (4L, "totally different content about catalyst optimizer rules and strategies")
    ).toDF("doc_id", "text")
    val pairs = TextOps.minhashCandidatePairs(docs, "doc_id", "text", 4, 2, 3)
    val keepers = DedupGroups.resolveKeepers(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(keepers(1L) == 1L && keepers(2L) == 1L && keepers(3L) == 1L)
    assert(keepers(4L) == 4L)
  }

  bothPaths("incrementalGroups == global CC over the union graph") {
    // standing groups: {1,2,3}, {10,11}, {20,21}, singletons 30, 31
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 31L).toDF("doc_id")
    val standing = DedupGroups.resolveKeepers(docs, "doc_id", oldPairs)
      .select($"doc_id", $"keeper_id".as("group_id"))
    // batch: bridges {1..3}+{10,11}; attaches new doc 100 to {20,21};
    // links standing singleton 30 to new doc 101; pairs two brand-new
    // docs (200, 201); leaves singleton 31 untouched
    val newPairs = Seq(
      (3L, 10L), (100L, 21L), (30L, 101L), (200L, 201L)
    ).toDF("doc_a", "doc_b")
    val inc = DedupGroups.incrementalGroups(standing, newPairs)
      .as[(Long, Long)].collect().toMap
    val global = DedupGroups.connectedComponents(
      oldPairs.unionByName(newPairs)).as[(Long, Long)].collect().toMap
    // every doc the global run labels agrees; untouched standing rows
    // (31, and 20/21's min path via the remap) come through intact
    assert(inc.size == 13) // 9 standing docs + 4 brand-new paired docs
    global.foreach { case (d, g) => assert(inc(d) == g, s"doc $d") }
    assert(inc(31L) == 31L)
    assert(inc(1L) == 1L && inc(10L) == 1L && inc(11L) == 1L)
    assert(inc(100L) == 20L && inc(101L) == 30L)
    assert(inc(200L) == 200L && inc(201L) == 200L)
  }

  bothPaths("incrementalGroups is invariant to input partitioning") {
    val standing = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("doc_id", "group_id")
    val newPairs = Seq((2L, 5L), (7L, 8L)).toDF("doc_a", "doc_b")
    def run(l: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) =
      DedupGroups.incrementalGroups(l, p).as[(Long, Long)].collect().toMap
    assert(run(standing.repartition(7), newPairs.repartition(5)) ==
      run(standing.coalesce(1), newPairs.coalesce(1)))
  }
}
