package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

/** Driver-contract invariants for SparkEntry that the compiler cannot
  * enforce: a query name is defined once across the family modules (a
  * map built from two records with one name keeps only one of them;
  * a duplicated Map-literal key shadowed a query once), every oracle
  * refers to a defined query, and a name handed to a main is a query.
  */
class EntryContractSpec extends AnyFunSuite {

  test("every oracle key has a query; oracle-less queries are known rows-only ops") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o.diff(q)}")
    val rowsOnly = q.diff(o)
    // engine-defined results (sketches, seeded planes, Lloyd's
    // codebooks, deflate, BPE merges) — keep this list deliberate.
    // q_knn_kmeans_ivf / q_knn_ivf_probe / q_pq_topk / q_lsh_neardup
    // left this list in round 5: pinning their quantizers / planes at
    // the deterministic seed made them SQL-reproducible.
    assert(rowsOnly == Set(
      "q_approx_distinct", "q_approx_percentiles",
      "q_ivfadc_topk", "q_bpe_tokens", "q_compress_ratio",
      "q_sketch_store", "q_bloom_funnel", "q_cms_counts", "q_pca_project"),
      s"unexpected rows-only set: $rowsOnly")
  }

  test("no query or oracle name is defined twice in the source (shadowing)") {
    // a record holds a query and its oracle, so one definition per name
    // across every family module; comments are skipped, so a name only
    // mentioned in prose does not count
    val defs = SourceCode.sources("src/main/scala/graft/queries").flatMap { p =>
      "\\bQ\\(\"(q[a-z0-9_]+)\"".r
        .findAllMatchIn(SourceCode.code(Files.readString(p))).map(_.group(1))
    }
    val twice = defs.groupBy(identity).view.mapValues(_.size).filter(_._2 > 1)
    assert(twice.isEmpty, s"names defined more than once: ${twice.toMap}")
    assert(defs.size == SparkEntry.queries.size,
      s"${defs.size} records in the query modules vs ${SparkEntry.queries.size} queries")
  }

  test("the assembler rejects two records with the same name") {
    val run: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](SparkEntry.assemble(Seq(
      Q("q_a", run, None), Q("q_b", run, None), Q("q_a", run, Some("SELECT 1")))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
  }

  test("a name lookup fails listing every unknown name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.lookup(Seq("q_sma", "q_nope", "q_smaa")))
    assert(e.getMessage.endsWith("unknown query names: q_nope, q_smaa"), e.getMessage)
    assert(SparkEntry.lookup(Seq("q_sma", "q_rsi")).keySet == Set("q_sma", "q_rsi"))
  }
}
