package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.MicrostructureOps

/** The corrScreen exact stage's week-chunk fallback — the 100 TB guard
  * for universes whose packed series exceed broadcast comfort, forced
  * here by a one-byte `MaxBroadcastSeriesBytesConf`. Pins (1)
  * bit-identical equivalence to the broadcast path on a
  * planted-copycat fixture spanning multiple week chunks, (2) the plan
  * shape the doc claims (per-(key, chunk) SHUFFLE_HASH joins +
  * per-pair co-moment re-aggregation, no sort-merge over pair×series
  * rows), and (3) the plan-statistics auto-demotion gate.
  */
class CorrScreenFallbackSpec extends SparkSpec {
  import spark.implicits._

  /** ~2.4 weeks of hourly buckets -> 3 week-chunks, so the chunked
    * path genuinely re-aggregates per-chunk co-moments. Copycats cp1 ≡
    * cp2 plus a mirror key and deterministic-independent noise.
    */
  private lazy val fixture = {
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def series(k: String, moveAt: Int => Int) = (0 until 400).map { i =>
      val px = 200.0 + 0.01 * (0 to i).map(moveAt).sum
      (k, new Timestamp(t0 + i * 3600000L), px, px, px, px, 1L, 1.0)
    }
    val rnd = (seed: Int) => (i: Int) => {
      val mag = 1 + i % 5
      if (((i * 2654435761L + seed * 40503L) >>> 16 & 1L) == 1L) mag else -mag
    }
    val base = rnd(5)
    (series("cp1", base) ++ series("cp2", base) ++
      series("mir", (i: Int) => -base(i)) ++
      series("n1", rnd(13)) ++ series("n2", rnd(29)) ++ series("n3", rnd(41)))
      .toDF("sym", "bucket_ts", "open", "high", "low", "close", "trades", "volume")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .orderBy("key_a", "key_b").collect()

  /** `body` with the packed-series broadcast capped at one byte, so
    * every screen it plans takes the chunked path.
    */
  private def chunkedPath[T](body: => T): T = {
    spark.conf.set(MicrostructureOps.MaxBroadcastSeriesBytesConf, "1")
    try body finally spark.conf.unset(MicrostructureOps.MaxBroadcastSeriesBytesConf)
  }

  test("broadcastSeries=false is bit-identical to the broadcast path (corrScreen + signed)") {
    val wide = MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 8)
    val chunked = chunkedPath(MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 8))
    val w = rows(wide); val c = rows(chunked)
    assert(w.nonEmpty, "fixture must surface candidate pairs")
    assert(c.sameElements(w), "chunked exact stage diverged from broadcast")

    val signedB = MicrostructureOps.corrScreenSigned(
      fixture, "sym", "bucket_ts", maxHamming = 7, bandBits = 8)
    val signedC = chunkedPath(MicrostructureOps.corrScreenSigned(
      fixture, "sym", "bucket_ts", maxHamming = 7, bandBits = 8))
    val sb = signedB.orderBy("key_a", "key_b", "side").collect()
    val sc = signedC.orderBy("key_a", "key_b", "side").collect()
    assert(sb.exists(_.getAs[String]("side") == "anti_moving"),
      "fixture must surface the planted mirror")
    assert(sc.sameElements(sb), "chunked signed stage diverged from broadcast")

    // the planted copycats specifically: same hamming, same exact corr
    val pair = rows(wide.filter(col("key_a") === "cp1" && col("key_b") === "cp2"))
    assert(pair.length == 1 && pair.head.getAs[Double]("corr") == 1.0)
  }

  test("the chunked plan joins on (key, week-chunk) and re-aggregates co-moments; no SMJ over series rows") {
    val chunked = chunkedPath(MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 8))
    val plan = chunked.queryExecution.executedPlan.toString()
    assert(plan.contains("__ck"), s"expected week-chunk join key in plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected SHUFFLE_HASH pair-chunk joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"pair-by-series rows must never sort (the SMJ pathology the flag avoids):\n$plan")
    // per-pair re-aggregation of the additive chunk co-moments
    assert(plan.contains("sum(__c.n") || plan.contains("sum(_extract_n") ||
      ("""sum\(.{0,40}\.n""".r.findFirstIn(plan)).isDefined,
      s"expected co-moment re-aggregation in plan:\n$plan")

    val broadcastPlan = MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 8)
      .queryExecution.executedPlan.toString()
    assert(!broadcastPlan.contains("__ck"),
      "broadcast path must not pay the chunk-join machinery")
  }

  test("autoBandBits follows the candidate-volume rule; corrScreenAuto equals the sized screen") {
    import graft.operators.MicrostructureOps.autoBandBits
    // rule: narrowest bits with bands*U^2/2^bits <= 64*U. Boundaries:
    // 8-bit holds to U=2048 (U^2/32 <= 64U), 16-bit to U=2^20
    assert(autoBandBits(0) == 8 && autoBandBits(1000) == 8)
    assert(autoBandBits(2048) == 8 && autoBandBits(2049) == 16)
    // the sweep's regimes: sf1's 15k and sf10's 150k universes -> 16
    assert(autoBandBits(15000) == 16 && autoBandBits(150000) == 16)
    assert(autoBandBits(1048576) == 16 && autoBandBits(1048577) == 32)
    // a tighter candidate budget promotes earlier
    assert(autoBandBits(2048, maxCandidatesPerKey = 1L) == 16)

    val auto = rows(MicrostructureOps.corrScreenAuto(
      fixture, "sym", "bucket_ts", maxHamming = 24))
    val manual = rows(MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 8))
    assert(auto.sameElements(manual),
      "auto at a 6-key universe must be the 8-bit screen, bit-identical")

    val signedAuto = MicrostructureOps.corrScreenSignedAuto(
      fixture, "sym", "bucket_ts", maxHamming = 7)
      .orderBy("key_a", "key_b", "side").collect()
    val signedManual = MicrostructureOps.corrScreenSigned(
      fixture, "sym", "bucket_ts", maxHamming = 7, bandBits = 8)
      .orderBy("key_a", "key_b", "side").collect()
    assert(signedAuto.nonEmpty && signedAuto.sameElements(signedManual),
      "signed auto must be the sized signed screen, bit-identical")
  }

  test("the 32-bit screen (the >2^20-key width) runs end-to-end and keeps the planted pair") {
    // The 32-bit branch of autoBandBits cannot be committed under the
    // driver's DuckDB oracle at tolerable cost: >2^20 distinct keys
    // each need ~64 informative deltas (sparser fingerprints birthday-
    // collide the banded buckets into quadratic candidate sets), so
    // the minimal sound fixture is ~88M generated rows — measured at
    // 378 s for the candidate stage alone in DuckDB at sf0.01 (round
    // 14), ~60x the whole per-query oracle budget. This spec is the
    // documented substitute: the width=32 screen end-to-end on the
    // planted fixture — 2 bands, the 32-bit mask in the plan, and
    // identical recall of the hamming-0 copycats (pigeonhole: radius
    // 64/32 - 1 = 1 still guarantees hamming <= 1).
    val w32 = MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 32)
    val plan = w32.queryExecution.optimizedPlan.toString()
    assert(plan.contains("4294967295"),
      s"expected the 32-bit band mask in the plan:\n${plan.take(2000)}")
    val pair = rows(w32.filter(col("key_a") === "cp1" && col("key_b") === "cp2"))
    assert(pair.length == 1 && pair.head.getAs[Double]("corr") == 1.0,
      "32-bit screen must recall the identical copycats with exact corr 1.0")
    assert(pair.head.getAs[Long]("hamming") == 0L)
  }

  test("q_corr_screen_hicard auto-commits the 16-BIT banding at its sf0.01 universe") {
    // the committed replica fixture pushes the measured universe to
    // ~3000 keys (> the 2048 8-bit boundary), so corrScreenAuto must
    // band at 16 bits — the width the query's oracle replays. The
    // 16-bit mask (65535) appears in the banding projection; the
    // 8-bit screen's 255 mask must not drive the band columns.
    assert(graft.operators.MicrostructureOps.autoBandBits(3000) == 16)
    val df = graft.SparkEntry.queries("q_corr_screen_hicard")(
      spark, "/root/testdata/sf0.01")
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(plan.contains("65535"),
      "hicard screen must band at 16 bits (mask 65535 in the plan)")
    assert(!plan.contains("& 255)"),
      "hicard screen must not band at 8 bits")
  }

  test("plan-statistics gate demotes an over-budget broadcast to the chunked path, same results") {
    val want = rows(MicrostructureOps.corrScreen(
      fixture, "sym", "bucket_ts", maxHamming = 24, bandBits = 8))
    spark.conf.set(MicrostructureOps.MaxBroadcastSeriesBytesConf, "1")
    try {
      val demoted = MicrostructureOps.corrScreen(
        fixture, "sym", "bucket_ts", maxHamming = 24,
        bandBits = 8)
      val plan = demoted.queryExecution.executedPlan.toString()
      assert(plan.contains("__ck"), "gate must demote to the chunked path")
      assert(rows(demoted).sameElements(want), "demotion must not change results")
    } finally spark.conf.unset(MicrostructureOps.MaxBroadcastSeriesBytesConf)
  }
}
