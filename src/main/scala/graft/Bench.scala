package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * A query that throws is NOT silently folded into the total: its
  * wall-time still appears in `queries` (so the driver's schema is
  * unchanged) but the name and error are listed in `errors`, `ok`
  * is false, and the process exits non-zero — a regression can't
  * hide behind a green-looking bench line.
  *
  * Optional CLI args are query names: `runMain graft.Bench q_sma
  * q_knn_topk` runs just those two (dev iteration aid; the driver
  * passes none and gets the full suite). Subset runs persist to
  * BENCH_SUBSET.json, never the full-suite BENCH_FULL.json.
  *
  * Timing discipline: queries over 0.3 s are run SPARK_GRAFT_BENCH_K
  * (default 3) times and report their MINIMUM — the artifact carries a
  * `variance` note (median/max cross-pass spread) so environment noise
  * is visible in the numbers instead of corrupting them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Session.warmUp(spark)
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(kv => args.contains(kv._1)).toSeq.sortBy(_._1)
    var errors = List.empty[(String, String)]
    var skips = List.empty[(String, String)]
    // a scale guard firing AS DESIGNED (graft.api.Guards.Marker in the
    // message chain, e.g. q_corr_matrix's maxUniverse assert at sf1's
    // 15k-key universe) is a skip, not a failure: it must not flip
    // `ok` — BENCH_SF1_r11 reported ok:false for exactly this
    def designedGuard(e: Throwable): Boolean = {
      var c: Throwable = e
      var hops = 0
      while (c != null && hops < 20) {
        if (Option(c.getMessage).exists(_.contains(graft.api.Guards.Marker)))
          return true
        c = if (c.getCause eq c) null else c.getCause
        hops += 1
      }
      false
    }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { Session.consume(fn(spark, sfDir)) }
      catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
          if (designedGuard(e)) skips ::= (name, msg)
          else errors ::= (name, msg)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val firstPass = selected.map { case (name, fn) => name -> timeOne(name, fn) }
    // Re-measure the heavy tail k-1 more times and keep the per-query
    // MINIMUM: the driver box runs other round work concurrently, and a
    // transient CPU spike can inflate one query 10-20x in a single-shot
    // reading (round-3: 20 s recorded for a ~1 s query; round-5: whole
    // suite +22%; round-9: five identical-code runs spanned
    // 163-189 s and burned a cross-round comparison). min-of-k bounds
    // that noise mechanically; the sub-0.3 s tail contributes too
    // little to re-measure. Per-query max/min spreads are published as
    // a variance note so a noisy environment is visible in the
    // artifact instead of needing a multi-run forensic.
    // malformed env ("3 ", "three") must not kill the run — fall back
    // to 3; floor at 1 so the first pass always counts
    val benchK = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_K")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(3))
    val retimeFloor = 0.3
    val errored = errors.map(_._1).toSet ++ skips.map(_._1).toSet
    var spreads = List.empty[(String, Double)]
    val results = selected.zip(firstPass).map { case ((name, fn), (_, t1)) =>
      if (t1 >= retimeFloor && !errored(name)) {
        val ts = t1 +: (2 to benchK).map(_ => timeOne(name, fn))
        // the published spread is over the WARM passes only (the first
        // pass doubles as warm-up: codegen/JIT/page-cache cold starts
        // inflated r10's anonymous 71x max) — t1 still feeds the min.
        // ts.tail whenever a warm pass exists: at k=2 the old >= 3
        // bound fell back to the full list and published a "warm"
        // spread that still included the cold pass (a single warm pass
        // yields spread 1.0, which is honest)
        val warm = if (ts.length >= 2) ts.tail else ts
        spreads ::= name -> (warm.max / warm.min)
        name -> ts.min
      } else name -> t1
    }
    // The driver keeps only a ~2 KB tail of stdout (the round-2
    // artifact clipped a ~2.6 KB single line → parsed: null). With 89
    // queries the full map no longer fits, so: line 1 carries the
    // complete per-query map (diagnostic — its head may clip
    // harmlessly), and the LAST line is the contract JSON sized to
    // always fit, carrying the slowest 40 queries (everything
    // meaningful at sf0.1; the omitted tail is sub-0.3 s noise).
    // Only the contract line contains the word "metric".
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and
    // comma-decimal locales (tr/de/fr) would emit invalid JSON.
    def sec(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def sec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val errJson = errors.reverse.map { case (k, m) => s"\"$k\":\"$m\"" }
      .mkString("{", ",", "}")
    val skipJson = skips.reverse.distinctBy(_._1)
      .map { case (k, m) => s"\"$k\":\"$m\"" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val ok = errors.isEmpty
    val sfLabel = new java.io.File(sfDir).getName
    val fullMap = results.map { case (k, v) => "\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    // variance note: per-retimed-query max/min spread across the WARM
    // passes — median ~1.0 means a quiet box; the worst offender is
    // NAMED so a fat max is attributable, not a mystery number
    val varJson = {
      val s = spreads.map(_._2).sorted
      val med =
        if (s.isEmpty) 1.0
        else if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      val (wq, wv) =
        if (spreads.isEmpty) ("", 1.0) else spreads.maxBy(_._2)
      s"""{"passes":$benchK,"retimed":${s.length},"med_spread":${sec(med)},"max_spread":${sec(wv)},"worst":{"query":"$wq","spread":${sec(wv)}}}"""
    }
    println(s"""{"queries_full":$fullMap,"n":${results.length},"variance":$varJson}""")
    val top = results.sortBy(-_._2).take(40).sortBy(_._1)
    val qs = top.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val contract =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","ok":$ok,"errors":$errJson,"skipped_by_design":$skipJson,"queries":$qs,"nq":${results.length},"sf":"$sfLabel","variance":$varJson}"""
    println(contract)
    // Belt and braces: the stdout tail the driver captures has lost
    // the contract line three rounds running (prefix/trailer issues,
    // now fixed in build.sbt) — also persist the COMPLETE per-query
    // map to a file so a full, parseable artifact always exists.
    // Subset (dev) runs default to BENCH_SUBSET.json: a one-query run
    // must never clobber the committed full-suite artifact (it did, in
    // rounds 7 AND 9 — this closes the class, not the instance).
    val defaultOut = if (args.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)),
      s"""{"contract":$contract,"queries_full":$fullMap,"variance":$varJson}""" + "\n")
    catch { // a bad path/env must not fail a bench whose result is on stdout
      case scala.util.control.NonFatal(_) => ()
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
