package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the backfill produced: its wall and CPU time, the rows it offered, each
  * landed row's freshness (offer to commit, seconds), and the store's
  * bytes against the input's bytes.
  */
/** One timed pass: whether it was traced, its wall and CPU seconds,
  * and its ops.
  */
final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, samples: Seq[Sample])

final case class Backfill(
    wallS: Double,
    cpuS: Double,
    rows: Long,
    freshness: Seq[Double],
    storeBytes: Long,
    inputBytes: Long)

/** A benchmark workload: its store builds, its client's op list and
  * its end-of-run checks. The engine sees only the generated inputs
  * under `data`.
  */
trait Workload {
  /** Lands the workload's history in its streaming stores (once). */
  def backfill(): Backfill
  /** One-off batch set-up after the backfill. */
  def prepare(): Unit = ()
  /** One repetition of the workload's batch store build; the timed
    * passes use the last one's store.
    */
  def build(rep: Int): Unit
  /** The client's ops for pass `pass` (0 is the warm-up pass). */
  def ops(pass: Int): Seq[Op]
  /** Ops answered by an engine query that carries DuckDB oracle SQL. */
  def oracleQueries: Seq[String]
  /** End-of-run checks: (name, ok, detail). */
  def checks(): Seq[(String, Boolean, String)]
  /** Rows offered to the workload's streaming queries so far. */
  def offeredRows: Long
  /** Rows (`ts`, `value`, `text`) for the projection-only passes of the
    * engine's custom expressions.
    */
  def functionRows(): DataFrame
  def tableReads(): Seq[DataFrame]
}

object Layers {
  val all: Seq[String] = Seq(
    "operators.CandleOps", "operators.MicrostructureOps", "operators.GapOps",
    "operators.DedupGroups", "operators.BloomOps", "functions.TextOps",
    "sources.Derived", "operators.RollupStore", "streaming.StreamingRollup",
    "streaming.stores")
}

object Main {
  final case class Args(
      workload: String, data: String, out: String, seconds: Double,
      trace: Boolean, refs: Option[String])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.get("refs").filter(_.nonEmpty))
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config(new org.apache.spark.SparkConf().setAll(graft.sources.Tables.ReaderConfs))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length() }
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filterNot(_.getName.startsWith("_")).map(c => dirBytes(c.getPath)).sum
  }

  private val started = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $name")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val heap = new HeapWatch
    Files.createDirectories(Paths.get(a.out))
    val t0 = System.nanoTime()
    val cpu0 = Cpu.seconds()
    val spark = session(cores, s"${a.out}/spark-local")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sessionCpuS = Cpu.seconds() - cpu0
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val h = new Harness(spark, a.trace)
    val w: Workload = a.workload match {
      case "candle" => new CandleWorkload(spark, h, progress, a.data, s"${a.out}/work")
      case "corpus_dedup" => new CorpusWorkload(spark, h, progress, a.data, s"${a.out}/work")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up: the backfill, the one-off batch set-up, a warm-up
    // pass, then the batch store build (three times; the median counts)
    phase("backfill")
    val bf = w.backfill()
    val prep0 = (System.nanoTime(), Cpu.seconds())
    w.prepare()
    val (prepS, prepCpuS) = ((System.nanoTime() - prep0._1) / 1e9, Cpu.seconds() - prep0._2)
    System.gc()
    phase("warm-up pass")
    // The warm-up pass writes each oracle query's answer (on every run,
    // so set-up does the same work whether or not the seed's DuckDB
    // replay is cached), and its reference checksum is taken from the
    // written file.
    val oracleDir = s"${a.out}/oracle"
    val oracleOps = w.oracleQueries.toSet
    val warmStart = System.currentTimeMillis()
    val warmCpu0 = Cpu.seconds()
    val warm = w.ops(0).map {
      case Query(name, layer, build) if oracleOps(name) =>
        h.run(Query(name, layer, () => {
          build().write.mode("overwrite").parquet(s"$oracleDir/$name")
          spark.read.parquet(s"$oracleDir/$name")
        }), "warmup")
      case op => h.run(op, "warmup")
    }
    val warmEnd = System.currentTimeMillis()
    val warmS = (warmEnd - warmStart) / 1000.0
    val warmCpuS = Cpu.seconds() - warmCpu0
    phase("store builds")
    val builds = (0 until 3).map { r =>
      val t = System.nanoTime()
      val c = Cpu.seconds()
      w.build(r)
      ((System.nanoTime() - t) / 1e9, Cpu.seconds() - c)
    }
    val setupS = sessionS + bf.wallS + prepS + Stats.median(builds.map(_._1)) + warmS
    val setupCpuS = sessionCpuS + bf.cpuS + prepCpuS + Stats.median(builds.map(_._2)) + warmCpuS
    val sql = w.oracleQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"), Json(sql))

    // ---- reference answers: the warm-up pass's checksums, checked
    // against the oracle-verified checksums of this seed when known
    val refs: Map[String, String] =
      warm.filter(s => s.checksum != null).map(s => s.op -> s.checksum).toMap
    val wrong = mutable.LinkedHashMap[String, String]()
    warm.filter(_.error != null).foreach(s => wrong(s.op) = s"warm-up error: ${s.error}")
    a.refs.foreach { path =>
      properties(path).foreach { case (q, sum) =>
        if (refs.get(q).exists(_ != sum)) wrong(q) = s"checksum ${refs(q)} != verified $sum"
      }
    }

    // ---- timed passes: whole passes until --seconds have elapsed, and
    // at least two, so every run has a median over passes that does not
    // rest on the first (slowest) pass alone. A traced run alternates
    // untraced and traced passes (at least three, untraced first and
    // last), so the tracing overhead is measured within the run.
    // a full collection at each phase boundary, so the timed passes
    // start from a settled heap
    System.gc()
    phase("timed passes")
    val gc0 = heap.gcSeconds()
    val timedStart = System.nanoTime()
    val passes = mutable.ArrayBuffer[Pass]()
    var pass = 1
    val minPasses = if (a.trace) 3 else 2
    while ((System.nanoTime() - timedStart) / 1e9 < a.seconds || passes.size < minPasses) {
      h.tagging = a.trace && pass % 2 == 0
      val p0 = System.nanoTime()
      val c0 = Cpu.seconds()
      val ss = w.ops(pass).map(op => h.run(op, "timed"))
      passes += Pass(h.tagging, (System.nanoTime() - p0) / 1e9, Cpu.seconds() - c0, ss)
      pass += 1
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val gcS = heap.gcSeconds() - gc0
    System.gc()
    h.tagging = false

    // ---- checks
    phase("checks")
    val c0 = System.nanoTime()
    val checks = w.checks()
    val checksS = (System.nanoTime() - c0) / 1e9
    val timed = passes.flatMap(_.samples).toSeq
    def failed(s: Sample): Boolean =
      s.error != null || wrong.contains(s.op) || refs.get(s.op).exists(r => s.checksum != null && s.checksum != r)
    val opStats = timed.groupBy(_.op).map { case (op, ss) =>
      op -> Map("layer" -> ss.head.layer, "attempted" -> ss.size,
        "failed" -> ss.count(failed), "median_s" -> Stats.median(ss.map(_.wallS)),
        "median_cpu_s" -> Stats.median(ss.map(_.cpuS)))
    }
    val attempted = timed.size + checks.size
    val nFailed = timed.count(failed) + checks.count(!_._2)

    val lat = timed.map(_.wallS)
    val (ruleTail, tailPct, tailBeyond) = Stats.tail(lat)
    val latCpu = timed.map(_.cpuS)
    // A run has a few passes, too few samples for an upper percentile
    // with ten samples beyond it; the tail is the slowest op, by its
    // median over the passes.
    def slowest(f: Sample => Double): Double =
      timed.groupBy(_.op).values.map(ss => Stats.median(ss.map(f))).max
    val opsPerPass = timed.size.toDouble / passes.size
    val (fTail, fPct, fBeyond) = Stats.tail(bf.freshness)
    val e2e = Map(
      "setup_s" -> setupCpuS,
      "setup_wall_s" -> setupS,
      "ops_per_cpu_s" -> opsPerPass / Stats.median(passes.map(_.cpuS).toSeq),
      "op_cpu_p50_s" -> Stats.median(latCpu),
      "op_cpu_tail_s" -> slowest(_.cpuS),
      "ops_per_s" -> opsPerPass / Stats.median(passes.map(_.wallS).toSeq),
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> slowest(_.wallS),
      "op_tail_rule_s" -> ruleTail,
      "backfill_rows_per_s" -> bf.rows / bf.wallS,
      "freshness_p50_s" -> Stats.median(bf.freshness),
      "freshness_tail_s" -> fTail,
      "store_bytes_per_input_byte" -> bf.storeBytes.toDouble / bf.inputBytes,
      "heap_peak_mb" -> heap.peakBytes / 1048576.0,
      "failed_ratio" -> nFailed.toDouble / attempted,
      "backfill_rows_per_cpu_s" -> bf.rows / bf.cpuS)

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else layerMetrics(spark, h, w, passes.toSeq, progress, warmStart, warmEnd, gcS)

    val result = Map(
      "workload" -> a.workload,
      "attempted" -> attempted,
      "failed" -> nFailed,
      "e2e" -> e2e,
      "layers" -> layers,
      "refs" -> refs,
      "wrong" -> wrong,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> opStats,
      "details" -> Map(
        "session_s" -> sessionS, "backfill_s" -> bf.wallS, "prepare_s" -> prepS,
        "build_s" -> builds.map(_._1),
        "build_cpu_s" -> builds.map(_._2), "warmup_cpu_s" -> warmCpuS,
        "warmup_s" -> warmS, "timed_s" -> timedS, "passes" -> passes.size,
        "pass_s" -> passes.map(_.wallS), "pass_cpu_s" -> passes.map(_.cpuS),
        "checks_s" -> checksS, "jvm_s" -> (System.nanoTime() - t0) / 1e9,
        "ops_timed" -> timed.size,
        "op_tail_rule_percentile" -> tailPct, "op_tail_rule_beyond" -> tailBeyond,
        "freshness_samples" -> bf.freshness.size,
        "freshness_tail_percentile" -> fPct, "freshness_tail_beyond" -> fBeyond,
        "backfill_rows" -> bf.rows,
        "store_bytes" -> bf.storeBytes, "input_bytes" -> bf.inputBytes),
      "provenance" -> Map(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "cores" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "traced" -> a.trace))
    phase("done")
    if (a.trace) writeSpans(h, s"${a.out}/spans.jsonl")
    Files.writeString(Paths.get(s"${a.out}/result.json"), Json(result) + "\n")
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }

  /** Per-layer metrics from the traced spans: the set-up's backfill and
    * store builds, and the traced timed passes.
    */
  private def layerMetrics(
      spark: SparkSession, h: Harness, w: Workload,
      passes: Seq[Pass], progress: ProgressListener,
      warmStart: Long, warmEnd: Long, gcS: Double): Map[String, Double] = {
    h.drain()
    val tracedPasses = passes.filter(_.traced)
    val spans = h.samples.filter(s => s.phase == "build").toSeq ++ tracedPasses.flatMap(_.samples)
    val out = mutable.LinkedHashMap[String, Double]()
    Layers.all.foreach { layer =>
      val ss = spans.filter(_.layer == layer)
      val st = ss.map(s => s -> h.groups.of(s))
      out(s"$layer.calls") = ss.size.toDouble
      out(s"$layer.busy_s") = ss.map(_.wallS).sum
      out(s"$layer.plan_s") = ss.map(_.planS).sum
      out(s"$layer.exec_s") = ss.map(_.execS).sum
      out(s"$layer.task_s") = st.map(_._2.taskMs).sum / 1000.0
      out(s"$layer.driver_s") = st.map { case (s, g) =>
        (s.endMs - s.startMs - Stats.covered(g.tasks.toSeq, s.startMs, s.endMs)) / 1000.0
      }.sum
      out(s"$layer.jobs") = st.map(_._2.jobs).sum.toDouble
      out(s"$layer.shuffle_bytes") = st.map(_._2.shuffleBytes).sum.toDouble
      out(s"$layer.spill_bytes") = st.map(_._2.spillBytes).sum.toDouble
      out(s"$layer.failed") = ss.count(_.error != null).toDouble
    }
    // streaming progress outside the warm-up pass
    val prog = progress.snapshot().filter(p => p.commitMs < warmStart || p.commitMs > warmEnd)
    def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1000.0
    out("streaming.trigger_s") = dur("triggerExecution")
    out("streaming.addBatch_s") = dur("addBatch")
    out("streaming.walCommit_s") = dur("walCommit")
    out("streaming.queryPlanning_s") = dur("queryPlanning")
    out("streaming.state_rows") = (prog.map(_.stateRows) :+ 0L).max.toDouble
    out("streaming.rows_in_ratio") = prog.map(_.inputRows).sum.toDouble / math.max(1L, w.offeredRows)
    out ++= FunctionPasses.run(spark, w.functionRows())
    out("sources.Tables.read_s") = w.tableReads().map { df =>
      (0 until 3).map { _ =>
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }.min
    }.sum
    out("spark.gc_s") = gcS
    // the first timed pass runs slow while the JIT catches up, so it is
    // left out of the untraced side
    val untraced = passes.drop(1).filterNot(_.traced).map(_.wallS)
    out("trace.overhead_ratio") =
      if (untraced.isEmpty || tracedPasses.isEmpty) Double.NaN
      else Stats.median(tracedPasses.map(_.wallS)) / Stats.median(untraced)
    val tracedWall = tracedPasses.map(_.wallS).sum
    out("trace.busy_coverage_ratio") =
      if (tracedWall <= 0) Double.NaN else tracedPasses.flatMap(_.samples).map(_.wallS).sum / tracedWall
    out.toMap
  }

  private def writeSpans(h: Harness, path: String): Unit = {
    val lines = h.samples.map { s =>
      val g = h.groups.of(s)
      Json(Map("op" -> s.op, "layer" -> s.layer, "phase" -> s.phase, "group" -> s.group,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "plan_s" -> s.planS, "exec_s" -> s.execS,
        "error" -> s.error, "jobs" -> g.jobs, "task_s" -> g.taskMs / 1000.0,
        "shuffle_bytes" -> g.shuffleBytes, "spill_bytes" -> g.spillBytes))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** A `key=value` file, as the runner and the generator write them. */
  def properties(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
  }
}

/** Projection-only passes of the engine's custom expressions over the
  * workload's rows (replicated, then materialised, so the pass is long
  * enough to time): rows per second, best of three.
  */
object FunctionPasses {
  import graft.functions._

  def run(spark: SparkSession, rows: DataFrame): Map[String, Double] = {
    val base = spark.range(20).crossJoin(rows).drop("id").localCheckpoint(true)
    val n = base.count()
    val toks = TextOps.tokens(col("text"))
    val exprs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "TimeBucket" -> TimeBucket.time_bucket(col("ts"), "15 minutes"),
      "Cents" -> Cents.cents(col("value")),
      "MinHashSig" -> MinHashSig.minhash_sig(WordShingles.word_shingles(toks, 3), 32),
      "SimHash" -> SimHash64.simhash64(toks),
      "Winnowing" -> Winnowing.winnow(toks, 4, 4),
      "WordShingles" -> WordShingles.word_shingles(toks, 3))
    exprs.map { case (name, e) =>
      val best = (0 until 3).map { _ =>
        val t = System.nanoTime()
        base.select(e.as("x")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }.min
      s"functions.$name.rows_per_s" -> n / best
    }.toMap
  }
}
