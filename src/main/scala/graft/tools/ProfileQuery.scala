package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Round-15 optimization profiler: run named SparkEntry queries under
  * the EXACT Bench session shape and consume action, and print a
  * per-stage wall/task-metric breakdown (duration, task time, shuffle
  * read/write bytes, records, spill) so optimization targets the stage
  * that actually burns the time (guide §1.1: empirical loop without
  * the UI, which Bench runs disabled).
  *
  * Also writes each query's `.explain("formatted")` to
  * `plans/r15/<query>_<tag>.txt` when a tag is given — the round's
  * plan-evidence deliverable.
  *
  * Each PROFILE line also carries `compiles=`: the classes Janino
  * compiled during the warm pass (CodegenMetrics). A warm pass should
  * compile 0; more means its generated classes were evicted from the
  * codegen cache or differ between runs (per-run literals in the code).
  *
  * Usage: runMain graft.tools.ProfileQuery [--plans=<tag>] q1 q2 ...
  */
object ProfileQuery {

  final case class StageRow(
      stageId: Int,
      name: String,
      numTasks: Int,
      wallMs: Long,
      taskMs: Long,
      gcMs: Long,
      inputBytes: Long,
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long,
      outputRecords: Long,
      spillBytes: Long)

  /** Collects completed-stage metrics; reset per query. */
  final class StageListener extends SparkListener {
    val rows = mutable.ArrayBuffer.empty[StageRow]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for {
        a <- si.completionTime
        b <- si.submissionTime
      } yield a - b).getOrElse(-1L)
      rows.synchronized {
        rows += StageRow(
          si.stageId,
          si.name.takeWhile(_ != '\n').take(90),
          si.numTasks,
          wall,
          m.executorRunTime,
          m.jvmGCTime,
          m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.outputMetrics.recordsWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val planTag = args.collectFirst { case a if a.startsWith("--plans=") => a.drop(8) }
    val names = args.filterNot(_.startsWith("--"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(new org.apache.spark.SparkConf().setAll(graft.sources.Tables.ReaderConfs))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
      case _ => false
    }
    def consume(df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}
      val cols = df.schema.fields.map { f =>
        val c = col("`" + f.name + "`")
        if (containsMap(f.dataType)) to_json(c) else c
      }
      if (cols.isEmpty) { df.count(); () }
      else {
        df.select(xxhash64(cols.toIndexedSeq: _*).as("__h"))
          .agg(expr("bit_xor(__h)")).head()
        ()
      }
    }

    // Same warmup as Bench so first-profiled queries aren't charged JIT.
    val warmDir = "/root/testdata/sf0.001"
    Seq("q_ohlcv_rollup_15m", "q_dedup_groups", "q_knn_kmeans_ivf",
      "q_simhash_neardup", "q_winnow_neardup", "q_copurchase").foreach { q =>
      try consume(graft.SparkEntry.queries(q)(spark, warmDir))
      catch { case _: Throwable => () }
    }

    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"PROFILE_SKIP $name (unknown)")
        case Some(fn) =>
          // cold pass builds caches/JIT; profile the warm pass (what
          // Bench's min-of-k reports)
          try {
            consume(fn(spark, sfDir))
            planTag.foreach { tag =>
              val df = fn(spark, sfDir)
              val txt = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              val dir = java.nio.file.Paths.get(
                "plans", sys.env.getOrElse("GRAFT_PLANS_ROUND", "r16"))
              java.nio.file.Files.createDirectories(dir)
              java.nio.file.Files.writeString(dir.resolve(s"${name}_$tag.txt"), txt)
            }
            listener.rows.synchronized(listener.rows.clear())
            val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val t0 = System.nanoTime()
            consume(fn(spark, sfDir))
            val wall = (System.nanoTime() - t0) / 1e9
            val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
            // listener bus is async; give it a beat to drain
            Thread.sleep(300)
            val rows = listener.rows.synchronized(listener.rows.toVector).sortBy(-_.taskMs)
            println(f"PROFILE $name wall=$wall%.2f s, ${rows.length} stages, " +
              f"jobsTaskTime=${rows.map(_.taskMs).sum / 1e3}%.2f s, compiles=$compiles")
            rows.take(14).foreach { r =>
              println(f"  stage ${r.stageId}%4d ${r.wallMs}%6d ms wall ${r.taskMs}%7d ms task gc=${r.gcMs}%6d ms " +
                f"${r.numTasks}%4d tasks in=${r.inputBytes / 1024}%8d KB sr=${r.shuffleReadBytes / 1024}%8d KB " +
                f"sw=${r.shuffleWriteBytes / 1024}%8d KB spill=${r.spillBytes / 1024}%6d KB  ${r.name}")
            }
          } catch {
            case e: Throwable =>
              println(s"PROFILE_FAIL $name ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
          }
      }
    }
    spark.stop()
  }
}
