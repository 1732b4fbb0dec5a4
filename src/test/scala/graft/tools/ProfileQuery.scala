package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge

import scala.collection.mutable

/** Optimization profiler: run named SparkEntry queries under the
  * EXACT Bench session shape, warm-up and consume action
  * ([[graft.Session]]), and print a per-stage wall/task-metric
  * breakdown (duration, task time, shuffle read/write bytes, records,
  * spill) so optimization targets the stage that actually burns the
  * time, without the UI, which Bench runs disabled.
  *
  * Also writes each query's `.explain("formatted")` to
  * `plans/<round>/<query>_<tag>.txt` when a tag is given, where
  * `<round>` is the GRAFT_PLANS_ROUND environment variable (default
  * `r16`) — the round's plan-evidence deliverable.
  *
  * Each PROFILE line also carries `compiles=`: the classes Janino
  * compiled during the warm pass (CodegenMetrics). A warm pass should
  * compile 0; more means its generated classes were evicted from the
  * codegen cache or differ between runs (per-run literals in the code).
  *
  * Usage: Test/runMain graft.tools.ProfileQuery [--plans=<tag>] q1 q2 ...
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local("graft-profile-query", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same warm-up and action as Bench, so first-profiled queries
    // aren't charged JIT and the profile is of what Bench times
    graft.Session.warmUp(spark)

    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"PROFILE_SKIP $name (unknown)")
        case Some(fn) =>
          // cold pass builds caches/JIT; profile the warm pass (what
          // Bench's min-of-k reports)
          try {
            graft.Session.consume(fn(spark, sfDir))
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
            graft.Session.consume(fn(spark, sfDir))
            val wall = (System.nanoTime() - t0) / 1e9
            val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
            // the listener bus is async: read the rows only after
            // every queued stage event has been delivered
            GraftBridge.drain(spark.sparkContext)
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
