package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** One unit of work the client issues. A [[Query]] is a lazy builder
  * (the engine call, timed as `plan_s`) followed by the benchmark's
  * checksum action (timed as `exec_s`); an [[Action]] is eager work
  * such as a store fold, timed whole as `exec_s`.
  */
sealed trait Op { def name: String; def layer: String }
final case class Query(name: String, layer: String, build: () => DataFrame) extends Op
final case class Action(name: String, layer: String, body: () => Unit) extends Op

/** One executed op. Times are wall-clock milliseconds (for overlap
  * with task intervals) plus the plan/exec split in seconds.
  */
final case class Sample(
    op: String, layer: String, phase: String, group: String,
    startMs: Long, endMs: Long, planS: Double, execS: Double, cpuS: Double,
    checksum: String, error: String) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Order-independent result checksum that does not cancel duplicate
  * rows: row count plus the exact decimal SUM of a full-column
  * xxhash64 per row. (An XOR of row hashes cancels equal row pairs.)
  */
object Checksum {
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  def of(df: DataFrame): String = of(df, Seq(lit(true)), df.columns.toSeq).head

  /** One checksum of the `hashed` columns per row filter, all in one
    * aggregation.
    */
  def of(df: DataFrame, filters: Seq[Column], hashed: Seq[String]): Seq[String] = {
    val cols = hashed.map { name =>
      val c = col("`" + name + "`")
      if (hasMap(df.schema(name).dataType)) to_json(c) else c
    }
    if (cols.isEmpty) filters.map(f => s"${df.filter(f).count()}:0")
    else {
      val h = xxhash64(cols: _*).cast("decimal(38,0)")
      val aggs = filters.flatMap(f => Seq(count(when(f, lit(1))), sum(when(f, h))))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      filters.indices.map { i =>
        val s = if (r.isNullAt(2 * i + 1)) "0" else r.getDecimal(2 * i + 1).toPlainString
        s"${r.getLong(2 * i)}:$s"
      }
    }
  }
}

/** Spark counters per job group: one group per traced op. Jobs that
  * carry another group (a streaming query's own) are attributed by time
  * instead: to the op whose span covers their submission, and their
  * tasks to the op whose span covers their launch.
  */
final class GroupListener extends SparkListener {
  final class Stats {
    var jobs = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val tasks = mutable.ArrayBuffer[(Long, Long)]()
  }
  private val groups = new ConcurrentHashMap[String, Stats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val foreignJobs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val foreignTasks = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  private val Foreign = ""

  private def stats(g: String): Stats = groups.computeIfAbsent(g, _ => new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("pb-")) {
      stats(g).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
    } else {
      foreignJobs.add(e.time)
      e.stageIds.foreach(stageGroup.put(_, Foreign))
    }
  }

  private def add(s: Stats, e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageGroup.get(e.stageId) match {
      case null => ()
      case Foreign => foreignTasks.add(e)
      case g => add(stats(g), e)
    }

  /** Counters of one op's span (call after the bus has drained). */
  def of(s: Sample): Stats = {
    val out = new Stats
    Option(s.group).flatMap(g => Option(groups.get(g))).foreach { g =>
      out.jobs = g.jobs; out.taskMs = g.taskMs
      out.shuffleBytes = g.shuffleBytes; out.spillBytes = g.spillBytes; out.tasks ++= g.tasks
    }
    if (s.group != null) {
      def inSpan(t: Long) = t >= s.startMs && t <= s.endMs
      out.jobs += foreignJobs.asScala.count(inSpan)
      foreignTasks.asScala.filter(e => inSpan(e.taskInfo.launchTime)).foreach(add(out, _))
    }
    out
  }
}

/** One micro-batch's progress, as reported to the streaming listener. */
final case class Progress(
    query: String, batchId: Long, commitMs: Long, inputRows: Long,
    stateRows: Long, durations: Map[String, Long])

/** Records every micro-batch's progress; the commit time is the
  * trigger start plus the trigger's execution time.
  */
final class ProgressListener extends StreamingQueryListener {
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.add(Progress(
      Option(p.name).getOrElse(p.id.toString), p.batchId,
      start + d.getOrElse("triggerExecution", 0L), p.numInputRows,
      p.stateOperators.map(_.numRowsTotal).sum, d))
  }
  def snapshot(): Seq[Progress] = progress.asScala.toSeq
}

/** CPU seconds the benchmark JVM has used so far, all threads. Time a
  * busy host steals from the JVM's vCPUs is not counted.
  */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9
}

/** Peak heap occupancy right after a collection, over the whole run. */
final class HeapWatch {
  @volatile var peakBytes = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if isHeap(pool) => u.getUsed
        }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeap(pool: String): Boolean = heapPools.contains(pool)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** Runs ops, keeps every sample in memory, and (when tracing) tags
  * each op's Spark jobs with its own job group.
  */
final class Harness(val spark: SparkSession, val traced: Boolean) {
  val samples = mutable.ArrayBuffer[Sample]()
  val groups: GroupListener = if (traced) new GroupListener else null
  if (traced) spark.sparkContext.addSparkListener(groups)
  /** Off during the untraced passes of a traced run. */
  var tagging: Boolean = traced
  private var seq = 0

  def run(op: Op, phase: String): Sample = {
    seq += 1
    val group = if (tagging) s"pb-$seq" else null
    val sc = spark.sparkContext
    if (group != null) sc.setJobGroup(group, op.name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val c0 = Cpu.seconds()
    val t0 = System.nanoTime()
    var planS = 0.0
    var execS = 0.0
    var sum: String = null
    var err: String = null
    try op match {
      case Query(_, _, build) =>
        val df = build()
        val t1 = System.nanoTime()
        planS = (t1 - t0) / 1e9
        sum = Checksum.of(df)
        execS = (System.nanoTime() - t1) / 1e9
      case Action(_, _, body) =>
        body()
        execS = (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) =>
        err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        System.err.println(s"[perfbench] ${op.name} failed: $err")
    } finally if (group != null) sc.clearJobGroup()
    val s = Sample(op.name, op.layer, phase, group, startMs,
      System.currentTimeMillis(), planS, execS, Cpu.seconds() - c0, sum, err)
    samples += s
    s
  }

  /** Times `body` as an op of `layer` without a checksum. */
  def timed(name: String, layer: String, phase: String)(body: => Unit): Sample =
    run(Action(name, layer, () => body), phase)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile that still has at least ten samples
    * beyond it: (value, percentile, samples beyond). With fewer than
    * eleven samples it is the maximum, with none beyond.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n == 0) (Double.NaN, 100.0, 0)
    else if (n <= 10) (xs.max, 100.0, 0)
    else {
      val s = xs.sorted
      val idx = n - 11 // ten samples strictly above this one
      (s(idx), 100.0 * (idx + 1) / n, n - 1 - idx)
    }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
