package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

import graft.sources.Tables

/** The table readers infer a file's schema once: a second read of a
  * known, unchanged table submits no Spark job (a bare
  * `spark.read.parquet` runs one per call to read the footer), builds
  * the schema inference would give, and a rewritten table is inferred
  * again.
  */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private val readers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "events" -> (() => Tables.events(spark, sfDir)),
    "lineitem" -> (() => Tables.lineitem(spark, sfDir)),
    "orders" -> (() => Tables.orders(spark, sfDir)),
    "customer" -> (() => Tables.customer(spark, sfDir)),
    "supplier" -> (() => Tables.supplier(spark, sfDir)),
    "part" -> (() => Tables.part(spark, sfDir)),
    "nation" -> (() => Tables.nation(spark, sfDir)),
    "region" -> (() => Tables.region(spark, sfDir)),
    "documents" -> (() => Tables.documents(spark, sfDir)),
    "embeddings" -> (() => Tables.embeddings(spark, sfDir)))

  /** Jobs submitted while `body` runs, counted after the bus drains. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.drain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("building each table reader a second time submits no Spark job") {
    readers.foreach { case (_, read) => read() }
    val jobs = readers.map { case (name, read) => name -> jobsDuring(read()) }
    assert(jobs.forall(_._2 == 0), s"jobs per second read: $jobs")
  }

  test("each cached schema equals the schema parquet inference gives") {
    readers.foreach { case (name, _) =>
      val cached = Tables.read(spark, sfDir, name).schema
      assert(cached == spark.read.parquet(s"$sfDir/$name.parquet").schema, name)
    }
  }

  test("a table rewritten at the same path is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("tables-schema").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((1L, "a", 1.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    val again = Tables.read(spark, dir, "t")
    assert(again.columns.toSeq == Seq("id", "s", "x"))
    assert(again.as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 1.5)))
  }
}
