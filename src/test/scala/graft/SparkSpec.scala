package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM, built like
  * every graft main's ([[graft.Session.local]]).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local("graft-test", 4)
      // fresh warehouse per JVM: catalog state is per-JVM in-memory, so
      // a persistent warehouse dir would orphan table locations
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs submitted while `body` runs, counted after the
    * listener bus drains.
    */
  protected def jobsDuring(body: => Unit): Int = {
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

  /** Shuffle exchanges in a physical-plan string: hash / range /
    * single-partition / round-robin repartitions — NOT broadcast
    * exchanges, which move O(small) bytes and are counted separately
    * where a spec cares.
    */
  protected def shuffleExchanges(plan: String): Int =
    "(?<![A-Za-z])Exchange [A-Za-z]".r.findAllIn(plan).size
}
