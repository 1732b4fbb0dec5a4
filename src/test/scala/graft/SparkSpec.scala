package graft

import org.apache.spark.sql.SparkSession
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
}
