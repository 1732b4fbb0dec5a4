package graft

import org.apache.spark.sql.functions.{array, col, lit, map, struct}

/** The run harness exists once: every session in `src/` is built by
  * [[Session.local]] (the test JVM's included), and the timed action
  * is defined once, in [[Session.consume]]. The engine ships two
  * mains, Verify and Bench; dev tools run from the test source set.
  */
class SessionSpec extends SparkSpec {
  import SourceCode.{census, code}

  test("sessions are built and queries consumed only through graft.Session") {
    // split so this file's own literal is not a builder call
    val builder = java.util.regex.Pattern.quote("SparkSession.builder" + "(")
    assert(census(builder, "src/main/scala", "src/test/scala") ==
      Map("src/main/scala/graft/Session.scala" -> 1))
    assert(census("""\bdef\s+consume\b""", "src/main/scala") ==
      Map("src/main/scala/graft/Session.scala" -> 1))
  }

  test("src/main defines only the Verify and Bench mains; no dev tool ships in it") {
    assert(census("""\bdef\s+main\b""", "src/main/scala") == Map(
      "src/main/scala/graft/Verify.scala" -> 1,
      "src/main/scala/graft/Bench.scala" -> 1))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("src/main/scala/graft/tools")),
      "dev tools belong under src/test/scala/graft/tools")
  }

  test("the comment stripper keeps code and drops comments") {
    val src = "val a = \"//x\" // gone\n/* gone /* nested */ gone */ val b = '\"'; val c = \"/*\" + d"
    assert(code(src) == "val a = \"//x\" \n val b = '\"'; val c = \"/*\" + d")
  }

  test("the test session carries the reader confs, UTC and size-first coalescing") {
    graft.sources.Tables.ReaderConfs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("consume hashes map-typed columns, nested or not, and counts a zero-column frame") {
    val df = spark.range(5).select(
      col("id"),
      map(lit("k"), col("id")).as("m"),
      struct(map(col("id"), lit(1.5)).as("inner")).as("s"),
      array(map(lit(1), col("id"))).as("a"))
    Session.consume(df)
    Session.consume(spark.range(3).select())
  }
}
