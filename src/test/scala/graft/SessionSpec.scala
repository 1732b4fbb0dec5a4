package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{array, col, lit, map, struct}

/** The run harness exists once: every session in `src/` is built by
  * [[Session.local]] (the test JVM's included), and the timed action
  * is defined once, in [[Session.consume]].
  */
class SessionSpec extends SparkSpec {

  /** Scala source with comments blanked: line and (nested) block
    * comments are dropped, string and char literals are kept, so a
    * comment opener inside a string does not start a comment.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def at(j: Int): Char = if (j < n) src.charAt(j) else '\u0000'
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.charAt(i) == '/' && at(i + 1) == '*') { depth += 1; i += 2 }
          else if (src.charAt(i) == '*' && at(i + 1) == '/') { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (c == '"' && at(i + 1) == '"' && at(i + 2) == '"') {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out ++= src.substring(i, stop)
        i = stop
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n') {
          if (src.charAt(j) == '\\') j += 1
          j += 1
        }
        val stop = math.min(n, j + 1)
        out ++= src.substring(i, stop)
        i = stop
      } else if (c == '\'' && at(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else if (c == '\'' && at(i + 1) == '\\' && at(i + 3) == '\'') {
        out ++= src.substring(i, i + 4); i += 4
      } else { out += c; i += 1 }
    }
    out.toString
  }

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  /** Occurrences of `needle` in the code (not the comments) of every
    * Scala file under `roots`, by file; files without one are left out.
    */
  private def census(needle: String, roots: String*): Map[String, Int] =
    roots.flatMap(sources).flatMap { p =>
      val n = needle.r.findAllIn(code(Files.readString(p))).size
      if (n > 0) Some(p.toString -> n) else None
    }.toMap

  test("sessions are built and queries consumed only through graft.Session") {
    // split so this file's own literal is not a builder call
    val builder = java.util.regex.Pattern.quote("SparkSession.builder" + "(")
    assert(census(builder, "src/main/scala", "src/test/scala") ==
      Map("src/main/scala/graft/Session.scala" -> 1))
    assert(census("""\bdef\s+consume\b""", "src/main/scala") ==
      Map("src/main/scala/graft/Session.scala" -> 1))
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
