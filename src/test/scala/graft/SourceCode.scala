package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source censuses for the specs that pin where code lives. */
object SourceCode {

  /** Scala source with comments blanked: line and (nested) block
    * comments are dropped, string and char literals are kept, so a
    * comment opener inside a string does not start a comment.
    */
  def code(src: String): String = {
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

  /** Occurrences of the regex `needle` in the code (not the comments)
    * of every Scala file under `roots`, by file; files without one are
    * left out.
    */
  def census(needle: String, roots: String*): Map[String, Int] =
    roots.flatMap(sources).flatMap { p =>
      val n = needle.r.findAllIn(code(Files.readString(p))).size
      if (n > 0) Some(p.toString -> n) else None
    }.toMap

  /** Every Scala file under `root`. */
  def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }
}
