package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** A repeated pass reuses its generated classes. Spark's codegen cache
  * holds 100 entries by default (four LRU segments of 25), so a pass
  * over more distinct classes than that evicts each one before the next
  * pass needs it and recompiles everything in Janino. Sessions built
  * with `Tables.ReaderConfs` size the cache for a whole run.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second round of 80 distinct whole-stage queries compiles no class") {
    // the whole-stage code differs only by the inlined int literals
    val queries = (0 until 80).map { i =>
      spark.range(8)
        .select((col("id") * lit(i + 1000) + lit(i)).as("x"))
        .filter(col("x") > lit(-i))
    }
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles(queries.foreach(_.collect()))
    // more than Spark's default cache holds, so the assertion below
    // fails on a session built without the larger cache
    assert(first > 100, s"first round compiled $first classes")
    assert(compiles(queries.foreach(_.collect())) == 0)
  }
}
