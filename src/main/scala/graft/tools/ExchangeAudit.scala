package graft.tools

/** Dev generator for ExchangeBudgetSpec's per-query shuffle pins:
  * plans every SparkEntry query against a scale dir under the SAME
  * session as the test JVM (`graft.Session.local` on 4 cores) and
  * prints `name count` per query — paste the output into the spec's
  * budget map when a plan change is deliberate.
  *
  * Usage: runMain graft.tools.ExchangeAudit [sfDir]
  */
object ExchangeAudit {

  /** Shuffle exchanges in a physical-plan string: hash / range /
    * single-partition / round-robin repartitions — NOT broadcast
    * exchanges, which move O(small) bytes and are counted separately
    * where a spec cares.
    */
  def shuffleExchanges(plan: String): Int =
    "(?<![A-Za-z])Exchange [A-Za-z]".r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local("graft-exchange-audit", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n =
        try shuffleExchanges(fn(spark, sfDir).queryExecution.executedPlan.toString)
        catch { case e: Throwable => println(s"AUDIT_FAIL $name ${e.getMessage}"); -1 }
      println(s"AUDIT $name $n")
    }
    spark.stop()
  }
}
