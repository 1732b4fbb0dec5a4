package graft.tools

/** Dev smoke runner mirroring the driver's entry check: rows > 0 on
  * sf0.001. `sbt "runMain graft.tools.EntrySmoke"`.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local("graft-entry-smoke", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()} COLS=${df.columns.sorted.mkString(",")}")
    spark.stop()
  }
}
