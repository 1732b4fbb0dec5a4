package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev smoke runner mirroring the driver's entry check: rows > 0 on
  * sf0.001. `sbt "runMain graft.tools.EntrySmoke"`.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(new org.apache.spark.SparkConf().setAll(graft.sources.Tables.ReaderConfs))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()} COLS=${df.columns.sorted.mkString(",")}")
    spark.stop()
  }
}
