package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.BloomOps
import graft.streaming.{BloomStream, CmsStream, EdgeStream, SubstringStream}

/** Spark jobs as a budget for a steady fold of each document store: a
  * running query folds a base corpus and one slice, and the next
  * slice's fold (no compaction due) runs at most its committed number
  * of jobs. The stores and their input frames are built as perfbench
  * corpus_dedup builds them. Every job costs driver time at a slice's
  * size, which is most of what a fold pays; here the substring fold
  * ran 11 before it folded small slices on the driver. A change may lower a ceiling freely; raising one is a check
  * change and says why.
  */
class FoldJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def docs(seed: Int, ids: Range): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 40).map(i => s"w$i")
    ids.map { i =>
      i.toLong -> (0 until 8 + rnd.nextInt(40)).map(_ => vocab(rnd.nextInt(40))).mkString(" ")
    }
  }

  private def tokens(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  private val bloomWords = BloomOps.sizeWords(200)

  private val stores: Seq[(String, Int, (DataFrame, String) => DataStreamWriter[Row])] = Seq(
    ("substring", 4, (d, dir) => SubstringStream.toShingleStore(d, "doc_id", "text", 6,
      s"$dir/store", s"$dir/spans", s"$dir/ckpt")),
    ("bloom", 2, (d, dir) => BloomStream.toBloomStore(
      d.select(md5(col("text").cast("binary")).as("text_hash")), "text_hash",
      bloomWords, BloomOps.optimalK(10), s"$dir/store", s"$dir/ckpt")),
    ("cms", 2, (d, dir) => CmsStream.toCmsStore(tokens(d), "tok", 2048, 4,
      s"$dir/store", s"$dir/ckpt")),
    ("edge", 1, (d, dir) => EdgeStream.toSupportStore(
      tokens(d).select(col("doc_id"), xxhash64(col("tok")).as("item")).distinct(),
      "doc_id", "item", s"$dir/store", s"$dir/ckpt")))

  stores.foreach { case (name, ceiling, writer) =>
    test(s"a steady $name fold stays within its Spark job budget") {
      implicit val sqlCtx = spark.sqlContext
      val dir = java.nio.file.Files.createTempDirectory(s"fold-jobs-$name").toString
      val ms = MemoryStream[(Long, String)]
      val q = writer(ms.toDF().toDF("doc_id", "text"), dir)
        .trigger(Trigger.ProcessingTime(0L)).start()
      try {
        def fold(rows: Seq[(Long, String)]): Unit = { ms.addData(rows); q.processAllAvailable() }
        fold(docs(1, 0 until 100))
        fold(docs(2, 1000 until 1020))
        val jobs = jobsDuring(fold(docs(3, 2000 until 2020)))
        assert(jobs <= ceiling, s"a $name fold ran $jobs jobs, budget $ceiling")
      } finally q.stop()
    }
  }
}
