package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.functions.TextOps
import graft.operators.{BloomOps, CmsOps, GraphOps}
import graft.sources.{Derived, Tables}
import graft.streaming.{BloomStream, CmsStream, EdgeStream, SubstringStream}

/** `corpus_dedup`: the document side. Set-up lands the seeded base
  * corpus in the four incremental document stores (substring, bloom,
  * count-min and co-occurrence edge), each a running streaming query
  * fed from memory, builds the standing bloom filter of the base
  * corpus, and rebuilds the persisted minhash store.
  * Each client pass first folds one seeded slice of new documents
  * through the four stores (one op: offered to all four at once, done
  * when all four have committed), then runs the dedup-family queries
  * over the corpus.
  *
  * Inputs (generated from the seed, see gen.py): `documents.parquet`
  * and `new_docs.parquet` (column `slice`).
  */
final class CorpusWorkload(
    spark: SparkSession, h: Harness, progress: ProgressListener, data: String, work: String)
    extends Workload {
  import spark.implicits._

  private val shingleK = 6
  private val cmsW = 2048
  private val cmsD = 4
  private val baseDocs: Seq[(Long, String)] =
    Tables.documents(spark, data).select("doc_id", "text").as[(Long, String)].collect().toSeq
  private val newDocs: Map[Int, Seq[(Long, String)]] =
    spark.read.parquet(s"$data/new_docs.parquet").select("slice", "doc_id", "text")
      .as[(Int, Long, String)].collect().toSeq.groupBy(_._1)
      .map { case (s, rows) => s -> rows.map(r => (r._2, r._3)).sortBy(_._1) }
  private val bloomWords = BloomOps.sizeWords(baseDocs.size + newDocs.values.map(_.size).sum)
  private val bloomK = BloomOps.optimalK(10)

  /** One store: its in-memory source and running query. */
  private final class Store(val name: String, val ms: MemoryStream[(Long, String)],
      val query: StreamingQuery)
  private val base = s"$work/stores"
  private var stores: Seq[Store] = Nil
  private val fed = mutable.ArrayBuffer[Seq[(Long, String)]]()
  private var offered = 0L
  def offeredRows: Long = offered

  private def tokens(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
  private def hashes(df: DataFrame): DataFrame =
    df.select(md5(col("text").cast("binary")).as("text_hash"))
  private def facts(df: DataFrame): DataFrame =
    tokens(df).select(col("doc_id"), xxhash64(col("tok")).as("item")).distinct()

  private def startStores(): Seq[Store] = {
    implicit val sqlCtx = spark.sqlContext
    def start(name: String)(writer: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[Row]) = {
      val ms = MemoryStream[(Long, String)]
      val q = writer(ms.toDF().toDF("doc_id", "text"))
        .queryName(s"store-$name").trigger(Trigger.ProcessingTime(0L)).start()
      new Store(name, ms, q)
    }
    Seq(
      start("substring")(d => SubstringStream.toShingleStore(d, "doc_id", "text", shingleK,
        s"$base/substring", s"$base/substring_spans", s"$base/ckpt_substring")),
      start("bloom")(d => BloomStream.toBloomStore(hashes(d), "text_hash", bloomWords, bloomK,
        s"$base/bloom", s"$base/ckpt_bloom")),
      start("cms")(d => CmsStream.toCmsStore(tokens(d), "tok", cmsW, cmsD,
        s"$base/cms", s"$base/ckpt_cms")),
      start("edge")(d => EdgeStream.toSupportStore(facts(d), "doc_id", "item",
        s"$base/edge", s"$base/ckpt_edge")))
  }

  /** Offers `rows` to every store at once and waits until each store's
    * query has committed them. The four queries fold concurrently, as
    * independent sinks.
    */
  private def foldAll(rows: Seq[(Long, String)]): Unit = {
    stores.foreach(_.ms.addData(rows))
    stores.foreach(_.query.processAllAvailable())
    fed += rows
    offered += rows.size.toLong * stores.size
  }

  def backfill(): Backfill = {
    val t0 = System.nanoTime()
    val c0 = Cpu.seconds()
    stores = startStores()
    val offerMs = System.currentTimeMillis()
    h.timed("fold_base_corpus", "streaming.stores", "build")(foldAll(baseDocs))
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = Cpu.seconds() - c0
    // freshness per store: the base corpus's offer to the commit of the
    // micro-batch that folded it
    h.drain()
    val names = stores.map(st => s"store-${st.name}").toSet
    val freshness = progress.snapshot().filter(p => names(p.query) && p.inputRows > 0)
      .map(p => (p.commitMs - offerMs) / 1000.0)
    val storeBytes = Main.dirBytes(base) - stores.map(st => Main.dirBytes(s"$base/ckpt_${st.name}")).sum
    Backfill(wallS, cpuS, baseDocs.size.toLong, freshness, storeBytes,
      Main.dirBytes(s"$data/documents.parquet"))
  }

  /** The standing bloom filter of the base corpus, as a batch build. */
  override def prepare(): Unit =
    h.timed("bloom_filter_build", "operators.BloomOps", "build") {
      BloomOps.bloomWords(hashes(baseDocs.toDF("doc_id", "text")), "text_hash", bloomWords, bloomK)
    }

  /** The persisted minhash store the incremental dedup queries read. */
  def build(rep: Int): Unit =
    h.timed("derived_minhash_store", "sources.Derived", "build") {
      Derived.minhashStoreRebuilt(spark, data)
    }

  private def q(name: String, layer: String): Query =
    Query(name, layer, () => SparkEntry.queries(name)(spark, data))

  val oracleQueries: Seq[String] = Seq("q_dedup_groups", "q_simhash_neardup", "q_winnow_neardup")

  def ops(pass: Int): Seq[Op] = {
    // the warm-up pass (0) runs the queries only: the backfill already
    // ran every fold path
    val folds = newDocs.get(pass - 1).toSeq.map { slice =>
      Action("fold_new_docs", "streaming.stores", () => foldAll(slice))
    }
    folds ++ Seq(
      q("q_dedup_groups", "operators.DedupGroups"),
      q("q_simhash_neardup", "functions.TextOps"),
      q("q_winnow_neardup", "functions.TextOps"))
  }

  /** Each store equals a batch recompute over every document folded so
    * far: bit-identical bloom words and count-min cells, and equal
    * checksums (count plus summed row hashes) of the edge supports and
    * of the substring spans, each fold's spans against the batch
    * cross-spans over all earlier folds.
    */
  def checks(): Seq[(String, Boolean, String)] = {
    val all = fed.flatten.toSeq.toDF("doc_id", "text")
    val bloomOk = BloomStream.readWords(spark, s"$base/bloom", bloomWords)
      .sameElements(BloomOps.bloomWords(hashes(all), "text_hash", bloomWords, bloomK))
    val cmsOk = CmsStream.readCells(spark, s"$base/cms", cmsW, cmsD)
      .sameElements(CmsOps.cmsCells(tokens(all), "tok", cmsW, cmsD))
    val eGot = Checksum.of(EdgeStream.readStore(spark, s"$base/edge"))
    val eWant = Checksum.of(GraphOps.itemEdgeSupports(facts(all), "doc_id", "item", pinWidth = true))
    val sCols = Seq("doc_id", "span_start", "span_end", "n_tokens").map(col)
    val sGot = Checksum.of(SubstringStream.readSpans(spark, s"$base/substring_spans").select(sCols: _*))
    val batches = fed.toSeq.map(_.toDF("doc_id", "text"))
    val sWant = Checksum.of((1 until batches.size).map { i =>
      TextOps.substringCrossSpans(batches(i), "doc_id", "text",
        batches.take(i).reduce(_ unionByName _), "doc_id", "text", shingleK).select(sCols: _*)
    }.reduce(_ unionByName _))
    Seq(
      ("bloom_store_equals_batch", bloomOk, s"words=$bloomWords"),
      ("cms_store_equals_batch", cmsOk, s"width=$cmsW depth=$cmsD"),
      ("edge_store_equals_batch", eGot == eWant, s"store=$eGot batch=$eWant"),
      ("substring_spans_equal_batch", sGot == sWant, s"store=$sGot batch=$sWant folds=${batches.size}"))
  }

  def functionRows(): DataFrame =
    Tables.documents(spark, data).select(
      timestamp_seconds(col("doc_id") * 60L).as("ts"),
      (col("n_chars") / 100.0).as("value"), col("text"))

  def tableReads(): Seq[DataFrame] = Seq(Tables.documents(spark, data))
}
