package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.streaming.{BatchSeqStore, SubstringStream}

case class Doc(doc_id: Long, text: String)

/** Streaming substring dedup against the standing shingle-hash store:
  * each micro-batch's spans must equal the BATCH operator
  * (TextOps.substringCrossSpans) run against everything ingested
  * before that batch, regardless of slicing; the store converges to
  * the corpus's distinct shingle-hash set; and a replayed batch is
  * bit-idempotent (the exactly-once contract without a manifest).
  */
class SubstringStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4

  private def mkDocs(seed: Int, n: Int): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    val boiler = "shared boilerplate sequence of tokens repeated everywhere"
    (0 until n).map { i =>
      val words = (0 until 12 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size)))
      val text =
        if (i % 3 == 0) s"${words.take(5).mkString(" ")} $boiler ${words.drop(5).mkString(" ")}"
        else words.mkString(" ")
      Doc(i.toLong, text)
    }
  }

  private def spansOf(df: org.apache.spark.sql.DataFrame) = df
    .select("doc_id", "span_start", "span_end", "n_tokens")
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    .toSet

  test("stream spans == per-prefix batch operator; store == distinct shingle set") {
    implicit val sqlCtx = spark.sqlContext
    val all = mkDocs(7, 60)
    val store = java.nio.file.Files.createTempDirectory("substr-store").toString
    val spansOut = java.nio.file.Files.createTempDirectory("substr-spans").toString
    val ckpt = java.nio.file.Files.createTempDirectory("substr-ckpt").toString
    val source = MemoryStream[Doc]
    val writer = SubstringStream.toShingleStore(
      source.toDF(), "doc_id", "text", K, store, spansOut, ckpt)
    val slices = Seq(all.take(20), all.slice(20, 45), all.drop(45))
    slices.foreach { s =>
      source.addData(s: _*)
      graft.streaming.BatchSeqStore.runAvailableNow(writer)
    }

    // batch truth: each slice's spans against the UNION OF EARLIER
    // slices (exclusive, like the incremental operator)
    val expected = slices.zipWithIndex.flatMap { case (s, i) =>
      if (i == 0) Set.empty[(Long, Long, Long, Long)]
      else {
        val corpus = slices.take(i).flatten.toDF()
        spansOf(TextOps.substringCrossSpans(
          s.toDF(), "doc_id", "text", corpus, "doc_id", "text", K))
      }
    }.toSet
    assert(expected.nonEmpty, "fixture must produce cross-batch spans")
    val streamed = spansOf(SubstringStream.readSpans(spark, spansOut))
    assert(streamed == expected)

    // store converges to the corpus's distinct shingle-hash set
    val storeHashes = SubstringStream.readStoreHashes(spark, store)
      .as[Long].collect().toSet
    val truthHashes = TextOps.shinglePositions(all.toDF(), "doc_id", "text", K)
      .select("__h").as[Long].collect().toSet
    assert(storeHashes == truthHashes)
    // and the per-batch partitions are disjoint (append-only set)
    val total = SubstringStream.readStoreHashes(spark, store).count()
    assert(total == truthHashes.size.toLong, "per-batch appends must be disjoint")
  }

  test("a replayed batch is bit-idempotent in both outputs (no manifest needed)") {
    val store = java.nio.file.Files.createTempDirectory("substr-store2").toString
    val spansOut = java.nio.file.Files.createTempDirectory("substr-spans2").toString
    val all = mkDocs(11, 30)
    val key = BatchSeqStore.streamKey("some-checkpoint")
    SubstringStream.foldBatch(all.take(15).toDF(), "doc_id", "text", K,
      store, spansOut, batchId = 0L, key = key)
    SubstringStream.foldBatch(all.drop(15).toDF(), "doc_id", "text", K,
      store, spansOut, batchId = 1L, key = key)
    val hashes1 = SubstringStream.readStoreHashes(spark, store).as[Long].collect().sorted
    val spans1 = spansOf(SubstringStream.readSpans(spark, spansOut))
    assert(spans1.nonEmpty)
    // replay batch 1 (crash-after-write, checkpoint not committed):
    // recompute sees a standing view EXCLUDING its own partition, so
    // the rewrite is bit-identical — no double-landing, no self-match
    SubstringStream.foldBatch(all.drop(15).toDF(), "doc_id", "text", K,
      store, spansOut, batchId = 1L, key = key)
    val hashes2 = SubstringStream.readStoreHashes(spark, store).as[Long].collect().sorted
    val spans2 = spansOf(SubstringStream.readSpans(spark, spansOut))
    assert(hashes2.sameElements(hashes1) && spans2 == spans1)
  }
}
