package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.streaming.{BatchSeqStore, BoilerplateStream}

/** Streaming line-frequency store: the folded counts must equal the
  * whole-corpus batch frequencies for any slicing; a batch scrubbed
  * against the standing store must equal the batch operator run with
  * the prefix corpus's frequent set; and a replayed fold is
  * idempotent by the partition contract (counts never double).
  */
class BoilerplateStreamSpec extends SparkSpec {
  import spark.implicits._

  // 60 docs: "promo" in every doc, "mid" in docs 0-19, unique bodies
  private def mkDocs(n: Int): Seq[Doc] =
    (0 until n).map { i =>
      val mid = if (i < 20) "mid\n" else ""
      Doc(i.toLong, s"promo\n${mid}body-$i")
    }

  test("folded counts == whole-corpus batch frequencies; scrub is prefix-exclusive") {
    implicit val sqlCtx = spark.sqlContext
    val all = mkDocs(60)
    val store = java.nio.file.Files.createTempDirectory("bp-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bp-ckpt").toString
    val source = MemoryStream[Doc]
    val writer = BoilerplateStream.toLineStore(
      source.toDF(), "doc_id", "text", store, ckpt)
    val slices = Seq(all.take(25), all.slice(25, 40), all.drop(40))
    slices.foreach { s =>
      source.addData(s: _*)
      graft.streaming.BatchSeqStore.runAvailableNow(writer)
    }

    // folded counts == one-shot distinct-doc counts over the corpus
    val folded = BoilerplateStream.readLineCounts(spark, store)
      .as[(Long, Long)].collect().toMap
    val whole = all.toDF()
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("__l"))
      .select(col("doc_id"), xxhash64(col("__l")).as("__h"))
      .groupBy("__h").agg(countDistinct(col("doc_id")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(folded == whole)

    // a NEW batch scrubbed against the standing store == the batch
    // operator's removal set at the prefix corpus's frequencies
    val newBatch = Seq(Doc(1000L, "promo\nmid\nfresh-line")).toDF()
    val got = BoilerplateStream
      .scrubBatch(newBatch, "doc_id", "text", store, minDocs = 30L)
      .as[(Long, String, Long, Long)].head()
    // "promo" is in 60 standing docs (>= 30, removed); "mid" in 20 (< 30, kept)
    assert(got == ((1000L, "mid\nfresh-line", 3L, 1L)))
  }

  test("replayed fold replaces its partition: counts never double") {
    val docs = mkDocs(30)
    val store = java.nio.file.Files.createTempDirectory("bp-replay").toString
    val a = docs.take(15).toDF()
    val b = docs.drop(15).toDF()
    BoilerplateStream.foldBatch(a, "doc_id", "text", store, "t-000000000")
    BoilerplateStream.foldBatch(b, "doc_id", "text", store, "t-000000001")
    val before = BoilerplateStream.readLineCounts(spark, store)
      .as[(Long, Long)].collect().toMap
    BoilerplateStream.foldBatch(a, "doc_id", "text", store, "t-000000000")
    val after = BoilerplateStream.readLineCounts(spark, store)
      .as[(Long, Long)].collect().toMap
    assert(after == before, "replay doubled line counts")
    // and the self-exclusion view drops the replaying batch's rows
    val excl = BoilerplateStream
      .readLineCounts(spark, store, except = "t-000000000")
      .as[(Long, Long)].collect().toMap
    val bOnly = BoilerplateStream.readLineCounts(spark, {
      val s2 = java.nio.file.Files.createTempDirectory("bp-bonly").toString
      BoilerplateStream.foldBatch(b, "doc_id", "text", s2, "t-000000001")
      s2
    }).as[(Long, Long)].collect().toMap
    assert(excl == bOnly)
  }

  test("replayed scrub with self-exclusion == scrub before the batch's own fold") {
    // crash between fold and scrub: batch b's fold already landed, so
    // a recovering scrub must pass except=b's batch_seq — otherwise
    // b's own lines count toward minDocs against themselves
    val docs = mkDocs(40)
    val store = java.nio.file.Files.createTempDirectory("bp-selfex").toString
    val a = docs.take(25).toDF()
    val b = docs.drop(25).toDF()
    BoilerplateStream.foldBatch(a, "doc_id", "text", store, "t-000000000")
    val beforeFold = BoilerplateStream
      .scrubBatch(b, "doc_id", "text", store, minDocs = 30L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    BoilerplateStream.foldBatch(b, "doc_id", "text", store, "t-000000001")
    val replayed = BoilerplateStream
      .scrubBatch(b, "doc_id", "text", store, minDocs = 30L,
        except = "t-000000001")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(replayed.toSeq == beforeFold.toSeq)
    // and WITHOUT the exclusion the replay is visibly wrong here:
    // "promo" reaches 40 >= 30 only when b counts itself
    val wrong = BoilerplateStream
      .scrubBatch(b, "doc_id", "text", store, minDocs = 30L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(wrong.toSeq != beforeFold.toSeq)
  }

  test("empty store: nothing frequent, scrub is a no-op") {
    val store = java.nio.file.Files.createTempDirectory("bp-empty").toString
    val batch = Seq(Doc(1L, "a\nb")).toDF()
    val got = BoilerplateStream
      .scrubBatch(batch, "doc_id", "text", store, minDocs = 2L)
      .as[(Long, String, Long, Long)].head()
    assert(got == ((1L, "a\nb", 2L, 0L)))
  }
}
