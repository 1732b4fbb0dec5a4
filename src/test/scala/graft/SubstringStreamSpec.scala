package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.functions.TextOps
import graft.streaming.{BatchSeqStore, SubstringStream}

case class Doc(doc_id: Long, text: String)

/** Streaming substring dedup against the standing shingle-hash store:
  * each micro-batch's spans must equal the BATCH operator
  * (TextOps.substringCrossSpans) run against everything ingested
  * before that batch, regardless of slicing; the store converges to
  * the corpus's distinct shingle-hash set; and a replayed batch is
  * bit-idempotent (the exactly-once contract without a manifest).
  * Every case runs on both fold paths: the driver fold a slice under
  * the broadcast threshold takes, and the distributed fold that a
  * threshold of -1 forces; a property pins that the two land
  * row-identical parts.
  */
class SubstringStreamSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4

  /** `body` with broadcasting off, which forces the distributed fold. */
  private def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A case run on both fold paths. */
  private def bothPaths(name: String)(body: => Unit): Unit = test(name) {
    withClue("driver fold: ")(body)
    distributed(withClue("distributed fold: ")(body))
  }

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

  bothPaths("stream spans == per-prefix batch operator; store == distinct shingle set") {
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

  bothPaths("a replayed batch is bit-idempotent in both outputs (no manifest needed)") {
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

  test("property: driver and distributed folds land row-identical parts") {
    // a small vocabulary so batches share shingles; texts of 0-9 tokens
    // so some docs are shorter than k; ids from a small range or null,
    // so a batch repeats ids and holds null ids
    val text = Gen.choose(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    val doc = for {
      id <- Gen.frequency(5 -> Gen.choose(0L, 6L).map(Option(_)), 1 -> Gen.const(None))
      t <- text
    } yield (id, t)
    val batch = Gen.choose(0, 6).flatMap(Gen.listOfN(_, doc))
    // two standing shingles, then generated batches, an empty one, a
    // repeat of the first generated one (all its hashes present), one
    // whose duplicated positions sit exactly k and k + 1 apart, and one
    // of unseen words (none present); the last fold is replayed,
    // excluding its own part
    val standing = Seq((Some(20L), "p q r s"), (Some(21L), "t u v w"))
    val gaps = Seq((Some(22L), "p q r s t u v w"), (Some(23L), "p q r s x t u v w"),
      (None, "t u v w p q r s"))
    val scenarios = Gen.choose(1, 3).flatMap(Gen.listOfN(_, batch)).map { bs =>
      standing +: bs ++: Seq(Nil, bs.head, gaps, Seq((Some(9L), "x y z x y z w")))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val key = BatchSeqStore.streamKey("property-checkpoint")
    def fold(batches: Seq[Seq[(Option[Long], String)]]) = {
      val dir = java.nio.file.Files.createTempDirectory("substr-prop").toString
      val (store, spansOut) = (s"$dir/store", s"$dir/spans")
      val frames = batches.map(b => spark.createDataFrame(
        java.util.Arrays.asList(b.map { case (id, t) => Row(id.map(Long.box).orNull, t) }: _*),
        schema))
      def landed() = (
        BatchSeqStore.read(spark, spansOut, SpanSchema).toSeq
          .flatMap(_.collect().map(_.toSeq.map(String.valueOf).mkString(","))).sorted,
        BatchSeqStore.read(spark, store, HashSchema).toSeq
          .flatMap(_.collect().map(_.toSeq.map(String.valueOf).mkString(","))).sorted)
      frames.zipWithIndex.foreach { case (f, i) =>
        SubstringStream.foldBatch(f, "doc_id", "text", K, store, spansOut, i.toLong, key)
      }
      val first = landed()
      SubstringStream.foldBatch(frames.last, "doc_id", "text", K, store, spansOut,
        frames.size - 1L, key)
      (first, landed())
    }
    var nullSpans = 0
    val prop = Prop.forAllNoShrink(scenarios) { batches =>
      val (local, localReplayed) = fold(batches)
      nullSpans += local._1.count(_.startsWith("null,"))
      val (spread, spreadReplayed) = distributed(fold(batches))
      (local == spread && localReplayed == local && spreadReplayed == spread) :|
        s"batches $batches: driver $local distributed $spread"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(20261021L)), prop)
    assert(result.passed, result.status.toString)
    assert(nullSpans > 0, "the scenarios must land spans of null doc ids")
  }

  private val SpanSchema = StructType(
    Seq("doc_id", "span_start", "span_end", "n_tokens").map(StructField(_, LongType)))
  private val HashSchema = StructType(Seq(StructField("__h", LongType)))
}
