package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.GraphOps
import graft.streaming.{BatchSeqStore, EdgeStream}

case class BasketFact(order_id: Long, part_id: Long)

/** Streaming edge-store maintenance: folding micro-batches of basket
  * facts converges to the batch support derivation over everything
  * ingested, regardless of how the baskets are sliced into batches,
  * and the store survives replays and crashes around its compaction.
  */
class EdgeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def facts(seed: Int, baskets: Int): Seq[BasketFact] = {
    val rnd = new scala.util.Random(seed)
    (0 until baskets).flatMap { b =>
      val n = 2 + rnd.nextInt(4)
      (0 until n).map(_ => BasketFact(b.toLong, rnd.nextInt(30).toLong))
    }
  }

  /** The part directories directly under the store. */
  private def partDirs(store: String): Seq[String] =
    Option(new java.io.File(store).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("batch_seq=")).sorted

  /** Run `body` with the compaction seam throwing at `step`. */
  private def crashAt(step: String)(body: => Unit): Unit = {
    BatchSeqStore.onCompactStep = s =>
      if (s == step) throw new IllegalStateException(s"crash at $step")
    try intercept[IllegalStateException](body)
    finally BatchSeqStore.onCompactStep = _ => ()
  }

  test("stream fold == batch supports over the union, across micro-batch slicings") {
    implicit val sqlCtx = spark.sqlContext
    val all = facts(17, 40)
    val store = java.nio.file.Files.createTempDirectory("edge-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("edge-ckpt").toString
    val source = MemoryStream[BasketFact]
    val writer = EdgeStream.toSupportStore(
      source.toDF(), "order_id", "part_id", store, ckpt)
    // slice the baskets into 3 uneven micro-batches on basket
    // boundaries (the ordering contract: a basket arrives whole)
    val slices = Seq(
      all.filter(_.order_id < 7),
      all.filter(f => f.order_id >= 7 && f.order_id < 25),
      all.filter(_.order_id >= 25))
    slices.foreach { s =>
      source.addData(s: _*)
      BatchSeqStore.runAvailableNow(writer)
    }
    val streamed = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = GraphOps.itemEdgeSupports(all.toDF(), "order_id", "part_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty && streamed.values.exists(_ >= 2))
  }

  test("delta fold: each trigger writes ONLY its batch partition; replay replaces, never double-counts") {
    val store = java.nio.file.Files.createTempDirectory("edge-store2").toString
    val b1 = Seq(BasketFact(1, 10), BasketFact(1, 11)).toDF()
    val b2 = Seq(BasketFact(2, 10), BasketFact(2, 11)).toDF()
    EdgeStream.foldBatch(b1, "order_id", "part_id", store, batchId = 0L)
    val after1 = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after1 == Map((10L, 11L) -> 1L))
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    val after2 = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after2 == Map((10L, 11L) -> 2L))
    // per-trigger writes are delta parts — no store-proportional
    // rewrite on the trigger path (nothing compacted yet)
    assert(partDirs(store).length == 2, partDirs(store).mkString(","))
    assert(!partDirs(store).exists(_.contains("compacted-")))
    // a replayed batchId (crash after the write, before the
    // checkpoint commit) replaces its own part — no double-count
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    val after2b = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after2b == after2)
    // a torn write of batch 1 (wrong rows in its part) is REPLACED by
    // the replay's dynamic partition overwrite
    BatchSeqStore.write(Seq((10L, 11L, 5L)).toDF("x", "y", "support"), store,
      BatchSeqStore.part("-", 1L))
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    val after2c = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after2c == after2, "a replay over a torn part double-counted")
  }

  test("compaction absorbs deltas into one compacted part: totals exact, victims swept, idempotent") {
    val store = java.nio.file.Files.createTempDirectory("edge-store7").toString
    val all = facts(23, 30)
    val slices = Seq(all.filter(_.order_id < 10), all.filter(f => f.order_id >= 10 && f.order_id < 20),
      all.filter(_.order_id >= 20))
    slices.zipWithIndex.foreach { case (s, i) =>
      EdgeStream.foldBatch(s.toDF(), "order_id", "part_id", store, batchId = i.toLong)
    }
    val expect = GraphOps.itemEdgeSupports(all.toDF(), "order_id", "part_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def supports = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(supports == expect)
    EdgeStream.compact(spark, store)
    // exact totals survive the absorb; absorbed parts are swept
    assert(supports == expect)
    assert(partDirs(store) == Seq("batch_seq=compacted-1"), partDirs(store).mkString(","))
    // compaction is idempotent: a retry with nothing to absorb is a no-op
    EdgeStream.compact(spark, store)
    assert(supports == expect)
    assert(partDirs(store) == Seq("batch_seq=compacted-1"))
    // a post-compaction fold lands beside the compacted part and merges
    // on read
    val extra = Seq(BasketFact(900, 10), BasketFact(900, 11)).toDF()
    EdgeStream.foldBatch(extra, "order_id", "part_id", store, batchId = 3L)
    val bumped = supports
    assert(bumped((10L, 11L)) == expect.getOrElse((10L, 11L), 0L) + 1L)
    // the read never reshuffles the compacted part: only the open
    // delta's rows reach a shuffle
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    org.apache.spark.sql.GraftBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      EdgeStream.readStore(spark, store).collect()
      org.apache.spark.sql.GraftBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(shuffled.get < expect.size, s"${shuffled.get} rows shuffled for a store of ${expect.size}")
  }

  test("crash mid-compaction: before the commit a retry re-merges; after it, absorbed parts are invisible and their replays skip") {
    val store = java.nio.file.Files.createTempDirectory("edge-store8").toString
    val b1 = Seq(BasketFact(1, 10), BasketFact(1, 11)).toDF()
    val b2 = Seq(BasketFact(2, 10), BasketFact(2, 11)).toDF()
    EdgeStream.foldBatch(b1, "order_id", "part_id", store, batchId = 0L)
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    def supports = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(supports == Map((10L, 11L) -> 2L))
    // crash AFTER the merged rows were staged but BEFORE the manifest
    // commit: the staging is invisible, the parts stay authoritative
    crashAt("staged")(EdgeStream.compact(spark, store))
    assert(supports == Map((10L, 11L) -> 2L))
    EdgeStream.foldBatch(b1, "order_id", "part_id", store, batchId = 2L)
    assert(supports == Map((10L, 11L) -> 3L))
    // crash AFTER the commit, before the staged part is renamed: the
    // absorbed parts are invisible, the staged rows count once, and
    // the replay of the absorbed batch 2 is skipped
    crashAt("committed")(EdgeStream.compact(spark, store))
    assert(supports == Map((10L, 11L) -> 3L))
    EdgeStream.foldBatch(b1, "order_id", "part_id", store, batchId = 2L)
    assert(supports == Map((10L, 11L) -> 3L), "replay of an absorbed batch double-counted")
    // the next compaction finishes the interrupted one first: totals
    // exact, victims swept
    EdgeStream.compact(spark, store)
    assert(supports == Map((10L, 11L) -> 3L))
    assert(partDirs(store) == Seq("batch_seq=compacted-1"), partDirs(store).mkString(","))
    // crash after the rename, before the sweep: same reads, healed by
    // the next compaction
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 3L)
    crashAt("renamed")(EdgeStream.compact(spark, store))
    assert(supports == Map((10L, 11L) -> 4L))
    assert(partDirs(store).size == 3, partDirs(store).mkString(","))
    EdgeStream.compact(spark, store)
    assert(supports == Map((10L, 11L) -> 4L))
    assert(partDirs(store) == Seq("batch_seq=compacted-2"), partDirs(store).mkString(","))
  }

  test("auto-compaction at compactEvery keeps stream == batch and bounds the open-delta set") {
    implicit val sqlCtx = spark.sqlContext
    val all = facts(31, 40)
    val store = java.nio.file.Files.createTempDirectory("edge-store9").toString
    val ckpt = java.nio.file.Files.createTempDirectory("edge-ckpt9").toString
    val source = MemoryStream[BasketFact]
    val writer = EdgeStream.toSupportStore(
      source.toDF(), "order_id", "part_id", store, ckpt, compactEvery = 2)
    val slices = (0 until 5).map(i => all.filter(_.order_id % 5 == i))
    slices.foreach { s =>
      source.addData(s: _*)
      BatchSeqStore.runAvailableNow(writer)
    }
    val streamed = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = GraphOps.itemEdgeSupports(all.toDF(), "order_id", "part_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // with compactEvery=2 every second part triggers a compaction; 5
    // slices leave the one compacted part
    val parts = BatchSeqStore.parts(spark, store)
    assert(parts.size <= 1 && parts.forall(_.startsWith("compacted-")),
      s"open deltas not bounded: $parts")
  }

  test("batch-sequence guard: replay skips, fresh sequence at 0 folds, anomalies fail fast") {
    val store = java.nio.file.Files.createTempDirectory("edge-store5").toString
    val b = Seq(BasketFact(1, 10), BasketFact(1, 11)).toDF()
    def supports = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k1 = BatchSeqStore.streamKey("/ckpt/one")
    val k2 = BatchSeqStore.streamKey("/ckpt/two")
    val k3 = BatchSeqStore.streamKey("/ckpt/three")
    assert(k1 != k2)
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k1)
    assert(supports == Map((10L, 11L) -> 1L))
    // same sequence, same id: the crash-after-write replay — it
    // replaces its own part
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k1)
    assert(supports == Map((10L, 11L) -> 1L))
    // a FRESH sequence (replaced checkpoint, ids restarting at 0) must
    // NOT be mistaken for that replay: its batch 0 folds
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k2)
    assert(supports == Map((10L, 11L) -> 2L))
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 1L, streamKey = k2)
    // once compaction absorbed the batches, a replay of the last one
    // is skipped instead of landing a second time
    EdgeStream.compact(spark, store)
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 1L, streamKey = k2)
    assert(supports == Map((10L, 11L) -> 3L))
    // same sequence arriving with a LOWER id than already absorbed:
    // checkpoint/store histories disagree — refuse, don't guess
    val e1 = intercept[IllegalStateException] {
      EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k2)
    }
    assert(e1.getMessage.contains("does not match this store's history"))
    // an unknown sequence arriving MID-stream (its batches 0..n-1 were
    // never folded here): refuse
    val e2 = intercept[IllegalStateException] {
      EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 5L, streamKey = k3)
    }
    assert(e2.getMessage.contains("unrecognized stream"))
    // and none of the refusals touched the store
    assert(supports == Map((10L, 11L) -> 3L))
  }

  test("non-integral item ids are rejected at the fold boundary, not mid-stream") {
    val store = java.nio.file.Files.createTempDirectory("edge-store3").toString
    val b = Seq(("o1", "skuA"), ("o1", "skuB")).toDF("order_id", "part_id")
    // string ids would hit the long canonicalization as an executor-side
    // cast failure several stages in; the contract raises up front
    val e = intercept[IllegalArgumentException] {
      EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L)
    }
    assert(e.getMessage.contains("integral"))
  }
}
