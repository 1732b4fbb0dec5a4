package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.GraphOps
import graft.streaming.{BatchSeqStore, EdgeStream}

case class BasketFact(order_id: Long, part_id: Long)

/** Streaming edge-store maintenance: folding micro-batches of basket
  * facts converges to the batch support derivation over everything
  * ingested, regardless of how the baskets are sliced into batches,
  * and the two-generation store survives an interleaved re-fold.
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

  /** Overwrite the store's manifest in place, as a crash simulation.
    * Through the Hadoop local filesystem, so the checksum sidecar the
    * store's own commit leaves beside CURRENT stays consistent.
    */
  private def rewriteManifest(store: String, text: String): Unit = {
    val out = new org.apache.hadoop.fs.Path(store, "CURRENT")
    val os = out.getFileSystem(spark.sessionState.newHadoopConf()).create(out, true)
    try os.write(text.getBytes("UTF-8")) finally os.close()
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
    // per-trigger writes are delta partitions — the store-proportional
    // generation rewrite is gone from the trigger path (no base until
    // a compaction absorbs the deltas)
    val deltaParts = new java.io.File(s"$store/delta").listFiles()
      .map(_.getName).filter(_.startsWith("batch_seq=")).sorted
    assert(deltaParts.length == 2, deltaParts.mkString(","))
    assert(!new java.io.File(s"$store/gen=0").exists() &&
      !new java.io.File(s"$store/gen=1").exists())
    // a replayed batchId (crash after manifest write, before the
    // checkpoint commit) is a no-op — no double-count
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    val after2b = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after2b == after2)
    // crash BEFORE the manifest write: the replay's dynamic partition
    // overwrite REPLACES the half-written delta (simulate by rolling
    // the manifest back one batch and re-folding)
    val committed = java.nio.file.Files.readString(java.nio.file.Paths.get(store, "CURRENT"))
    rewriteManifest(store,
      committed.trim.split("\\s+") match {
        case Array(g, _, k, e) => s"$g 0 $k $e"
      })
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    val after2c = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after2c == after2, "pre-manifest-crash replay double-counted")
  }

  test("compaction absorbs deltas into the bucketed base: totals exact, epoch sweeps, base reads in place") {
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
    // exact totals survive the absorb; absorbed partitions are swept
    assert(supports == expect)
    val leftover = Option(new java.io.File(s"$store/delta").listFiles())
      .map(_.map(_.getName).filter(_.startsWith("batch_seq=")).toSeq)
      .getOrElse(Seq.empty)
    assert(leftover.isEmpty, s"absorbed deltas not swept: $leftover")
    // compaction is idempotent: a retry with no open deltas is a no-op
    EdgeStream.compact(spark, store)
    assert(supports == expect)
    // post-compaction fold lands in the NEW epoch and merges on read
    val extra = Seq(BasketFact(900, 10), BasketFact(900, 11)).toDF()
    EdgeStream.foldBatch(extra, "order_id", "part_id", store, batchId = 3L)
    val bumped = supports
    assert(bumped((10L, 11L)) == expect.getOrElse((10L, 11L), 0L) + 1L)
    // the read-side merge reads the bucketed base IN PLACE: one
    // exchange total (the open-delta fold), bucket metadata on the scan
    val plan = EdgeStream.readStore(spark, store)
      .queryExecution.executedPlan.toString
    assert(graft.tools.ExchangeAudit.shuffleExchanges(plan) == 1,
      s"base side must not reshuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount"), s"base scan not bucketed:\n$plan")
  }

  test("crash mid-compaction: a retry before the flip re-merges; after the flip, stale epochs are invisible") {
    val store = java.nio.file.Files.createTempDirectory("edge-store8").toString
    val b1 = Seq(BasketFact(1, 10), BasketFact(1, 11)).toDF()
    val b2 = Seq(BasketFact(2, 10), BasketFact(2, 11)).toDF()
    EdgeStream.foldBatch(b1, "order_id", "part_id", store, batchId = 0L)
    EdgeStream.foldBatch(b2, "order_id", "part_id", store, batchId = 1L)
    def supports = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = Map((10L, 11L) -> 2L)
    assert(supports == expect)
    // crash AFTER the merged base was written but BEFORE the manifest
    // flip: in that window the old manifest and the old epoch's delta
    // partitions are both still present (the sweep only runs after a
    // successful flip) — simulate by snapshotting both, compacting,
    // then restoring them around the now-written generation
    val preFlip = java.nio.file.Files.readString(java.nio.file.Paths.get(store, "CURRENT"))
    val deltaDir = java.nio.file.Paths.get(store, "delta")
    val snap = java.nio.file.Files.createTempDirectory("edge-delta-snap")
    org.apache.commons.io.FileUtils.copyDirectory(
      deltaDir.toFile, snap.toFile)
    EdgeStream.compact(spark, store)
    assert(supports == expect)
    rewriteManifest(store, preFlip) // roll back the flip
    org.apache.commons.io.FileUtils.copyDirectory(
      snap.toFile, deltaDir.toFile) // restore the not-yet-swept deltas
    EdgeStream.foldBatch(b1, "order_id", "part_id", store, batchId = 2L,
      streamKey = null, compactEvery = 16)
    // the rolled-back epoch still counts its (re-written) deltas, and
    // the dead half-written generation is invisible
    assert(supports == Map((10L, 11L) -> 3L))
    // the retry's compact overwrites the dead generation from
    // unchanged inputs — totals stay exact
    EdgeStream.compact(spark, store)
    assert(supports == Map((10L, 11L) -> 3L))
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
    // with compactEvery=2 the open-delta set never exceeds 1 after a
    // trigger that compacted; 5 slices → at most 1 open partition left
    val open = Option(new java.io.File(s"$store/delta").listFiles())
      .map(_.map(_.getName).count(_.startsWith("batch_seq="))).getOrElse(0)
    assert(open <= 1, s"open deltas not bounded: $open")
    assert(new java.io.File(s"$store/gen=0").exists() ||
      new java.io.File(s"$store/gen=1").exists())
  }

  test("fresh-session recovery: a dropped catalog entry re-registers with bucket metadata intact") {
    val store = java.nio.file.Files.createTempDirectory("edge-store4").toString
    val b = Seq(BasketFact(1, 10), BasketFact(1, 11), BasketFact(2, 10), BasketFact(2, 11)).toDF()
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L)
    EdgeStream.compact(spark, store) // materialize the bucketed base
    val before = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // simulate a fresh session: the files + manifest survive, the
    // session-scoped catalog entry does not
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_edge_stream_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val after = EdgeStream.readStore(spark, store)
    assert(after.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == before)
    // and the recovered table still carries the bucket spec: a join on
    // (x, y) reads the store without an exchange
    val delta = Seq((10L, 11L, 1L)).toDF("x", "y", "__ds")
    val plan = after.withColumnRenamed("support", "__ss")
      .join(delta, Seq("x", "y"), "full_outer")
      .queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount") &&
      graft.tools.ExchangeAudit.shuffleExchanges(plan) == 1,
      s"recovered store lost its bucket metadata:\n$plan")
  }

  test("batch-sequence guard: replay skips, fresh sequence at 0 folds, anomalies fail fast") {
    val store = java.nio.file.Files.createTempDirectory("edge-store5").toString
    val b = Seq(BasketFact(1, 10), BasketFact(1, 11)).toDF()
    def supports = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k1 = BatchSeqStore.streamKey("/ckpt/one")
    val k2 = BatchSeqStore.streamKey("/ckpt/two")
    assert(k1 != k2)
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k1)
    assert(supports == Map((10L, 11L) -> 1L))
    // same sequence, same id: the crash-after-flip replay — skipped
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k1)
    assert(supports == Map((10L, 11L) -> 1L))
    // a FRESH sequence (replaced checkpoint, ids restarting at 0) must
    // NOT be mistaken for that replay: its batch 0 folds — the silent
    // data-loss case a bare batchId==lastApplied guard had
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k2)
    assert(supports == Map((10L, 11L) -> 2L))
    // same sequence arriving with a LOWER id than already applied:
    // checkpoint/store histories disagree — refuse, don't guess
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 1L, streamKey = k2)
    val e1 = intercept[IllegalStateException] {
      EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L, streamKey = k2)
    }
    assert(e1.getMessage.contains("does not match this store's history"))
    // an unknown sequence arriving MID-stream (its batches 0..n-1 were
    // never folded here): refuse
    val e2 = intercept[IllegalStateException] {
      EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 5L, streamKey = k1)
    }
    assert(e2.getMessage.contains("unrecognized stream"))
    // and none of the refusals touched the store
    assert(supports == Map((10L, 11L) -> 3L))
  }

  test("legacy keyless manifest: the first keyed fold adopts the key, even on the skip path") {
    val store = java.nio.file.Files.createTempDirectory("edge-store6").toString
    val b = Seq(BasketFact(1, 10), BasketFact(1, 11)).toDF()
    def supports = EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k1 = BatchSeqStore.streamKey("/ckpt/legacy-upgrade")
    val k2 = BatchSeqStore.streamKey("/ckpt/intruder")
    // a legacy store: folds recorded WITHOUT a stream key
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 0L)
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 1L)
    assert(supports == Map((10L, 11L) -> 2L))
    // first keyed fold lands on the SKIP path (batchId == recorded):
    // legacy skip semantics apply once, but the manifest must leave the
    // keyless form NOW — not only on the next folding write
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 1L, streamKey = k1)
    assert(supports == Map((10L, 11L) -> 2L))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(store, "CURRENT")).trim
    assert(manifest.split("\\s+")(2) == k1, s"manifest not adopted: '$manifest'")
    // proof the adoption has teeth: a DIFFERENT sequence arriving
    // mid-stream now fails fast — under the keyless manifest it would
    // have silently folded (sameSeq defaulted true)
    val e = intercept[IllegalStateException] {
      EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 7L, streamKey = k2)
    }
    assert(e.getMessage.contains("unrecognized stream"))
    // ... and a replay of the adopted sequence still skips
    EdgeStream.foldBatch(b, "order_id", "part_id", store, batchId = 1L, streamKey = k1)
    assert(supports == Map((10L, 11L) -> 2L))
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
