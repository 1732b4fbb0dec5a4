package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming._

/** Suite-wide streaming REPLAY audit: every sink the engine ships is
  * named here with its replay contract asserted — a crashed micro-batch
  * re-delivered after restart must not double-emit or double-fold.
  *
  * The engine's sinks fall into three mechanisms:
  *
  *   1. CUSTOM foreachBatch sinks landing through [[BatchSeqStore]],
  *      whose per-batch part a replay overwrites:
  *      [[StreamingRollup.toParquetSink]] (parts under `bucket_month`
  *      — StreamingSpec asserts both crash windows),
  *      [[CmsStream.toCmsStore]], [[BloomStream.toBloomStore]],
  *      [[BloomStream.toShardedStore]], [[BoilerplateStream.toLineStore]]
  *      [[SubstringStream.toShingleStore]] (store and spans) and
  *      [[EdgeStream.toSupportStore]], all behind the store's replay
  *      guard (EdgeStreamSpec asserts skip/fold/fail-fast,
  *      BatchSeqStoreSpec every crash point of every store).
  *      Re-asserted here per sink — the same part written twice equals
  *      it written once — so this spec is the complete sink census.
  *   2. STATEFUL TRANSFORMS emitting through Spark's FileStreamSink
  *      ([[CorpusStream.cleanIngest]]/[[CorpusStream.cdcIngest]],
  *      [[NearDupStream.candidatePairs]], [[ToxicityStream.toxicity]],
  *      [[FunnelStream.funnelLevels]], [[DriftStream.statsGate]]):
  *      exactly-once = deterministic re-emission from the checkpointed
  *      state store + the file sink's `_spark_metadata` batch manifest
  *      skipping an already-committed batchId. Asserted MECHANICALLY
  *      per operator below: run, crash-simulate by deleting the last
  *      `commits/<n>` marker (offsets written, commit not — the replay
  *      window), restart the query on the same checkpoint, continue,
  *      and require the output rows to be exactly the uninterrupted
  *      run's.
  *   3. [[AlertStream]]: NOT a persistent sink — a listener that turns
  *      query-failure events into alert ROWS for a downstream feed.
  *      Lifecycle events have no batchId to scope a replay guard by;
  *      the contract is at-least-once alerting (re-delivery of an
  *      alert is benign, suppression is not), same as the reference's
  *      telegram notifier. Asserted: a restarted listener re-reports a
  *      still-failing query rather than suppressing it.
  */
class StreamingSinkAuditSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Crash-replay harness for mechanism 2: drive `op` over the given
    * micro-batches into a parquet FileStreamSink twice — once
    * uninterrupted, once crash-replayed between batch boundaries
    * (delete the newest `commits/<n>` after the first run segment,
    * restart, feed the rest) — and require identical output row
    * multisets.
    */
  private def assertReplayExactlyOnce[T](
      name: String,
      batches: Seq[Seq[T]],
      crashAfter: Int,
      op: DataFrame => DataFrame
  )(implicit enc: org.apache.spark.sql.Encoder[T]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    def run(dir: String, crash: Boolean): Array[String] = {
      val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
      val source = MemoryStream[T]
      def start() = op(source.toDF())
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      var q = start()
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          source.addData(b: _*)
          q.processAllAvailable()
          if (crash && i == crashAfter) {
            // the replay window: offsets for the last batch are
            // written, its commit marker is not — a restart re-runs it
            q.stop()
            val commits = new java.io.File(s"$ckpt/commits").listFiles()
              .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
            assert(commits.nonEmpty, s"$name: no commits to crash")
            val last = commits.last
            // the local FS keeps a checksum sibling; a leftover would
            // block the restarted query's re-commit rename
            new java.io.File(last.getParent, s".${last.getName}.crc").delete()
            assert(last.delete())
            q = start()
            q.processAllAvailable() // replayed batch lands here
          }
        }
        q.processAllAvailable()
      } finally q.stop()
      // read through the sink's own manifest (spark.read honors
      // _spark_metadata), sorted whole-row render for multiset compare
      val df = spark.read.parquet(out)
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).sorted
    }
    val clean = run(
      java.nio.file.Files.createTempDirectory(s"audit_${name}_c").toString, crash = false)
    val replayed = run(
      java.nio.file.Files.createTempDirectory(s"audit_${name}_r").toString, crash = true)
    assert(clean.nonEmpty, s"$name: fixture produced no output rows")
    assert(replayed.sameElements(clean),
      s"$name: crash-replay diverged from the uninterrupted run\n" +
        s"  clean   : ${clean.mkString(" | ")}\n  replayed: ${replayed.mkString(" | ")}")
  }

  test("CorpusStream.cleanIngest: replayed micro-batch does not double-emit (file-sink manifest)") {
    assertReplayExactlyOnce[RawDoc]("corpus_clean",
      Seq(
        Seq(RawDoc(1L, ts("2024-03-01 08:00:00"), "alpha beta gamma delta"),
          RawDoc(2L, ts("2024-03-01 08:00:10"), "epsilon zeta eta theta")),
        Seq(RawDoc(3L, ts("2024-03-01 08:01:00"), "alpha beta gamma delta"),
          RawDoc(4L, ts("2024-03-01 08:01:10"), "iota kappa lambda mu")),
        Seq(RawDoc(5L, ts("2024-03-01 08:02:00"), "nu xi omicron pi rho"))),
      crashAfter = 1,
      df => CorpusStream.cleanIngest(df, "doc_id", "text", "t",
        watermark = "10 minutes", minTokens = 3, maxDupTokenRatio = 0.9))
  }

  test("CorpusStream.cdcIngest: replayed micro-batch does not double-emit novel chunks") {
    val body = (0 until 60).map(j => s"w${(j * 17) % 31}").mkString(" ")
    assertReplayExactlyOnce[RawDoc]("corpus_cdc",
      Seq(
        Seq(RawDoc(1L, ts("2024-03-01 08:00:00"), body)),
        Seq(RawDoc(2L, ts("2024-03-01 08:01:00"), "edited head " + body)),
        Seq(RawDoc(3L, ts("2024-03-01 08:02:00"), body + " new tail words"))),
      crashAfter = 1,
      df => CorpusStream.cdcIngest(df, "doc_id", "text", "t",
        watermark = "10 minutes", w = 3, modulus = 4))
  }

  test("NearDupStream.candidatePairs: replayed micro-batch does not re-pair against state") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    assertReplayExactlyOnce[StreamDoc]("neardup",
      Seq(
        Seq(StreamDoc(1L, ts("2024-03-01 08:00:00"), base)),
        Seq(StreamDoc(2L, ts("2024-03-01 08:00:30"), base.replace("green", "dark"))),
        Seq(StreamDoc(3L, ts("2024-03-01 08:01:00"), base))),
      crashAfter = 1,
      df => NearDupStream.candidatePairs(df, "doc_id", "text", "t",
        watermark = "10 minutes", bands = 4, shingleSize = 3,
        bucketCap = 100, stateHorizonMs = 3600000L))
  }

  test("ToxicityStream.toxicity: replayed micro-batch does not double-close volume buckets") {
    def series(sym: String, mul: Int) = (0 until 14).map { i =>
      val close = 10000L + mul * (if (i % 3 == 0) 40L * i else -25L * i)
      ToxicityStream.Bar(sym, ts(f"2024-03-01 ${i}%02d:00:00"), close, 80L + 15L * (i % 4))
    }
    val bars = series("A", 1) ++ series("B", -2)
    assertReplayExactlyOnce[ToxicityStream.Bar]("toxicity",
      Seq(bars.take(9), bars.slice(9, 20), bars.drop(20)),
      crashAfter = 1,
      df => ToxicityStream.toxicity(df.as[ToxicityStream.Bar], bucketVolumeCents = 300L).toDF())
  }

  test("FunnelStream.funnelLevels: replayed micro-batch does not double-emit episodes") {
    val t0 = ts("2024-03-01 08:00:00").getTime
    def ev(u: Long, t: String, offMin: Int) =
      UserEvent(u, t, new Timestamp(t0 + offMin * 60000L))
    assertReplayExactlyOnce[UserEvent]("funnel",
      Seq(
        Seq(ev(1, "view", 0), ev(1, "click", 1), ev(2, "view", 2)),
        Seq(ev(1, "purchase", 3), ev(2, "click", 4), ev(3, "view", 5)),
        // far-future step events flush every armed window closed
        Seq(ev(9, "view", 600), ev(8, "view", 601))),
      crashAfter = 1,
      df => FunnelStream.funnelLevels(df, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        windowUs = 2L * 3600000000L, watermark = "10 minutes"))
  }

  test("DriftStream.statsGate: replayed micro-batch does not double-emit gate rows") {
    val baseline = DriftStream.baselineProfile(
      Seq(("pay", 1.0), ("pay", 2.0), ("pay", 3.0)).toDF("event_type", "value"),
      "event_type", "value")
    assertReplayExactlyOnce[Ev]("drift",
      Seq(
        Seq(Ev("pay", ts("2024-03-01 08:10:00"), Some(1.5)),
          Ev("pay", ts("2024-03-01 08:20:00"), Some(2.5))),
        Seq(Ev("pay", ts("2024-03-01 09:10:00"), Some(9.0)),
          Ev("pay", ts("2024-03-01 09:20:00"), None)),
        Seq(Ev("pay", ts("2024-03-01 12:00:00"), Some(2.0)))),
      crashAfter = 1,
      df => DriftStream.statsGate(df, "event_type", "t", "value",
        windowLen = "1 hour", watermark = "0 seconds", baseline,
        thresholdMilli = 100L))
  }

  test("custom foreachBatch sinks: replayed batchId is idempotent (census re-assertion)") {
    // StreamingRollup.writeBatch — same (key, batchId) twice == once
    // (full crash-window coverage lives in StreamingSpec)
    val dir = java.nio.file.Files.createTempDirectory("audit_rollup").toString
    val key = BatchSeqStore.streamKey(s"$dir/ckpt")
    val b = Seq(("BTC", ts("2024-03-01 08:00:00"), 1.0, 2.0, 0.5, 1.5, 10.0, 3L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .withColumn("bucket_month", date_format(col("bucket_ts"), "yyyyMM"))
    StreamingRollup.writeBatch(b, s"$dir/rollup", key, 0L)
    StreamingRollup.writeBatch(b, s"$dir/rollup", key, 0L)
    assert(spark.read.parquet(s"$dir/rollup").count() == 1)

    // EdgeStream.foldBatch — same (streamKey, batchId) twice == once
    // (sequence-guard coverage lives in EdgeStreamSpec)
    val store = java.nio.file.Files.createTempDirectory("audit_edge").toString
    val facts = Seq((1L, 10L), (1L, 11L)).toDF("order_id", "part_id")
    EdgeStream.foldBatch(facts, "order_id", "part_id", store, batchId = 0L, streamKey = key)
    EdgeStream.foldBatch(facts, "order_id", "part_id", store, batchId = 0L, streamKey = key)
    assert(EdgeStream.readStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ==
      Map((10L, 11L) -> 1L))
  }

  test("per-batch store sinks: the same part written twice equals it written once") {
    // every landed row with its part, as a sorted whole-row render
    def landed(path: String): Seq[String] = {
      val df = spark.read.parquet(path)
      df.select(df.columns.sorted.toSeq.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    def twiceIsOnce(name: String, paths: String*)(fold: => Unit): Unit = {
      fold
      val once = paths.map(landed)
      assert(once.forall(_.nonEmpty), s"$name: fixture landed no rows")
      fold
      assert(paths.map(landed) == once, s"$name: a replayed part changed the store")
    }
    def dir(name: String) = java.nio.file.Files.createTempDirectory(s"audit_$name").toString
    val part = BatchSeqStore.part(BatchSeqStore.streamKey("audit-ckpt"), 0L)
    val keys = Seq("a", "b", "a", "c", "b", "a").toDF("k")
    val docs = Seq(
      (1L, "shared header line\nalpha beta gamma delta epsilon"),
      (2L, "shared header line\nalpha beta gamma delta zeta"),
      (3L, "shared header line\neta theta iota kappa")).toDF("doc_id", "text")

    val cms = dir("cms")
    twiceIsOnce("CmsStream", cms)(CmsStream.foldBatch(keys, "k", 64, 3, cms, part))
    val bloom = dir("bloom")
    twiceIsOnce("BloomStream", bloom)(BloomStream.foldBatch(keys, "k", 16, 3, bloom, part))
    val sharded = dir("bloom_sharded")
    twiceIsOnce("BloomStream sharded", sharded)(
      BloomStream.foldBatchSharded(keys, "k", 4, 8, 3, sharded, part))
    val lines = dir("boilerplate")
    twiceIsOnce("BoilerplateStream", lines)(
      BoilerplateStream.foldBatch(docs, "doc_id", "text", lines, part))
    // spans need an earlier batch to match against
    val (shingles, spans) = (dir("substring"), dir("substring_spans"))
    def substringFold(batch: org.apache.spark.sql.DataFrame, batchId: Long) =
      SubstringStream.foldBatch(batch, "doc_id", "text", 3, shingles, spans,
        batchId, BatchSeqStore.streamKey("audit-ckpt"))
    substringFold(docs.filter(col("doc_id") === 1L), 0L)
    twiceIsOnce("SubstringStream store and spans", shingles, spans)(
      substringFold(docs.filter(col("doc_id") =!= 1L), 1L))
  }

  test("AlertStream: a listener restart re-reports a still-failing query (at-least-once alerting)") {
    implicit val sqlCtx = spark.sqlContext
    // lifecycle events carry no batchId to scope a replay guard by;
    // the sink contract is at-least-once — suppression would be the bug
    def failOnce(): Unit = {
      val source = MemoryStream[RawDoc]
      val q = source.toDF()
        .select(when(col("doc_id") >= 0,
          raise_error(lit("audit: planted failure"))).as("boom"))
        .writeStream.outputMode("append").format("memory")
        .queryName(s"audit_fail_${System.nanoTime()}").start()
      source.addData(RawDoc(1L, ts("2024-03-01 08:00:00"), "x"))
      intercept[Exception] { q.processAllAvailable() }
      q.stop()
    }
    // QueryTerminated is delivered on the async listener bus — poll for
    // arrival before detaching, or a loaded machine loses the race
    def awaitFailureAlert(l: AlertStream.Listener): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!l.alerts.exists(_.alert_type == "stream_failed") &&
             System.nanoTime() < deadline) Thread.sleep(50)
    }
    val l1 = AlertStream.attach(spark)
    try { failOnce(); awaitFailureAlert(l1) }
    finally AlertStream.detach(spark, l1)
    spark.streams.resetTerminated()
    val l2 = AlertStream.attach(spark) // "restarted" listener, fresh state
    try { failOnce(); awaitFailureAlert(l2) }
    finally AlertStream.detach(spark, l2)
    assert(l1.alerts.exists(_.alert_type == "stream_failed"))
    assert(l2.alerts.exists(_.alert_type == "stream_failed"),
      "restarted listener suppressed a still-failing query")
  }
}
