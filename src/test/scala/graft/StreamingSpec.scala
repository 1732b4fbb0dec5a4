package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.CandleOps
import graft.streaming.{BatchSeqStore, StreamingRollup}

case class Tick(symbol: String, t: Timestamp, price: Double)

/** M5: the streaming rollup must agree with the batch rollup on
  * identical input (SURVEY.md §5 "Streaming tests").
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private lazy val ticks: Seq[Tick] = for {
    sym <- Seq("BTC", "ETH")
    m <- 0 until 60
  } yield Tick(sym, ts(f"2024-03-01 08:$m%02d:00"),
    (if (sym == "BTC") 100.0 else 10.0) + (m * 7 % 13))

  test("streaming windowed OHLCV (append mode) equals batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Tick]
    val streamed = StreamingRollup.streamingOhlcv(
      source.toDF(), Seq("symbol"), "t", "price", "15 minutes", "10 minutes")

    val q = streamed.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("rollup_out")
      .start()
    try {
      source.addData(ticks)
      q.processAllAvailable()
      // advance the event-time watermark past the last window so append
      // mode finalizes every bucket
      source.addData(Tick("BTC", ts("2024-03-01 12:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("rollup_out")
      .filter($"bucket_ts" < ts("2024-03-01 09:00:00"))
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .orderBy("symbol", "bucket_ts")
      .collect()
    val want = CandleOps.ohlcvRollup(
        ticks.toDF(), Seq("symbol"), "t", "price", "15 minutes")
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .orderBy("symbol", "bucket_ts")
      .collect()
    assert(got.length == 8) // 2 symbols x 4 windows, all finalized
    assert(got.sameElements(want))
  }

  test("streamingDedup suppresses re-delivered rows within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Tick]
    val deduped = StreamingRollup.streamingDedup(
      source.toDF(), Seq("symbol", "t"), "t", "10 minutes")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_out")
      .start()
    try {
      source.addData(ticks)
      q.processAllAvailable()
      source.addData(ticks.take(30)) // an at-least-once replay
      q.processAllAvailable()
      source.addData(Tick("BTC", ts("2024-03-01 12:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out")
    // every (symbol, t) appears exactly once despite the replay
    assert(got.count() == ticks.length + 1)
    assert(got.groupBy("symbol", "t").count().filter($"count" > 1).count() == 0)
  }

  test("streaming session_window summaries equal the batch sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Tick]
    // two bursts per user separated by a >20min lull → two sessions each
    val burst = for {
      u <- Seq("u1", "u2")
      (h, ms) <- Seq(("08", Seq(0, 2, 5, 9)), ("09", Seq(0, 3, 6)))
      m <- ms
    } yield Tick(u, ts(f"2024-03-01 $h:$m%02d:00"), (m + 1).toDouble)
    val sessioned = graft.operators.SessionOps.streamingSessionSummaries(
      source.toDF().withColumnRenamed("symbol", "user"),
      Seq("user"), "t", "price", "20 minutes", "15 minutes")
    val q = sessioned.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("session_out")
      .start()
    try {
      source.addData(burst)
      q.processAllAvailable()
      // push the watermark far past the last event so every session closes
      source.addData(Tick("flush", ts("2024-03-01 12:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("session_out")
      .filter($"user" =!= "flush")
      .orderBy("user", "session_start").collect()
    val want = graft.operators.SessionOps.sessionSummaries(
        burst.toDF().withColumnRenamed("symbol", "user"),
        Seq("user"), "t", "price", "20 minutes")
      .orderBy("user", "session_start").collect()
    assert(got.length == 4 && got.sameElements(want)) // 2 users x 2 sessions
  }

  test("chained stateful ops: replayed ticks dedup upstream of streaming sessions") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Tick]
    val burst = for {
      u <- Seq("u1", "u2")
      (h, ms) <- Seq(("08", Seq(0, 2, 5, 9)), ("09", Seq(0, 3, 6)))
      m <- ms
    } yield Tick(u, ts(f"2024-03-01 $h:$m%02d:00"), (m + 1).toDouble)
    // dedup (watermark-bounded state) feeding session_window — two
    // stateful operators composed in ONE append-mode streaming query
    val deduped = StreamingRollup.streamingDedup(
      source.toDF().withColumnRenamed("symbol", "user"),
      Seq("user", "t"), "t", "15 minutes")
    val sessioned = graft.operators.SessionOps.sessionSummaries(
      deduped, Seq("user"), "t", "price", "20 minutes")
    val q = sessioned.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_session_out")
      .start()
    try {
      source.addData(burst)
      q.processAllAvailable()
      source.addData(burst.take(6)) // at-least-once replay inside the watermark
      q.processAllAvailable()
      source.addData(Tick("flush", ts("2024-03-01 12:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("dedup_session_out")
      .filter($"user" =!= "flush")
      .orderBy("user", "session_start").collect()
    val want = graft.operators.SessionOps.sessionSummaries(
        burst.toDF().withColumnRenamed("symbol", "user"),
        Seq("user"), "t", "price", "20 minutes")
      .orderBy("user", "session_start").collect()
    // replayed rows were suppressed: counts and value totals match the
    // replay-free batch exactly
    assert(got.length == 4 && got.sameElements(want))
  }

  test("multi-grain fan-out: every grain's sink matches its batch rollup") {
    // a file source, not MemoryStream: MemoryStream truncates committed
    // batches (single-consumer), so independent per-grain queries need
    // a replayable source — exactly the production setup
    val dir = java.nio.file.Files.createTempDirectory("graft_grains").toString
    val in = s"$dir/in"
    (ticks :+ Tick("BTC", ts("2024-03-02 12:00:00"), 1.0)).toDF()
      .write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(ticks.toDF().schema).parquet(in)
    // run twice: AvailableNow finalizes windows crossed by the LAST
    // batch's watermark only on the next run from the same checkpoint
    (1 to 2).foreach { _ =>
      val writers = StreamingRollup.streamAllGrains(
        stream, Seq("symbol"), "t", "price", "10 minutes", dir,
        grains = Seq(graft.model.Timeframe.parse("15m"), graft.model.Timeframe.parse("1h")))
      writers.values.foreach(w => BatchSeqStore.runAvailableNow(w))
    }

    for (label <- Seq("15m", "1h")) {
      val grain = graft.model.Timeframe.parse(label).sparkInterval
      val stored = spark.read.parquet(s"$dir/rollup_$label")
        .filter($"bucket_ts" < ts("2024-03-01 09:00:00"))
        .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
        .orderBy("symbol", "bucket_ts").collect()
      val want = CandleOps.ohlcvRollup(ticks.toDF(), Seq("symbol"), "t", "price", grain)
        .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
        .orderBy("symbol", "bucket_ts").collect()
      assert(stored.sameElements(want), s"grain $label diverged")
    }
  }

  test("late data beyond the watermark is recovered by reconciliation (repairRange)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    val source = MemoryStream[Tick]
    val streamed = StreamingRollup.streamingOhlcv(
      source.toDF(), Seq("symbol"), "t", "price", "15 minutes", "10 minutes")
    // first batch: on-time data, then watermark advances far ahead
    source.addData(ticks)
    source.addData(Tick("BTC", ts("2024-03-01 12:00:00"), 1.0))
    val writer = StreamingRollup.toParquetSink(streamed, s"$dir/rollup", s"$dir/ckpt")
    BatchSeqStore.runAvailableNow(writer)
    // a straggler arrives hours late — the closed window ignores it
    val late = Tick("BTC", ts("2024-03-01 08:03:30"), 9999.0)
    source.addData(late)
    BatchSeqStore.runAvailableNow(
      StreamingRollup.toParquetSink(streamed, s"$dir/rollup", s"$dir/ckpt"))
    val streamedHigh = spark.read.parquet(s"$dir/rollup")
      .filter($"symbol" === "BTC" && $"bucket_ts" === ts("2024-03-01 08:00:00"))
      .agg(max($"high")).as[Double].head()
    assert(streamedHigh < 9999.0) // dropped, as watermark semantics dictate

    // reconciliation: batch source-of-truth recompute of the window
    // (the reference's quality-watchdog path: G2 detect -> R2 repair)
    val truth = (ticks :+ late).toDF()
    graft.operators.RollupStore.repairRange(
      truth, Seq("symbol"), "t", "price", "15 minutes",
      s"$dir/rollup_repaired", "2024-03-01 08:00:00", "2024-03-01 09:00:00")
    val repairedHigh = spark.read.parquet(s"$dir/rollup_repaired")
      .filter($"symbol" === "BTC" && $"bucket_ts" === ts("2024-03-01 08:00:00"))
      .agg(max($"high")).as[Double].head()
    assert(repairedHigh == 9999.0)
  }

  test("streaming parquet sink writes month-partitioned rollups") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val source = MemoryStream[Tick]
    val streamed = StreamingRollup.streamingOhlcv(
      source.toDF(), Seq("symbol"), "t", "price", "15 minutes", "10 minutes")
    source.addData(ticks)
    source.addData(Tick("BTC", ts("2024-03-01 12:00:00"), 1.0))
    val writer = StreamingRollup.toParquetSink(streamed, s"$dir/rollup", s"$dir/ckpt")
    BatchSeqStore.runAvailableNow(writer)

    val stored = spark.read.parquet(s"$dir/rollup")
    assert(stored.filter($"bucket_month" === "202403").count() >= 8)
    assert(stored.columns.contains("bucket_month"))
  }

  test("rollup sink exactly-once: replayed micro-batches cannot double-append (both crash windows)") {
    // the EdgeStream manifest contract expressed in the layout: each
    // batch owns its (bucket_month, batch_seq) partitions via dynamic
    // overwrite, so a replay re-lands exactly its own files
    val dir = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val path = s"$dir/rollup"
    val key = graft.streaming.BatchSeqStore.streamKey(s"$dir/ckpt")
    def month(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket_month", date_format($"bucket_ts", "yyyyMM"))
    val b0 = month(Seq(
      ("BTC", ts("2024-03-01 08:00:00"), 1.0, 2.0, 0.5, 1.5, 10.0, 3L),
      ("ETH", ts("2024-03-01 08:00:00"), 1.0, 2.0, 0.5, 1.5, 20.0, 2L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades"))

    // crash window A: batch 0 dies MID-write (partial files on disk),
    // the checkpoint never committed, the whole batch replays
    graft.streaming.StreamingRollup.writeBatch(b0.limit(1), path, key, 0L)
    graft.streaming.StreamingRollup.writeBatch(b0, path, key, 0L)
    assert(spark.read.parquet(path).count() == 2) // partial write fully superseded

    // crash window B: batch 0 wrote COMPLETELY, crash before the
    // checkpoint commit, identical replay — no double rows
    graft.streaming.StreamingRollup.writeBatch(b0, path, key, 0L)
    assert(spark.read.parquet(path).count() == 2)

    // progress: batch 1 appends without touching batch 0's partitions
    val b1 = month(Seq(
      ("BTC", ts("2024-03-01 09:00:00"), 1.0, 2.0, 0.5, 1.5, 30.0, 1L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades"))
    graft.streaming.StreamingRollup.writeBatch(b1, path, key, 1L)
    assert(spark.read.parquet(path).count() == 3)

    // a REPLACED checkpoint restarts batchIds at 0: its batch 0 lands
    // in fresh partitions instead of clobbering the old sequence's
    val key2 = graft.streaming.BatchSeqStore.streamKey(s"$dir/ckpt_new")
    graft.streaming.StreamingRollup.writeBatch(b1, path, key2, 0L)
    assert(spark.read.parquet(path).count() == 4)
    assert(spark.read.parquet(path).select("batch_seq").distinct().count() == 3)
  }

  test("streaming heavy-hitters sketch equals the batch sketch (and exact counts)") {
    // the space-saving aggregate is a TypedImperativeAggregate, so the
    // same sketch runs unchanged as a streaming complete-mode
    // aggregation — states merge incrementally across micro-batches
    import graft.functions.TopKItems
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val items = (1 to 400).map(_ => s"u${rnd.nextInt(20)}")
    val source = MemoryStream[String]
    val q = source.toDF().select($"value")
      .agg(TopKItems.topk_items($"value", 5, 64).as("top"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh_stream").start()
    items.grouped(100).foreach { batch =>
      source.addData(batch: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("hh_stream")
      .select(explode($"top").as("t"))
      .select($"t.item", $"t.cnt").as[(String, Long)].collect().toSeq
    val batch = items.toDF("value")
      .agg(TopKItems.topk_items($"value", 5, 64).as("top"))
      .select(explode($"top").as("t"))
      .select($"t.item", $"t.cnt").as[(String, Long)].collect().toSeq
    assert(streamed == batch)
    // capacity 64 > 20 distinct: the sketch is exact — check vs groupBy
    val exact = items.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
      .toSeq.sortBy { case (k, n) => (-n, k) }.take(5)
    assert(streamed == exact)
  }
}
