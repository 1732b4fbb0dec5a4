package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RollupRouter

import graft.operators.{CandleOps, RollupStore}
import graft.streaming.{BatchSeqStore, StreamingRollup}

/** The full lifecycle of a STREAMING-written rollup store: exactly-once
  * micro-batch landing → layout-aware compaction → RollupRouter
  * registration → routed reads bit-identical to the batch rollup.
  *
  * Closes the loop the exactly-once sink opened: `toParquetSink` writes
  * nested `(bucket_month, batch_seq)` partitions, so a month-level
  * compactor that rewrote `partitionBy(bucket_month)` only would leave
  * leaf files at two partition depths under one root and break every
  * subsequent read of the store. compactPartitions must instead fold
  * the store into one synthetic `batch_seq=compacted-<n>` partition
  * per month, through the one BatchSeqStore compaction.
  */
class StreamCompactRouteSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Ticks spanning a month boundary so compaction can be exercised on
    * a SUBSET of months (the mixed-depth hazard case).
    */
  private lazy val ticks: Seq[Tick] = for {
    sym <- Seq("BTC", "ETH")
    (day, hour) <- Seq(("2024-03-31", 22), ("2024-03-31", 23), ("2024-04-01", 0))
    m <- 0 until 60
  } yield Tick(sym, ts(f"$day $hour%02d:$m%02d:00"),
    (if (sym == "BTC") 100.0 else 10.0) + ((hour * 60 + m) * 7 % 13))

  private def dataFiles(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) out += st.getPath.toString
    }
    out.toSeq
  }

  private def seqDirs(spark: org.apache.spark.sql.SparkSession, path: String, month: String): Seq[String] = {
    val md = new org.apache.hadoop.fs.Path(path, s"bucket_month=$month")
    val fs = md.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_seq=")).map(_.getPath.getName).toSeq
  }

  /** Land the fixture through the real sink in several micro-batches;
    * returns the store path. The far-future sentinel advances the
    * watermark so every fixture window finalizes; its own window never
    * emits, so the store covers exactly `ticks`.
    */
  private def landStream(dir: String, withCarriers: Boolean): String = {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Tick]
    val streamed = StreamingRollup.streamingOhlcv(
      source.toDF(), Seq("symbol"), "t", "price", "15 minutes", "10 minutes", withCarriers)
    val (b1, rest) = ticks.partition(_.t.getTime < ts("2024-03-31 23:00:00").getTime)
    source.addData(b1)
    BatchSeqStore.runAvailableNow(
      StreamingRollup.toParquetSink(streamed, s"$dir/rollup", s"$dir/ckpt"))
    source.addData(rest)
    BatchSeqStore.runAvailableNow(
      StreamingRollup.toParquetSink(streamed, s"$dir/rollup", s"$dir/ckpt"))
    source.addData(Tick("BTC", ts("2024-04-01 12:00:00"), 1.0))
    BatchSeqStore.runAvailableNow(
      StreamingRollup.toParquetSink(streamed, s"$dir/rollup", s"$dir/ckpt"))
    s"$dir/rollup"
  }

  test("compacting one month of a streaming-sink store keeps the whole store readable and exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scompact").toString
    val path = landStream(dir, withCarriers = false)

    val before = spark.read.parquet(path)
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    assert(before.nonEmpty)
    assert(seqDirs(spark, path, "202403").size >= 2, "fixture must span multiple micro-batches")

    // a batch-seq store compacts whole: every month folds into the
    // one compacted part, committed by the store's one manifest
    RollupStore.compactPartitions(spark, path, Seq("202403"))

    assert(seqDirs(spark, path, "202403") == Seq("batch_seq=compacted-1"))
    assert(seqDirs(spark, path, "202404") == Seq("batch_seq=compacted-1"))
    val after = spark.read.parquet(path)
      .select("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    assert(after.sameElements(before), "compaction must be a pure file-layout change")

    // the NEXT micro-batch lands cleanly beside the compacted partition
    val key = graft.streaming.BatchSeqStore.streamKey(s"$dir/ckpt")
    val nxt = Seq(("BTC", ts("2024-03-31 21:00:00"), 1.0, 2.0, 0.5, 1.5, 10.0, 3L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .withColumn("bucket_month", date_format($"bucket_ts", "yyyyMM"))
    StreamingRollup.writeBatch(nxt, path, key, 99L)
    assert(spark.read.parquet(path).count() == before.length + 1)
    assert(seqDirs(spark, path, "202403").size == 2)

    // idempotent: re-compacting folds the new batch in, rows unchanged
    RollupStore.compactPartitions(spark, path, Seq("202403", "202404"))
    assert(seqDirs(spark, path, "202403") == Seq("batch_seq=compacted-2"))
    assert(seqDirs(spark, path, "202404") == Seq("batch_seq=compacted-2"))
    assert(spark.read.parquet(path).count() == before.length + 1)
    // already-folded months are a no-op (no new generation)
    RollupStore.compactPartitions(spark, path, Seq("202403", "202404"))
    assert(seqDirs(spark, path, "202403") == Seq("batch_seq=compacted-2"))
  }

  test("a micro-batch committed DURING compaction is neither folded nor deleted (no duplicates)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_srace").toString
    val path = landStream(dir, withCarriers = false)
    val before = spark.read.parquet(path).count()
    val marchBefore = spark.read.parquet(path)
      .filter(col("bucket_month").cast("string") === "202403")
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    val key = graft.streaming.BatchSeqStore.streamKey(s"$dir/ckpt")

    // commit a fresh micro-batch into March in the exact window between
    // the compactor's victim listing and its fold read — the race the
    // victim-pinned read exists to close (a root re-list here would
    // fold these rows into compacted-<n> AND leave their partition
    // alive: duplicates)
    BatchSeqStore.onCompactStep = { step =>
      if (step == "listed") {
        val late = Seq(("BTC", ts("2024-03-31 20:00:00"), 9.0, 9.0, 9.0, 9.0, 42.0, 7L))
          .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
          .withColumn("bucket_month", date_format($"bucket_ts", "yyyyMM"))
        StreamingRollup.writeBatch(late, path, key, 77L)
      }
    }
    try RollupStore.compactPartitions(spark, path, Seq("202403"))
    finally BatchSeqStore.onCompactStep = _ => ()

    // the late batch survives in its own partition, exactly once
    val dirs = seqDirs(spark, path, "202403")
    assert(dirs.contains("batch_seq=compacted-1"), dirs.toString)
    assert(dirs.size == 2, s"late batch must survive beside the fold: $dirs")
    assert(spark.read.parquet(path).count() == before + 1,
      "concurrent commit must appear exactly once after compaction")
    // and the folded partition holds exactly the pre-race March rows
    val folded = spark.read
      .option("basePath", path)
      .parquet(s"$path/bucket_month=202403/batch_seq=compacted-1")
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    assert(folded.sameElements(marchBefore),
      "folded output must contain the victims' rows and nothing else")
  }

  test("an orphan .compact_tmp_ dir (crash before the commit) is reclaimed by recovery") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorphan").toString
    val path = landStream(dir, withCarriers = false)
    val truth = spark.read.parquet(path)
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()

    // crash between the staged write and the manifest commit: a staged
    // fold exists, no manifest names it
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    BatchSeqStore.onCompactStep = step =>
      if (step == "staged") throw new IllegalStateException("crash")
    try intercept[IllegalStateException](RollupStore.compactPartitions(spark, path, Seq("202403")))
    finally BatchSeqStore.onCompactStep = _ => ()
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, ".compact_tmp_1")))
    // the staging is invisible to readers
    assert(spark.read.parquet(path).count() == truth.length)

    // the next compaction reclaims it before it stages its own fold
    RollupStore.compactPartitions(spark, path, Seq("202403"))
    assert(!fs.listStatus(root).exists(_.getPath.getName.startsWith(".compact_tmp_")),
      "recovery must reclaim staging dirs no manifest commits")
    val healed = spark.read.parquet(path)
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    assert(healed.sameElements(truth), "orphan reclamation must not change rows")
  }

  test("a crashed compaction (committed swap, victims not yet deleted) is healed on the next call") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scrash").toString
    val path = landStream(dir, withCarriers = false)
    val truth = spark.read.parquet(path)
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    val schema = spark.read.parquet(path).schema
    def committedRows() = BatchSeqStore.read(spark, path, schema).get
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()

    def crashAt(step: String): Unit = {
      BatchSeqStore.onCompactStep = s =>
        if (s == step) throw new IllegalStateException("crash")
      try intercept[IllegalStateException](RollupStore.compactPartitions(spark, path, Seq("202403")))
      finally BatchSeqStore.onCompactStep = _ => ()
    }

    // crash in the window between the commit and the rename: reads
    // through the manifest see the committed rows exactly once
    crashAt("committed")
    assert(committedRows().sameElements(truth), "read inside the committed window")

    // a batch lands, then a compaction crashes between the rename and
    // the victim sweep
    val nxt = Seq(("BTC", ts("2024-03-31 21:00:00"), 1.0, 2.0, 0.5, 1.5, 10.0, 3L))
      .toDF("symbol", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
      .withColumn("bucket_month", date_format($"bucket_ts", "yyyyMM"))
    StreamingRollup.writeBatch(nxt, path, BatchSeqStore.streamKey(s"$dir/ckpt"), 99L)
    val truth2 = (truth.map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3))) :+
      (("BTC", ts("2024-03-31 21:00:00"), 10.0, 3L))).sortBy(r => (r._1, r._2.getTime)).toSeq
    def rows(a: Array[org.apache.spark.sql.Row]) =
      a.map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3))).toSeq
    crashAt("renamed")
    assert(rows(committedRows()) == truth2, "read inside the renamed window")

    // next maintenance call must heal: victims deleted, rows exact-once
    RollupStore.compactPartitions(spark, path, Seq("202403"))
    assert(seqDirs(spark, path, "202403") == Seq("batch_seq=compacted-2"))
    val healed = spark.read.parquet(path)
      .select("symbol", "bucket_ts", "volume", "trades")
      .orderBy("symbol", "bucket_ts").collect()
    assert(rows(healed) == truth2, "recovery must restore exactly-once rows")
  }

  test("stream -> compact -> register -> routed query bit-identical to batch rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sroute").toString
    val basePath = s"$dir/base"
    ticks.toDF().write.mode("overwrite").parquet(basePath)
    val path = landStream(dir, withCarriers = true)

    val filesBefore = dataFiles(spark, path).size
    RollupStore.compactPartitions(spark, path, Seq("202403", "202404"))
    val filesAfter = dataFiles(spark, path).size
    assert(filesAfter < filesBefore,
      s"compaction must collapse file count ($filesBefore -> $filesAfter)")
    assert(filesAfter == 2) // one folded file per month

    // a compacted streaming store registers exactly like a batch store:
    // manifest in the store root survives compaction (only batch_seq
    // dirs are rewritten), a fresh-session registerFromStore finds it
    RollupRouter.writeManifest(spark, basePath, Seq("symbol"), "t", "price", 900L, path)
    RollupRouter.clear()
    assert(RollupRouter.registerFromStore(spark, dir) == 1)
    spark.experimental.extraOptimizations = Seq(new RollupRouter.RouteRule(spark))
    try {
      val q = CandleOps.ohlcvRollup(
        spark.read.parquet(basePath), Seq("symbol"), "t", "price", "1 hour")
      val planned = q.queryExecution.executedPlan.toString()
      assert(planned.contains("/rollup"), s"expected routed scan, got:\n$planned")
      assert(!planned.contains("/base"), s"base still scanned:\n$planned")

      spark.experimental.extraOptimizations = Nil
      val want = CandleOps.ohlcvRollup(
          spark.read.parquet(basePath), Seq("symbol"), "t", "price", "1 hour")
        .orderBy("symbol", "bucket_ts").collect()
      spark.experimental.extraOptimizations = Seq(new RollupRouter.RouteRule(spark))
      val got = q.orderBy("symbol", "bucket_ts").collect()
      assert(got.sameElements(want),
        "routed read of the compacted streaming store must be bit-identical to the batch rollup")
    } finally {
      spark.experimental.extraOptimizations = Nil
      RollupRouter.clear()
    }
  }
}
