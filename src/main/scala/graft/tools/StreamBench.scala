package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.CandleOps
import graft.streaming.{BatchSeqStore, StreamJoin, StreamingRollup}

/** Streaming-cascade benchmark: run the full 8-grain streaming fan-out
  * (StreamingRollup.streamAllGrains) over the sf events as a file
  * stream with Trigger.AvailableNow, measure wall time, and assert
  * equivalence with the batch rollup.
  *
  * AvailableNow append-mode gotcha: windows whose end is behind the
  * final watermark flush only on the NEXT run from the same checkpoint,
  * so the cascade runs twice; buckets still open at the final watermark
  * (the last bucket of each grain per key) legitimately never emit and
  * are excluded from the completeness check.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.Session.local("graft-stream-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val work = Files.createTempDirectory("graft_streambench").toString
    // events.parquet is TIMESTAMP(NANOS); materialize the micros
    // conversion once so the file stream reads a plain schema
    val events = graft.sources.Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts", "value")
    events.repartition(8).write.parquet(s"$work/input")
    val schema = spark.read.parquet(s"$work/input").schema

    val t0 = System.nanoTime()
    (1 to 2).foreach { _ =>
      val stream = spark.readStream.schema(schema).parquet(s"$work/input")
      val writers = StreamingRollup.streamAllGrains(
        stream, Seq("user_id"), "ts", "value", "1 minute", s"$work/out")
      val queries = writers.values.map(_.start()).toSeq
      queries.foreach(_.awaitTermination())
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    // equivalence on the 1h grain: everything streamed must match the
    // batch rollup bit-for-bit; every closed bucket must have streamed
    val cols = Seq("user_id", "bucket_ts", "open", "high", "low", "close", "volume", "trades")
    val got = spark.read.parquet(s"$work/out/rollup_1h")
      .select(cols.map(col): _*)
    val want = CandleOps.ohlcvRollup(events, Seq("user_id"), "ts", "value", "1 hour")
      .select(cols.map(col): _*)
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0).getTime // millis
    // closed = bucket end at least (watermark delay + slack) before max event time
    val closedCutoffMs = maxTs - (60L + 120L) * 1000L
    val wantClosed = want.filter(
      (unix_timestamp(col("bucket_ts")) + 3600L) * 1000L < closedCutoffMs)

    val wrong = got.exceptAll(want).count()
    val missing = wantClosed.exceptAll(got).count()
    val rows = got.count()
    println(s"""STREAM_BENCH {"wall_sec":$wallSec,"grains":8,"rollup_1h_rows":$rows,"wrong_rows":$wrong,"missing_closed_rows":$missing,"sf":"$sfDir"}""")

    // ---- compaction lifecycle on the exactly-once store -------------
    // The streamed 1m store (finest grain: most micro-batch partitions)
    // holds one batch_seq dir per micro-batch per month. Fold every
    // month and quantify the read-side win: data-file count and a full
    // identity-scan wall before vs after, with a bit-identity check
    // (count + order-independent row checksum) proving compaction is a
    // pure layout change.
    var cStore = s"$work/out/rollup_1m"
    def storeFiles(): Int = {
      val root = new org.apache.hadoop.fs.Path(cStore)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      var n = 0
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val nm = it.next().getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".")) n += 1
      }
      n
    }
    // min of 2 passes: the first read pays one-off file-index caches —
    // same discipline as Bench's min-of-k
    def scanWall(): (Long, java.math.BigDecimal, Double) = {
      def once(): (Long, java.math.BigDecimal, Double) = {
        val t = System.nanoTime()
        val df = spark.read.parquet(cStore)
        // decimal accumulate: a Long sum of hashes overflows under ANSI.
        // batch_seq is excluded — it is layout metadata the fold
        // rewrites by design; every DATA column must hash identical
        val hashed = df.columns.sorted.filterNot(_ == "batch_seq")
        val r = df.agg(count(lit(1)),
          sum(xxhash64(hashed.map(c => col(c).cast("string")): _*)
            .cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1), (System.nanoTime() - t) / 1e9)
      }
      val a = once(); val b = once()
      (b._1, b._2, math.min(a._3, b._3))
    }
    def months(): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(cStore)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("bucket_month="))
        .map(_.stripPrefix("bucket_month=")).toSeq.sorted
    }
    // two regimes on two equivalent stores: max-fold (the 1M-row/file
    // default — minimal file count, the cluster-scale shape where a
    // month holds >> 1M rows anyway) and a parallelism-preserving fold
    // sized so the folded month still scans wide on this box
    var cMismatch = 0L
    Seq(("max_fold", s"$work/out/rollup_1m", 1000000L),
        ("sized_fold", s"$work/out/rollup_5m", 125000L)).foreach {
      case (label, store, target) =>
        cStore = store
        val filesBefore = storeFiles()
        val (nBefore, hBefore, wallBefore) = scanWall()
        val ms = months()
        val tc = System.nanoTime()
        graft.operators.RollupStore.compactPartitions(spark, cStore, ms, target)
        val compactWall = (System.nanoTime() - tc) / 1e9
        val filesAfter = storeFiles()
        val (nAfter, hAfter, wallAfter) = scanWall()
        val bad = if (nBefore == nAfter && hBefore.compareTo(hAfter) == 0) 0L else 1L
        cMismatch += bad
        println(s"""COMPACT_BENCH {"regime":"$label","files_before":$filesBefore,"files_after":$filesAfter,"read_wall_before":$wallBefore,"read_wall_after":$wallAfter,"compact_wall":$compactWall,"rows":$nBefore,"months":${ms.size},"mismatch":$bad,"sf":"$sfDir"}""")
    }

    // ---- sketch store: streamed daily HLL parts ≡ batch build ------
    // The ingest path of the AggregatingMergeTree analog: the same
    // file stream builds (event_type, day) sketch parts; merged-at-
    // read estimates must agree with the batch-built store. HLL
    // registers are order-independent, so the streamed parts merge to
    // the SAME estimates — n_rows exactly, estimates bit-equal.
    import graft.operators.SketchStore
    val t1 = System.nanoTime()
    val sketchStream = spark.readStream.schema(schema).parquet(s"$work/input")
    val sq = SketchStore.streamingDailySketches(
        sketchStream, Seq("event_type"), "ts", "user_id", watermark = "1 hour")
      .writeStream.outputMode("complete")
      .option("checkpointLocation", s"$work/sketch_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("sketch_parts").start()
    sq.awaitTermination()
    // persist the streamed parts — the store shape (binary states in
    // parquet), so the comparison reads exactly what a store would
    spark.table("sketch_parts").write.parquet(s"$work/sketch_store")
    val sketchWall = (System.nanoTime() - t1) / 1e9

    def merged(parts: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      SketchStore.mergedDistinct(parts, Seq("event_type"))
        .select(col("event_type"), col("approx_distinct"), col("n_rows"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val streamedM = merged(spark.read.parquet(s"$work/sketch_store"))
    val batchM = merged(SketchStore.dailySketches(
      events, Seq("event_type"), "ts", "user_id"))
    val rowsDiff = streamedM.keySet.union(batchM.keySet).count { k =>
      streamedM.get(k).map(_._2) != batchM.get(k).map(_._2)
    }
    val estDiff = streamedM.keySet.union(batchM.keySet).count { k =>
      streamedM.get(k).map(_._1) != batchM.get(k).map(_._1)
    }
    println(s"""SKETCH_BENCH {"wall_sec":$sketchWall,"keys":${streamedM.size},"n_rows_mismatches":$rowsDiff,"estimate_mismatches":$estDiff,"sf":"$sfDir"}""")

    // ---- streaming session windows ≡ batch sessionization ----------
    // Append-mode session_window state at SF scale: one open session
    // per key merged incrementally. Run twice from the same checkpoint
    // (the AvailableNow flush gotcha above); sessions still open at the
    // final watermark legitimately never emit and are excluded.
    import graft.operators.SessionOps
    val t2 = System.nanoTime()
    val sessOut = s"$work/sessions"
    (1 to 2).foreach { _ =>
      val st = spark.readStream.schema(schema).parquet(s"$work/input")
      val q = SessionOps.streamingSessionSummaries(
          st, Seq("user_id"), "ts", "value", "30 minutes", "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/sess_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", sessOut).start()
      q.awaitTermination()
    }
    val sessWall = (System.nanoTime() - t2) / 1e9
    val sessGot = spark.read.parquet(sessOut)
    val sessWant = SessionOps.sessionSummaries(
      events, Seq("user_id"), "ts", "value", "30 minutes")
    // closed = session end + gap behind (final watermark - slack)
    val sessCutoffMs = maxTs - (3600L + 1800L + 120L) * 1000L
    val sessWantClosed = sessWant.filter(
      unix_timestamp(col("session_end")) * 1000L < sessCutoffMs)
    val sessWrong = sessGot.exceptAll(sessWant).count()
    val sessMissing = sessWantClosed.exceptAll(sessGot).count()
    println(s"""SESSION_BENCH {"wall_sec":$sessWall,"sessions":${sessGot.count()},"wrong_rows":$sessWrong,"missing_closed_rows":$sessMissing,"sf":"$sfDir"}""")

    // ---- stream-stream interval join ≡ batch range join ------------
    // Both sides watermarked, time-bounded state. Inner-join matches
    // emit as both sides arrive; one AvailableNow pass sees all input,
    // so the streamed pair set must equal the batch predicate exactly.
    val t3 = System.nanoTime()
    val joinOut = s"$work/ivjoin"
    val lStream = spark.readStream.schema(schema).parquet(s"$work/input")
      .filter(col("event_type") === "purchase")
    val rStream = spark.readStream.schema(schema).parquet(s"$work/input")
      .filter(col("event_type") === "click")
    val jq = StreamJoin.intervalJoin(
        lStream, rStream, Seq("user_id"), "ts",
        toleranceSeconds = 300L, watermark = "1 hour",
        leftPayload = Seq("value"), rightPayload = Seq("value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/ivjoin_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", joinOut).start()
    jq.awaitTermination()
    val joinWall = (System.nanoTime() - t3) / 1e9
    val jGot = spark.read.parquet(joinOut)
    val lb = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("ts_l"), col("value").as("l_value"))
    val rb = events.filter(col("event_type") === "click")
      .select(col("user_id").as("r_u"), col("ts").as("ts_r"), col("value").as("r_value"))
    val jWant = lb.join(rb,
        col("user_id") === col("r_u") &&
          col("ts_r") >= col("ts_l") - expr("INTERVAL 300 SECONDS") &&
          col("ts_r") <= col("ts_l") + expr("INTERVAL 300 SECONDS"))
      .drop("r_u")
    val jCols = jGot.columns.sorted.map(col).toSeq
    val jWrong = jGot.select(jCols: _*).exceptAll(jWant.select(jCols: _*)).count()
    val jMissing = jWant.select(jCols: _*).exceptAll(jGot.select(jCols: _*)).count()
    println(s"""IVJOIN_BENCH {"wall_sec":$joinWall,"pairs":${jGot.count()},"wrong_rows":$jWrong,"missing_rows":$jMissing,"sf":"$sfDir"}""")

    // ---- streaming backward as-of ≡ batch AsOfJoin ------------------
    // Every purchase (left) sealed behind the final watermark must
    // carry exactly the batch join's prevailing click; one AvailableNow
    // pass + a second for the event-time-timeout flush.
    import org.apache.spark.sql.{Dataset, Encoders}
    import graft.streaming.AsOfStream
    implicit val tickEnc = Encoders.product[AsOfStream.Tick]
    implicit val pairEnc = Encoders.product[AsOfStream.AsOfPair]
    def ticks(df: org.apache.spark.sql.DataFrame): Dataset[AsOfStream.Tick] =
      df.select(col("user_id").cast("string").as("key"), col("ts"),
        col("value")).as[AsOfStream.Tick]
    val t4 = System.nanoTime()
    val asofOut = s"$work/asof"
    (1 to 2).foreach { _ =>
      val base = spark.readStream.schema(schema).parquet(s"$work/input")
      val aq = AsOfStream.asofBackward(
          ticks(base.filter(col("event_type") === "purchase")),
          ticks(base.filter(col("event_type") === "click")),
          watermark = "1 hour", toleranceMs = Some(3600000L))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/asof_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", asofOut).start()
      aq.awaitTermination()
    }
    val asofWall = (System.nanoTime() - t4) / 1e9
    val aGot = spark.read.parquet(asofOut)
      .select(col("key"), col("ts_l"), col("l_value"), col("asof_value"))
    val aWant = graft.operators.AsOfJoin.asof(
        ticks(events.filter(col("event_type") === "purchase")).toDF(),
        ticks(events.filter(col("event_type") === "click")).toDF(),
        Seq("key"), "ts", Seq("value"), Seq("value"),
        toleranceUs = Some(3600000000L))
      .select(col("key"), col("ts").as("ts_l"), col("value").as("l_value"),
        col("asof_value"))
    // sealed = lefts behind (final watermark - slack); later lefts
    // legitimately never emit under AvailableNow. The watermark is
    // computed over the FILTERED (purchase|click) stream, so the
    // cutoff must use that stream's max event time, not all-events
    val aMaxTs = events.filter(col("event_type").isin("purchase", "click"))
      .agg(max(col("ts"))).head().getTimestamp(0).getTime
    val aCutoffMs = aMaxTs - (3600L + 120L) * 1000L
    val aWantSealed = aWant.filter(unix_timestamp(col("ts_l")) * 1000L < aCutoffMs)
    val aWrong = aGot.exceptAll(aWant).count()
    val aMissing = aWantSealed.exceptAll(aGot).count()
    if (aWrong > 0) aGot.exceptAll(aWant).show(5, false)
    if (aMissing > 0) aWantSealed.exceptAll(aGot).show(5, false)
    println(s"""ASOF_BENCH {"wall_sec":$asofWall,"pairs":${aGot.count()},"wrong_rows":$aWrong,"missing_sealed_rows":$aMissing,"sf":"$sfDir"}""")

    // ---- streaming edge-store fold ≡ batch supports -----------------
    // The bucketed two-generation store fed by the order-completion
    // stream: fold the lineitem basket facts micro-batch-wise and
    // compare the committed store against the one-shot batch
    // derivation (supports are additive, so any slicing converges).
    import graft.streaming.EdgeStream
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    // ordering contract: a basket's facts arrive within ONE micro-batch
    // — hash-partition by order so no order straddles a file boundary
    li.repartition(8, col("l_orderkey")).write.parquet(s"$work/facts")
    val factsSchema = spark.read.parquet(s"$work/facts").schema
    val t5 = System.nanoTime()
    val edgeStore = s"$work/edge_store"
    val eq = EdgeStream.toSupportStore(
      spark.readStream.schema(factsSchema)
        .option("maxFilesPerTrigger", "2").parquet(s"$work/facts"),
      "l_orderkey", "l_partkey", edgeStore, s"$work/edge_ckpt")
    BatchSeqStore.runAvailableNow(eq)
    val edgeWall = (System.nanoTime() - t5) / 1e9
    val eGot = EdgeStream.readStore(spark, edgeStore)
    val eWant = graft.operators.GraphOps.itemEdgeSupports(
      li, "l_orderkey", "l_partkey", pinWidth = true)
    val eWrong = eGot.exceptAll(eWant).count()
    val eMissing = eWant.exceptAll(eGot).count()
    println(s"""EDGE_BENCH {"wall_sec":$edgeWall,"supports":${eGot.count()},"wrong_rows":$eWrong,"missing_rows":$eMissing,"sf":"$sfDir"}""")

    // ---- streaming substring-dedup store fold ≡ batch cross-spans --
    // The append-only distinct shingle-hash store: fold the document
    // corpus in 4 deterministic micro-batches (foldBatch is the sink's
    // exact body; the writer wiring is SubstringStreamSpec-covered)
    // and compare every batch's landed spans against the BATCH
    // operator run on the union of earlier batches, plus the store
    // against the corpus's distinct shingle-hash set.
    import graft.streaming.SubstringStream
    val sDocs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val ssStore = s"$work/substr_store"
    val ssSpans = s"$work/substr_spans"
    val sKey = BatchSeqStore.streamKey(s"$work/substr_ckpt")
    val sK = 6
    val nSlices = 4
    def slice(i: Int) = sDocs.filter(col("doc_id") % nSlices === i)
    val t6 = System.nanoTime()
    (0 until nSlices).foreach { i =>
      SubstringStream.foldBatch(slice(i), "doc_id", "text", sK,
        ssStore, ssSpans, batchId = i.toLong, key = sKey)
    }
    val ssWall = (System.nanoTime() - t6) / 1e9
    val sCols = Seq("doc_id", "span_start", "span_end", "n_tokens")
    val sGot = SubstringStream.readSpans(spark, ssSpans).select(sCols.map(col): _*)
    val sWant = (1 until nSlices).map { i =>
      val prefix = (0 until i).map(slice).reduce(_ unionByName _)
      graft.functions.TextOps.substringCrossSpans(
        slice(i), "doc_id", "text", prefix, "doc_id", "text", sK)
        .select(sCols.map(col): _*)
    }.reduce(_ unionByName _)
    val sWrong = sGot.exceptAll(sWant).count()
    val sMissing = sWant.exceptAll(sGot).count()
    val sStoreRows = SubstringStream.readStoreHashes(spark, ssStore).count()
    val sTruthHashes = graft.functions.TextOps
      .shinglePositions(sDocs, "doc_id", "text", sK)
      .agg(count_distinct(col("__h"))).head().getLong(0)
    val sHashDiff = sStoreRows - sTruthHashes
    println(s"""SUBSTRING_BENCH {"wall_sec":$ssWall,"spans":${sGot.count()},"wrong_rows":$sWrong,"missing_rows":$sMissing,"store_hashes":$sStoreRows,"hash_diff":$sHashDiff,"sf":"$sfDir"}""")

    // ---- streaming bloom store fold ≡ whole-set batch filter -------
    // Per-batch sparse word contributions OR-fold on read; the folded
    // filter must be BIT-IDENTICAL to BloomOps.bloomWords over all
    // keys at once (the OR algebra makes slicing and replays
    // invisible), and every ingested key must probe positive.
    import graft.streaming.BloomStream
    val bKeys = graft.sources.Tables.documents(spark, sfDir)
      .select(md5(col("text").cast("binary")).as("text_hash"))
    val bN = bKeys.agg(approx_count_distinct(col("text_hash")))
      .head().getLong(0)
    val bWords = graft.operators.BloomOps.sizeWords(bN)
    val bK = graft.operators.BloomOps.optimalK(10)
    val bStore = s"$work/bloom_store"
    val t7 = System.nanoTime()
    (0 until nSlices).foreach { i =>
      BloomStream.foldBatch(
        bKeys.filter(pmod(xxhash64(col("text_hash")), lit(nSlices)) === i),
        "text_hash", bWords, bK, bStore, f"sb-$i%09d")
    }
    val bWall = (System.nanoTime() - t7) / 1e9
    val bFolded = BloomStream.readWords(spark, bStore, bWords)
    val bBatch = graft.operators.BloomOps
      .bloomWords(bKeys, "text_hash", bWords, bK)
    val bWordDiff = bFolded.zip(bBatch).count { case (a, b) => a != b }
    val bNeg = graft.operators.BloomOps
      .flagBatch(bKeys, "text_hash", bFolded, bK)
      .filter(!col("bloom_hit")).count()
    println(s"""BLOOM_BENCH {"wall_sec":$bWall,"num_words":$bWords,"word_diff":$bWordDiff,"false_negatives":$bNeg,"sf":"$sfDir"}""")

    spark.stop()
    if (wrong != 0 || missing != 0 || cMismatch != 0 || rowsDiff != 0 || estDiff != 0 ||
      sessWrong != 0 || sessMissing != 0 || jWrong != 0 || jMissing != 0 ||
      aWrong != 0 || aMissing != 0 || eWrong != 0 || eMissing != 0 ||
      sWrong != 0 || sMissing != 0 || sHashDiff != 0L ||
      bWordDiff != 0 || bNeg != 0L) sys.exit(1)
  }
}
