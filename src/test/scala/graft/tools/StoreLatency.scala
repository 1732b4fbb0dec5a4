package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming STORE_LATENCY bench: the per-micro-batch trigger wall of
  * each incremental store family against a LARGE standing store — the
  * streaming complement of the r13 fixed-batch sweep (which proved the
  * batch-mode folds flat; SCALE_SWEEP_FIXED_BATCH_r13.json). A
  * production operator watches exactly this number: with a CONSTANT
  * micro-batch, does the per-trigger wall stay flat as the standing
  * store grows sf1 → sf10?
  *
  * Harness: a real MemoryStream → foreachBatch streaming query per
  * family (default trigger, `processAllAvailable` per slice) with the
  * wall and the JVM's process CPU measured INSIDE the foreachBatch
  * body — per-trigger fold cost, free of query-startup noise. Wall
  * moves with host load; process CPU (every JVM thread: tasks, driver,
  * JIT, GC) is the steadier number for comparing two builds of a fold. The standing stores are built untimed
  * from the store corpus via the same fold bodies the sinks run.
  *
  * Families (the verdict-listed incremental stores):
  *  - substring: append-only distinct-shingle store; the fold scans
  *    the standing store once (column-pruned hashes) per batch
  *  - boilerplate: per-line distinct-doc counts fold + the scrub read
  *    (frequentHashes aggregates the standing store per batch)
  *  - bloom: pure-function-of-batch fold + the probe side
  *    (readWords folds numWords·nBatches rows)
  *  - cms: pure fold + cell-read probe
  *  - edge: delta fold (the batch's pair supports only) + the
  *    consumer read and one compaction, timed outside the trigger path
  *
  * Usage: Test/runMain graft.tools.StoreLatency <storeSfDir> <batchSfDir> [slices]
  * Prints one STORE_LATENCY JSON line per family — per-trigger walls
  * and CPU seconds, and the median of each — with the live part
  * count its store holds after the timed triggers and whether that
  * count is within BatchSeqStore.CompactEvery (every store compacts
  * from its fold); assemble per-store runs into
  * STREAM_STORE_LATENCY_r{N}.json.
  */
object StoreLatency {

  /** One trigger's cost: wall and JVM process CPU seconds. */
  private final case class Cost(wall: Double, cpu: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def costOf(body: => Unit): Cost = {
    val (t0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    body
    Cost((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val storeDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val nSlices = args.drop(2).headOption.map(_.toInt).getOrElse(5)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.max(2, Runtime.getRuntime.availableProcessors() - 2))
    val spark = graft.Session.local("graft-store-latency", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.sources.Tables
    import graft.streaming.{BatchSeqStore, BloomStream, BoilerplateStream, CmsStream,
      EdgeStream, SubstringStream}

    val work = Files.createTempDirectory("store-latency").toString
    val sfLabel = new java.io.File(storeDir).getName

    // ---- the standing corpora -----------------------------------------
    val storeDocs = Tables.documents(spark, storeDir)
      .select(col("doc_id"), col("text"))
    val storeMaxId = storeDocs.agg(max(col("doc_id"))).head().getLong(0)
    val batchIdOffset = math.max(storeMaxId + 1L, 1000000000L)
    // the CONSTANT micro-batch (the fixed-batch sweep's convention):
    // every 10th batchDir doc under ids disjoint from any store, split into
    // nSlices trigger-sized pieces — collected once (bounded: a
    // micro-batch by definition)
    val batchRows: Array[(Long, String)] = Tables.documents(spark, batchDir)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(batchIdOffset)).as("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val slices: Seq[Seq[(Long, String)]] =
      batchRows.zipWithIndex.groupBy(_._2 % nSlices).toSeq.sortBy(_._1)
        .map(_._2.map(_._1).toSeq)

    /** Drive one real streaming query over the constant batch: a
      * MemoryStream, one processAllAvailable per slice, the cost
      * measured inside foreachBatch. Returns per-trigger costs.
      */
    def drive(ckpt: String)(fold: (DataFrame, Long) => Unit): Seq[Cost] = {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val costs = mutable.Buffer[Cost]()
      val q = ms.toDF().toDF("doc_id", "text")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) => costs += costOf(fold(b, id)); () }
        .start()
      slices.foreach { sl => ms.addData(sl); q.processAllAvailable() }
      q.stop()
      costs.toSeq
    }

    def emit(family: String, store: String, costs: Seq[Cost], extra: String = ""): Unit = {
      def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
      val (walls, cpus) = (costs.map(_.wall), costs.map(_.cpu))
      val parts = BatchSeqStore.parts(spark, store).size
      println(s"""STORE_LATENCY {"family":"$family","sf":"$sfLabel","batch_docs":${batchRows.length},"triggers":${costs.size},"parts":$parts,"parts_bounded":${parts <= BatchSeqStore.CompactEvery},"trigger_walls_sec":${list(walls)},"trigger_cpu_sec":${list(cpus)}""" +
        f""","wall_p50_sec":${median(walls)}%.3f,"cpu_p50_sec":${median(cpus)}%.3f$extra}""")
    }

    // ---- substring: standing distinct-shingle store --------------------
    val ssStore = s"$work/substr_store"
    val ssSpans = s"$work/substr_spans"
    val sKey = BatchSeqStore.streamKey(s"$work/substr_build")
    val sK = 6
    (0 until 4).foreach { i => // untimed store build
      SubstringStream.foldBatch(storeDocs.filter(col("doc_id") % 4 === i),
        "doc_id", "text", sK, ssStore, ssSpans, batchId = i.toLong, key = sKey)
    }
    val ssRows = SubstringStream.readStoreHashes(spark, ssStore).count()
    val ssKey2 = BatchSeqStore.streamKey(s"$work/substr_ckpt")
    val ssCosts = drive(s"$work/substr_ckpt") { (b, id) =>
      SubstringStream.foldBatch(b, "doc_id", "text", sK, ssStore, ssSpans,
        batchId = id, key = ssKey2)
    }
    emit("substring_fold", ssStore, ssCosts, s""","store_hashes":$ssRows""")

    // ---- boilerplate: standing line-count store + per-batch scrub ------
    val blStore = s"$work/boiler_store"
    (0 until 4).foreach { i =>
      graft.streaming.BoilerplateStream.foldBatch(
        storeDocs.filter(col("doc_id") % 4 === i), "doc_id", "text",
        blStore, f"build-$i%09d")
    }
    val blCosts = drive(s"$work/boiler_ckpt") { (b, id) =>
      BoilerplateStream.foldBatch(b, "doc_id", "text", blStore, f"lat-$id%09d")
      // the read side a scrubbing pipeline pays per batch
      BoilerplateStream.scrubBatch(b, "doc_id", "text", blStore,
        minDocs = 50L, except = f"lat-$id%09d").count()
      ()
    }
    emit("boilerplate_fold_scrub", blStore, blCosts)

    // ---- bloom: standing SHARDED filter + per-batch fold + join probe --
    // (r15: the literal path — readWords collect + flagBatch plan
    // literal — measured store-proportional at r14 (0.98 → 4.15 s
    // sf1 → sf10); the sharded relation keeps the filter
    // cluster-resident and the probe a join, the q_bloom_sharded
    // batch shape)
    val bStore = s"$work/bloom_store"
    val bKeysStore = storeDocs.select(md5(col("text").cast("binary")).as("text_hash"))
    val bN = math.max(1L,
      bKeysStore.agg(approx_count_distinct(col("text_hash"))).head().getLong(0))
    val bWordsPerShard = 1 << 16
    val bShards = math.max(1L,
      (10L * bN / 64L + bWordsPerShard - 1) / bWordsPerShard).toInt
    val bK = graft.operators.BloomOps.optimalK(10)
    (0 until 4).foreach { i =>
      BloomStream.foldBatchSharded(
        bKeysStore.filter(pmod(xxhash64(col("text_hash")), lit(4)) === i),
        "text_hash", bShards, bWordsPerShard, bK, bStore, f"build-$i%09d")
    }
    BloomStream.compact(spark, bStore) // the standing store, one part
    val bloomCosts = drive(s"$work/bloom_ckpt") { (b, id) =>
      val keys = b.select(md5(col("text").cast("binary")).as("text_hash"))
      BloomStream.foldBatchSharded(keys, "text_hash", bShards,
        bWordsPerShard, bK, bStore, f"lat-$id%09d")
      BloomStream.probeBatch(keys, "text_hash", bStore, bShards,
        bWordsPerShard, bK)
        .filter(col("bloom_hit")).count()
      ()
    }
    emit("bloom_fold_probe", bStore, bloomCosts,
      s""","num_shards":$bShards,"words_per_shard":$bWordsPerShard""")

    // ---- cms: standing sketch + per-batch fold + cell read -------------
    val cStore = s"$work/cms_store"
    val cW = 2048; val cD = 4
    val tokens = (d: DataFrame) => d
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    (0 until 4).foreach { i =>
      CmsStream.foldBatch(tokens(storeDocs.filter(col("doc_id") % 4 === i)),
        "tok", cW, cD, cStore, f"build-$i%09d")
    }
    val cmsCosts = drive(s"$work/cms_ckpt") { (b, id) =>
      CmsStream.foldBatch(tokens(b), "tok", cW, cD, cStore, f"lat-$id%09d")
      CmsStream.readCellRows(spark, cStore)
        .groupBy(col("__d")).agg(count(lit(1))).count()
      ()
    }
    emit("cms_fold_read", cStore, cmsCosts)

    // ---- edge: delta-part store (the per-trigger fold is the batch's
    // aggregated pair supports only; the store-proportional merge is
    // the periodic compaction, measured separately) --------------------
    val eStore = s"$work/edge_store"
    val li = Tables.lineitem(spark, storeDir)
      .select(col("l_orderkey"), col("l_partkey"))
    (0 until 2).foreach { i =>
      EdgeStream.foldBatch(li.filter(pmod(col("l_orderkey"), lit(2)) === i),
        "l_orderkey", "l_partkey", eStore, i.toLong,
        BatchSeqStore.streamKey(s"$work/edge_build"))
    }
    EdgeStream.compact(spark, eStore) // the standing store, one part
    val eSupports = EdgeStream.readStore(spark, eStore).count()
    // the constant fact batch: batchDir lineitems under disjoint orders
    val orderOffset = 1000000000L
    val factRows = Tables.lineitem(spark, batchDir)
      .filter(col("l_orderkey") % 50 === 0)
      .select((col("l_orderkey") + orderOffset).as("l_orderkey"), col("l_partkey"))
      .as[(Long, Long)].collect()
    val factSlices = factRows.zipWithIndex.groupBy(_._2 % nSlices).toSeq
      .sortBy(_._1).map(_._2.map(_._1).toSeq)
    val eKey = BatchSeqStore.streamKey(s"$work/edge_ckpt")
    val eCosts = {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, Long)]
      val costs = mutable.Buffer[Cost]()
      val q = ms.toDF().toDF("l_orderkey", "l_partkey")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/edge_ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          // a NEW stream against an existing store must start at batch
          // 0 (the replay guard's new-key rule)
          costs += costOf(EdgeStream.foldBatch(b, "l_orderkey", "l_partkey", eStore, id, eKey))
          ()
        }
        .start()
      factSlices.foreach { sl => ms.addData(sl); q.processAllAvailable() }
      q.stop()
      costs.toSeq
    }
    // the amortized store-proportional costs, measured OUTSIDE the
    // trigger path: the read-side SUM over the parts a consumer pays
    // per query, and one compaction absorbing the open deltas (paid
    // once per compactEvery triggers)
    val tRead = System.nanoTime()
    EdgeStream.readStore(spark, eStore).count()
    val readMergeWall = (System.nanoTime() - tRead) / 1e9
    val tComp = System.nanoTime()
    EdgeStream.compact(spark, eStore)
    val compactWall = (System.nanoTime() - tComp) / 1e9
    emit("edge_delta_fold", eStore, eCosts,
      s""","store_supports":$eSupports,"batch_facts":${factRows.length}""" +
        f""","read_merge_wall_sec":$readMergeWall%.3f""" +
        f""","compact_wall_sec":$compactWall%.3f""")

    spark.stop()
  }
}
