package graft.tools

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming STORE_LATENCY bench: the per-micro-batch trigger wall of
  * each incremental store family against a LARGE standing store — the
  * streaming complement of [[FixedBatchSweep]] (which proved the
  * batch-mode folds flat). A production operator watches exactly this
  * number: with a CONSTANT micro-batch, does the per-trigger wall stay
  * flat as the standing store grows sf1 → sf10?
  *
  * Harness: a real MemoryStream → foreachBatch streaming query per
  * family (default trigger, `processAllAvailable` per slice) with the
  * wall measured INSIDE the foreachBatch body — per-trigger fold cost,
  * free of query-startup noise. The standing stores are built untimed
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
  *  - edge: generation fold (read + full-outer + overwrite — the one
  *    family whose fold is store-proportional BY CONTRACT; measured
  *    to show it, not to excuse it)
  *
  * Usage: runMain graft.tools.StoreLatency <storeSfDir> <batchSfDir> [slices]
  * Prints one STORE_LATENCY JSON line per family; assemble per-store
  * runs into STREAM_STORE_LATENCY_r{N}.json.
  */
object StoreLatency {
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
    // the CONSTANT micro-batch (FixedBatchSweep's convention): every
    // 10th batchDir doc under ids disjoint from any store, split into
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
      * MemoryStream, one processAllAvailable per slice, the wall
      * measured inside foreachBatch. Returns per-trigger walls.
      */
    def drive(ckpt: String)(fold: (DataFrame, Long) => Unit): Seq[Double] = {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, String)]
      val walls = mutable.Buffer[Double]()
      val q = ms.toDF().toDF("doc_id", "text")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          fold(b, id)
          walls += (System.nanoTime() - t0) / 1e9
          ()
        }
        .start()
      slices.foreach { sl => ms.addData(sl); q.processAllAvailable() }
      q.stop()
      walls.toSeq
    }

    def emit(family: String, walls: Seq[Double], extra: String = ""): Unit = {
      val ws = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
      println(s"""STORE_LATENCY {"family":"$family","sf":"$sfLabel","batch_docs":${batchRows.length},"triggers":${walls.size},"trigger_walls_sec":$ws$extra}""")
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
    val ssWalls = drive(s"$work/substr_ckpt") { (b, id) =>
      SubstringStream.foldBatch(b, "doc_id", "text", sK, ssStore, ssSpans,
        batchId = id, key = ssKey2)
    }
    emit("substring_fold", ssWalls, s""","store_hashes":$ssRows""")

    // ---- boilerplate: standing line-count store + per-batch scrub ------
    val blStore = s"$work/boiler_store"
    (0 until 4).foreach { i =>
      graft.streaming.BoilerplateStream.foldBatch(
        storeDocs.filter(col("doc_id") % 4 === i), "doc_id", "text",
        blStore, f"build-$i%09d")
    }
    val blWalls = drive(s"$work/boiler_ckpt") { (b, id) =>
      BoilerplateStream.foldBatch(b, "doc_id", "text", blStore, f"lat-$id%09d")
      // the read side a scrubbing pipeline pays per batch
      BoilerplateStream.scrubBatch(b, "doc_id", "text", blStore,
        minDocs = 50L, except = f"lat-$id%09d").count()
      ()
    }
    emit("boilerplate_fold_scrub", blWalls)

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
    BloomStream.compact(spark, bStore) // the standing store, one partition
    val bloomWalls = drive(s"$work/bloom_ckpt") { (b, id) =>
      val keys = b.select(md5(col("text").cast("binary")).as("text_hash"))
      BloomStream.foldBatchSharded(keys, "text_hash", bShards,
        bWordsPerShard, bK, bStore, f"lat-$id%09d")
      BloomStream.probeBatch(keys, "text_hash", bStore, bShards,
        bWordsPerShard, bK)
        .filter(col("bloom_hit")).count()
      ()
    }
    emit("bloom_fold_probe", bloomWalls,
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
    val cmsWalls = drive(s"$work/cms_ckpt") { (b, id) =>
      CmsStream.foldBatch(tokens(b), "tok", cW, cD, cStore, f"lat-$id%09d")
      CmsStream.readCellRows(spark, cStore)
        .groupBy(col("__d")).agg(count(lit(1))).count()
      ()
    }
    emit("cms_fold_read", cmsWalls)

    // ---- edge: delta-partition store (r15: per-trigger fold is the
    // batch's aggregated pair supports only; the store-proportional
    // merge moved into the periodic compaction, measured separately) --
    val eStore = s"$work/edge_store"
    val li = Tables.lineitem(spark, storeDir)
      .select(col("l_orderkey"), col("l_partkey"))
    (0 until 2).foreach { i =>
      EdgeStream.foldBatch(li.filter(pmod(col("l_orderkey"), lit(2)) === i),
        "l_orderkey", "l_partkey", eStore, i.toLong,
        BatchSeqStore.streamKey(s"$work/edge_build"))
    }
    EdgeStream.compact(spark, eStore) // the standing bucketed base
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
    val eWalls = {
      implicit val sq = spark.sqlContext
      val ms = MemoryStream[(Long, Long)]
      val walls = mutable.Buffer[Double]()
      val q = ms.toDF().toDF("l_orderkey", "l_partkey")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/edge_ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          // a NEW stream against an existing store must start at batch
          // 0 (the manifest's new-key acceptance rule)
          EdgeStream.foldBatch(b, "l_orderkey", "l_partkey", eStore, id, eKey)
          walls += (System.nanoTime() - t0) / 1e9
          ()
        }
        .start()
      factSlices.foreach { sl => ms.addData(sl); q.processAllAvailable() }
      q.stop()
      walls.toSeq
    }
    // the amortized store-proportional costs, measured honestly but
    // OUTSIDE the trigger path: the read-side base+delta merge a
    // consumer pays per query, and one compaction absorbing the open
    // deltas (paid once per compactEvery triggers)
    val tRead = System.nanoTime()
    EdgeStream.readStore(spark, eStore).count()
    val readMergeWall = (System.nanoTime() - tRead) / 1e9
    val tComp = System.nanoTime()
    EdgeStream.compact(spark, eStore)
    val compactWall = (System.nanoTime() - tComp) / 1e9
    emit("edge_delta_fold", eWalls,
      s""","store_supports":$eSupports,"batch_facts":${factRows.length}""" +
        f""","read_merge_wall_sec":$readMergeWall%.3f""" +
        f""","compact_wall_sec":$compactWall%.3f""")

    spark.stop()
  }
}
