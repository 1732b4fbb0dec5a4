package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Session
import graft.Session.consume

/** Fixed-batch proportionality harness (dev tooling): every committed
  * incremental operator is swept with a CONSTANT batch against
  * standing stores built from growing corpora (sf1/sf3/sf10), so the
  * recorded walls answer the production question the regular sweep
  * cannot — is the PER-BATCH cost flat as the standing corpus grows?
  * (The regular sweep grows the batch with sf, so its ~1.0 exponents
  * conflate batch growth with standing-store growth — r12 verdict
  * item 2.)
  *
  * Standing state that production persists (label tables, signature
  * tables, bucketed support stores, streaming parquet stores) is
  * built UNTIMED; the timed region is exactly the per-batch work: the
  * probe/fold/scrub of the fixed batch against that state, consumed
  * through Bench's full-column-hash action, [[graft.Session.consume]]
  * (no count() pruning).
  *
  * Usage: runMain graft.tools.FixedBatchSweep <storeDir> [batchDir]
  * (batchDir defaults to /tmp/sf1 — the SAME batch at every store
  * scale). Prints one `FIXED_BATCH {...}` JSON line per family;
  * assemble the per-SF outputs with tools/assemble_fixed_batch.py.
  */
object FixedBatchSweep {

  def main(args: Array[String]): Unit = {
    val storeDir = args.headOption.getOrElse("/tmp/sf1")
    val batchDir = if (args.length > 1) args(1) else "/tmp/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = 3
    val spark = Session.local("graft-fixed-batch-sweep", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Tables
    import graft.functions.TextOps
    val work = java.nio.file.Files.createTempDirectory("fb-sweep").toString
    val sfLabel = new java.io.File(storeDir).getName

    val storeDocs = Tables.documents(spark, storeDir)
    val storeMaxId = storeDocs.agg(max(col("doc_id"))).head().getLong(0)
    // the FIXED batch: every 10th batchDir doc under ids disjoint from
    // any store scale — offset past max(this store's ids, 1e9) so the
    // batch stays id-disjoint even against a store past 1e9 docs while
    // keeping the historic 1e9 floor (sweep points stay comparable)
    val batchIdOffset = math.max(storeMaxId + 1L, 1000000000L)
    val fixedBatch = Tables.documents(spark, batchDir)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(batchIdOffset)).as("doc_id"), col("text"))
      .localCheckpoint(true)

    def multiLine(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws("\n", lit("subscribe to our newsletter"), col("text"),
            lit("subscribe to our newsletter"), col("text")))
          .otherwise(concat_ws("\n", lit("subscribe to our newsletter"),
            col("text"), lit("thanks for reading"))).as("text"))

    def report(family: String, run: () => Unit): Unit = {
      val walls = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }
      val j = walls.map(w => f"$w%.3f").mkString("[", ",", "]")
      println(s"""FIXED_BATCH {"family":"$family","store_sf":"$sfLabel",""" +
        s""""batch_dir":"${new java.io.File(batchDir).getName}",""" +
        s""""wall_sec":${f"${walls.min}%.3f"},"passes":$passes,"walls":$j}""")
    }

    // ---- 1. dedup incremental fold --------------------------------
    // production reads persisted label + signature tables; both are
    // built untimed. The timed fold: batch signatures probe the
    // signature table, within-batch star edges, incremental CC fold.
    locally {
      val standing = storeDocs
        .select(col("doc_id"), md5(col("text")).as("__h"))
        .withColumn("group_id", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
        .select(col("doc_id"), col("group_id"))
        .localCheckpoint(true)
      val sigTable = storeDocs
        .select(col("doc_id").as("doc_b"), md5(col("text")).as("__h"))
        .localCheckpoint(true)
      report("dedup_fold", () => {
        val cross = fixedBatch
          .select(col("doc_id").as("doc_a"), md5(col("text")).as("__h"))
          .join(sigTable, "__h")
          .select(col("doc_a"), col("doc_b"))
        val within = TextOps.minhashStarEdges(fixedBatch, "doc_id", "text",
          bands = 4, rowsPerBand = 2, shingleSize = 3)
        val dayPairs = cross.unionByName(within).localCheckpoint(true)
        consume(graft.operators.DedupGroups.incrementalGroups(standing, dayPairs))
      })
    }

    // ---- 2. item-edge support fold ---------------------------------
    // standing side: the bucketed support store read in place (zero
    // exchange on the standing table by FoldPlanSpec's pin)
    locally {
      val stored = graft.sources.Derived.itemEdgeSupportsStored(spark, storeDir)
      stored.count() // materialize the bucketed table untimed
      val li = Tables.lineitem(spark, batchDir)
      val maxOk = Tables.lineitem(spark, storeDir)
        .agg(max(col("l_orderkey"))).head().getLong(0)
      val batch = li.filter(col("l_orderkey") % 10 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + lit(maxOk + 1L))
        .localCheckpoint(true)
      report("item_edges_fold", () =>
        consume(graft.operators.GraphOps
          .foldItemEdgeSupports(stored, batch, "l_orderkey", "l_partkey")
          .filter(col("support") >= 2)))
    }

    // ---- 3. substring shingle-store fold ---------------------------
    // standing store: the whole store corpus folded once (untimed);
    // timed: one fixed-batch fold — standing probe (batch hashes
    // broadcast into the store scan), span landing, partition append.
    // Re-runs overwrite the same batch partition (idempotent).
    locally {
      import graft.streaming.SubstringStream
      val st = s"$work/ss_store"; val sp = s"$work/ss_spans"
      SubstringStream.foldBatch(storeDocs, "doc_id", "text", 6, st, sp,
        batchId = 0L, key = "fb")
      report("substring_fold", () =>
        SubstringStream.foldBatch(fixedBatch, "doc_id", "text", 6, st, sp,
          batchId = 1L, key = "fb"))
    }

    // ---- 4. boilerplate line store: scrub + fold -------------------
    locally {
      import graft.streaming.BoilerplateStream
      val st = s"$work/bp_store"
      BoilerplateStream.foldBatch(multiLine(storeDocs), "doc_id", "text",
        st, "fb-000000000")
      val batch = multiLine(fixedBatch).localCheckpoint(true)
      report("boilerplate_scrub", () =>
        consume(BoilerplateStream.scrubBatch(batch, "doc_id", "text", st,
          minDocs = 30L)))
      report("boilerplate_fold", () =>
        BoilerplateStream.foldBatch(batch, "doc_id", "text", st,
          "fb-000000001"))
    }

    // ---- 5. bloom membership probe (sharded, cluster-resident) -----
    // the 100-TB filter shape: the (shard, word, bits) relation is
    // sized for the STORE corpus and persisted BUCKETED on its probe
    // key untimed (production maintains it alongside the store);
    // timed: (a) bloom_flag — the pure filter probe, which must be
    // flat (probe volume = k rows per distinct batch key); (b)
    // bloom_probe — flag + the semantic confirm join against the
    // bucketed signature table (store-scan-bound by design: the
    // confirm IS the exact-membership contract).
    locally {
      import graft.operators.BloomOps
      val keys = storeDocs.select(md5(col("text").cast("binary")).as("text_hash"))
      val n = keys.agg(approx_count_distinct(col("text_hash"))).head().getLong(0)
      val wordsPerShard = 4096
      val nShards = math.max(1, BloomOps.sizeWords(n) / wordsPerShard)
      val k = BloomOps.optimalK(10)
      val tag = sfLabel.replace('.', '_')
      val shardRows = BloomOps
        .bloomShardRows(keys, "text_hash", nShards, wordsPerShard, k)
      graft.sources.BucketedStore.writeBucketedAt(
        shardRows, s"fb_bloom_$tag", s"$work/bloom_bucketed",
        bucketCols = Seq("__shard", "__w"), numBuckets = 32,
        sortCols = Seq("__shard", "__w"))
      val storedRows = spark.table(s"fb_bloom_$tag")
      graft.sources.BucketedStore.writeBucketedAt(
        keys.distinct(), s"fb_sig_$tag", s"$work/sig_bucketed",
        bucketCols = Seq("text_hash"), numBuckets = 32,
        sortCols = Seq("text_hash"))
      val sig = spark.table(s"fb_sig_$tag")
      val batchKeys = fixedBatch
        .withColumn("text_hash", md5(col("text").cast("binary")))
        .localCheckpoint(true)
      report("bloom_flag", () =>
        consume(BloomOps.flagBatchSharded(batchKeys, "text_hash",
          storedRows, nShards, wordsPerShard, k)
          .select(col("doc_id"), col("bloom_hit"))))
      report("bloom_probe", () => {
        val flagged = BloomOps.flagBatchSharded(batchKeys, "text_hash",
          storedRows, nShards, wordsPerShard, k)
        consume(BloomOps.confirmFlag(flagged, sig, "text_hash")
          .select(col("doc_id"), col("is_dup")))
      })
    }

    // ---- 6. CMS frequency estimate ----------------------------------
    locally {
      import graft.streaming.CmsStream
      import graft.operators.CmsOps
      val toks = storeDocs
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val st = s"$work/cms_store"
      (0 until 8).foreach { i =>
        CmsStream.foldBatch(
          toks.filter(pmod(xxhash64(col("token")), lit(8)) === i),
          "token", 1024, 4, st, f"fb-$i%09d")
      }
      val batchToks = fixedBatch
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .distinct().localCheckpoint(true)
      report("cms_estimate", () => {
        val cells = CmsStream.readCells(spark, st, 1024, 4)
        consume(CmsOps.estimateBatch(batchToks, "token", cells, 1024, 4))
      })
    }

    println(s"""FIXED_BATCH_DONE {"store_sf":"$sfLabel","work":"$work"}""")
    spark.stop()
  }
}
