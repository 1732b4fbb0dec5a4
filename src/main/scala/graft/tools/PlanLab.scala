package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev scratch runner: time + explain individual pipeline stages.
  * `sbt "runMain graft.tools.PlanLab <what> <sfDir>"`.
  */
object PlanLab {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("minhash")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(new org.apache.spark.SparkConf().setAll(graft.sources.Tables.ReaderConfs))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[planlab] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    what match {
      case "ccprobe" =>
        // r16 scratch: does the probe-first CC convergence check reuse
        // the edges cache (InMemoryTableScan) or re-run pair lineage?
        import org.apache.spark.sql.functions._
        val docs = graft.sources.Tables.documents(spark, dir)
        val pairs = graft.functions.TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
        val edges = pairs
          .select(col("doc_a").cast("long").as("__a"), col("doc_b").cast("long").as("__b"))
          .select(explode(array(
            struct(col("__a").as("src"), col("__b").as("dst")),
            struct(col("__b").as("src"), col("__a").as("dst")))).as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
          .cache()
        val labels = edges.groupBy(col("src")).agg(min(col("dst")).as("__m"))
          .select(col("src").as("doc_id"), least(col("src"), col("__m")).as("group_id"))
          .localCheckpoint(true)
        time("init done")(())
        val probe = edges
          .join(labels.select(col("doc_id").as("src"), col("group_id").as("__ls")), "src")
          .join(labels.select(col("doc_id").as("dst"), col("group_id").as("__ld")), "dst")
          .filter(col("__ld") < col("__ls"))
        time("probe isEmpty")(println(probe.isEmpty))
        time("probe isEmpty 2nd")(println(probe.isEmpty))
        val plan = probe.queryExecution.executedPlan.toString
        println("probe plan contains InMemoryTableScan: " + plan.contains("InMemoryTableScan"))
        println(plan.take(3000))
      case "minhash" =>
        import graft.functions.TextOps
        import graft.sources.Tables
        val docs = Tables.documents(spark, dir)
        val sh = docs.select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.explode(
            TextOps.shingles(TextOps.tokens(org.apache.spark.sql.functions.col("text")), 3)).as("__s"))
        time("shingle explode count")(println(sh.count()))
        val sig = TextOps.minhashSignatures(docs, "doc_id", "text", 8, 3)
        time("signatures count")(println(sig.count()))
        val pairs = TextOps.minhashCandidatePairs(docs, "doc_id", "text", 4, 2, 3)
        pairs.explain("formatted")
        time("pairs count")(println(pairs.count()))
      case "edges" =>
        import graft.sources.Tables
        import org.apache.spark.sql.functions._
        val li = Tables.lineitem(spark, dir)
        def current() = graft.operators.GraphOps.itemEdges(
          li, "l_orderkey", "l_partkey", 2L)
        def selfJoin() = {
          val di = li.select(col("l_orderkey").as("__b"),
            col("l_partkey").cast("long").as("it")).distinct()
          val d2 = di.select(col("__b"), col("it").as("it2"))
          di.join(d2, "__b").filter(col("it") < col("it2"))
            .groupBy(col("it").as("x"), col("it2").as("y"))
            .agg(count(lit(1)).as("support"))
            .filter(col("support") >= 2).select(col("x"), col("y"))
        }
        for (i <- 1 to 3) {
          time(s"collect_set+slice run $i")(println(current().count()))
          time(s"distinct+self-join run $i")(println(selfJoin().count()))
        }
      case "ext" =>
        graft.GraftExtensions.register(spark)
        spark.sql(
          """SELECT simhash64(split('a b c a', ' ')) AS sh,
                    dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
                    word_shingles(split('a b c', ' '), 2) AS ws,
                    time_bucket_fixed(TIMESTAMP '2024-01-01 08:22:11', '15m') AS tb""")
          .show(truncate = false)
      case "textknn" =>
        import graft.functions.TextOps
        import graft.sources.Tables
        import org.apache.spark.sql.functions.col
        val docs = Tables.documents(spark, dir)
        val tfN = TextOps.hashingTfSparseWithNorm(docs, "doc_id", "text", 4096)
        time("warmup tf count")(println(tfN.count()))
        def knn() = TextOps.sparseCosineTopK(tfN, col("doc_id") % 50 === 0, k = 5)
        val tfR = TextOps.hashingTfSparseWithNorm(
          docs.repartition(32), "doc_id", "text", 4096)
        def knnR() = TextOps.sparseCosineTopK(tfR, col("doc_id") % 50 === 0, k = 5)
        (1 to 5).foreach(i => time(s"knn plain $i")(knn().count()))
        (1 to 5).foreach(i => time(s"knn repart $i")(knnR().count()))
      case "knn1shot" =>
        import graft.functions.TextOps
        import graft.sources.Tables
        import org.apache.spark.sql.functions.col
        val base = Tables.documents(spark, dir)
        val docs2 = if (sys.env.get("GRAFT_KNN_VARIANT").contains("repart"))
          base.repartition(spark.sparkContext.defaultParallelism) else base
        val tf = TextOps.hashingTfSparseWithNorm(docs2, "doc_id", "text", 4096)
        time(s"knn 1shot ${sys.env.getOrElse("GRAFT_KNN_VARIANT", "plain")}")(
          println(TextOps.sparseCosineTopK(tf, col("doc_id") % 50 === 0, k = 5).count()))
      case "basket" =>
        import graft.sources.Tables
        import org.apache.spark.sql.functions._
        val li = Tables.lineitem(spark, dir)
        time("scan count")(println(li.select("l_orderkey", "l_partkey").count()))
        val baskets = li
          .groupBy(col("l_orderkey").as("__b"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("__items"))
        time("baskets gather")(println(baskets.count()))
        time("baskets gather 2nd")(println(baskets.count()))
        val pairs = baskets.select(explode(expr(
          """flatten(transform(__items, (x, i) ->
            |  transform(slice(__items, i + 2, size(__items)),
            |    y -> struct(x AS item_a, y AS item_b))))""".stripMargin)).as("__p"))
        time("pair explode")(println(pairs.count()))
        val full = graft.operators.BasketOps.coOccurrence(li, "l_orderkey", "l_partkey", 100)
        time("full coOccurrence")(println(full.count()))
        time("full coOccurrence 2nd")(println(full.count()))
      case "basket2" =>
        import graft.sources.Tables
        import org.apache.spark.sql.functions._
        val li = Tables.lineitem(spark, dir)
        val baskets = li
          .groupBy(col("l_orderkey").as("__b"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("__items"))
        time("warm gather")(println(baskets.count()))
        val pairs2 = baskets
          .select(col("__items"), posexplode(col("__items")).as(Seq("__i", "item_a")))
          .select(col("item_a"),
            explode(slice(col("__items"), col("__i") + lit(2), size(col("__items")))).as("item_b"))
        time("pair explode v2")(println(pairs2.count()))
        time("pair explode v2 2nd")(println(pairs2.count()))
        val full2 = pairs2
          .groupBy(col("item_a"), col("item_b"))
          .agg(count(lit(1)).as("n_baskets"))
          .orderBy(col("n_baskets").desc, col("item_a").asc, col("item_b").asc)
          .limit(100)
        time("full v2")(println(full2.count()))
        time("full v2 2nd")(println(full2.count()))
      case "gaps" =>
        import graft.sources.Tables
        val ev = Tables.events(spark, dir)
        time("warmup events count")(println(ev.count()))
        import graft.model.Timeframe
        val obs = graft.operators.GapOps.observedBuckets(
          ev, Seq("user_id"), "ts", Timeframe.RollupGrains.head.sparkInterval)
        time("obsFinest distinct count")(println(obs.count()))
        for (i <- 1 to 3) {
          val scan = graft.SparkEntry.queries("q_rollup_gap_scan")(spark, dir)
          time(s"q_rollup_gap_scan $i")(println(scan.count()))
        }
        for (i <- 1 to 3) {
          val al = graft.SparkEntry.queries("q_alerts")(spark, dir)
          time(s"q_alerts $i")(println(al.count()))
        }
      case "rollsig" =>
        // decimal vs long window arithmetic for rollingSigmaOutliers
        import graft.sources.Tables
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types._
        val ev = Tables.events(spark, dir)
        time("warm scan")(println(ev.count()))
        for (i <- 1 to 3) {
          val q = graft.operators.EventOps.rollingSigmaOutliers(
            ev, "user_id", "ts", "event_id", "value", 50, 3)
          time(s"decimal $i")(println(q.count()))
        }
        for (i <- 1 to 3) {
          val cents = round(col("value") * 100).cast(LongType)
          val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(-49, Window.currentRow)
          val n = count(lit(1)).over(w)
          val sx = sum(cents).over(w)
          val sxx = sum(cents * cents).over(w)
          val dev = n * cents - sx
          val q = ev.where(col("value").isNotNull)
            .withColumn("__flag", dev * dev > lit(9L) * (n * sxx - sx * sx))
            .where(col("__flag")).drop("__flag")
          time(s"long $i")(println(q.count()))
        }
      case "observe" =>
        // does localCheckpoint(true) fire Dataset.observe metrics?
        import org.apache.spark.sql.functions._
        val obs = new org.apache.spark.sql.Observation("probe")
        val df = spark.range(100).toDF("id")
          .withColumn("__changed", col("id") > 90)
          .observe(obs, max(col("__changed")).as("any"))
          .localCheckpoint(true)
        println(s"[planlab] ckpt rows=${df.count()}")
        Thread.sleep(200)
        println(s"[planlab] observed=${obs.future.value}")
      case "foldaqe" =>
        // AQE on/off comparison for the fold query (tiny-graph CC: does
        // adaptive re-planning overhead outweigh its coalescing?)
        for (aqe <- Seq("true", "false", "true", "false")) {
          spark.conf.set("spark.sql.adaptive.enabled", aqe)
          val q = graft.SparkEntry.queries("q_dedup_incremental_fold")(spark, dir)
          time(s"fold aqe=$aqe")(println(q.count()))
        }
        spark.conf.set("spark.sql.adaptive.enabled", "true")
      case "plan" =>
        // formatted physical plan of any SparkEntry query:
        //   runMain graft.tools.PlanLab plan <query> [sfDir]
        val name = args(1)
        val sfDir = if (args.length > 2) args(2) else dir
        graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case "jobs" =>
        // per-Spark-job wall breakdown of one query execution
        val name = args(1)
        val sfDir = args(2)
        val jobs = new scala.collection.mutable.ArrayBuffer[(Int, Long, String)]
        val starts = new scala.collection.mutable.HashMap[Int, (Long, String)]
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.synchronized { starts(js.jobId) =
              (js.time, Option(js.properties.getProperty("spark.job.description")).getOrElse("?")) }
          override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            starts.synchronized { starts.get(je.jobId).foreach { case (t0, d) =>
              jobs += ((je.jobId, je.time - t0, d)) } }
        })
        // warm once, then measure
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        jobs.clear()
        val t0 = System.nanoTime()
        println(graft.SparkEntry.queries(name)(spark, sfDir).count())
        println(f"[planlab] $name total: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        Thread.sleep(500)
        jobs.sortBy(_._1).foreach { case (id, ms, d) =>
          println(f"[planlab] job $id%3d ${ms / 1000.0}%6.2f s  ${d.take(80)}") }
      case "fold" =>
        import graft.sources.Tables
        import graft.functions.TextOps
        import org.apache.spark.sql.functions._
        val docs = Tables.documents(spark, dir)
        val off = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("__off")))
        val newBatch = docs.filter(col("doc_id") % 10 === 0).crossJoin(off)
          .select((col("doc_id") + col("__off")).as("doc_id"), col("text"))
        val standing = docs
          .select(col("doc_id"), md5(col("text")).as("__h"))
          .withColumn("group_id", min(col("doc_id"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
          .select(col("doc_id"), col("group_id"))
        time("standing")(println(standing.count()))
        val cross = newBatch
          .select(col("doc_id").as("doc_a"), md5(col("text")).as("__h"))
          .join(docs.select(col("doc_id").as("doc_b"), md5(col("text")).as("__h")), "__h")
          .select(col("doc_a"), col("doc_b"))
        time("cross")(println(cross.count()))
        val within = TextOps.minhashCandidatePairs(newBatch, "doc_id", "text",
          bands = 4, rowsPerBand = 2, shingleSize = 3)
        time("within")(println(within.count()))
        for (i <- 1 to 2) {
          val inc = graft.operators.DedupGroups.incrementalGroups(
            standing, cross.unionByName(within))
          time(s"fold $i")(println(inc.count()))
        }
      case "bench1" =>
        val name = args(1)
        val sfDir = args(2)
        val q = graft.SparkEntry.queries(name)(spark, sfDir)
        q.explain("formatted")
        time(s"$name count")(println(q.count()))
        // warm re-runs (fresh query object: some entries train/collect
        // inside the builder, which a cached DataFrame would hide)
        val reps = sys.env.getOrElse("GRAFT_PLANLAB_REPS", "3").toInt
        val times = (2 to reps).map { i =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[planlab] $name count $i: $dt%.2f s")
          dt
        }
        if (times.nonEmpty)
          println(f"[planlab] $name min=${times.min}%.2f median=${times.sorted.apply(times.size / 2)}%.2f")

      case "dedupwall" =>
        // Stage walls for the two slowest suite queries at every SF
        // (r11: q_dedup_stages 182 s / q_dedup_incremental_rederive
        // 185 s at sf10, exponent ~1.2): each cascade stage is walled
        // behind an eager localCheckpoint so the wall attributes to
        // the stage that did the work, not the first downstream
        // action. Usage: runMain graft.tools.PlanLab dedupwall [sfDir]
        import org.apache.spark.sql.functions.col
        import graft.functions.{TextOps, VectorOps}
        import graft.operators.DedupGroups
        import graft.sources.Tables
        val sfDir = if (args.length > 1) args(1) else dir
        val docs = Tables.documents(spark, sfDir)

        // --- q_dedup_stages cascade ---
        val exactKept = time("s1 exact dedup + keep") {
          val keepers = TextOps.exactDedupGroups(docs, "doc_id", "text")
            .select(col("keeper_id").as("doc_id"))
          val k = docs.join(keepers, Seq("doc_id")).localCheckpoint(true)
          println(s"  exactKept rows=${k.count()}"); k
        }
        val pairs = time("s2 minhash star edges") {
          val p = TextOps.minhashStarEdges(
            exactKept, "doc_id", "text", bands = 4, rowsPerBand = 2,
            shingleSize = 3).localCheckpoint(true)
          println(s"  edges=${p.count()}"); p
        }
        val nearKeepers = time("s3 near-dup CC + keepers") {
          val n = DedupGroups.resolveKeepers(exactKept, "doc_id", pairs)
            .filter(col("is_keeper")).select("doc_id").localCheckpoint(true)
          println(s"  nearKeepers=${n.count()}"); n
        }
        val survEmb = time("s4 survivor embeddings join") {
          val e = Tables.embeddings(spark, sfDir)
            .join(nearKeepers.select(col("doc_id").as("vec_id")), Seq("vec_id"))
            .localCheckpoint(true)
          println(s"  survEmb rows=${e.count()}"); e
        }
        val semPairs = time("s5 within-label cosine pairs") {
          val p = VectorOps.cosineNearDupPairs(
              survEmb, "vec_id", "embedding", "label", threshold = 0.30)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
            .localCheckpoint(true)
          println(s"  semPairs=${p.count()}"); p
        }
        time("s6 semantic CC + keepers") {
          println("  semKeepers=" + DedupGroups
            .resolveKeepers(survEmb, "vec_id", semPairs)
            .filter(col("is_keeper")).count())
        }

        // --- the rederive store build (the q_dedup_build_store cost) ---
        val (storeBanded, storeKeys) = time("r1 corpus banding") {
          val (b, k) = TextOps.minhashBanded(docs, "doc_id", "text",
            bands = 4, rowsPerBand = 2, shingleSize = 3, bucketCap = 10000L)
          val bb = b.localCheckpoint(true)
          println(s"  banded rows=${bb.count()}"); (bb, k)
        }
        val storePairs = time("r2 standing star edges") {
          val p = TextOps.minhashStarFromBanded(storeBanded, "doc_id", storeKeys)
            .localCheckpoint(true)
          println(s"  standing edges=${p.count()}"); p
        }
        time("r3 standing CC") {
          println("  standing labels=" +
            DedupGroups.connectedComponents(storePairs).count())
        }
    }
    spark.stop()
  }
}
