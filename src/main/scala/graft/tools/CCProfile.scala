package graft.tools

import org.apache.spark.sql.functions._

/** Dev profiler for the DedupGroups fixpoint loop — inlines the
  * CURRENT connectedComponents round structure with per-phase wall
  * times so loop overhead is measured, not guessed.
  */
object CCProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(new org.apache.spark.SparkConf().setAll(graft.sources.Tables.ReaderConfs))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val docs = graft.sources.Tables.documents(spark, sfDir)
    val pairs = graft.functions.TextOps.minhashCandidatePairs(docs, "doc_id", "text", 4, 2, 3)
    t("pairs count (warm)")(pairs.count())
    val pairsM = t("pairs materialize")(pairs.localCheckpoint(true))

    // --- current DedupGroups.connectedComponents, phase-timed -------
    val edges = t("edges build+cache+count")({
      val e = pairsM
        .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
        .unionByName(pairsM.select(
          col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
        .distinct()
        .cache()
      e.count()
      e
    })
    var labels = t("init min(self,nbrs)+ckpt")({
      edges.groupBy(col("src")).agg(min(col("dst")).as("__m"))
        .select(col("src").as("doc_id"), least(col("src"), col("__m")).as("group_id"))
        .localCheckpoint(true)
    })
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum("group_id"), lit(0L))).head().getLong(0)
    var prevSum = t("init labelSum")(labelSum(labels))
    var converged = false
    var it = 0
    while (!converged && it < 10) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id")), "dst")
        .groupBy(col("src"))
        .agg(min("group_id").as("__nmin"))
        .withColumnRenamed("src", "doc_id")
      val propagated = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          least(col("group_id"), coalesce(col("__nmin"), col("group_id"))).as("group_id"))
      val doubled = propagated.as("a")
        .join(
          propagated.select(col("doc_id").as("__l"), col("group_id").as("__lg")),
          col("a.group_id") === col("__l"))
        .select(col("a.doc_id").as("doc_id"), col("__lg").as("group_id"))
      val updated = t(s"round $it prop+double+ckpt")(doubled.localCheckpoint(true))
      val curSum = t(s"round $it labelSum")(labelSum(updated))
      labels = updated
      converged = curSum == prevSum
      prevSum = curSum
      it += 1
    }
    println(s"  rounds=$it labels=${t("final count")(labels.count())}")
    spark.stop()
  }
}
