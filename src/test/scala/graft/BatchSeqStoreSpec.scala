package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.functions.TextOps
import graft.operators.{BloomOps, CmsOps, GraphOps, RollupStore}
import graft.streaming._

/** The per-batch store every exactly-once sink lands through: a write
  * replaces exactly its own part, a replay of a part replaces the
  * earlier write, and the except-read and the sweep act on exactly the
  * parts they name. Every `foreachBatch` store, crashed at any commit
  * point and replayed, equals a batch recompute, read inside the crash
  * window too; and compaction has one code path.
  */
class BatchSeqStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val VSchema = new StructType().add("v", IntegerType)

  /** (part, v) rows of the store, sorted; empty while it has no parts. */
  private def rows(path: String, except: String = null): Seq[(String, Int)] =
    BatchSeqStore.read(spark, path, VSchema, except).toSeq
      .flatMap(_.select(BatchSeqStore.Col, "v").as[(String, Int)].collect())
      .sorted

  test("a write replaces only its own part while the session overwrites statically") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val flat = tmp("bss_static")
      BatchSeqStore.write(Seq(1, 2).toDF("v"), flat, "k-000000000")
      BatchSeqStore.write(Seq(3).toDF("v"), flat, "k-000000001")
      assert(rows(flat) ==
        Seq("k-000000000" -> 1, "k-000000000" -> 2, "k-000000001" -> 3))

      // with an outer partition column, as the rollup sink lands
      val nested = tmp("bss_static_outer")
      BatchSeqStore.write(Seq(("202401", 1)).toDF("m", "v"), nested, "k-000000000", "m")
      BatchSeqStore.write(Seq(("202401", 2)).toDF("m", "v"), nested, "k-000000001", "m")
      assert(spark.read.parquet(nested).select(BatchSeqStore.Col, "v").as[(String, Int)]
        .collect().sorted.toSeq == Seq("k-000000000" -> 1, "k-000000001" -> 2))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("replayed writes: read is the last write of each part; except and sweep act on exactly their parts") {
    val partNames = Seq("a-000000000", "a-000000001", "b-000000000", "compact-000000000")
    // a write lands at least one row: a dynamic overwrite of zero rows
    // names no partition and so replaces nothing, and a replayed batch
    // recomputes its own non-empty rows anyway
    val write = Gen.zip(Gen.oneOf(partNames),
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.choose(0, 9))))
    val gen = for {
      n <- Gen.choose(1, 5)
      writes <- Gen.listOfN(n, write)
      except <- Gen.oneOf(partNames)
      swept <- Gen.someOf(partNames)
    } yield (writes, except, swept.toSeq)

    val prop = Prop.forAllNoShrink(gen) { case (writes, except, swept) =>
      val path = tmp("bss_prop")
      writes.foreach { case (part, vs) => BatchSeqStore.write(vs.toDF("v"), path, part) }
      val last = writes.toMap // a later write of a part replaces the earlier one
      def union(parts: Iterable[String]) =
        parts.toSeq.flatMap(p => last(p).map(p -> _)).sorted
      val readOk = rows(path) == union(last.keys)
      val exceptOk = rows(path, except) == union(last.keys.filterNot(_ == except))
      BatchSeqStore.sweep(spark, path, swept)
      val kept = last.keys.filterNot(swept.contains)
      val sweepOk = BatchSeqStore.parts(spark, path).sorted == kept.toSeq.sorted &&
        rows(path) == union(kept)
      (readOk :| "read") && (exceptOk :| s"read except $except") &&
        (sweepOk :| s"sweep ${swept.mkString(",")}")
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261018L)),
      prop)
    assert(result.passed, result.status.toString)
  }

  test("a sequence whose batch 0 lands no rows stays known to the replay guard") {
    val path = tmp("bss_empty")
    BatchSeqStore.write(Seq(1).toDF("v"), path, "a-000000000")
    // a fresh sequence over the store whose first batch has no rows, as
    // a watermarked aggregation's first trigger emits nothing
    assert(BatchSeqStore.admits(spark, path, "b-000000000"))
    BatchSeqStore.write(Seq.empty[Int].toDF("v"), path, "b-000000000")
    assert(BatchSeqStore.admits(spark, path, "b-000000001"))
    // a sequence the store has never seen, arriving past batch 0, fails
    val e = intercept[IllegalStateException](BatchSeqStore.admits(spark, path, "c-000000001"))
    assert(e.getMessage.contains("unrecognized stream"))
    assert(rows(path) == Seq("a-000000000" -> 1))
  }

  // ---- crash points over every foreachBatch store -------------------

  /** The documents every store's fold is fed from, sliced into batches. */
  private val docs: Seq[(Long, String)] = {
    val boiler = "shared header line\nalpha beta gamma delta epsilon"
    Seq("zeta eta theta", "iota kappa lambda mu", "alpha beta gamma delta nu",
      "xi omicron pi", "rho sigma tau alpha beta", "upsilon phi chi psi",
      "omega alpha beta gamma delta", "eta theta iota kappa").zipWithIndex
      .map { case (t, i) => (i.toLong, if (i % 2 == 0) s"$boiler\n$t" else t) }
  }

  private def tokens(d: DataFrame) =
    d.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
  private def facts(d: DataFrame) =
    tokens(d).select(col("doc_id"), xxhash64(col("tok")).as("item")).distinct()
  private def rollupRows(d: DataFrame) = d.select(
    concat(lit("S"), (col("doc_id") % 2).cast("string")).as("symbol"),
    timestamp_seconds(lit(1709251200L) + col("doc_id") * 432000L).as("bucket_ts"),
    length(col("text")).cast("long").as("volume"))
    .withColumn("bucket_month", date_format(col("bucket_ts"), "yyyyMM"))
  private val RollupSchema = new StructType().add("symbol", "string")
    .add("bucket_ts", "timestamp").add("volume", "long").add("bucket_month", "string")

  /** Sorted whole-row render, every column as a string. */
  private def render(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(c => col(c).cast("string")): _*)
      .collect().map(_.toString).sorted.toSeq

  /** One store through its fold seam: `fold(root, batch, key, id)`
    * lands a batch of documents, `compact(root)` runs its compaction,
    * `state(root)` renders what a reader sees, `recompute(batches)`
    * the batch recompute.
    */
  private final case class Subject(
      name: String,
      fold: (String, DataFrame, String, Long) => Unit,
      compact: String => Unit,
      state: String => Seq[String],
      recompute: Seq[DataFrame] => Seq[String])

  private val subjects: Seq[Subject] = Seq(
    Subject("bloom",
      (r, b, k, i) => BloomStream.foldBatch(b, "text", 16, 3, r, BatchSeqStore.part(k, i)),
      r => BloomStream.compactWords(spark, r),
      r => BloomStream.readWords(spark, r, 16).toSeq.map(_.toString),
      bs => BloomOps.bloomWords(bs.reduce(_ union _), "text", 16, 3).toSeq.map(_.toString)),
    Subject("bloom_sharded",
      (r, b, k, i) => BloomStream.foldBatchSharded(b, "text", 4, 8, 3, r, BatchSeqStore.part(k, i)),
      r => BloomStream.compact(spark, r),
      r => render(BloomStream.readShardRows(spark, r)),
      bs => render(BloomOps.bloomShardRows(bs.reduce(_ union _), "text", 4, 8, 3))),
    Subject("cms",
      (r, b, k, i) => CmsStream.foldBatch(tokens(b), "tok", 64, 3, r, BatchSeqStore.part(k, i)),
      r => CmsStream.compact(spark, r),
      r => CmsStream.readCells(spark, r, 64, 3).toSeq.map(_.toString),
      bs => CmsOps.cmsCells(tokens(bs.reduce(_ union _)), "tok", 64, 3).toSeq.map(_.toString)),
    Subject("substring",
      (r, b, k, i) => SubstringStream.foldBatch(b, "doc_id", "text", 3, r, s"${r}_spans", i, k),
      r => SubstringStream.compact(spark, r),
      r => render(SubstringStream.readStoreHashes(spark, r)) ++
        BatchSeqStore.read(spark, s"${r}_spans", new StructType().add("doc_id", "long")
          .add("span_start", "long").add("span_end", "long").add("n_tokens", "long"))
          .toSeq.flatMap(sp => render(sp.drop(BatchSeqStore.Col))),
      bs => render(TextOps.shinglePositions(bs.reduce(_ union _), "doc_id", "text", 3)
        .select("__h").distinct()) ++
        (1 until bs.size).flatMap(i => render(TextOps.substringCrossSpans(
          bs(i), "doc_id", "text", bs.take(i).reduce(_ union _), "doc_id", "text", 3)))
          .sorted),
    Subject("edge",
      (r, b, k, i) => EdgeStream.foldBatch(facts(b), "doc_id", "item", r, i, k),
      r => EdgeStream.compact(spark, r),
      r => render(EdgeStream.readStore(spark, r)),
      bs => render(GraphOps.itemEdgeSupports(facts(bs.reduce(_ union _)), "doc_id", "item"))),
    Subject("rollup",
      (r, b, k, i) => StreamingRollup.writeBatch(rollupRows(b), r, k, i),
      // compactPartitions infers the schema of the rows a store holds
      r => if (BatchSeqStore.parts(spark, r).nonEmpty) RollupStore.compactPartitions(spark, r, Nil),
      r => BatchSeqStore.read(spark, r, RollupSchema).toSeq
        .flatMap(df => render(df.drop(BatchSeqStore.Col))),
      bs => render(rollupRows(bs.reduce(_ union _)))),
    Subject("boilerplate",
      (r, b, k, i) => BoilerplateStream.foldBatch(b, "doc_id", "text", r, BatchSeqStore.part(k, i)),
      r => BoilerplateStream.compact(spark, r),
      r => render(BoilerplateStream.readLineCounts(spark, r)),
      bs => render(TextOps.lineRows(bs.reduce(_ union _), "doc_id", "text")
        .groupBy(col("__h")).agg(countDistinct(col("doc_id")).as("__nd")))))

  /** Where a fold dies; Spark then replays the batch with its id. */
  private sealed trait Crash
  private case object BeforeWrite extends Crash
  private case object MidWrite extends Crash
  private case object AfterWrite extends Crash
  /** Inside the fold's compaction, at the named step after its commit. */
  private final case class AfterCompactionCommit(step: String) extends Crash
  /** The checkpoint is replaced: later batches restart at id 0. */
  private case object ReplacedCheckpoint extends Crash

  /** Fold `batches` into a fresh store of `s`, crashing at batch `at`
    * as `crash` says; a failed check names the subject and the window.
    */
  private def crashRun(s: Subject, batches: Seq[DataFrame], at: Int, crash: Crash): Seq[String] = {
    val root = tmp(s"bss_crash_${s.name}")
    val none = Seq(docs.take(0).toDF("doc_id", "text"))
    def check(window: String, landed: Int): Option[String] =
      if (s.state(root) == s.recompute(if (landed == 0) none else batches.take(landed))) None
      else Some(s"${s.name}: $crash at batch $at, read $window")
    val failures = batches.indices.flatMap { i =>
      val (key, id) = if (crash == ReplacedCheckpoint && i >= at) ("k2", (i - at).toLong) else ("k1", i.toLong)
      val b = batches(i)
      if (i != at) { s.fold(root, b, key, id); Nil }
      else crash match {
        case BeforeWrite =>
          val w = check("before the replay", i)
          s.fold(root, b, key, id)
          w.toSeq
        case MidWrite =>
          // a dynamic overwrite that dies before its job commit leaves
          // the batch's rows in a hidden staging directory of the root
          val scratch = tmp(s"bss_scratch_${s.name}")
          s.fold(scratch, b, key, id)
          java.nio.file.Files.move(java.nio.file.Paths.get(scratch),
            java.nio.file.Paths.get(root, ".spark-staging-crash"))
          val w = check("before the replay", i)
          s.fold(root, b, key, id)
          w.toSeq
        case AfterWrite =>
          s.fold(root, b, key, id)
          val w = check("before the replay", i + 1)
          s.fold(root, b, key, id)
          w.toSeq
        case AfterCompactionCommit(step) =>
          s.fold(root, b, key, id)
          BatchSeqStore.onCompactStep = st =>
            if (st == step) throw new IllegalStateException(s"crash at $step")
          try intercept[IllegalStateException](s.compact(root))
          finally BatchSeqStore.onCompactStep = _ => ()
          val w = check("inside the window", i + 1)
          s.fold(root, b, key, id)
          w.toSeq ++ check("after the replay", i + 1)
        case ReplacedCheckpoint =>
          s.compact(root)
          s.fold(root, b, key, id)
          Nil
      }
    }
    s.compact(root)
    val bounded = BatchSeqStore.parts(spark, root).size == 1
    failures ++ check("at the end", batches.size) ++
      (if (bounded) None else Some(s"${s.name}: $crash left ${BatchSeqStore.parts(spark, root)}"))
  }

  test("crash points: every foreachBatch store equals a batch recompute, read inside each window") {
    // batch splits of the documents: 2 or 3 non-empty consecutive
    // slices, and the batch the crash hits
    val gen = for {
      n <- Gen.choose(2, 3)
      cuts <- Gen.pick(n - 1, 1 until docs.size)
      at <- Gen.choose(0, n - 1)
      step <- Gen.oneOf("committed", "renamed")
    } yield ((0 +: cuts.sorted.toSeq :+ docs.size).sliding(2)
      .map { case Seq(a, b) => docs.slice(a, b) }.toSeq, at, step)
    // every crash point, each over its own generated cases
    val crashes: Seq[String => Crash] = Seq(_ => BeforeWrite, _ => MidWrite, _ => AfterWrite,
      AfterCompactionCommit(_), _ => ReplacedCheckpoint)
    crashes.zipWithIndex.foreach { case (crash, c) =>
      val prop = Prop.forAllNoShrink(gen) { case (split, at, step) =>
        val batches = split.map(_.toDF("doc_id", "text"))
        val failures = subjects.flatMap(crashRun(_, batches, at, crash(step)))
        failures.isEmpty :| failures.mkString("; ")
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2)
        .withInitialSeed(Seed(20261019L + c)), prop)
      assert(result.passed, result.status.toString)
    }
  }

  test("bloom, sharded bloom and boilerplate compact from their folds") {
    val n = BatchSeqStore.CompactEvery + 1
    val batches = (0 until n).map(i => Seq((i.toLong, docs(i % docs.size)._2)).toDF("doc_id", "text"))
    for (s <- subjects.filter(s => Set("bloom", "bloom_sharded", "boilerplate")(s.name))) {
      val root = tmp(s"bss_fold_compacts_${s.name}")
      batches.zipWithIndex.foreach { case (b, i) => s.fold(root, b, "k", i.toLong) }
      val live = BatchSeqStore.parts(spark, root)
      assert(live.size <= 2 && live.exists(BatchSeqStore.isCompacted), s"${s.name}: $live")
      assert(s.state(root) == s.recompute(batches), s.name)
    }
  }

  test("one compaction path: only BatchSeqStore names compacted parts, staging or sweeps") {
    import SourceCode.census
    val own = "src/main/scala/graft/streaming/BatchSeqStore.scala"
    for (needle <- Seq("compacted-", "compact-", "\\._compact_pending_", "\\.compact_tmp_",
        "BatchSeqStore\\.sweep\\b"))
      assert(census(needle, "src/main/scala").keySet.forall(_ == own), needle)
  }
}
