package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.streaming.BatchSeqStore

/** The per-batch store every exactly-once sink lands through: a write
  * replaces exactly its own part, a replay of a part replaces the
  * earlier write, and the except-read and the sweep act on exactly the
  * parts they name.
  */
class BatchSeqStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** (part, v) rows of the store, sorted; empty while it has no parts. */
  private def rows(path: String, except: String = null): Seq[(String, Int)] =
    BatchSeqStore.read(spark, path, except).toSeq
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
}
