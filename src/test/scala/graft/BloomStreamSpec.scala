package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.BloomOps
import graft.streaming.{BatchSeqStore, BloomStream}

case class BloomKey(k: String)

/** Streaming bloom store: the read-side bit_or fold across per-batch
  * contributions must equal the batch operator's filter over the
  * whole key set — for ANY batch slicing — and a replayed batch must
  * be bit-idempotent (no standing read in the fold).
  */
class BloomStreamSpec extends SparkSpec {
  import spark.implicits._

  private val NumWords = 64
  private val K = 7

  test("folded filter == whole-set batch filter, for any slicing; flags agree") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 300).map(i => BloomKey(s"key-$i"))
    val store = java.nio.file.Files.createTempDirectory("bloom-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bloom-ckpt").toString
    val source = MemoryStream[BloomKey]
    val writer = BloomStream.toBloomStore(
      source.toDF(), "k", NumWords, K, store, ckpt)
    Seq(all.take(100), all.slice(100, 120), all.drop(120)).foreach { s =>
      source.addData(s: _*)
      graft.streaming.BatchSeqStore.runAvailableNow(writer)
    }

    val folded = BloomStream.readWords(spark, store, NumWords)
    val batch = BloomOps.bloomWords(all.toDF(), "k", NumWords, K)
    assert(folded.toSeq == batch.toSeq,
      "stream-folded filter differs from the whole-set batch filter")

    // and the probe side agrees: every ingested key tests positive
    // against the folded filter
    val flagged = BloomOps.flagBatch(all.toDF(), "k", folded, K)
    assert(flagged.filter(!col("bloom_hit")).count() == 0L)
  }

  test("replayed batch is bit-idempotent by the OR algebra") {
    val keys = (0 until 80).map(i => BloomKey(s"r-$i"))
    val store = java.nio.file.Files.createTempDirectory("bloom-replay").toString
    val aDF = keys.take(50).toDF()
    val bDF = keys.drop(50).toDF()
    BloomStream.foldBatch(aDF, "k", NumWords, K, store, "t-000000000")
    BloomStream.foldBatch(bDF, "k", NumWords, K, store, "t-000000001")
    val before = BloomStream.readWords(spark, store, NumWords).toSeq
    // crash-replay of batch 0: same partition, same content, re-OR'd
    BloomStream.foldBatch(aDF, "k", NumWords, K, store, "t-000000000")
    val after = BloomStream.readWords(spark, store, NumWords).toSeq
    assert(after == before, "replay changed the folded filter")
    assert(after == BloomOps.bloomWords(keys.toDF(), "k", NumWords, K).toSeq)
  }

  test("empty store reads as the empty filter") {
    val store = java.nio.file.Files.createTempDirectory("bloom-empty").toString
    val words = BloomStream.readWords(spark, store, NumWords)
    assert(words.forall(_ == 0L))
  }

  private val NShards = 4
  private val WordsPerShard = 16

  test("sharded store: folded relation == whole-set batch relation for any slicing; join probe has zero false negatives") {
    implicit val sqlCtx = spark.sqlContext
    val all = (0 until 300).map(i => BloomKey(s"skey-$i"))
    val store = java.nio.file.Files.createTempDirectory("bloom-shard").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bloom-shard-ckpt").toString
    val source = MemoryStream[BloomKey]
    val writer = BloomStream.toShardedStore(
      source.toDF(), "k", NShards, WordsPerShard, K, store, ckpt)
    Seq(all.take(40), all.slice(40, 170), all.drop(170)).foreach { s =>
      source.addData(s: _*)
      graft.streaming.BatchSeqStore.runAvailableNow(writer)
    }
    def rel(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val folded = rel(BloomStream.readShardRows(spark, store))
    val batch = rel(BloomOps.bloomShardRows(
      all.toDF(), "k", NShards, WordsPerShard, K))
    assert(folded == batch,
      "stream-folded sharded relation differs from the whole-set batch relation")
    // every ingested key probes positive — by JOIN, no driver literal
    val flagged = BloomStream.probeBatch(
      all.toDF(), "k", store, NShards, WordsPerShard, K)
    assert(flagged.filter(!col("bloom_hit")).count() == 0L)
    // and the probe plan carries no multi-megabyte literal: the store
    // side is a scan + fold, confirmed by the join showing up at all
    val plan = flagged.queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet"), s"probe must read the store as a relation:\n$plan")
  }

  test("sharded store: replay is bit-idempotent; compaction preserves the filter exactly and bounds partitions") {
    val keys = (0 until 120).map(i => BloomKey(s"sr-$i"))
    val store = java.nio.file.Files.createTempDirectory("bloom-shard-compact").toString
    val aDF = keys.take(70).toDF()
    val bDF = keys.drop(70).toDF()
    BloomStream.foldBatchSharded(aDF, "k", NShards, WordsPerShard, K, store, "t-000000000")
    BloomStream.foldBatchSharded(bDF, "k", NShards, WordsPerShard, K, store, "t-000000001")
    def rel = BloomStream.readShardRows(spark, store)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val before = rel
    // crash-replay of batch 0: same partition, same content, re-OR'd
    BloomStream.foldBatchSharded(aDF, "k", NShards, WordsPerShard, K, store, "t-000000000")
    assert(rel == before, "replay changed the folded sharded filter")
    // compaction: bit-identical relation, one surviving partition
    BloomStream.compact(spark, store)
    assert(rel == before, "compaction changed the folded sharded filter")
    def parts = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("batch_seq=")).toSeq
    assert(parts == Seq("batch_seq=compacted-1"), parts.mkString(","))
    // a post-compaction fold + second compaction still folds exactly
    // (the compacted part is itself an input to the next compaction)
    BloomStream.foldBatchSharded(aDF, "k", NShards, WordsPerShard, K, store, "t-000000002")
    BloomStream.compact(spark, store)
    assert(rel == before, "second compaction cycle changed the filter")
    assert(parts == Seq("batch_seq=compacted-2"), parts.mkString(","))
    // zero false negatives against the whole ingested set
    val flagged = BloomStream.probeBatch(
      keys.toDF(), "k", store, NShards, WordsPerShard, K)
    assert(flagged.filter(!col("bloom_hit")).count() == 0L)
  }
}
