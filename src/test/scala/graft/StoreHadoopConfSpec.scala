package graft

import org.apache.hadoop.fs.Path

import graft.operators.{BloomOps, CmsOps}
import graft.streaming.{BatchSeqStore, BloomStream, CmsStream, EdgeStream, SubstringStream}

/** The local filesystem under a scheme of its own: a path on it
  * resolves only through a Hadoop conf that registers the scheme.
  */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** [[SchemeLocalFs]] under another scheme, whose rename refuses to
  * replace an existing file, as HDFS's `FileSystem.rename` does.
  */
class NoReplaceLocalFs extends SchemeLocalFs {
  override def getUri: java.net.URI = java.net.URI.create("graftnr:///")
  override def getScheme: String = "graftnr"
  override def rename(src: Path, dst: Path): Boolean =
    !exists(dst) && super.rename(src, dst)
}

/** The streaming stores reach their files through the session's Hadoop
  * conf (`spark.hadoop.*`, filesystem impls, object-store credentials),
  * not a fresh `Configuration` that knows none of it: stores on a
  * scheme registered only in the session fold and read back.
  */
class StoreHadoopConfSpec extends SparkSpec {

  private lazy val session = {
    val s = spark.newSession()
    s.conf.set("fs.graftfs.impl", classOf[SchemeLocalFs].getName)
    // uncached, so no FileSystem instance created through the session
    // conf can answer a later lookup made without it
    s.conf.set("fs.graftfs.impl.disable.cache", "true")
    s.conf.set("fs.graftnr.impl", classOf[NoReplaceLocalFs].getName)
    s.conf.set("fs.graftnr.impl.disable.cache", "true")
    s
  }

  private def storeDir(prefix: String): String =
    "graftfs://" + java.nio.file.Files.createTempDirectory(prefix).toString

  test("the test scheme resolves only through the session's Hadoop conf") {
    val p = new Path(storeDir("scheme-probe"))
    intercept[java.io.IOException](p.getFileSystem(new org.apache.hadoop.conf.Configuration()))
    assert(p.getFileSystem(session.sessionState.newHadoopConf()).exists(p))
  }

  test("count-min store folds and reads back on a session-registered scheme") {
    import session.implicits._
    val (w, d) = (256, 4)
    val keys = (0 until 40).flatMap(i => Seq.fill(i % 5 + 1)(s"key-$i"))
    val store = storeDir("cms-scheme")
    CmsStream.foldBatch(keys.take(60).toDF("k"), "k", w, d, store, "t-000000000")
    CmsStream.foldBatch(keys.drop(60).toDF("k"), "k", w, d, store, "t-000000001")
    assert(CmsStream.readCells(session, store, w, d).toSeq ==
      CmsOps.cmsCells(keys.toDF("k"), "k", w, d).toSeq)
  }

  test("bloom stores (plain and sharded) fold, compact and read back on a session-registered scheme") {
    import session.implicits._
    val (numWords, k) = (64, 7)
    val keys = (0 until 80).map(i => s"b-$i")
    val store = storeDir("bloom-scheme")
    BloomStream.foldBatch(keys.take(50).toDF("k"), "k", numWords, k, store, "t-000000000")
    BloomStream.foldBatch(keys.drop(50).toDF("k"), "k", numWords, k, store, "t-000000001")
    assert(BloomStream.readWords(session, store, numWords).toSeq ==
      BloomOps.bloomWords(keys.toDF("k"), "k", numWords, k).toSeq)

    val sharded = storeDir("bloom-sharded-scheme")
    BloomStream.foldBatchSharded(keys.take(50).toDF("k"), "k", 4, 16, k, sharded, "t-000000000")
    BloomStream.foldBatchSharded(keys.drop(50).toDF("k"), "k", 4, 16, k, sharded, "t-000000001")
    def shardRows() = BloomStream.readShardRows(session, sharded)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val before = shardRows()
    assert(before.nonEmpty)
    BloomStream.compact(session, sharded)
    assert(shardRows() == before)
  }

  test("substring store folds and reads back on a session-registered scheme") {
    import session.implicits._
    val docs = (0 until 12).map(i =>
      (i.toLong, s"common shared words here doc $i ends ${i % 3}"))
    val store = storeDir("substr-scheme")
    val spans = storeDir("substr-spans-scheme")
    val key = BatchSeqStore.streamKey("scheme-checkpoint")
    SubstringStream.foldBatch(docs.take(6).toDF("doc_id", "text"), "doc_id", "text", 3,
      store, spans, batchId = 0L, key = key)
    SubstringStream.foldBatch(docs.drop(6).toDF("doc_id", "text"), "doc_id", "text", 3,
      store, spans, batchId = 1L, key = key)
    val landed = SubstringStream.readStoreHashes(session, store).as[Long].collect().sorted
    val whole = graft.functions.TextOps
      .shinglePositions(docs.toDF("doc_id", "text"), "doc_id", "text", 3)
      .select("__h").distinct().as[Long].collect().sorted
    assert(landed.toSeq == whole.toSeq)
    assert(SubstringStream.readSpans(session, spans).count() > 0L)
  }

  /** Two baskets folded as two batches of one sequence, compacting
    * every `compactEvery` parts (never by default); returns the
    * expected supports.
    */
  private def foldTwoBaskets(
      s: org.apache.spark.sql.SparkSession, store: String,
      compactEvery: Int = 0): Map[(Long, Long), Long] = {
    import s.implicits._
    val key = BatchSeqStore.streamKey(s"$store-checkpoint")
    EdgeStream.foldBatch(Seq((1L, 10L), (1L, 11L)).toDF("order_id", "part_id"),
      "order_id", "part_id", store, batchId = 0L, streamKey = key, compactEvery = compactEvery)
    EdgeStream.foldBatch(Seq((2L, 10L), (2L, 11L), (2L, 12L)).toDF("order_id", "part_id"),
      "order_id", "part_id", store, batchId = 1L, streamKey = key, compactEvery = compactEvery)
    Map((10L, 11L) -> 2L, (10L, 12L) -> 1L, (11L, 12L) -> 1L)
  }

  private def edges(s: org.apache.spark.sql.SparkSession, store: String) =
    EdgeStream.readStore(s, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def manifestInStore(s: org.apache.spark.sql.SparkSession, store: String) = {
    val m = new Path(store, "_manifest")
    m.getFileSystem(s.sessionState.newHadoopConf()).exists(m)
  }

  test("edge store folds, compacts and reads back on a session-registered scheme") {
    val store = storeDir("edge-scheme")
    val expected = foldTwoBaskets(session, store)
    assert(edges(session, store) == expected)
    EdgeStream.compact(session, store)
    assert(edges(session, store) == expected)
    assert(manifestInStore(session, store))
  }

  test("an edge manifest flip the filesystem cannot apply fails the fold") {
    // a quietly lost flip would leave the manifest a compaction behind
    // and let the sweep delete parts it still counts; compacting after
    // every fold, the second fold's compaction replaces the manifest
    val store = "graftnr://" + java.nio.file.Files.createTempDirectory("edge-noreplace")
    val e = intercept[IllegalStateException](foldTwoBaskets(session, store, compactEvery = 1))
    assert(e.getMessage.contains("was not applied"), e.getMessage)
  }

  test("the edge manifest lands in the store for a file:// store path") {
    val local = java.nio.file.Files.createTempDirectory("edge-uri").toString
    val store = "file://" + local
    val expected = foldTwoBaskets(spark, store, compactEvery = 1)
    assert(manifestInStore(spark, store))
    // a URI joined by java.nio is a relative path: file:/tmp/... under
    // the working directory
    assert(!new java.io.File(System.getProperty("user.dir"), "file:" + local).exists(),
      "manifest written under the working directory")
    assert(edges(spark, store) == expected)
  }
}
