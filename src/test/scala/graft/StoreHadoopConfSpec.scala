package graft

import org.apache.hadoop.fs.Path

import graft.operators.{BloomOps, CmsOps}
import graft.streaming.{BloomStream, CmsStream, EdgeStream, SubstringStream}

/** The local filesystem under a scheme of its own: a path on it
  * resolves only through a Hadoop conf that registers the scheme.
  */
class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
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
    val key = EdgeStream.streamKey("scheme-checkpoint")
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
}
