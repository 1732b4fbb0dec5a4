package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materializations of shared derived tables.
  *
  * The co-purchase item graph is consumed by seven analytics queries
  * (triangles, PageRank, k-core, label propagation, degree histogram,
  * assortativity, edge overlap), and the pair-generation pass over
  * `lineitem` dominates each of them — the iterative cores are cheap
  * by comparison. In production this edge list is a stored rollup: the
  * basket→pair derivation runs once per ingest window and lands in a
  * parquet table (the [[graft.operators.RollupStore]] layout), and
  * every graph query reads the table. Inside one session we get the
  * same economics with an eager `localCheckpoint` memoized per
  * (session, source dir): the first consumer pays the derivation, the
  * other six read the materialized blocks.
  *
  * The cache key includes the session's stable unique id (see
  * [[sessionId]] — NOT an identity hash, which two live sessions can
  * share and a GC'd one can surrender to a new session, either way
  * serving a dangling localCheckpoint reference) plus the source dir
  * so different scale factors never alias. Each access first purges entries whose
  * session's SparkContext has stopped, so a long-lived driver that
  * churns sessions doesn't accumulate dead handles. Entries are
  * per-JVM and tiny (one DataFrame handle each); `clear()` exists for
  * tests that deliberately churn sessions.
  */
object Derived {

  /** Cache entry pinning the owning session, so stopped-session
    * entries are identifiable and evictable.
    */
  private final case class Entry[A](session: SparkSession, value: A)

  /** Stable unique session id for cache keys: the classic session's
    * own `sessionUUID` (random per instance, never reused — unlike an
    * identity hash, which two live objects can share and a GC'd one
    * can surrender). The non-classic fallback combines applicationId
    * with identity hash; entries also pin their session (Entry) and
    * are purged once its context stops, so even the fallback cannot
    * serve a dangling checkpoint across a session swap.
    */
  private def sessionId(s: SparkSession): String =
    org.apache.spark.sql.GraftBridge.sessionUUID(s).getOrElse(
      s"${s.sparkContext.applicationId}-${System.identityHashCode(s)}")

  private def purge[A](m: ConcurrentHashMap[String, Entry[A]]): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext)
      if (it.next().getValue.session.sparkContext.isStopped) it.remove()
  }

  private def cached[A](
      m: ConcurrentHashMap[String, Entry[A]],
      s: SparkSession,
      key: String
  )(derive: => A): A = {
    purge(m)
    m.computeIfAbsent(key, _ => Entry(s, derive)).value
  }

  private val cache = new ConcurrentHashMap[String, Entry[DataFrame]]()

  private def edgeKey(s: SparkSession, dir: String) =
    s"${sessionId(s)}|$dir|itemEdgeSupports"

  private def deriveSupports(s: SparkSession, dir: String): DataFrame =
    graft.operators.GraphOps.itemEdgeSupports(
      Tables.lineitem(s, dir), "l_orderkey", "l_partkey", pinWidth = true)
      .localCheckpoint(eager = true)

  /** The co-purchase pair-support table over `lineitem` (x, y,
    * support — UNFILTERED, the carrier a stored edge rollup persists
    * so incremental folds can promote pairs across the threshold),
    * derived once per (session, dir) and served from an eager
    * localCheckpoint thereafter.
    */
  def itemEdgeSupports(s: SparkSession, dir: String): DataFrame =
    cached(cache, s, edgeKey(s, dir))(deriveSupports(s, dir))

  /** The co-purchase edge list (support ≥ 2) — the read view over
    * [[itemEdgeSupports]]. Columns: x, y (long, x < y) — exactly
    * [[graft.operators.GraphOps.itemEdges]].
    */
  def itemEdges(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    itemEdgeSupports(s, dir).filter(col("support") >= 2L).select(col("x"), col("y"))
  }

  /** The standing support table as a PERSISTED bucketed store — the
    * production layout for incremental folds. The localCheckpoint that
    * serves same-session consumers loses its partitioning at the
    * Catalyst level, so a fold's full-outer join against it reshuffles
    * the ENTIRE standing side every batch — fold cost becomes
    * standing-bound at warehouse scale, the opposite of the
    * "work scales with the delta" contract. Stored bucketed+sorted on
    * (x, y), the standing side is read in place (zero exchange, zero
    * sort — FoldPlanSpec pins it) and only the delta shuffles to the
    * bucket layout. Write cost is one parquet encode over the
    * checkpoint (sf1 measured ~5 s vs ~3 s in round 8); it buys
    * delta-scaling folds at any standing size plus cross-session reuse
    * that checkpoint blocks cannot offer. Memoized per (session, dir);
    * the derivation reuses [[itemEdgeSupports]]'s checkpoint when that
    * is already warm (same session economics as the read path).
    */
  def itemEdgeSupportsStored(s: SparkSession, dir: String): DataFrame = {
    val table = cached(storedCache, s, s"${sessionId(s)}|$dir|edgeSupportsStored") {
      val name = s"graft_edge_supports_${Integer.toHexString(dir.hashCode).replace('-', 'n')}"
      val path = java.nio.file.Files.createTempDirectory("graft-edge-store")
      BucketedStore.writeBucketedAt(
        itemEdgeSupports(s, dir), name, path.toString,
        // bucket count rides the session's own scale knob (r16: was a
        // bare 32 that only coincidentally matched local[32]; a
        // cluster session's tuned width flows through automatically)
        bucketCols = Seq("x", "y"),
        numBuckets = s.sessionState.conf.numShufflePartitions,
        sortCols = Seq("x", "y"))
      name
    }
    s.table(table)
  }

  private val storedCache = new ConcurrentHashMap[String, Entry[String]]()

  /** Rebuild the support table unconditionally and replace the cached
    * materialization — the ingest-time path (and the honest bench
    * line: `q_item_edges` routes here so its measured wall is always
    * the full derivation, never a cache read, even under min-of-N
    * re-measurement). Returns the edges view over the fresh table.
    */
  def itemEdgesRebuilt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = deriveSupports(s, dir)
    cache.put(edgeKey(s, dir), Entry(s, df))
    df.filter(col("support") >= 2L).select(col("x"), col("y"))
  }

  // --- Dedup-cascade stage tables -----------------------------------
  //
  // The staged dedup cascade (exact -> MinHash near-dup -> semantic)
  // is a pipeline whose stage outputs production persists: the
  // exact-kept corpus, the near-dup keeper set, and the semantic
  // keeper set are written once per ingest window and every
  // report/downstream stage reads them. The funnel report
  // (q_dedup_funnel) is therefore a pure read over these tables;
  // q_dedup_stages rebuilds them, carrying the cascade's build cost
  // as its own bench line and pinning all three stage tables' content
  // against the oracle (the q_item_edges pattern).

  /** exactKept: full document rows surviving exact dedup (stage 2).
    * nearKeepers: doc_id column, MinHash near-dup keepers over the
    * exact-kept corpus (stage 3). semKeepers: doc_id column,
    * embedding-cosine keepers over the near-dup survivors that carry
    * an embedding (stage 4).
    */
  final case class DedupStages(
      exactKept: DataFrame, nearKeepers: DataFrame, semKeepers: DataFrame)

  private def deriveDedupStages(s: SparkSession, dir: String): DedupStages = {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(s, dir)
    val exactKeepers = graft.functions.TextOps
      .exactDedupGroups(docs, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val exactKept = docs.join(exactKeepers, Seq("doc_id"))
      .localCheckpoint(eager = true)
    // star edges, not pair cliques: identical CC components, edges
    // linear in the corpus (clique pairs grow quadratically in
    // duplicate-group size — the r11 1.2-exponent tail)
    val pairs = graft.functions.TextOps.minhashStarEdges(
      exactKept, "doc_id", "text", bands = 4, rowsPerBand = 2, shingleSize = 3)
    val nearKeepers = graft.operators.DedupGroups
      .resolveKeepers(exactKept, "doc_id", pairs)
      .filter(col("is_keeper")).select("doc_id")
      .localCheckpoint(eager = true)
    val survEmb = Tables.embeddings(s, dir)
      .join(nearKeepers.select(col("doc_id").as("vec_id")), Seq("vec_id"))
      .localCheckpoint(eager = true)
    val semPairs = graft.functions.VectorOps.cosineNearDupPairs(
        survEmb, "vec_id", "embedding", "label", threshold = 0.30)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val semKeepers = graft.operators.DedupGroups
      .resolveKeepers(survEmb, "vec_id", semPairs)
      .filter(col("is_keeper")).select(col("doc_id"))
      .localCheckpoint(eager = true)
    DedupStages(exactKept, nearKeepers, semKeepers)
  }

  /** The cascade's persisted stage tables, derived once per
    * (session, dir) and served from eager localCheckpoints thereafter.
    */
  def dedupStages(s: SparkSession, dir: String): DedupStages =
    cached(stageCache, s, s"${sessionId(s)}|$dir|dedupStages")(
      deriveDedupStages(s, dir))

  /** Rebuild all three stage tables unconditionally and replace the
    * cached materializations — the ingest-time refresh / honest-bench
    * path.
    */
  def dedupStagesRebuilt(s: SparkSession, dir: String): DedupStages = {
    val key = s"${sessionId(s)}|$dir|dedupStages"
    val st = deriveDedupStages(s, dir)
    stageCache.put(key, Entry(s, st))
    st
  }

  private val stageCache = new ConcurrentHashMap[String, Entry[DedupStages]]()

  // --- MinHash signature store + standing labels ---------------------
  //
  // The incremental-dedup steady state reads two persisted artifacts:
  // the corpus's banded MinHash keys (the signature store — computed
  // when each doc was ingested) and yesterday's group-label table (the
  // previous fold's own output). Deriving both in-query is the stress
  // shape (q_dedup_incremental_rederive); the production daily shape
  // reads them and pays only for banding the new batch, the candidate
  // joins, and the touched-component fold.

  /** banded: the corpus's banded signature keys (doc_id + band key
    * columns). keyCols: the band key column names. standing: the
    * standing (doc_id, group_id) label table — rows only for docs in
    * some duplicate group.
    */
  final case class MinhashStore(
      banded: DataFrame, keyCols: Seq[String], standing: DataFrame)

  private def deriveMinhashStore(s: SparkSession, dir: String): MinhashStore = {
    val docs = Tables.documents(s, dir)
    val (banded, keyCols) = graft.functions.TextOps.minhashBanded(
      docs, "doc_id", "text", bands = 4, rowsPerBand = 2,
      shingleSize = 3, bucketCap = 10000L)
    // The signature store persists BUCKETED on the band key — the
    // exact key every candidate join uses (cross new×known and the
    // within self-join), so the corpus side is read in place: zero
    // exchange/sort on the (arbitrarily large) standing signatures,
    // only the new batch's bands shuffle. A localCheckpoint here would
    // hide the partitioning from Catalyst and reshuffle the whole
    // store per incremental query (the edge-fold lesson).
    val table = s"graft_minhash_sig_${Integer.toHexString(dir.hashCode).replace('-', 'n')}"
    val path = java.nio.file.Files.createTempDirectory("graft-minhash-sig")
    BucketedStore.writeBucketedAt(
      banded, table, path.toString,
      bucketCols = "band" +: keyCols,
      numBuckets = s.sessionState.conf.numShufflePartitions,
      sortCols = "band" +: keyCols)
    val cb = s.table(table)
    // star edges per bucket (not pair cliques): identical standing
    // components, linear edge volume; the window partitions on the
    // store's own bucket key, so the bucketed read stays in place
    val oldPairs = graft.functions.TextOps
      .minhashStarFromBanded(cb, "doc_id", keyCols)
    // CC's result is already materialized: a local relation, or the
    // distributed loop's checkpointed labels
    val standing = graft.operators.DedupGroups.connectedComponents(oldPairs)
    MinhashStore(cb, keyCols, standing)
  }

  /** The corpus signature store + standing labels, derived once per
    * (session, dir) and read thereafter.
    */
  def minhashStore(s: SparkSession, dir: String): MinhashStore =
    cached(minhashCache, s, s"${sessionId(s)}|$dir|minhashStore")(
      deriveMinhashStore(s, dir))

  /** Rebuild the signature store + standing labels unconditionally and
    * replace the cached materializations — the ingest-time refresh /
    * honest-bench path.
    */
  def minhashStoreRebuilt(s: SparkSession, dir: String): MinhashStore = {
    val key = s"${sessionId(s)}|$dir|minhashStore"
    val st = deriveMinhashStore(s, dir)
    minhashCache.put(key, Entry(s, st))
    st
  }

  private val minhashCache = new ConcurrentHashMap[String, Entry[MinhashStore]]()

  def clear(): Unit = {
    cache.clear(); stageCache.clear(); minhashCache.clear(); storedCache.clear()
  }
}
