package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{Bpe, SimHash64, TextOps}
import graft.sources.Tables

/** The corpus text and dedup queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object CorpusQueries {
  /** Simulated ingest batch for the incremental queries: every 10th
    * doc re-issued under fresh ids in a namespace disjoint from the
    * corpus BY CONSTRUCTION — offset = max(doc_id)+1 via a broadcast
    * one-row aggregate. (A fixed +1e6 offset would silently alias once
    * the corpus passes 1M docs, and both engines would agree, hiding
    * the collision from verification.) Oracle mirror:
    * `doc_id + (SELECT max(doc_id) + 1 FROM documents)`.
    */
  private def syntheticBatch(docs: DataFrame): DataFrame = {
    val off = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("__off")))
    docs.filter(col("doc_id") % 10 === 0).crossJoin(off)
      .select((col("doc_id") + col("__off")).as("doc_id"), col("text"))
  }

  /** Multi-line view of the documents fixture (its texts are single-
    * line): a shared promo header on every doc, the body, and on even
    * ids a repeated promo + body — so the in-doc line scrub sees
    * within-row repeats and the cross-corpus scrub sees a corpus-wide
    * boilerplate line, distinguishably.
    */
  private def multiLineDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat_ws("\n", lit("subscribe to our newsletter"), col("text"),
          lit("subscribe to our newsletter"), col("text")))
        .otherwise(concat_ws("\n", lit("subscribe to our newsletter"),
          col("text"), lit("thanks for reading"))).as("text"))

  /** Batch for the bloom-membership queries: exact re-sends of every
    * 10th doc (duplicates of the standing corpus) plus revised copies
    * of the docs 5 mod 10 (novel content — a suffix edit changes the
    * content hash), so the gate sees both verdicts. Ids offset past
    * the standing universe like [[syntheticBatch]].
    */
  private def bloomBatch(docs: DataFrame): DataFrame = {
    val off = broadcast(docs.agg((max(col("doc_id")) + lit(1L)).as("__off")))
    val dups = docs.filter(col("doc_id") % 10 === 0).crossJoin(off)
      .select((col("doc_id") + col("__off")).as("doc_id"), col("text"))
    val novel = docs.filter(col("doc_id") % 10 === 5).crossJoin(off)
      .select((col("doc_id") + col("__off") * 2).as("doc_id"),
        concat(col("text"), lit(" [rev2]")).as("text"))
    dups.unionByName(novel)
  }

  /** Shared CTE chain reproducing the MinHash signature + LSH banding
    * pipeline in DuckDB: one md5 per shingle reduced mod 2^61-1, the
    * same (a_j, b_j) permutation constants as the Spark expression
    * (inlined as literals), HUGEINT mulmod, minima per doc, bands of 2
    * consecutive signature entries. Ends with CTEs `bands` defined.
    */
  private def minhashSigCtes(src: String = "documents", sfx: String = ""): String = {
    val (a, b) = graft.functions.MinHashSig.params(8)
    val p = graft.functions.MinHashSig.P
    val hs = (0 until 8).map(j =>
      s"min(CAST((CAST(x AS HUGEINT) * ${a(j)} + ${b(j)}) % $p AS BIGINT)) AS h$j")
      .mkString(", ")
    val bandRows = (0 until 4).map(bnd =>
      if (bnd == 0) s"SELECT doc_id, 0 AS band, h0 AS k0, h1 AS k1 FROM sig$sfx"
      else s"SELECT doc_id, $bnd, h${bnd * 2}, h${bnd * 2 + 1} FROM sig$sfx")
      .mkString("\n           UNION ALL ")
    s"""toks$sfx AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM $src),
       sh$sfx AS (SELECT DISTINCT doc_id,
                unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS s
              FROM toks$sfx WHERE len(t) >= 3),
       xs$sfx AS (SELECT doc_id,
                CAST(('0x' || substr(md5(s), 1, 16)) AS UBIGINT) % CAST($p AS UBIGINT) AS x
              FROM sh$sfx),
       sig$sfx AS (SELECT doc_id, $hs FROM xs$sfx GROUP BY 1),
       bands$sfx AS ($bandRows),
       gbands$sfx AS (SELECT * FROM bands$sfx
                  QUALIFY count(*) OVER (PARTITION BY band, k0, k1) <= 10000)"""
  }

  /** SimHash fingerprint + banded/guarded keys per source table, CTE
    * suffix `sfx` — the oracle-side analog of TextOps.bandFp64 (same
    * text as the q_simhash_neardup oracle, parameterized for the
    * incremental two-source form).
    */
  private def simhashBandCtes(src: String = "documents", sfx: String = ""): String =
    s"""toks$sfx AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM $src),
       th$sfx AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks$sfx),
       bits$sfx AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                FROM th$sfx, (SELECT unnest(generate_series(0, 63)) AS j) AS js(j) GROUP BY 1, 2),
       fp$sfx AS (SELECT doc_id,
                bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                            ELSE CAST(0 AS UBIGINT) END) AS sh
              FROM bits$sfx GROUP BY 1),
       banded$sfx AS (SELECT doc_id, sh, bs.band,
                    (sh >> (bs.band * 16)) & 65535 AS h
                  FROM fp$sfx CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
       kept$sfx AS (SELECT band, h FROM banded$sfx GROUP BY band, h HAVING count(*) <= 10000),
       guarded$sfx AS (SELECT banded$sfx.* FROM banded$sfx JOIN kept$sfx USING (band, h))"""

  private val minhashPairsSelect: String =
    """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM gbands a JOIN gbands b USING (band, k0, k1)
       WHERE a.doc_id < b.doc_id"""

  /** Winnowing pipeline in DuckDB: md5-based token hashes (shared base
    * hash with MinHash), rolling 4-gram polynomial mod 2^61-1
    * (HUGEINT), rightmost-min window selection via a framed arg_min on
    * the composite key gh·2^20 − gi (smaller hash wins, ties to the
    * rightmost index; gi < 2^20 always holds for document-sized
    * inputs). Distinct selected indices ARE the dedup-consecutive
    * picks: an index can only be re-picked while still covered, so
    * repeats are always adjacent. Ends with CTE `fp`.
    */
  private val winnowFpCtes: String =
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       tok_rows AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks),
       th AS (SELECT doc_id, i - 1 AS ti,
                CAST(CAST(('0x' || substr(md5(t[i]), 1, 16)) AS UBIGINT)
                     % CAST(2305843009213693951 AS UBIGINT) AS BIGINT) AS th
              FROM tok_rows),
       grams AS (SELECT doc_id, ti AS gi,
                   CAST((((
                     ((((CAST(th AS HUGEINT) * 1000003 + th1) % 2305843009213693951)
                        * 1000003 + th2) % 2305843009213693951)
                     * 1000003 + th3) % 2305843009213693951)) AS BIGINT) AS gh
                 FROM (SELECT doc_id, ti, th,
                         lead(th, 1) OVER w AS th1, lead(th, 2) OVER w AS th2,
                         lead(th, 3) OVER w AS th3,
                         count(*) OVER (PARTITION BY doc_id) AS nt
                       FROM th WINDOW w AS (PARTITION BY doc_id ORDER BY ti))
                 WHERE ti + 3 < nt),
       keyed AS (SELECT doc_id, gi, gh,
                   CAST(gh AS HUGEINT) * 1048576 - gi AS key,
                   count(*) OVER (PARTITION BY doc_id) AS ng
                 FROM grams),
       wins AS (SELECT doc_id, gi, ng,
                  arg_min(gi, key) OVER (PARTITION BY doc_id ORDER BY gi
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
                FROM keyed),
       picked AS (SELECT DISTINCT doc_id, sel FROM wins WHERE gi <= greatest(ng - 4, 0)),
       fp AS (SELECT p.doc_id, g.gh AS fingerprint
              FROM picked p JOIN grams g ON g.doc_id = p.doc_id AND g.gi = p.sel)"""

  /** Content-defined cut points per doc: md5 of a 5-token window, mod 16 (`c`). */
  private val cdcCutCtes: String =
    """d AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         c AS (SELECT doc_id, t,
                 [0] || [i for i in generate_series(5, len(t)-1)
                         if CAST(('0x' || substr(md5(array_to_string(t[i-4:i], ' ')), 1, 8)) AS BIGINT) % 16 = 0]
                     || [len(t)] AS cuts
               FROM d)"""

  /** Distinct word-trigram sets of each doc and of its id successor (`pairs`). */
  private val trigramSetCtes: String =
    """toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS ss
                  FROM toks),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ss AS ss_a, b.ss AS ss_b
                   FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1)"""

  /** The q_quality_score composite as one SQL expression. */
  private val qualityScoreExpr: String =
    """least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
           + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                    / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) * 5.0, 1.0)) * 0.3
           + least(CAST(len(list_filter(string_split(trim(text), ' '),
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) * 10.0, 1.0) * 0.3
           AS quality_score"""

  /** Fixed 6-token blocks per doc with their md5 (`b`) and the block
    * hashes shared by two or more docs (`dup`).
    */
  private val spanBlockCtes: String =
    """toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         bl AS (SELECT doc_id,
                  unnest([{'bi': i, 'blk': array_to_string(t[(i-1)*6+1:i*6], ' ')}
                          for i in generate_series(1, CAST(ceil(len(t)/6.0) AS BIGINT))]) AS u
                FROM toks),
         b AS (SELECT doc_id, u.bi AS bi, u.blk AS blk, md5(u.blk) AS h FROM bl),
         dup AS (SELECT h FROM b GROUP BY h HAVING count(DISTINCT doc_id) >= 2)"""

  /** The [[multiLineDocs]] staging restated (`staged`). */
  private val stagedLinesCte: String =
    """staged AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
               THEN concat_ws(chr(10), 'subscribe to our newsletter', text,
                              'subscribe to our newsletter', text)
               ELSE concat_ws(chr(10), 'subscribe to our newsletter', text,
                              'thanks for reading') END AS text
           FROM documents)"""

  /** Exact per-token counts + the sketch invariants as literal booleans. */
  private val cmsAuditSql: String =
    """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
                    FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS exact_n,
                TRUE AS no_underestimate, TRUE AS bound_excess_ok
         FROM t GROUP BY token"""

  /** 64-bit SimHash per doc from md5 token hashes (`fp`). */
  private val simhashFpCtes: String =
    """toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM toks),
         bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                  FROM th, (SELECT unnest(generate_series(0, 63)) AS j) AS js(j) GROUP BY 1, 2),
         fp AS (SELECT doc_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM bits GROUP BY 1)"""

  /** The [[bloomBatch]] rows restated (`o`, `batch`). */
  private val bloomBatchCtes: String =
    """o AS (SELECT max(doc_id) + 1 AS off FROM documents),
         batch AS (
           SELECT doc_id + (SELECT off FROM o) AS doc_id, text
           FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2 * (SELECT off FROM o) AS doc_id,
                  text || ' [rev2]' AS text
           FROM documents WHERE doc_id % 10 = 5)"""

  /** Exact content membership of the bloom batch: the published flag has
    * no false negatives and the confirm join removes false positives.
    */
  private val bloomMembershipSql: String =
    s"""WITH $bloomBatchCtes
         SELECT b.doc_id AS doc_id,
                EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text)
                  AS is_dup
         FROM batch b"""

  /** One row per merged run: its token span. */
  private val spanRowsSelect: String =
    """SELECT doc_id,
                CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 6 AS BIGINT) AS span_end,
                CAST(max(pos) + 6 - min(pos) AS BIGINT) AS n_tokens
         FROM r GROUP BY doc_id, grp"""

  /** Duplicate shingle positions merged into runs (`m`, `r`). */
  private val spanRunCtes: String =
    """m AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 6
                      THEN 0 ELSE 1 END AS brk
               FROM d),
         r AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
               FROM m)"""

  /** 6-token shingles with positions, those shared by two or more docs, and
    * their runs merged when within 6 positions (`r`, grouped by `grp`).
    */
  private val spanDupCtes: String =
    s"""toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT doc_id,
                  unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                          for i in generate_series(1, len(t) - 5)]) AS u
                FROM toks WHERE len(t) >= 6),
         s AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM sh),
         dup AS (SELECT g FROM s GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
         d AS (SELECT doc_id, pos FROM s WHERE g IN (SELECT g FROM dup)),
         $spanRunCtes"""

  /** MinHash candidate pairs (`cand`) and the recursive reachability over
    * them (`reach`): min label per node is its component.
    */
  private val minhashReachCtes: String =
    s"""cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst)"""

  /** MinHash candidate pairs over the corpus and their components (`grp`). */
  private val minhashGroupCtes: String =
    s"""${minhashSigCtes()},
         $minhashReachCtes,
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id)"""

  /** The three dedup stages restated: exact keepers (`keep1`), MinHash CC
    * survivors among them (`near`), and semantic CC survivors (`sem`).
    */
  private val dedupCascadeCtes: String =
    s"""keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         kdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN keep1 USING (doc_id)),
         ${minhashSigCtes("kdocs")},
         $minhashReachCtes,
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         near AS (SELECT k.doc_id FROM kdocs k LEFT JOIN grp g USING (doc_id)
                  WHERE coalesce(g.group_id, k.doc_id) = k.doc_id),
         se AS (SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS emb
                FROM embeddings e JOIN near n ON n.doc_id = e.vec_id),
         scand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                   FROM se a JOIN se b ON a.label = b.label AND a.vec_id < b.vec_id
                   WHERE list_cosine_similarity(a.emb, b.emb) >= 0.30),
         sedges AS (SELECT doc_a AS src, doc_b AS dst FROM scand
                    UNION SELECT doc_b, doc_a FROM scand),
         reach2(id, lbl) AS (
           SELECT DISTINCT src, src FROM sedges
           UNION
           SELECT g2.src, r.lbl FROM sedges g2 JOIN reach2 r ON r.id = g2.dst),
         sgrp AS (SELECT id, min(lbl) AS group_id FROM reach2 GROUP BY id),
         sem AS (SELECT s.vec_id FROM se s LEFT JOIN sgrp g ON g.id = s.vec_id
                 WHERE coalesce(g.group_id, s.vec_id) = s.vec_id)"""

  /** Transitive closure over the candidate edges `alle`, then every
    * corpus and batch doc's group: the incremental oracles' tail.
    */
  private val batchClosureCtes: String =
    s"""edges AS (SELECT doc_a AS src, doc_b AS dst FROM alle
                   UNION SELECT doc_b, doc_a FROM alle),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         ad AS (SELECT doc_id FROM documents
                UNION ALL SELECT doc_id FROM newdocs)
         SELECT ad.doc_id, coalesce(g.group_id, ad.doc_id) AS group_id
         FROM ad LEFT JOIN grp g USING (doc_id)"""

  /** Global-closure oracle of the incremental dedup: transitive closure
    * over the union of the corpus pairs, batch-to-corpus pairs and
    * within-batch pairs.
    */
  private val incrementalDedupSql: String =
    s"""WITH RECURSIVE
         newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                     FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes()},
         ${minhashSigCtes("newdocs", "_n")},
         cand AS ($minhashPairsSelect),
         crossc AS (SELECT DISTINCT n.doc_id AS doc_a, k.doc_id AS doc_b
                    FROM gbands_n n JOIN gbands k USING (band, k0, k1)),
         withinc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM gbands_n a JOIN gbands_n b USING (band, k0, k1)
                     WHERE a.doc_id < b.doc_id),
         alle AS (SELECT doc_a, doc_b FROM cand
                  UNION SELECT doc_a, doc_b FROM crossc
                  UNION SELECT doc_a, doc_b FROM withinc),
         $batchClosureCtes"""

  /** One incremental dedup day over the signature store `readStore`
    * returns: the persisted store or its in-query rebuild.
    */
  private def incrementalDedup(readStore: (SparkSession, String) => graft.sources.Derived.MinhashStore)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val newBatch = syntheticBatch(docs)
    val store = readStore(s, dir)
    val (batchBanded, _) = TextOps.minhashBanded(
      newBatch, "doc_id", "text", bands = 4, rowsPerBand = 2,
      shingleSize = 3, bucketCap = 10000L)
    val bb = batchBanded.localCheckpoint(true)
    val cross = TextOps.minhashCrossFromBanded(
        bb, "doc_id", store.banded, "doc_id", store.keyCols)
      .select(col("new_id").as("doc_a"), col("known_id").as("doc_b"))
    val within = TextOps.minhashStarFromBanded(bb, "doc_id", store.keyCols)
    // day pairs are batch-bounded and consumed ~5x inside the fold
    // (nodes, collapse, CC, new-id probe, remap) — materialize once,
    // as production reads them from the candidate table it lands
    val dayPairs = cross.unionByName(within).localCheckpoint(true)
    val inc = graft.operators.DedupGroups
      .incrementalGroups(store.standing, dayPairs)
    docs.select(col("doc_id"))
      .unionByName(newBatch.select(col("doc_id")))
      .join(inc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
  }

  val all: Seq[Q] = Seq(
    // ----- Training-data pipeline: deduplication ----------------------
    Q("q_doc_dedup_exact", (s, dir) =>
      TextOps.exactDedupGroups(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY 1""")),
    Q("q_doc_minhash_pairs", (s, dir) =>
      TextOps.minhashCandidatePairs(
        Tables.documents(s, dir), "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3),
      Some(s"""WITH ${minhashSigCtes()}
         $minhashPairsSelect""")),

    // ----- Bloom-prefiltered exact membership: the zero-join scale
    // path for "seen before?" against a 100-TB standing corpus. The
    // standing content hashes fold once into an m-bit filter riding
    // the plan as one array literal; each batch row answers in a pure
    // projection, and only bloom positives (true dups + ~1% fpp) pay
    // the confirm-join shuffle. is_dup is EXACT — no false negatives
    // by construction, false positives removed by the confirm join —
    // so the oracle is the plain membership SQL. ----------------------
    Q("q_bloom_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      graft.operators.BloomOps
        .prefilteredFlag(batch, standing, "text_hash")
        .select(col("doc_id"), col("is_dup"))
    },
      // Bloom membership: the published flag is EXACT (prefilter has no
      // false negatives; the confirm join removes false positives), so
      // the oracle is the plain content-membership predicate — derived
      // on raw text equality, independent of the engine's md5 keying.
      Some(bloomMembershipSql)),

    // The SHARDED gate — the 100-TB path the 16 MiB literal guard
    // points at: the filter stays a cluster-resident (shard, word,
    // bits) relation, probes broadcast/shuffle-join it, nothing
    // collects. Same EXACT is_dup semantics (no false negatives per
    // shard either), so the same membership oracle shape.
    Q("q_bloom_sharded", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      val shardRows = graft.operators.BloomOps
        .bloomShardRows(standing, "text_hash",
          nShards = 4, wordsPerShard = 256, k = 7)
      val flagged = graft.operators.BloomOps
        .flagBatchSharded(batch, "text_hash", shardRows,
          nShards = 4, wordsPerShard = 256, k = 7)
      graft.operators.BloomOps.confirmFlag(flagged, standing, "text_hash")
        .select(col("doc_id"), col("is_dup"))
    },
      Some(bloomMembershipSql)),

    // The gate's funnel as data (bloom positives / confirmed dups /
    // false positives) — n_bloom_pos and n_false_pos depend on the
    // filter's hash stream, so no SQL oracle; q_bloom_audit is the
    // hash-green twin publishing the oracle-checkable invariants.
    Q("q_bloom_funnel", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      graft.operators.BloomOps.bloomFunnel(
        graft.operators.BloomOps.prefilteredFlag(batch, standing, "text_hash"))
    },
      None),

    // Audit twin: exact counts plus the two invariants the funnel
    // rests on — zero false negatives (every confirmed duplicate was
    // bloom-positive) and the false-positive count inside the sized
    // filter's budget. A broken filter flips a boolean -> hash red.
    Q("q_bloom_audit", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = bloomBatch(docs)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val standing = docs
        .select(md5(col("text").cast("binary")).as("text_hash"))
      val flagged = graft.operators.BloomOps
        .prefilteredFlag(batch, standing, "text_hash")
      flagged.agg(
          count(lit(1)).as("n_batch"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
          sum(when(col("is_dup") && !col("bloom_hit"), 1L).otherwise(0L))
            .as("__missed"),
          sum(when(col("bloom_hit") && !col("is_dup"), 1L).otherwise(0L))
            .as("__fp"))
        .select(col("n_batch"), col("n_dup"),
          (col("__missed") === 0L).as("no_false_negatives"),
          (col("__fp") <= greatest(lit(10L),
            ((col("n_batch") - col("n_dup")) / lit(20L)).cast(LongType)))
            .as("fp_within_budget"))
    },
      Some(s"""WITH $bloomBatchCtes
         SELECT CAST(count(*) AS BIGINT) AS n_batch,
                CAST(count(CASE WHEN EXISTS (SELECT 1 FROM documents d
                                             WHERE d.text = b.text)
                           THEN 1 END) AS BIGINT) AS n_dup,
                TRUE AS no_false_negatives,
                TRUE AS fp_within_budget
         FROM batch b""")),

    // ----- Cap observability. Text band joins still DROP over-cap
    // buckets, so their pair sets need the CapReport.of gate
    // (n_capped_buckets == 0) before being trusted. The vector cosine
    // family is EXACT since r13 (over-cap clusters sub-shard into
    // block pairs instead of dropping), so its report
    // (CapReport.ofBlocked) is a cost gauge: split-task fan-out and
    // the quadratic comparison bill. Caps here are set low enough
    // that THIS fixture trips them (nonzero split/capped counts),
    // proving the reports distinguish a hot-bucket run; the
    // operators' own 10k default stays clean at this SF. -------------
    Q("q_cap_report_minhash", (s, dir) =>
      TextOps.minhashCapReport(Tables.documents(s, dir), "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3, bucketCap = 2),
      // Cap-report oracles: per-bucket counts over the UNCAPPED banded
      // CTE, one-row summary at the query's deliberately-low cap.
      // n_entities_affected = distinct entities holding >= 1 membership
      // in an over-cap bucket.
      Some(s"""WITH ${minhashSigCtes()},
         bn AS (SELECT band, k0, k1, count(*) AS n FROM bands GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(count(CASE WHEN n > 2 THEN 1 END) AS BIGINT) AS n_capped_buckets,
                CAST(coalesce(sum(CASE WHEN n > 2 THEN n END), 0) AS BIGINT) AS n_rows_dropped,
                CAST((SELECT count(DISTINCT b.doc_id) FROM bands b JOIN bn x
                        ON b.band = x.band AND b.k0 = x.k0 AND b.k1 = x.k1
                      WHERE x.n > 2) AS BIGINT) AS n_entities_affected,
                CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_n
         FROM bn""")),
    Q("q_cap_report_simhash", (s, dir) =>
      TextOps.simhashCapReport(Tables.documents(s, dir), "doc_id", "text",
        bucketCap = 2),
      Some(s"""WITH ${simhashBandCtes()},
         bn AS (SELECT band, h, count(*) AS n FROM banded GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(count(CASE WHEN n > 2 THEN 1 END) AS BIGINT) AS n_capped_buckets,
                CAST(coalesce(sum(CASE WHEN n > 2 THEN n END), 0) AS BIGINT) AS n_rows_dropped,
                CAST((SELECT count(DISTINCT b.doc_id) FROM banded b JOIN bn x
                        ON b.band = x.band AND b.h = x.h
                      WHERE x.n > 2) AS BIGINT) AS n_entities_affected,
                CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_n
         FROM bn""")),

    // Full dedup resolution: LSH band buckets -> star edges ->
    // connected components -> keeper per group (rows-only: iterative
    // graph algo). CC consumes the bucket STARS, not the pair
    // cliques: identical components, but edges stay linear in the
    // corpus where clique pairs grow quadratically in duplicate-group
    // size (the r11 sweep's 1.2-exponent tail).
    Q("q_dedup_groups", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val edges = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      graft.operators.DedupGroups.resolveKeepers(docs, "doc_id", edges)
    },
      // Connected components via transitive closure: DuckDB's recursive
      // CTE accumulates every (node, reachable-label) pair; min per node
      // is the component minimum — same contract as the distributed
      // min-label propagation loop in DedupGroups.
      Some(s"""WITH RECURSIVE
         $minhashGroupCtes
         SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS keeper_id,
                coalesce(g.group_id, d.doc_id) = d.doc_id AS is_keeper
         FROM documents d LEFT JOIN grp g USING (doc_id)""")),

    // Quality-aware keeper: the same LSH components as q_dedup_groups,
    // but each group keeps its HIGHEST-quality member (ties -> min id)
    // — the keep-the-best-copy form production corpus dedup runs. The
    // score is q_quality_score's composite, already proven
    // bit-identical across engines.
    Q("q_dedup_keep_best", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      val scored = TextOps.textStats(docs, "doc_id", "text").select(
        col("doc_id"),
        TextOps.qualityScoreCol.as("qscore"))
      graft.operators.DedupGroups.resolveKeepersBy(scored, "doc_id", "qscore", pairs)
    },
      // Same components as q_dedup_groups; keeper = per-group argmax of
      // the q_quality_score composite (row_number over qscore DESC, id).
      Some(s"""WITH RECURSIVE
         $minhashGroupCtes,
         lab AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id,
                        least(CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS DOUBLE) / 100.0, 1.0) * 0.4
                        + (1.0 - least(CAST(len(regexp_extract_all(d.text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                                 / CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS DOUBLE) * 5.0, 1.0)) * 0.3
                        + least(CAST(len(list_filter(string_split(trim(d.text), ' '),
                                 x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                                / CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS DOUBLE) * 10.0, 1.0) * 0.3
                          AS qscore
                 FROM documents d LEFT JOIN grp g USING (doc_id)),
         keep AS (SELECT group_id, doc_id AS keeper_id,
                         row_number() OVER (PARTITION BY group_id ORDER BY qscore DESC, doc_id) AS rn
                  FROM lab)
         SELECT lab.doc_id, k.keeper_id, k.keeper_id = lab.doc_id AS is_keeper
         FROM lab JOIN (SELECT group_id, keeper_id FROM keep WHERE rn = 1) k USING (group_id)""")),

    // Dedup diagnostic: duplicate-group size histogram (how many
    // groups of size 1, 2, 3, ... the LSH components produce) — the
    // first report a corpus-dedup run prints, and the fastest way to
    // spot a degenerate mega-component at scale.
    Q("q_dedup_sizes", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      graft.operators.DedupGroups.resolveKeepers(docs, "doc_id", pairs)
        .groupBy(col("keeper_id")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))
    },
      // Group-size histogram over the same components (count() is BIGINT
      // in both engines — no HUGEINT cast needed, unlike sum()).
      Some(s"""WITH RECURSIVE
         $minhashGroupCtes,
         sizes AS (SELECT coalesce(g.group_id, d.doc_id) AS keeper, count(*) AS group_size
                   FROM documents d LEFT JOIN grp g USING (doc_id) GROUP BY 1)
         SELECT group_size, count(*) AS n_groups FROM sizes GROUP BY 1""")),

    // ----- MinHash band calibration: estimated vs exact Jaccard per
    // candidate pair — the report that tunes (bands, rowsPerBand)
    // before a 100 TB dedup run ----------------------------------------
    Q("q_minhash_calibration", (s, dir) =>
      TextOps.minhashEstimateVsExact(
        Tables.documents(s, dir), "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3),
      // Estimated Jaccard = matching signature components / 8 (a dyadic
      // rational — exact in both engines); exact Jaccard from the same
      // distinct-shingle CTE the signatures hash (intersection count /
      // inclusion-exclusion union).
      Some(s"""WITH ${minhashSigCtes()},
         cand AS ($minhashPairsSelect),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
                   FROM cand c JOIN sh a2 ON a2.doc_id = c.doc_a
                               JOIN sh b2 ON b2.doc_id = c.doc_b AND b2.s = a2.s
                   GROUP BY 1, 2),
         ex AS (SELECT c.doc_a, c.doc_b,
                  CASE WHEN ca.n + cb.n - coalesce(i.ni, 0) = 0 THEN 0.0
                       ELSE CAST(coalesce(i.ni, 0) AS DOUBLE)
                            / CAST(ca.n + cb.n - coalesce(i.ni, 0) AS DOUBLE)
                  END AS jaccard
                FROM cand c JOIN cnt ca ON ca.doc_id = c.doc_a
                            JOIN cnt cb ON cb.doc_id = c.doc_b
                            LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b),
         est AS (SELECT c.doc_a, c.doc_b,
                   CAST((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END
                       + CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) AS DOUBLE) / 8.0
                     AS est_jaccard
                 FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
                             JOIN sig sb ON sb.doc_id = c.doc_b)
         SELECT e.doc_a, e.doc_b, e.est_jaccard, x.jaccard,
                abs(e.est_jaccard - x.jaccard) AS abs_err
         FROM est e JOIN ex x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b""")),

    // ----- Dedup rate by source: per-source duplicate fraction from
    // the resolved groups — the per-provider corpus health report -----
    Q("q_dedup_rate_by_source", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextOps.minhashStarEdges(docs, "doc_id", "text", 4, 2, 3)
      val keepers = graft.operators.DedupGroups.resolveKeepers(docs, "doc_id", pairs)
      docs.select(col("doc_id"), col("source"))
        .join(keepers, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("is_keeper"), 0L).otherwise(1L)).as("n_dupes"))
        .withColumn("dup_rate",
          col("n_dupes").cast(DoubleType) / col("n_docs").cast(DoubleType))
    },
      // Per-source duplicate fraction over the same resolved components.
      Some(s"""WITH RECURSIVE
         $minhashGroupCtes,
         res AS (SELECT d.doc_id, d.source,
                        coalesce(g.group_id, d.doc_id) = d.doc_id AS is_keeper
                 FROM documents d LEFT JOIN grp g USING (doc_id))
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dupes,
                CAST(sum(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_rate
         FROM res GROUP BY 1""")),

    Q("q_ngram_jaccard", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = docs.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      TextOps.ngramJaccard(docs, "doc_id", "text", pairs, shingleSize = 3)
    },
      Some(s"""WITH $trigramSetCtes
         SELECT doc_a, doc_b,
           CASE WHEN len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) = 0 THEN 0.0
                ELSE CAST(len(list_intersect(ss_a, ss_b)) AS DOUBLE)
                     / CAST(len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) AS DOUBLE)
           END AS jaccard
         FROM pairs""")),
    Q("q_doc_simhash", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        lower(format_string("%016x",
          SimHash64.simhash64(TextOps.tokens(col("text"))))).as("simhash")),
      Some(s"""WITH $simhashFpCtes
         SELECT doc_id, lower(lpad(to_hex(sh), 16, '0')) AS simhash FROM fp""")),
    Q("q_simhash_neardup", (s, dir) =>
      TextOps.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3),
      Some(s"""WITH $simhashFpCtes,
         banded AS (SELECT doc_id, sh, bs.band,
                      (sh >> (bs.band * 16)) & 65535 AS h
                    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM guarded a JOIN guarded b USING (band, h)
         WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3""")),
    Q("q_doc_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.normalizedFingerprint(col("text")).as("fingerprint")),
      Some("""SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
         FROM documents""")),

    // ----- Training-data pipeline: text analysis ----------------------
    Q("q_text_stats", (s, dir) =>
      TextOps.textStats(Tables.documents(s, dir), "doc_id", "text"),
      Some("""SELECT doc_id,
         CAST(length(text) AS BIGINT) AS text_len,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
           / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) AS punct_ratio,
         CAST(len(list_filter(string_split(trim(text), ' '),
              x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stopwords,
         CAST(len(list_filter(string_split(trim(text), ' '),
              x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
           / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS stopword_ratio
         FROM documents""")),
    Q("q_repetition_stats", (s, dir) =>
      TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t,
                        string_split(text, chr(10)) AS l
                      FROM documents),
         base AS (SELECT doc_id,
                    CAST(len(l) AS BIGINT) AS n_lines,
                    CASE WHEN len(l) = 0 THEN NULL
                         ELSE CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l) END AS dup_line_ratio,
                    CAST(len(t) AS BIGINT) AS n_tokens,
                    CASE WHEN len(t) = 0 THEN NULL
                         ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) END AS dup_token_ratio
                  FROM toks),
         bg AS (SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]) AS g
                FROM toks WHERE len(t) >= 2),
         cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS top_bigram_n,
                   CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
                 FROM cnt GROUP BY 1)
         SELECT base.doc_id, n_lines, dup_line_ratio, n_tokens, dup_token_ratio,
                top_bigram_n, top_bigram_frac
         FROM base LEFT JOIN top USING (doc_id)""")),
    Q("q_gopher_quality", (s, dir) =>
      TextOps.gopherQualitySignals(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH x AS (SELECT doc_id,
             string_split(trim(text), ' ') AS w,
             string_split(text, chr(10)) AS l,
             length(replace(trim(text), ' ', '')) AS nonspace_len,
             length(text) - length(replace(text, '#', '')) AS hashes,
             (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
           FROM documents)
         SELECT doc_id,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE CAST(nonspace_len AS DOUBLE) / len(w) END AS mean_word_len,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) END AS frac_alpha_words,
           CASE WHEN len(w) = 0 THEN NULL
                ELSE CAST(hashes + ellipses AS DOUBLE) / len(w) END AS symbol_word_ratio,
           CASE WHEN len(l) = 0 THEN NULL
                ELSE CAST(len(list_filter(l, x -> regexp_matches(x, '^\s*[-*•]'))) AS DOUBLE) / len(l) END AS bullet_line_frac,
           CASE WHEN len(l) = 0 THEN NULL
                ELSE CAST(len(list_filter(l, x -> regexp_matches(x, '(\.\.\.|…)\s*$'))) AS DOUBLE) / len(l) END AS ellipsis_line_frac
         FROM x""")),

    // ----- Incremental ingest dedup: a simulated new batch (every
    // 10th doc under fresh ids) checked against the standing corpus —
    // work scales with the batch, never corpus² ----------------------
    Q("q_minhash_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val newBatch = syntheticBatch(docs)
      TextOps.minhashCrossPairs(newBatch, "doc_id", "text",
        docs, "doc_id", "text", bands = 4, rowsPerBand = 2, shingleSize = 3)
    },
      Some(s"""WITH newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                           FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes()},
         ${minhashSigCtes("newdocs", "_n")}
         SELECT DISTINCT n.doc_id AS new_id, k.doc_id AS known_id
         FROM gbands_n n JOIN gbands k USING (band, k0, k1)""")),

    // ----- Incremental SimHash: new batch vs standing corpus at
    // hamming <= 3 — the SimHash side of the incremental-ingest story
    Q("q_simhash_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val newBatch = syntheticBatch(docs)
      TextOps.simhashCrossPairs(newBatch, "doc_id", "text",
        docs, "doc_id", "text", maxHamming = 3)
    },
      Some(s"""WITH newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                           FROM documents WHERE doc_id % 10 = 0),
         ${simhashBandCtes()},
         ${simhashBandCtes("newdocs", "_n")}
         SELECT DISTINCT n.doc_id AS new_id, k.doc_id AS known_id,
                CAST(bit_count(xor(n.sh, k.sh)) AS BIGINT) AS hamming
         FROM guarded_n n JOIN guarded k USING (band, h)
         WHERE bit_count(xor(n.sh, k.sh)) <= 3""")),

    // ----- The signature store + standing-label BUILD, explicit (the
    // q_item_edges pattern): runs the REBUILD path so the one-time
    // bucketed-store materialization is its own bench line — at r11
    // it hid inside q_dedup_incremental's first pass (sf10: 202.6 s
    // cold vs 48.5 s warm for a query billed batch-proportional).
    // Named to sort BEFORE q_dedup_incremental in Bench's name-ordered
    // run, mirroring production where the store exists before the
    // day's fold: the fold entry's cold pass reads the already-built
    // store, so its cold ≡ warm. Output pins the standing label table
    // against the global-closure oracle. ------------------------------
    Q("q_dedup_build_store", (s, dir) =>
      graft.sources.Derived.minhashStoreRebuilt(s, dir).standing
        .select(col("doc_id"), col("group_id")),
      // Incremental CC folds new pairs into standing groups; the oracle
      // is the EQUIVALENT global statement — transitive closure over the
      // union of old and new candidate edges (star edges reproduce old
      // connectivity exactly, so the incremental result matches it).
      // Store build: standing labels = CC over the corpus's own banded
      // candidate pairs (docs in some duplicate group only).
      Some(s"""WITH RECURSIVE
         ${minhashSigCtes()},
         $minhashReachCtes
         SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id""")),

    // ----- Incremental dedup resolution, PRODUCTION daily shape: the
    // corpus's banded signature keys and yesterday's standing labels
    // are READ from the persisted store (Derived.minhashStore, built
    // by q_dedup_build_store / at ingest time); the day pays only for
    // banding the new batch, the candidate joins, and the
    // touched-component fold — only touched components re-solve, and
    // the standing label table is scanned, never shuffled. The
    // in-query re-derivation of the store is the explicitly-named
    // stress variant below. -------------------------------------------
    Q("q_dedup_incremental", incrementalDedup(graft.sources.Derived.minhashStore),
      Some(incrementalDedupSql)),

    // ----- STRESS variant: same incremental fold, but the signature
    // store and standing labels are RE-DERIVED in-query via the
    // rebuild path (bands the corpus, re-runs the standing CC solve) —
    // what a from-scratch bootstrap or a store-loss recovery costs.
    // Carries the full store-build cost as its own bench line; the
    // production read path above is the headline. --------------------
    Q("q_dedup_incremental_rederive", incrementalDedup(graft.sources.Derived.minhashStoreRebuilt),
      // Stress variant: identical semantics (the rebuild path derives the
      // same store the read path consumes), so the same global-closure
      // oracle applies verbatim.
      Some(incrementalDedupSql)),

    // ----- Dedup-cascade stage tables: the persisted outputs of the
    // exact → minhash → semantic stages (what production writes per
    // ingest window and every consumer reads). Runs the REBUILD path —
    // carries the full cascade-build cost as its own bench line and
    // pins all three stage tables' content against the oracle via
    // per-doc kept flags. --------------------------------------------
    Q("q_dedup_stages", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = graft.sources.Derived.dedupStagesRebuilt(s, dir)
      docs.select(col("doc_id"))
        .join(st.exactKept.select(col("doc_id"), lit(true).as("__e")), Seq("doc_id"), "left")
        .join(st.nearKeepers.select(col("doc_id"), lit(true).as("__n")), Seq("doc_id"), "left")
        .join(st.semKeepers.select(col("doc_id"), lit(true).as("__s")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__e"), lit(false)).as("kept_exact"),
          coalesce(col("__n"), lit(false)).as("kept_near"),
          coalesce(col("__s"), lit(false)).as("kept_semantic"))
    },
      // Dedup funnel: each stage's keeper set restated in SQL — exact
      // hash-groups, minhash CC over exact keepers, semantic CC over
      // near-dup survivors (two recursive CTEs in one WITH RECURSIVE).
      Some(s"""WITH RECURSIVE
         $dedupCascadeCtes
         SELECT d.doc_id,
                (k.doc_id IS NOT NULL) AS kept_exact,
                (n.doc_id IS NOT NULL) AS kept_near,
                (m.vec_id IS NOT NULL) AS kept_semantic
         FROM documents d
         LEFT JOIN keep1 k ON k.doc_id = d.doc_id
         LEFT JOIN near n ON n.doc_id = d.doc_id
         LEFT JOIN sem m ON m.vec_id = d.doc_id""")),

    // ----- Dedup funnel: the stage-attribution report over the full
    // cascade — raw → exact → minhash near-dup → semantic — answering
    // "which stage removes how much" (the number that decides whether
    // the expensive stages pay for themselves). All three stage
    // outputs are READ from their persisted tables
    // (Derived.dedupStages — in production, the cascade's own parquet
    // outputs); the funnel itself is the 4-row counting report, the
    // shape a daily governance dashboard actually runs. --------------
    Q("q_dedup_funnel", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = graft.sources.Derived.dedupStages(s, dir)
      docs.agg(count(lit(1)).as("n_kept")).select(lit("1_raw").as("stage"), col("n_kept"))
        .unionByName(st.exactKept.agg(count(lit(1)).as("n_kept"))
          .select(lit("2_exact").as("stage"), col("n_kept")))
        .unionByName(st.nearKeepers.agg(count(lit(1)).as("n_kept"))
          .select(lit("3_near_dup").as("stage"), col("n_kept")))
        .unionByName(st.semKeepers.agg(count(lit(1)).as("n_kept"))
          .select(lit("4_semantic").as("stage"), col("n_kept")))
    },
      Some(s"""WITH RECURSIVE
         $dedupCascadeCtes
         SELECT '1_raw' AS stage, count(*) AS n_kept FROM documents
         UNION ALL SELECT '2_exact', count(*) FROM keep1
         UNION ALL SELECT '3_near_dup', count(*) FROM near
         UNION ALL SELECT '4_semantic', count(*) FROM sem""")),

    // ----- Fold-ONLY incremental dedup — the daily-ingest shape the
    // 100 TB story actually runs: standing labels are READ (here: a
    // closed-form exact-text grouping standing in for yesterday's
    // persisted label table — one window, no CC), the day's pairs are
    // cheap (exact-hash batch→corpus matches + minhash pairs WITHIN
    // the 10%-sized batch), and the only CC solve is the fold over
    // touched components. q_dedup_incremental deliberately re-derives
    // its standing groups in-query (exercising the signature store);
    // this entry isolates what a steady-state day costs. Batch docs
    // near-dup to EACH OTHER genuinely merge two standing groups, so
    // the remap path is exercised, not just new-id labeling. ----------
    Q("q_dedup_incremental_fold", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the batch is read once in production too — materialize instead
      // of re-deriving it per consumer (cross side + within pairs)
      val newBatch = syntheticBatch(docs).localCheckpoint(true)
      // localCheckpoint = the "persisted table" stand-in: the fold
      // consumer scans labels 3x and pairs ~4x (probes, star edges, CC,
      // remap); in production these are parquet reads, so materialize
      // once here rather than re-running the window/joins per scan
      val standing = docs
        .select(col("doc_id"), md5(col("text")).as("__h"))
        .withColumn("group_id", min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
        .select(col("doc_id"), col("group_id"))
        .localCheckpoint(true)
      val cross = newBatch
        .select(col("doc_id").as("doc_a"), md5(col("text")).as("__h"))
        .join(docs.select(col("doc_id").as("doc_b"), md5(col("text")).as("__h")), "__h")
        .select(col("doc_a"), col("doc_b"))
      val within = TextOps.minhashStarEdges(newBatch, "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3)
      val dayPairs = cross.unionByName(within).localCheckpoint(true)
      val inc = graft.operators.DedupGroups.incrementalGroups(standing, dayPairs)
      docs.select(col("doc_id"))
        .unionByName(newBatch.select(col("doc_id")))
        .join(inc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"))
    },
      // Fold-only incremental CC: standing star edges come from the
      // closed-form exact-text grouping (min doc_id per text), new edges
      // are exact-text batch→corpus matches plus minhash pairs within the
      // batch; transitive closure over the union equals the fold.
      Some(s"""WITH RECURSIVE
         newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                     FROM documents WHERE doc_id % 10 = 0),
         ${minhashSigCtes("newdocs", "_n")},
         stand AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS group_id
                   FROM documents),
         crossc AS (SELECT n.doc_id AS doc_a, d.doc_id AS doc_b
                    FROM newdocs n JOIN documents d ON n.text = d.text),
         withinc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM gbands_n a JOIN gbands_n b USING (band, k0, k1)
                     WHERE a.doc_id < b.doc_id),
         alle AS (SELECT doc_id AS doc_a, group_id AS doc_b FROM stand
                  UNION SELECT doc_a, doc_b FROM crossc
                  UNION SELECT doc_a, doc_b FROM withinc),
         $batchClosureCtes""")),

    // (end q_dedup_incremental_fold)
    // ----- Compressibility gate (rows-only: deflate has no SQL
    // counterpart; planted-case behavior pinned in TextVectorSpec) ----
    Q("q_compress_ratio", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.CompressRatio.compress_ratio(col("text")).as("ratio")),
      None),

    // ----- Deflate audit — the hash-checkable twin of
    // q_compress_ratio (the q_bpe_pinned pattern): the compressed BYTES
    // are engine-defined, but the measurement's CONTRACTS are
    // deterministic booleans the oracle asserts as literals —
    // losslessness (inflate∘deflate = id, proven per row by the
    // codegen roundtrip expression) and the RFC-1951 worst-case
    // expansion envelope (≤ 5 bytes per 16383-byte stored block + slack
    // for a non-conforming blowup to hide in). n_bytes is exact UTF-8
    // length, checkable cross-engine. ---------------------------------
    Q("q_compress_audit", (s, dir) => {
      val n = octet_length(col("text")).cast(LongType)
      val ratio = graft.functions.CompressRatio.compress_ratio(col("text"))
      val worst = (n.cast(DoubleType) + lit(5.0) * ceil(n.cast(DoubleType) / 16383.0) +
        lit(16.0)) / n.cast(DoubleType)
      Tables.documents(s, dir).select(
        col("doc_id"),
        n.as("n_bytes"),
        (n === 0 || (ratio > 0.0 && ratio <= worst)).as("ratio_in_envelope"),
        graft.functions.CompressRatio.compress_roundtrip_ok(col("text"))
          .as("roundtrip_ok"))
    },
      // Pinned-BPE closed form (see the queries entry for the proof):
      // tokens = non-ws chars − occ(th) − occ(the) − occ(in) − occ(ou)
      // − occ(as), occurrences counted on the lowered full text (patterns
      // contain no whitespace, so per-word and whole-text counts agree)
      // Deflate contract audit: n_bytes exact; the envelope/roundtrip
      // booleans are the codec's guarantees, asserted as literals
      Some("""SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         TRUE AS ratio_in_envelope,
         TRUE AS roundtrip_ok
         FROM documents""")),

    // ----- Benchmark decontamination: every 50th doc under id 5000
    // plays the "eval set"; overlap = shared distinct 3-gram shingles.
    // The eval set is a FIXED benchmark (bounded panel), not a
    // corpus-proportional slice — the production contract is "fixed
    // benchmark vs growing corpus", and the round-7 sf1 checkpoint
    // measured the unbounded %50 panel at 15x for 10x docs (panel and
    // corpus both grew). Identical result at sf0.01/sf0.1 where all
    // doc ids are < 5000. --------------------------------------------
    Q("q_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.contaminationCheck(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 5000 && col("doc_id") % 50 === 0),
        "doc_id", "text",
        shingleSize = 3, minShared = 2)
    },
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS s
                FROM toks WHERE len(t) >= 3),
         p AS (SELECT doc_id AS probe_id, s FROM sh WHERE doc_id < 5000 AND doc_id % 50 = 0)
         SELECT c.doc_id, p.probe_id, count(*) AS n_shared
         FROM sh c JOIN p ON c.s = p.s
         WHERE c.doc_id <> p.probe_id
         GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // ----- Dataset-version diff: current corpus vs its redacted
    // prior — 'changed' rows are exactly the PII-bearing docs --------
    Q("q_corpus_diff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val prior = docs
        .filter(col("doc_id") % 7 =!= 0) // every 7th doc is "new"
        .select(col("doc_id"), TextOps.redactPii(col("text")).as("text"))
      TextOps.corpusDiff(docs, prior, "doc_id", "text")
    },
      Some("""WITH c AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fc
           FROM documents),
         k AS (SELECT doc_id,
             md5(regexp_replace(lower(trim(
               regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{10,}', '<NUM>', 'g'))), '\s+', ' ', 'g')) AS fk
           FROM documents WHERE doc_id % 7 <> 0)
         SELECT COALESCE(c.doc_id, k.doc_id) AS doc_id,
                CASE WHEN k.fk IS NULL THEN 'added'
                     WHEN c.fc IS NULL THEN 'removed'
                     WHEN c.fc <> k.fk THEN 'changed' END AS status
         FROM c FULL OUTER JOIN k ON c.doc_id = k.doc_id
         WHERE (CASE WHEN k.fk IS NULL THEN 'added'
                     WHEN c.fc IS NULL THEN 'removed'
                     WHEN c.fc <> k.fk THEN 'changed' END) IS NOT NULL""")),

    // ----- Export-shard manifest: deterministic md5 sharding + a
    // per-shard id checksum — the reproducible-delivery audit row a
    // corpus hand-off ships with (same md5-bucket discipline as
    // split/sample assignment; the checksum pins membership, not just
    // counts, so a silently re-sharded export cannot pass) -----------
    Q("q_export_manifest", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast(LongType) % 8).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          md5(concat_ws(",",
            transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")))).as("id_checksum")),
      Some("""WITH s AS (SELECT doc_id, n_chars,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS shard
              FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS id_checksum
         FROM s GROUP BY 1""")),

    // ----- Token collocations by lift: pairs of tokens co-occurring in
    // documents far above independence — PMI's decision ordering
    // without its logarithm (lift = n_ab·N / (n_a·n_b), exact integer
    // operands, ONE division). The pair space is vocabulary-bounded
    // (V²/2 distinct keys with map-side combine), never corpus-bounded
    Q("q_token_lift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs
        .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
      val byDoc = toks.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("tok"))).as("__ts"))
      val pairs = byDoc
        .select(col("__ts"), posexplode(col("__ts")).as(Seq("__i", "token_a")))
        .select(col("token_a"),
          explode(slice(col("__ts"), col("__i") + lit(2), size(col("__ts")))).as("token_b"))
        .groupBy(col("token_a"), col("token_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val nt = toks.groupBy(col("tok")).agg(count(lit(1)).as("__nt"))
      val nDocs = broadcast(docs.agg(count(lit(1)).as("__nd")))
      pairs
        .join(nt.select(col("tok").as("token_a"), col("__nt").as("__na")), "token_a")
        .join(nt.select(col("tok").as("token_b"), col("__nt").as("__nb")), "token_b")
        .crossJoin(nDocs)
        .select(col("token_a"), col("token_b"), col("n_ab"),
          ((col("n_ab") * col("__nd")).cast(DoubleType) /
            (col("__na") * col("__nb")).cast(DoubleType)).as("lift"))
        .orderBy(col("lift").desc, col("token_a"), col("token_b"))
        .limit(50)
    },
      Some("""WITH tk AS (SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents),
         tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
         pr AS (SELECT a.doc_id, a.tok AS ta, b.tok AS tb
                FROM tk2 a JOIN tk2 b USING (doc_id) WHERE a.tok < b.tok),
         nab AS (SELECT ta, tb, count(*) AS n_ab FROM pr GROUP BY 1, 2
                 HAVING count(*) >= 5),
         nt AS (SELECT tok, count(*) AS n_t FROM tk2 GROUP BY 1),
         nn AS (SELECT count(*) AS nd FROM documents)
         SELECT ta AS token_a, tb AS token_b, n_ab,
                CAST(n_ab * nd AS DOUBLE) / CAST(na.n_t * nb.n_t AS DOUBLE) AS lift
         FROM nab JOIN nt na ON na.tok = ta JOIN nt nb ON nb.tok = tb CROSS JOIN nn
         ORDER BY lift DESC, ta, tb LIMIT 50""")),

    // ----- Span-level dedup: drop 6-token blocks shared by >= 2 docs,
    // reassemble the survivors ---------------------------------------
    Q("q_span_dedup", (s, dir) =>
      TextOps.spanDedup(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 6, minDocs = 2),
      Some(s"""WITH $spanBlockCtes
         SELECT doc_id,
                string_agg(blk, ' ' ORDER BY bi) AS text_clean,
                count(*) AS n_blocks_kept
         FROM b WHERE h NOT IN (SELECT h FROM dup)
         GROUP BY doc_id""")),

    // ----- Exact-substring dedup (Lee et al.): maximal spans whose
    // 6-token windows recur in >= 2 docs, at ARBITRARY offsets — the
    // boundary-straddling shares span_dedup's block grid misses ------
    Q("q_substring_dedup", (s, dir) =>
      TextOps.substringDedup(Tables.documents(s, dir), "doc_id", "text",
        k = 6, minDocs = 2),
      Some(s"""WITH $spanDupCtes
         $spanRowsSelect""")),

    // ----- ...and the removal half: cut those spans, reassemble -----
    Q("q_substring_scrub", (s, dir) =>
      TextOps.substringScrub(Tables.documents(s, dir), "doc_id", "text",
        k = 6, minDocs = 2),
      Some(s"""WITH $spanDupCtes,
         sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 6 AS e
                FROM r GROUP BY doc_id, grp),
         cutpos AS (SELECT doc_id, unnest(range(s, e)) AS p FROM sp),
         tok AS (SELECT doc_id, unnest(t) AS tk, unnest(range(len(t))) AS p FROM toks),
         kept AS (SELECT tok.doc_id, tok.tk, tok.p FROM tok
                  ANTI JOIN cutpos ON tok.doc_id = cutpos.doc_id AND tok.p = cutpos.p)
         SELECT toks.doc_id,
                coalesce(string_agg(kept.tk, ' ' ORDER BY kept.p), '') AS text_clean,
                CAST(count(kept.tk) AS BIGINT) AS n_tokens_kept,
                CAST(len(toks.t) - count(kept.tk) AS BIGINT) AS n_tokens_dropped
         FROM toks LEFT JOIN kept ON toks.doc_id = kept.doc_id
         GROUP BY toks.doc_id, len(toks.t)""")),

    // ----- ...and the incremental-ingest form: spans in a new batch
    // already present in the standing corpus; batch-proportional ----
    Q("q_substring_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.substringCrossSpans(syntheticBatch(docs), "doc_id", "text",
        docs, "doc_id", "text", k = 6)
    },
      Some(s"""WITH newdocs AS (SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
                          FROM documents WHERE doc_id % 10 = 0),
         tc AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
         gc AS (SELECT DISTINCT unnest([array_to_string(t[i : i + 5], ' ')
                                        for i in generate_series(1, len(t) - 5)]) AS g
                FROM tc WHERE len(t) >= 6),
         tn AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM newdocs),
         sn AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
                  SELECT doc_id,
                         unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                                 for i in generate_series(1, len(t) - 5)]) AS u
                  FROM tn WHERE len(t) >= 6)),
         d AS (SELECT doc_id, pos FROM sn WHERE g IN (SELECT g FROM gc)),
         $spanRunCtes
         $spanRowsSelect""")),

    // ----- Span-level benchmark decontamination: WHERE each training
    // doc overlaps the fixed eval panel (q_contamination's count flag,
    // upgraded to exact spans a scrub can cut); panel side is the
    // bounded set, so its hash set broadcasts and the corpus never
    // moves twice ----------------------------------------------------
    Q("q_decontaminate_spans", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val isEval = col("doc_id") < 5000 && col("doc_id") % 50 === 0
      TextOps.substringCrossSpans(docs.filter(!isEval), "doc_id", "text",
        docs.filter(isEval), "doc_id", "text", k = 6)
    },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         ev AS (SELECT doc_id, t FROM toks WHERE doc_id < 5000 AND doc_id % 50 = 0),
         co AS (SELECT doc_id, t FROM toks WHERE NOT (doc_id < 5000 AND doc_id % 50 = 0)),
         ge AS (SELECT DISTINCT unnest([array_to_string(t[i : i + 5], ' ')
                                        for i in generate_series(1, len(t) - 5)]) AS g
                FROM ev WHERE len(t) >= 6),
         sn AS (SELECT doc_id, u.pos AS pos, u.g AS g FROM (
                  SELECT doc_id,
                         unnest([{'pos': i - 1, 'g': array_to_string(t[i : i + 5], ' ')}
                                 for i in generate_series(1, len(t) - 5)]) AS u
                  FROM co WHERE len(t) >= 6)),
         d AS (SELECT doc_id, pos FROM sn WHERE g IN (SELECT g FROM ge)),
         $spanRunCtes
         $spanRowsSelect""")),

    // ----- Similarity-threshold tuning: decile histogram of exact
    // Jaccard over the adjacent-id pair sample ------------------------
    Q("q_jaccard_histogram", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = docs.select(col("doc_id").as("doc_a"))
        .withColumn("doc_b", col("doc_a") + 1)
        .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"))
        .select("doc_a", "doc_b")
      TextOps.ngramJaccard(docs, "doc_id", "text", pairs, shingleSize = 3)
        .select(least(floor(col("jaccard") * 10), lit(9L)).cast("long").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      Some(s"""WITH $trigramSetCtes,
         j AS (SELECT
           CASE WHEN len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) = 0 THEN 0.0
                ELSE CAST(len(list_intersect(ss_a, ss_b)) AS DOUBLE)
                     / CAST(len(ss_a) + len(ss_b) - len(list_intersect(ss_a, ss_b)) AS DOUBLE)
           END AS jaccard
           FROM pairs)
         SELECT LEAST(CAST(floor(jaccard * 10) AS BIGINT), 9) AS bin, count(*) AS n_pairs
         FROM j GROUP BY 1""")),

    // ----- Boilerplate mining: the most cross-doc-duplicated blocks --
    Q("q_boilerplate_topk", (s, dir) =>
      TextOps.boilerplateTopK(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 6, minDocs = 2, k = 20),
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         bl AS (SELECT doc_id,
                  unnest([{'bi': i, 'blk': array_to_string(t[(i-1)*6+1:i*6], ' ')}
                          for i in generate_series(1, CAST(ceil(len(t)/6.0) AS BIGINT))]) AS u
                FROM toks),
         b AS (SELECT doc_id, u.blk AS blk FROM bl)
         SELECT blk, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
         FROM b GROUP BY blk
         HAVING count(DISTINCT doc_id) >= 2
         ORDER BY n_docs DESC, n_occurrences DESC, blk
         LIMIT 20""")),

    // ----- Line-grain scrubs over the multi-line staging of the
    // fixture (its texts are single-line): the in-doc pass keeps each
    // line's first occurrence (C4-style self-repeat cleanup); the
    // cross-corpus pass removes every copy of lines appearing in
    // >= minDocs distinct docs (RefinedWeb template strip) — the
    // staged promo header is corpus-wide boilerplate, the even-id
    // docs' repeated body is an in-doc repeat only. -------------------
    Q("q_line_scrub", (s, dir) =>
      TextOps.lineScrub(
        multiLineDocs(Tables.documents(s, dir)), "doc_id", "text"),
      // Line-scrub oracles re-derive the same multi-line staging; the
      // in-doc pass keeps a line iff its first list position is its own
      // (DuckDB lambda indexes are 1-based; Spark's filter index is
      // 0-based, hence the +1 on the engine side).
      Some(s"""WITH $stagedLinesCte,
         l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM staged),
         k AS (SELECT doc_id, lines,
                 list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
               FROM l)
         SELECT doc_id, array_to_string(kept, chr(10)) AS scrubbed_text,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(lines) - len(kept) AS BIGINT) AS n_removed
         FROM k""")),
    Q("q_boilerplate_scrub", (s, dir) =>
      TextOps.boilerplateScrub(
        multiLineDocs(Tables.documents(s, dir)), "doc_id", "text",
        minDocs = 50L),
      Some(s"""WITH $stagedLinesCte,
         ln AS (SELECT doc_id,
                  unnest(string_split(text, chr(10))) AS l,
                  unnest(generate_series(1, len(string_split(text, chr(10))))) AS i
                FROM staged),
         freq AS (SELECT l FROM ln GROUP BY l
                  HAVING count(DISTINCT doc_id) >= 50),
         kept AS (SELECT doc_id, l, i FROM ln
                  WHERE l NOT IN (SELECT l FROM freq)),
         reb AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY i) AS scrubbed_text,
                   count(*) AS n_lines_kept
                 FROM kept GROUP BY doc_id),
         base AS (SELECT doc_id,
                    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
                  FROM staged)
         SELECT b.doc_id, coalesce(r.scrubbed_text, '') AS scrubbed_text,
                b.n_lines,
                b.n_lines - CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_removed
         FROM base b LEFT JOIN reb r USING (doc_id)""")),

    // ----- Composed: span dedup -> per-language corpus stats (how
    // much boilerplate removal changed the token budget) -------------
    Q("q_span_quality", (s, dir) => {
      val cleaned = TextOps.spanDedup(Tables.documents(s, dir), "doc_id", "text",
        blockTokens = 6, minDocs = 2)
      cleaned
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("lang"),
          size(split(trim(col("text_clean")), "\\s+")).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
        .withColumn("avg_tokens",
          col("total_tokens").cast("double") / col("n_docs").cast("double"))
    },
      Some(raw"""WITH $spanBlockCtes,
         cleaned AS (SELECT doc_id, string_agg(blk, ' ' ORDER BY bi) AS text_clean
                     FROM b WHERE h NOT IN (SELECT h FROM dup) GROUP BY doc_id),
         j AS (SELECT d.lang,
                 CAST(len(string_split_regex(trim(c.text_clean), '\s+')) AS BIGINT) AS n_tokens
               FROM cleaned c JOIN documents d USING (doc_id))
         SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
         FROM j GROUP BY lang""")),

    // ----- Training-mix sampling: per-source keep rates, id-hash
    // deterministic ---------------------------------------------------
    Q("q_stratified_take", (s, dir) =>
      TextOps.stratifiedTake(
        Tables.documents(s, dir).select("doc_id", "source", "lang"),
        "doc_id", "source", n = 5),
      Some("""SELECT doc_id, source, lang FROM documents
         QUALIFY row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 5""")),
    Q("q_stratified_sample", (s, dir) =>
      TextOps.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source",
        rates = Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
        defaultRate = 0.05),
      Some("""SELECT doc_id, source, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) <
           CASE source WHEN 'src0' THEN 65536 WHEN 'src1' THEN 32768
                       WHEN 'src2' THEN 16384 WHEN 'src3' THEN 6553
                       ELSE 3276 END""")),

    // ----- Real BPE token accounting: train merges on the corpus,
    // count tokens under the learned vocabulary (rows-only: iterative
    // training is engine-defined, pinned instead by BpeSpec's
    // sequential-reference equivalence) ------------------------------
    Q("q_bpe_tokens", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Bpe.train(docs, "text", nMerges = 16)
      Bpe.tokenCounts(docs, "doc_id", "text", merges)
    },
      None),

    // ----- BPE encode under a PINNED merge table — the hash-checked
    // twin of q_bpe_tokens (the q_ivfadc_pinned pattern). The table is
    // chosen so the greedy encode has a closed form the oracle can
    // compute: merges live on disjoint letter groups {t,h,e} (the one
    // chain th+e), {i,n}, {o,u}, {a,s}, so each merge's application
    // count equals its literal pattern occurrences — a 2-char pattern
    // of distinct chars cannot self-overlap, every literal "th" merges
    // (a prior overlapping match would need w[i+1]='t' where it is
    // 'h'), and a chained "the" always forms. Token count per doc =
    // non-whitespace chars − Σ pattern occurrences. The ENGINE side
    // runs the full encode machinery (broadcast merge map, greedy
    // lowest-rank loop, mergeOnce) — only the oracle uses the closed
    // form. ------------------------------------------------------------
    Q("q_bpe_pinned", (s, dir) =>
      Bpe.tokenCounts(Tables.documents(s, dir), "doc_id", "text",
        Seq(Bpe.Merge(0, "t", "h"), Bpe.Merge(1, "th", "e"),
          Bpe.Merge(2, "i", "n"), Bpe.Merge(3, "o", "u"),
          Bpe.Merge(4, "a", "s"))),
      Some("""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents)
         SELECT doc_id,
           CAST(length(regexp_replace(t, '\s', '', 'g'))
              - (length(t) - length(replace(t, 'th', ''))) / 2
              - (length(t) - length(replace(t, 'the', ''))) / 3
              - (length(t) - length(replace(t, 'in', ''))) / 2
              - (length(t) - length(replace(t, 'ou', ''))) / 2
              - (length(t) - length(replace(t, 'as', ''))) / 2 AS BIGINT)
             AS n_bpe_tokens
         FROM d""")),

    // ----- Feature-hashing TF vectors (sparse) + inverted-index
    // cosine search: a model-free text embedding and exact top-k over
    // it, both fully hash-checked ------------------------------------
    Q("q_hashing_tf", (s, dir) =>
      TextOps.hashingTfSparse(Tables.documents(s, dir), "doc_id", "text", dim = 64),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
                 count(*) AS c
               FROM t WHERE tok <> '' GROUP BY 1, 2)
         SELECT doc_id, bucket, c,
                CAST(c AS DOUBLE) / sqrt(CAST(sum(c * c) OVER (PARTITION BY doc_id) AS DOUBLE)) AS w
         FROM b""")),
    Q("q_text_knn", (s, dir) =>
      // Norm-carrying zero-shuffle TF (HashTfMap counts inside the
      // row), so the whole query is candidate-join -> pair agg ->
      // top-k: two exchanges. dim = 4096 keeps term buckets selective:
      // at dim 64 every bucket mixed several tokens, fattening the
      // candidate join ~3.5x. Stays exact (cap 0) because this
      // corpus's 31-token vocabulary makes every term a "stop word" —
      // any cap that fires prunes ALL candidates; the maxBucketDocs
      // skew guard is exercised by its own planted-hot-bucket spec.
      //
      // The query panel is a FIXED 100-doc set (doc_id < 1000, every
      // 10th), not a corpus-proportional slice: brute-force exact
      // search's production contract is "bounded query panel vs
      // growing corpus" (O(panel x corpus)). The round-7 sf1
      // checkpoint measured the previous %50 panel at 111x for 10x
      // docs — panel x postings both grew 10x, which is the
      // all-pairs dedup shape, served by the banded LSH families, not
      // by exact search (PERF.md round-7).
      TextOps.sparseCosineTopK(
        TextOps.hashingTfSparseWithNorm(Tables.documents(s, dir), "doc_id", "text", dim = 4096),
        col("doc_id") < 1000 && col("doc_id") % 10 === 0, k = 5),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 4096 AS bucket,
                 count(*) AS c
               FROM t WHERE tok <> '' GROUP BY 1, 2),
         n2 AS (SELECT doc_id, sum(c * c) AS n2 FROM b GROUP BY 1),
         q AS (SELECT doc_id AS query_id, bucket, c AS qc FROM b
               WHERE doc_id < 1000 AND doc_id % 10 = 0),
         d AS (SELECT q.query_id, b.doc_id, sum(b.c * q.qc) AS dot
               FROM b JOIN q USING (bucket)
               WHERE b.doc_id <> q.query_id
               GROUP BY 1, 2),
         s AS (SELECT d.query_id, d.doc_id,
                 CAST(d.dot AS DOUBLE) /
                   (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS sim
               FROM d JOIN n2 nc ON nc.doc_id = d.doc_id
                      JOIN n2 nq ON nq.doc_id = d.query_id)
         SELECT query_id, doc_id AS neighbor_id, sim, rank FROM (
           SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank
           FROM s) WHERE rank <= 5""")),

    // ----- Top-5 salient terms per doc, raw-idf TF-IDF ---------------
    Q("q_tfidf_topterms", (s, dir) =>
      TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text",
        k = 5, minTf = 2L),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                    FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t WHERE term <> '' GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                 CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
               FROM tf JOIN dfq USING (term) CROSS JOIN n
               WHERE tf.tf >= 2)
         SELECT doc_id, term, tf, df, score, rank FROM (
           SELECT s.*, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
           FROM s) WHERE rank <= 5""")),

    // ----- Positional-index phrase search: exact "spark scan"
    // occurrences by postings adjacency join — the pushed term filter
    // means only the queried terms' postings ever shuffle (a LIKE scan
    // would read every byte of a 100 TB text column) ------------------
    Q("q_phrase_search", (s, dir) =>
      TextOps.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
        phrase = Seq("spark", "scan")),
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         p AS (SELECT doc_id, u.pos, u.term
               FROM (SELECT doc_id,
                       unnest([{'pos': i - 1, 'term': t[i]}
                               for i in generate_series(1, len(t))]) AS u
                     FROM toks)),
         s1 AS (SELECT doc_id, pos FROM p WHERE term = 'spark'),
         s2 AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE term = 'scan')
         SELECT doc_id, CAST(pos AS BIGINT) AS pos
         FROM s1 JOIN s2 USING (doc_id, pos)""")),

    // ----- Corpus n-gram counting: every trigram over a cutoff, the
    // canonical web-scale counting job (map-side combined) ------------
    Q("q_ngram_counts", (s, dir) =>
      TextOps.ngramCounts(Tables.documents(s, dir), "doc_id", "text",
        n = 3, minCount = 2L, k = 100),
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in generate_series(1, len(t)-2)]) AS ngram
               FROM toks),
         c AS (SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
               FROM g GROUP BY 1)
         SELECT ngram, n_docs, n_occurrences FROM c WHERE n_occurrences >= 2
         ORDER BY n_occurrences DESC, ngram LIMIT 100""")),

    // ----- Content-defined chunking: shift-robust dedup units (an
    // edit moves fixed blocks, but CDC chunk hashes downstream of the
    // edit survive — the incremental-crawl complement of span dedup) --
    Q("q_cdc_chunks", (s, dir) =>
      TextOps.cdcChunks(Tables.documents(s, dir), "doc_id", "text",
        w = 5, modulus = 16),
      Some(s"""WITH $cdcCutCtes,
         x AS (SELECT doc_id, unnest([{'ci': k-1, 'chunk': t[cuts[k]+1 : cuts[k+1]]}
                 for k in generate_series(1, len(cuts)-1)]) AS s FROM c)
         SELECT doc_id, CAST(s.ci AS BIGINT) AS chunk_idx,
                md5(array_to_string(s.chunk, ' ')) AS chunk_hash,
                CAST(len(s.chunk) AS BIGINT) AS n_tokens,
                array_to_string(s.chunk, ' ') AS chunk_text
         FROM x""")),

    // ----- CDC re-crawl accounting: chunk a head-edited re-crawl of
    // every doc and count chunks whose hash survives — the dedupable
    // fraction an incremental ingest skips. Fixed blocks would reuse
    // ~nothing after the shift; CDC boundaries realign. -------------
    Q("q_cdc_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val edited = docs.select(col("doc_id"),
        concat(lit("edited head "), col("text")).as("text"))
      val oldChunks = TextOps.cdcChunks(docs, "doc_id", "text", w = 5, modulus = 16)
        .select(col("doc_id"), col("chunk_hash")).distinct()
      val newChunks = TextOps.cdcChunks(edited, "doc_id", "text", w = 5, modulus = 16)
        .select(col("doc_id"), col("chunk_hash"))
      newChunks
        .join(oldChunks.withColumn("__hit", lit(1L)),
          Seq("doc_id", "chunk_hash"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_reused"))
        .withColumn("reuse_frac",
          col("n_reused").cast(DoubleType) / col("n_chunks").cast(DoubleType))
    },
      Some(s"""WITH $cdcCutCtes,
         oldc AS (SELECT DISTINCT doc_id,
                    md5(array_to_string(t[cuts[k]+1 : cuts[k+1]], ' ')) AS chunk_hash
                  FROM c, (SELECT unnest(generate_series(1, 200)) AS k) ks
                  WHERE k <= len(cuts) - 1),
         ed AS (SELECT doc_id, string_split(trim('edited head ' || text), ' ') AS t FROM documents),
         ec AS (SELECT doc_id, t,
                 [0] || [i for i in generate_series(5, len(t)-1)
                         if CAST(('0x' || substr(md5(array_to_string(t[i-4:i], ' ')), 1, 8)) AS BIGINT) % 16 = 0]
                     || [len(t)] AS cuts
               FROM ed),
         newc AS (SELECT doc_id,
                    md5(array_to_string(t[cuts[k]+1 : cuts[k+1]], ' ')) AS chunk_hash
                  FROM ec, (SELECT unnest(generate_series(1, 200)) AS k) ks
                  WHERE k <= len(cuts) - 1)
         SELECT n.doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN o.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
                CAST(sum(CASE WHEN o.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS reuse_frac
         FROM newc n LEFT JOIN oldc o
           ON o.doc_id = n.doc_id AND o.chunk_hash = n.chunk_hash
         GROUP BY 1""")),

    // ----- Bigram LM statistics: exact continuation probabilities
    // (what a memorization / contamination audit reads) ---------------
    Q("q_bigram_lm", (s, dir) =>
      TextOps.bigramLm(Tables.documents(s, dir), "doc_id", "text",
        minCount = 5L, k = 100),
      Some("""WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
         g AS (SELECT unnest([{'w1': t[i], 'w2': t[i+1]}
                              for i in generate_series(1, len(t)-1)]) AS u
               FROM toks),
         bi AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS n_pair FROM g GROUP BY 1, 2),
         uni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_prefix FROM bi GROUP BY 1)
         SELECT bi.w1, bi.w2, bi.n_pair, uni.n_prefix,
                CAST(bi.n_pair AS DOUBLE) / CAST(uni.n_prefix AS DOUBLE) AS p
         FROM bi JOIN uni USING (w1)
         WHERE bi.n_pair >= 5
         ORDER BY bi.n_pair DESC, bi.w1, bi.w2 LIMIT 100""")),

    // ----- BM25 ranked retrieval (raw-odds idf — transcendental-free
    // so the score is bit-reproducible in any IEEE engine) ------------
    Q("q_bm25", (s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("dup", "spark", "scan", "window"), k = 50),
      Some("""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS t,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS dl
                    FROM documents),
         corpus AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
                      count(*) AS n_docs FROM d),
         tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
                WHERE term IN ('dup', 'spark', 'scan', 'window') GROUP BY 1, 2, 3),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id, tf.term,
                 (CAST(c.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)
                   * (CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / c.avgdl)) AS s
               FROM tf JOIN df USING (term) CROSS JOIN corpus c),
         agg AS (SELECT doc_id,
                   sum(CASE WHEN term = 'dup' THEN s ELSE 0.0 END) AS s1,
                   sum(CASE WHEN term = 'spark' THEN s ELSE 0.0 END) AS s2,
                   sum(CASE WHEN term = 'scan' THEN s ELSE 0.0 END) AS s3,
                   sum(CASE WHEN term = 'window' THEN s ELSE 0.0 END) AS s4,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
                 FROM s GROUP BY 1)
         SELECT doc_id, ((s1 + s2) + s3) + s4 AS score, n_terms_matched FROM agg
         ORDER BY score DESC, doc_id LIMIT 50""")),

    // ----- Frozen linear quality classifier over hashed bag-of-words:
    // model inference as a projection (quarter-unit weights keep the
    // margin an exact dyadic — bit-identical under any partitioning) --
    Q("q_linear_quality", (s, dir) =>
      TextOps.linearQualityScore(Tables.documents(s, dir), "doc_id", "text",
        dim = 64),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
         b AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
                 CAST(count(*) AS BIGINT) AS c
               FROM t WHERE tok <> '' GROUP BY 1, 2),
         w AS (SELECT doc_id, bucket, c,
                 CAST(CAST(('0x' || substr(md5('w' || bucket), 1, 8)) AS BIGINT) % 7 - 3 AS DOUBLE) / 4.0 AS w
               FROM b)
         SELECT doc_id,
                sum(CAST(c AS DOUBLE) * w) + -0.25 AS margin,
                (sum(CAST(c AS DOUBLE) * w) + -0.25) > 0.0 AS keep,
                CAST(sum(c) AS BIGINT) AS n_tokens
         FROM w GROUP BY 1""")),
    Q("q_redact_pii", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.redactPii(col("text")).as("redacted")),
      Some("""SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{10,}', '<NUM>', 'g') AS redacted
         FROM documents""")),
    Q("q_split_assign", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.splitAssign(col("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split")),
      Some({
      // cutoffs computed with the same arithmetic as TextOps.splitAssign
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail.map(c => (c * 65536).toInt)
      s"""SELECT doc_id,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(0)} THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(1)} THEN 'val'
               ELSE 'test' END AS split
          FROM documents"""
    })),

    // ----- Tokenizer-coverage gate: OOV rate against the corpus's
    // deterministic top-16 vocabulary --------------------------------
    Q("q_oov_rate", (s, dir) =>
      TextOps.oovRate(Tables.documents(s, dir), "doc_id", "text", vocabSize = 16),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
         vocab AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY tok
                                    ORDER BY n DESC, tok LIMIT 16)),
         known AS (SELECT doc_id, count(*) AS n_known FROM toks
                   WHERE tok IN (SELECT tok FROM vocab) GROUP BY doc_id),
         base AS (SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                  FROM documents)
         SELECT b.doc_id, b.n_tokens,
                b.n_tokens - coalesce(k.n_known, 0) AS n_oov,
                CAST(b.n_tokens - coalesce(k.n_known, 0) AS DOUBLE)
                  / CAST(b.n_tokens AS DOUBLE) AS oov_rate
         FROM base b LEFT JOIN known k USING (doc_id)""")),

    // ----- Training-window packing: concat tokens per source shard,
    // cut every 256 — each doc's offset and window span -------------
    Q("q_pack_sequences", (s, dir) =>
      TextOps.packSequences(Tables.documents(s, dir), "doc_id", "text",
        groupCol = "source", capacity = 256L),
      Some("""WITH t AS (SELECT source AS grp, doc_id,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
         c AS (SELECT grp, doc_id, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
               FROM t)
         SELECT grp, doc_id, n_tokens, tok_start,
           CAST(floor(tok_start / 256) AS BIGINT) AS win_first,
           CAST(floor((tok_start + n_tokens - 1) / 256) AS BIGINT) AS win_last
         FROM c""")),

    // ----- Training-mix planning: per-source sampling rates that hit
    // a 50k-token budget at the requested weights --------------------
    Q("q_mix_rates", (s, dir) =>
      TextOps.sourceMixRates(Tables.documents(s, dir), "doc_id", "text", "source",
        weights = Seq("src0" -> 0.30, "src1" -> 0.20),
        defaultWeight = 0.025, budgetTokens = 50000L),
      Some("""WITH t AS (SELECT source, count(*) AS n_docs,
                      sum(CAST(len(string_split(trim(text), ' ')) AS BIGINT)) AS n_tokens
                    FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CASE source WHEN 'src0' THEN CAST(0.30 AS DOUBLE)
                             WHEN 'src1' THEN CAST(0.20 AS DOUBLE)
                             ELSE CAST(0.025 AS DOUBLE) END AS wt
               FROM t)
         SELECT source, n_docs, n_tokens,
                CAST(50000 AS DOUBLE) * wt AS target_tokens,
                least(CAST(1.0 AS DOUBLE),
                      CAST(50000 AS DOUBLE) * wt / CAST(n_tokens AS DOUBLE)) AS rate
         FROM w""")),

    // Counts-derived mixing: w ∝ tokens^(1/2) (temperature 2) —
    // small sources oversampled relative to their natural share;
    // weights micro-quantized so the rate is one exact-decimal
    // division (sqrt is correctly rounded on every IEEE engine,
    // which is why only power-of-two temperatures are offered).
    Q("q_temperature_mix", (s, dir) =>
      TextOps.temperatureMixRates(Tables.documents(s, dir), "doc_id",
        "text", "source", budgetTokens = 50000L),
      Some("""WITH t AS (SELECT source, count(*) AS n_docs,
                      sum(CAST(len(string_split(trim(text), ' ')) AS BIGINT)) AS n_tokens
                    FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                   AS weight_micro
               FROM t),
         s AS (SELECT sum(weight_micro) AS wsum FROM w)
         SELECT source, n_docs, n_tokens, weight_micro,
                least(CAST(1.0 AS DOUBLE),
                      CAST(CAST(50000 AS HUGEINT) * CAST(weight_micro AS HUGEINT)
                        AS DOUBLE)
                        / CAST(CAST(wsum AS HUGEINT) * CAST(n_tokens AS HUGEINT)
                        AS DOUBLE)) AS rate
         FROM w, s""")),

    // ----- The full training-data pipeline as ONE query: redact ->
    // exact-dedup keepers -> quality gates -> deterministic split ->
    // per-(split, lang) counts. Every stage is an operator above; the
    // composition is what a real corpus build runs. ------------------
    Q("q_pipeline_e2e", (s, dir) => {
      // redacted feeds four plan branches (dedup digests, both stats
      // passes, the final keeper join) and the planner re-runs the
      // regex-heavy redaction scan per branch — the r16 profile showed
      // one 1.8 s single-task stage plus two ~0.3 s twins, all
      // re-redacting the same corpus. Materialize the redaction once
      // (the q_pipeline_neardup precedent); the three token passes
      // then read the checkpointed blocks.
      val redacted = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), TextOps.redactPii(col("text")).as("text"))
        .localCheckpoint()
      val keepers = TextOps.exactDedupGroups(redacted, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val stats = TextOps.textStats(redacted, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      val rep = TextOps.repetitionStats(redacted, "doc_id", "text")
        .select(col("doc_id"), col("dup_token_ratio"))
      redacted
        .join(keepers, Seq("doc_id")) // drop non-keeper duplicates
        .join(stats, Seq("doc_id"))
        .join(rep, Seq("doc_id"))
        .filter(col("n_tokens") >= 10 &&
          (col("dup_token_ratio").isNull || col("dup_token_ratio") <= 0.5))
        .select(col("lang"),
          TextOps.splitAssign(col("doc_id"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"))
    },
      Some({
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail.map(c => (c * 65536).toInt)
      s"""WITH red AS (SELECT doc_id, lang,
              regexp_replace(
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{10,}', '<NUM>', 'g') AS text
            FROM documents),
         keep AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)),
         gated AS (SELECT r.doc_id, r.lang,
                     len(regexp_extract_all(r.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     string_split(trim(r.text), ' ') AS t
                   FROM red r JOIN keep USING (doc_id)),
         kept AS (SELECT doc_id, lang FROM gated
                  WHERE n_tokens >= 10 AND
                    (len(t) = 0 OR
                     CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) <= 0.5))
         SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(0)} THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(1)} THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM kept GROUP BY 1, 2"""
    })),

    // ----- The pipeline with the NEAR-dup stage composed in: redact ->
    // exact-dedup keepers -> minhash+LSH candidates -> connected-
    // components keeper resolution -> quality gates -> split -> counts.
    // This is the full corpus build; q_pipeline_e2e remains the
    // exact-only ablation. ------------------------------------------
    Q("q_pipeline_neardup", (s, dir) => {
      val redacted = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), TextOps.redactPii(col("text")).as("text"))
      val exactKeepers = TextOps.exactDedupGroups(redacted, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      // exactKept feeds six plan branches (banding, CC resolution, the
      // keeper join, both stats passes, the final gate) — materialize
      // the redaction+dedup prefix once instead of re-running the
      // regex-heavy scan per branch
      val exactKept = redacted.join(exactKeepers, Seq("doc_id")).localCheckpoint()
      // CC consumes bucket stars, not pair cliques (same components,
      // linear edge volume — the r12 dedup-family fix)
      val pairs = TextOps.minhashStarEdges(exactKept, "doc_id", "text",
        bands = 4, rowsPerBand = 2, shingleSize = 3)
      val ndKeepers = graft.operators.DedupGroups
        .resolveKeepers(exactKept, "doc_id", pairs)
        .filter(col("is_keeper")).select("doc_id")
      val kept = exactKept.join(ndKeepers, Seq("doc_id"))
      val stats = TextOps.textStats(kept, "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"))
      val rep = TextOps.repetitionStats(kept, "doc_id", "text")
        .select(col("doc_id"), col("dup_token_ratio"))
      kept
        .join(stats, Seq("doc_id"))
        .join(rep, Seq("doc_id"))
        .filter(col("n_tokens") >= 10 &&
          (col("dup_token_ratio").isNull || col("dup_token_ratio") <= 0.5))
        .select(col("lang"),
          TextOps.splitAssign(col("doc_id"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"))
    },
      Some({
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail.map(c => (c * 65536).toInt)
      s"""WITH RECURSIVE red AS (SELECT doc_id, lang,
              regexp_replace(
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{10,}', '<NUM>', 'g') AS text
            FROM documents),
         keep1 AS (SELECT min(doc_id) AS doc_id FROM red GROUP BY md5(text)),
         kdocs AS (SELECT r.doc_id, r.lang, r.text FROM red r JOIN keep1 USING (doc_id)),
         ${minhashSigCtes("kdocs")},
         cand AS ($minhashPairsSelect),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(doc_id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst),
         grp AS (SELECT doc_id, min(lbl) AS group_id FROM reach GROUP BY doc_id),
         kept2 AS (SELECT k.doc_id, k.lang, k.text
                   FROM kdocs k LEFT JOIN grp g USING (doc_id)
                   WHERE coalesce(g.group_id, k.doc_id) = k.doc_id),
         gated AS (SELECT doc_id, lang,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     string_split(trim(text), ' ') AS t
                   FROM kept2),
         kept AS (SELECT doc_id, lang FROM gated
                  WHERE n_tokens >= 10 AND
                    (len(t) = 0 OR
                     CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) <= 0.5))
         SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(0)} THEN 'train'
                     WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) < ${cuts(1)} THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM kept GROUP BY 1, 2"""
    })),

    Q("q_token_count", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit(TextOps.TokenRegex), lit(0))).as("__t"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__t")).cast(LongType).as("total_tokens")),
      Some("""SELECT lang, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_tokens
         FROM documents GROUP BY 1""")),
    Q("q_lang_id", (s, dir) =>
      TextOps.langId(Tables.documents(s, dir), "doc_id", "text", "lang"),
      Some("""SELECT doc_id, lang,
         CASE WHEN len(list_filter(string_split(trim(text), ' '),
                x -> x IN ('the', 'a', 'of', 'and', 'is'))) >= 1
              THEN 'en' ELSE 'unknown' END AS predicted_lang,
         CAST(len(list_filter(string_split(trim(text), ' '),
                x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS en_score
         FROM documents""")),

    // ----- Quality scoring: composite from text features --------------
    Q("q_quality_score", (s, dir) => {
      val st = TextOps.textStats(Tables.documents(s, dir), "doc_id", "text")
      st.select(
        col("doc_id"),
        TextOps.qualityScoreCol.as("quality_score"))
    },
      Some(s"""SELECT doc_id,
           $qualityScoreExpr
         FROM documents""")),

    // ----- Curriculum binning: per-source quality deciles (what a
    // curriculum schedule or quality-pruning threshold reads) ---------
    Q("q_quality_deciles", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = TextOps.textStats(docs, "doc_id", "text")
      val score = st.select(
        col("doc_id"),
        TextOps.qualityScoreCol.as("quality_score"))
      TextOps.curriculumBins(
        score.join(docs.select(col("doc_id"), col("source")), Seq("doc_id")),
        "doc_id", "source", "quality_score", nBins = 10)
        .select(col("doc_id"), col("source"), col("quality_score"), col("bin"))
    },
      Some(s"""WITH q AS (SELECT doc_id,
           $qualityScoreExpr
         FROM documents)
         SELECT q.doc_id, d.source, q.quality_score,
                CAST(ntile(10) OVER (PARTITION BY d.source
                                     ORDER BY q.quality_score, q.doc_id) AS BIGINT) AS bin
         FROM q JOIN documents d ON d.doc_id = q.doc_id""")),

    // ----- Count-min sketch: mergeable point-frequency estimation
    // (HLL = distinct, bloom = membership, CMS = how often). Token
    // frequencies over the document corpus; estimates are hash-stream
    // values (rows-only), q_cms_audit publishes the two invariants —
    // counters never undercount, min-of-depth stays inside the N/width
    // collision budget — as oracle-checked booleans per token. --------
    Q("q_cms_counts", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val cells = graft.operators.CmsOps
        .cmsCells(toks, "token", width = 1024, depth = 4)
      graft.operators.CmsOps
        .estimateBatch(toks.distinct(), "token", cells, 1024, 4)
        .orderBy(col("token"))
    },
      None),
    Q("q_cms_audit", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val nTotal = toks.count()
      val cells = graft.operators.CmsOps
        .cmsCells(toks, "token", width = 1024, depth = 4)
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_n"))
      // no_underestimate is a TRUE invariant of the sketch (min over
      // cells that each counted the token), published per token. The
      // 3N/width excess bound is only probabilistic (~(1/3)^depth per
      // token by Markov), so it is published in AGGREGATE: the count
      // of over-bound tokens must stay within a 5%+8 allowance — a
      // broken sketch blows the bound on most tokens, a hash-unlucky
      // token no longer flips the oracle red.
      val est = graft.operators.CmsOps
        .estimateBatch(exact, "token", cells, 1024, 4)
        .localCheckpoint(true) // consumed twice: rows + excess tally
      val excess = est.agg(
        sum(when(col("est") - col("exact_n") > lit(3L * nTotal / 1024L + 1L),
          lit(1L)).otherwise(lit(0L))).as("__n_over"),
        count(lit(1)).as("__n_tok"))
      est.crossJoin(broadcast(excess))
        .select(col("token"), col("exact_n"),
          (col("est") >= col("exact_n")).as("no_underestimate"),
          (col("__n_over") * lit(20L) <= col("__n_tok") + lit(160L))
            .as("bound_excess_ok"))
    },
      // CMS audit: exact per-token counts + literal booleans for the
      // sketch invariants the engine computes (a broken sketch flips a
      // boolean -> hash red); the estimates themselves are
      // hash-stream-dependent, so q_cms_counts stays rows-only.
      Some(cmsAuditSql)),

    // The SHARDED sketch path under the same oracle gate: the sketch
    // stays a cluster-resident relation, estimates join it, and the
    // per-shard no-undercount invariant is published the same way
    // (each key's estimate comes from its own shard's sketch, so the
    // within-shard bound is even tighter than the unsharded one).
    Q("q_cms_sharded_audit", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val nTotal = toks.count()
      val shardRows = graft.operators.CmsOps
        .cmsShardRows(toks, "token", nShards = 4, width = 1024, depth = 4)
      val exact = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_n"))
      val est = graft.operators.CmsOps
        .estimateBatchSharded(exact, "token", shardRows,
          nShards = 4, width = 1024, depth = 4)
        .localCheckpoint(true) // consumed twice: rows + excess tally
      // same aggregate-excess publication as q_cms_audit (the bound
      // is probabilistic per token; only its mass is an invariant)
      val excess = est.agg(
        sum(when(col("est") - col("exact_n") > lit(3L * nTotal / 1024L + 1L),
          lit(1L)).otherwise(lit(0L))).as("__n_over"),
        count(lit(1)).as("__n_tok"))
      est.crossJoin(broadcast(excess))
        .select(col("token"), col("exact_n"),
          (col("est") >= col("exact_n")).as("no_underestimate"),
          (col("__n_over") * lit(20L) <= col("__n_tok") + lit(160L))
            .as("bound_excess_ok"))
    },
      Some(cmsAuditSql)),

    // ----- Winnowing fingerprints (rolling-hash dedup; engine-defined
    // hash — rows-only check, invariants unit-tested) ------------------
    Q("q_doc_winnow", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        explode(graft.functions.Winnowing.winnow(
          TextOps.tokens(col("text")), 4, 4)).as("fingerprint")),
      Some(s"""$winnowFpCtes
         SELECT doc_id, fingerprint FROM fp""")),
    Q("q_winnow_neardup", (s, dir) =>
      graft.functions.Winnowing.winnowNearDupPairs(
        Tables.documents(s, dir), "doc_id", "text", k = 4, w = 4, minShared = 2),
      Some(s"""$winnowFpCtes,
         dfp AS (SELECT DISTINCT doc_id, fingerprint FROM fp),
         gfp AS (SELECT * FROM dfp
                 QUALIFY count(*) OVER (PARTITION BY fingerprint) <= 10000)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM gfp a JOIN gfp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // ----- Quality-weighted deterministic sampling: keep documents
    // with probability proportional to length score, zero shuffle ----
    Q("q_weighted_sample", (s, dir) =>
      TextOps.weightedSample(Tables.documents(s, dir), "doc_id",
        col("n_chars"), weightScale = 600L, rate = 0.5)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
      Some("""SELECT doc_id, source, lang, n_chars FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
               * 600 < n_chars * 32768""")),

    // ----- Quality-first token budget: keep each source's best docs
    // until the cumulative token count hits the per-source budget ------
    Q("q_token_budget", (s, dir) =>
      graft.functions.TextOps.tokenBudget(
        Tables.documents(s, dir), "doc_id", "text", "source",
        budgetTokens = 800),
      Some(raw"""WITH st AS (SELECT doc_id, source,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens,
           $qualityScoreExpr
         FROM documents),
         cum AS (SELECT doc_id, source, n_tokens, quality_score,
                   CAST(sum(n_tokens) OVER
                     (PARTITION BY source
                      ORDER BY quality_score DESC NULLS LAST, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS cum_tokens
                 FROM st)
         SELECT * FROM cum WHERE cum_tokens <= 800""")),

    // ----- Exact weighted median: the median CHARACTER lives in a doc
    // of this length, per source — integer cumulative-weight compare,
    // no division -----------------------------------------------------
    Q("q_weighted_median", (s, dir) =>
      graft.operators.RankOps.weightedMedian(
        Tables.documents(s, dir), Seq("source"), "n_chars", "n_chars", "doc_id"),
      Some("""WITH c AS (SELECT source, n_chars, doc_id FROM documents
                    WHERE n_chars IS NOT NULL AND n_chars > 0),
         r AS (SELECT source, n_chars,
                 sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                 sum(n_chars) OVER (PARTITION BY source) AS tw
               FROM c)
         SELECT source, min(n_chars) AS weighted_median,
                CAST(max(tw) AS BIGINT) AS total_weight
         FROM r WHERE cw * 2 >= tw GROUP BY 1""")),

    // ----- Token-rarity score: rank-based surprisal bits, exact ints
    // plus one division — the hash-checkable perplexity proxy ---------
    Q("q_rarity_score", (s, dir) =>
      TextOps.rarityScore(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents),
         tk AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
         v AS (SELECT tok, count(*) AS n FROM tk GROUP BY 1),
         r AS (SELECT tok,
                 CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
                   AS rank
               FROM v)
         SELECT tk.doc_id, count(*) AS n_tokens,
                CAST(sum(length(bin(rank)) - 1) AS BIGINT) AS surprisal_bits,
                CAST(CAST(sum(length(bin(rank)) - 1) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_bits
         FROM tk JOIN r USING (tok) GROUP BY 1""")),

    // ----- Dataset card: per-(source, lang) docs/chars/tokens, exact
    // unique-hash dedup ratio, mean tokens — the corpus release report
    Q("q_corpus_card", (s, dir) =>
      TextOps.corpusCard(Tables.documents(s, dir)),
      Some("""SELECT source, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END)
                     AS BIGINT) AS total_tokens,
                count(DISTINCT md5(text)) AS n_unique,
                CAST(CAST(sum(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END)
                     AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                  AS mean_tokens,
                CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM documents GROUP BY 1, 2""")),

    // ----- N-gram novelty: fraction of each doc's distinct shingles
    // first contributed by that doc (md5-keyed shuffles, never text) ---
    Q("q_ngram_novelty", (s, dir) =>
      TextOps.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        shingleSize = 3),
      // shingle identity never crosses engines — each side groups its
      // own shingles (md5 on the Spark side is a shuffle-width choice,
      // not part of the contract); only counts and the ratio compare
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         sets AS (SELECT doc_id,
                    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                   for i in generate_series(1, len(t) - 2)]) AS ss
                  FROM toks),
         ds AS (SELECT doc_id, unnest(ss) AS s FROM sets),
         own AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY 1)
         SELECT ds.doc_id,
                count(*) AS n_shingles,
                CAST(sum(CASE WHEN own.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN own.first_doc = ds.doc_id THEN 1 ELSE 0 END)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         FROM ds JOIN own USING (s)
         GROUP BY 1""")),

    // ----- Bigram fluency: mean corpus-conditional transition
    // probability per doc, floor-milli integers end to end -------------
    Q("q_bigram_fluency", (s, dir) =>
      TextOps.bigramFluency(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         g AS (SELECT doc_id,
                 unnest([{'w1': t[i], 'w2': t[i+1]}
                         for i in generate_series(1, len(t) - 1)]) AS u
               FROM toks),
         pd AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, count(*) AS m
                FROM g GROUP BY 1, 2, 3),
         bi AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS n_pair FROM pd GROUP BY 1, 2),
         uni AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_prefix FROM bi GROUP BY 1)
         SELECT pd.doc_id,
                CAST(sum(pd.m) AS BIGINT) AS n_bigrams,
                CAST(sum(pd.m * (bi.n_pair * 1000 // uni.n_prefix)) AS BIGINT)
                  AS fluency_sum_milli,
                CAST(sum(pd.m * (bi.n_pair * 1000 // uni.n_prefix)) AS DOUBLE)
                  / CAST(sum(pd.m) AS DOUBLE) AS mean_fluency_milli
         FROM pd JOIN bi USING (w1, w2) JOIN uni USING (w1)
         GROUP BY 1""")),

    // ----- Cross-source overlap matrix: distinct shared 3-gram
    // shingles per unordered source pair — digests shuffle, not text --
    Q("q_cross_source_overlap", (s, dir) =>
      TextOps.crossSourceOverlap(Tables.documents(s, dir), "text"),
      // counts are grain-identical whether keyed by shingle string
      // (here) or its md5 (engine's shuffle-width choice)
      Some("""WITH toks AS (SELECT source, string_split(trim(text), ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT source,
                  unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in generate_series(1, len(t) - 2)]) AS s
                FROM toks)
         SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         GROUP BY 1, 2""")),

    // ----- TextRank keywords: pinned integer PageRank run directly on
    // word nodes of the adjacency graph; exact scaled-long ranks ---------
    Q("q_textrank", (s, dir) =>
      TextOps.textrankKeywords(Tables.documents(s, dir), "doc_id", "text", topK = 25),
      Some(s"""WITH toks AS (SELECT string_split(trim(text), ' ') AS t FROM documents),
         pr AS (SELECT t[i] AS w1, t[i + 1] AS w2
                FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                      FROM toks)),
         e AS (SELECT least(w1, w2) AS x, greatest(w1, w2) AS y FROM pr
               WHERE w1 <> '' AND w2 <> '' AND w1 <> w2
                 AND w1 NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
                 AND w2 NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
               GROUP BY 1, 2),
         ${Shared.pagerankCtes}
         SELECT node AS word, rank AS rank_scaled FROM r3
         ORDER BY rank DESC, word LIMIT 25""")),

    // ----- RAKE keyword extraction, ratio-of-sums scoring: stopword-
    // delimited phrase runs, word degree/freq longs, ONE division,
    // top-K by the floor-scaled integer ratio ---------------------------
    Q("q_rake_keywords", (s, dir) =>
      TextOps.rakeKeywords(Tables.documents(s, dir), "doc_id", "text", topK = 25),
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
         tk AS (SELECT doc_id, t[i] AS tok, i AS pos
                FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                      FROM toks)
                WHERE t[i] <> ''),
         ns AS (SELECT doc_id, tok, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM tk
                WHERE tok NOT IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')),
         pl AS (SELECT doc_id, grp, tok, pos,
                  CAST(count(*) OVER (PARTITION BY doc_id, grp) AS BIGINT) AS len
                FROM ns),
         ws AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(len) AS BIGINT) AS degree FROM pl GROUP BY 1),
         pp AS (SELECT pl.doc_id, pl.grp,
                  string_agg(pl.tok, ' ' ORDER BY pl.pos) AS phrase,
                  CAST(count(*) AS BIGINT) AS len,
                  CAST(sum(ws.degree) AS BIGINT) AS sdeg,
                  CAST(sum(ws.freq) AS BIGINT) AS sfreq
                FROM pl JOIN ws USING (tok) GROUP BY 1, 2),
         g AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
                 max(len) AS n_words, max(sdeg) AS sum_degree,
                 max(sfreq) AS sum_freq
               FROM pp GROUP BY 1)
         SELECT phrase, n_occurrences, n_words, sum_degree, sum_freq,
                CAST(sum_degree AS DOUBLE) / CAST(sum_freq AS DOUBLE)
                  AS rake_score
         FROM g
         ORDER BY sum_degree * 10000 // sum_freq DESC, phrase
         LIMIT 25""")),

    // ----- Flesch reading ease: letter-run words, [.!?]+ sentences,
    // vowel-group syllables — a per-row fixed expression tree ------------
    Q("q_readability", (s, dir) =>
      TextOps.readability(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH c AS (SELECT doc_id, text,
                list_filter(string_split(
                  regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                  x -> x <> '') AS w
            FROM documents),
         s AS (SELECT doc_id,
                 CAST(len(w) AS BIGINT) AS n_words,
                 greatest(CAST(1 AS BIGINT),
                   CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                   AS n_sentences,
                 CAST(coalesce(list_sum(list_transform(w,
                   x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))),
                   0) AS BIGINT) AS n_syllables
               FROM c)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CASE WHEN n_words > 0 THEN
                  206.835
                  - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                END AS flesch
         FROM s"""))
  )
}
