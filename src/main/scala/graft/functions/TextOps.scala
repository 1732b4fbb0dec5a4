package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Text-analysis and document-deduplication operators for the
  * training-data-pipeline surface (builder brief; SURVEY.md §7.2 M6):
  * exact dedup, MinHash+LSH near-dup candidates, n-gram Jaccard,
  * SimHash fingerprints, token/quality stats, language-ID heuristic,
  * document fingerprinting.
  *
  * All operators are built from codegen'd builtins plus the two custom
  * expressions ([[SimHash64]], [[DotProduct]]); hash choices (md5) are
  * deliberately oracle-reproducible.
  */
object TextOps {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Hot-bucket guard shared by every banded self-join (simhash bands,
    * minhash bands, winnowing fingerprints): drop rows whose bucket key
    * holds more than `cap` members BEFORE the within-bucket self-join.
    *
    * One degenerate key (boilerplate or near-empty docs hashing alike)
    * turns a bucketed join quadratic at scale; members of such a bucket
    * are near-identical by construction and better served by exact
    * dedup. Implemented as a count window over exactly the partitioning
    * the self-join shuffles on — the window's exchange satisfies the
    * join's distribution requirement, so the guard adds NO extra
    * shuffle (the groupBy-count + join-back formulation it replaces
    * re-shuffled the full frame twice).
    */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    df.withColumn("__bucket_n", count(lit(1)).over(w))
      .filter(col("__bucket_n") <= cap)
      .drop("__bucket_n")
  }

  /** BPE-ish token segmentation: runs of letters, runs of digits, or
    * single other non-space chars — the word-count heuristic used for
    * token-count accounting before a real tokenizer runs.
    */
  val TokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Contiguous word n-gram shingles (distinct), the near-dup unit.
    * Docs with fewer than n tokens produce an empty array. Native
    * expression ([[WordShingles]]) — the HOF composition
    * (`transform`+`element_at`) evaluated interpreted per element and
    * was ~300x slower.
    */
  def shingles(toks: Column, n: Int): Column =
    WordShingles.word_shingles(toks, n)

  /** Exact content dedup: group by content hash, elect the smallest
    * doc_id as keeper, count copies. Pure hash-aggregate — one shuffle
    * on the 16-byte hash, never on the text itself (project the hash
    * first so the shuffle doesn't carry document bodies).
    */
  def exactDedupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(md5(col(textCol).cast("binary")).as("text_hash"), col(idCol))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature (array column `sig`, k entries): one
    * md5 per DISTINCT shingle reduced mod 2^61-1, then k universal-
    * hash permutations, minima accumulated row-locally in a single
    * codegen'd expression ([[MinHashSig]]) — the signature stage is a
    * pure projection with NO shuffle (the previous explode + k
    * min-aggregates formulation shuffled one row per shingle and ran k
    * md5s per shingle: 8x the hashing plus a corpus-sized exchange).
    * Docs too short to shingle have a null signature and drop out.
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      shingleSize: Int
  ): DataFrame =
    docs
      .select(
        col(idCol),
        MinHashSig.minhash_sig(
          shingles(tokens(col(textCol)), shingleSize), numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** LSH banding: r consecutive signature entries form a band key;
    * self-join on (band, sig values) → candidate near-dup pairs
    * (doc_a < doc_b, distinct). Probability a pair with Jaccard s
    * becomes a candidate: 1 - (1 - s^r)^b — the classic S-curve. The
    * join key is (band, r longs): collisions shuffle only doc ids.
    *
    * Buckets over `bucketCap` members (degenerate band values from
    * boilerplate/near-empty docs) are dropped before the self-join —
    * see [[capBuckets]]; within-bucket pairs there would be quadratic
    * and are better handled by exact dedup.
    */
  /** Banded, hot-bucket-guarded LSH keys: (id, band, k0..k{r-1}). The
    * shared stage behind the self-join ([[minhashCandidatePairs]]) and
    * the incremental cross-join ([[minhashCrossPairs]]). PUBLIC so a
    * caller that needs the same side in several joins (self + cross,
    * as the incremental dedup flow does) — or that persists a
    * signature store — can band once and feed
    * [[minhashPairsFromBanded]] / [[minhashCrossFromBanded]] instead
    * of recomputing signatures per call.
    */
  def minhashBanded(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      bucketCap: Long
  ): (DataFrame, Seq[String]) = {
    val (banded, keyCols) =
      minhashBandedRaw(docs, idCol, textCol, bands, rowsPerBand, shingleSize)
    (capBuckets(banded, "band" +: keyCols, bucketCap), keyCols)
  }

  /** The band stage before the hot-bucket guard — shared by
    * [[minhashBanded]] and [[minhashCapReport]].
    */
  private def minhashBandedRaw(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int
  ): (DataFrame, Seq[String]) = {
    val sig = minhashSignatures(docs, idCol, textCol, bands * rowsPerBand, shingleSize)
    val bandStructs = (0 until bands).map { b =>
      val ks = (0 until rowsPerBand).map(r =>
        col("sig")(b * rowsPerBand + r).as(s"k$r"))
      struct(lit(b).as("band") +: ks: _*)
    }
    val keyCols = (0 until rowsPerBand).map(r => s"k$r")
    val banded = sig
      .select(col(idCol), explode(array(bandStructs: _*)).as("__bh"))
      .select(col(idCol) +: col("__bh.band").as("band") +:
        keyCols.map(k => col(s"__bh.$k").as(k)): _*)
    (banded, keyCols)
  }

  /** What `bucketCap` does to the MinHash band buckets on THIS corpus
    * — the observability companion to [[minhashCandidatePairs]] /
    * [[minhashCrossPairs]] ([[graft.operators.CapReport.of]]): gate on
    * `n_capped_buckets == 0` before reading an empty pair set as "no
    * near-duplicates".
    */
  def minhashCapReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val (banded, keyCols) =
      minhashBandedRaw(docs, idCol, textCol, bands, rowsPerBand, shingleSize)
    graft.operators.CapReport.of(banded, "band" +: keyCols, idCol, bucketCap)
  }

  def minhashCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val (guarded, keyCols) =
      minhashBanded(docs, idCol, textCol, bands, rowsPerBand, shingleSize, bucketCap)
    minhashPairsFromBanded(guarded, idCol, keyCols)
  }

  /** MinHash estimator-quality audit over the banded candidates: for
    * every candidate pair, the signature-based Jaccard ESTIMATE
    * (matching components / k — the quantity LSH banding actually
    * thresholds on) next to the exact n-gram Jaccard and the absolute
    * error. This is the band-calibration report: tuning
    * (bands, rowsPerBand) at corpus scale starts by measuring
    * estimator error on a sample. Scale-safe by construction — the
    * candidate set is the capped banded join, the estimate is a
    * row-local zip_with over two k-long arrays, and the exact side
    * joins shingle sets only for surviving candidates (same shape as
    * [[ngramJaccard]]).
    */
  def minhashEstimateVsExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val k = bands * rowsPerBand
    val pairs = minhashCandidatePairs(
      docs, idCol, textCol, bands, rowsPerBand, shingleSize, bucketCap)
    val feat = docs
      .select(col(idCol).as("__id"),
        shingles(tokens(col(textCol)), shingleSize).as("__ss"))
      .select(col("__id"), col("__ss"),
        MinHashSig.minhash_sig(col("__ss"), k).as("__sig"))
      .filter(col("__sig").isNotNull)
    val matches = aggregate(
      zip_with(col("__siga"), col("__sigb"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val inter = size(array_intersect(col("__ssa"), col("__ssb")))
    val union = size(col("__ssa")) + size(col("__ssb")) - inter
    pairs
      .join(feat.select(col("__id").as("doc_a"),
        col("__ss").as("__ssa"), col("__sig").as("__siga")), "doc_a")
      .join(feat.select(col("__id").as("doc_b"),
        col("__ss").as("__ssb"), col("__sig").as("__sigb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (matches.cast(DoubleType) / lit(k.toDouble)).as("est_jaccard"),
        when(union === 0, lit(0.0))
          .otherwise(inter.cast(DoubleType) / union.cast(DoubleType))
          .as("jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
  }

  /** Self-join form over pre-banded keys (see [[minhashBanded]]). */
  def minhashPairsFromBanded(
      banded: DataFrame,
      idCol: String,
      keyCols: Seq[String]
  ): DataFrame = {
    val a = banded.select(col(idCol).as("doc_a") +: col("band") +: keyCols.map(col): _*)
    val b = banded.select(col(idCol).as("doc_b") +: col("band") +: keyCols.map(col): _*)
    a.join(b, "band" +: keyCols)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Connectivity-preserving STAR edges per band bucket — the
    * CC-resolution twin of [[minhashPairsFromBanded]]. A band
    * bucket's members are all mutual candidates, i.e. a clique; the
    * pair form materializes C(n,2) edges per bucket, QUADRATIC in the
    * bucket (= duplicate-group) size — the r11 sweep's 1.2-exponent
    * tail on q_dedup_stages / the store build was exactly CC chewing
    * clique edges that grow with corpus density (2.7M pairs from 150k
    * docs at sf3). For connected components the clique and its star
    * (bucket-min → member, n−1 edges) have IDENTICAL components, so
    * resolution paths should feed CC this linear form and leave the
    * pair form to callers whose PRODUCT is the pair list
    * (q_doc_minhash_pairs). Window over the same key the hot-bucket
    * cap already partitions by — no extra exchange. An edge repeats
    * once per band its two docs share a bucket in: connected
    * components ignores repeats, so a distinct's shuffle would buy
    * nothing.
    *
    * This is the end-to-end form from text — what a CC-resolution
    * caller (dedup groups / keeper election) should feed instead of
    * [[minhashCandidatePairs]]; [[minhashStarFromBanded]] is the
    * band-stage half for callers that already banded.
    */
  def minhashStarEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val (banded, keyCols) = minhashBanded(
      docs, idCol, textCol, bands, rowsPerBand, shingleSize, bucketCap)
    minhashStarFromBanded(banded, idCol, keyCols)
  }

  def minhashStarFromBanded(
      banded: DataFrame,
      idCol: String,
      keyCols: Seq[String]
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(("band" +: keyCols).map(col): _*)
    banded
      .withColumn("__m", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("__m"))
      .select(col("__m").as("doc_a"), col(idCol).as("doc_b"))
  }

  /** Cross-join form over pre-banded keys (see [[minhashBanded]]). */
  def minhashCrossFromBanded(
      newBanded: DataFrame,
      newIdCol: String,
      knownBanded: DataFrame,
      knownIdCol: String,
      keyCols: Seq[String]
  ): DataFrame =
    newBanded
      .select(col(newIdCol).as("new_id") +: col("band") +: keyCols.map(col): _*)
      .join(knownBanded.select(
        col(knownIdCol).as("known_id") +: col("band") +: keyCols.map(col): _*),
        "band" +: keyCols)
      .select("new_id", "known_id")
      .distinct()

  /** Incremental near-dup: candidate pairs between a NEW batch and the
    * EXISTING corpus — the ingest path at scale (a new crawl checks
    * against the standing corpus without re-deduping it; the self-join
    * form re-pairs everything). Both sides band with the same
    * signature parameters and carry the hot-bucket cap independently;
    * the join is new×known only, so work scales with the batch, not
    * the corpus². At 100 TB the known side's banded keys are what a
    * signature store would persist once and reuse per batch.
    */
  def minhashCrossPairs(
      newDocs: DataFrame,
      newIdCol: String,
      newTextCol: String,
      known: DataFrame,
      knownIdCol: String,
      knownTextCol: String,
      bands: Int,
      rowsPerBand: Int,
      shingleSize: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val (n, keyCols) =
      minhashBanded(newDocs, newIdCol, newTextCol, bands, rowsPerBand, shingleSize, bucketCap)
    val (k, _) =
      minhashBanded(known, knownIdCol, knownTextCol, bands, rowsPerBand, shingleSize, bucketCap)
    minhashCrossFromBanded(n, newIdCol, k, knownIdCol, keyCols)
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs: join
    * each side to its distinct shingle set, |A∩B| / |A∪B|. Candidates
    * bound the quadratic; this is the verify step after LSH.
    *
    * `salt >= 2` routes the doc_a-side join through
    * [[graft.operators.SkewOps.saltedJoin]]: after LSH, one template
    * document can appear in a large share of the candidate pairs, and
    * plain hash partitioning sends every one of its pairs (each
    * dragging a full shingle array) to a single task. Salting scatters
    * the hot doc's pairs across `salt` partitions at the cost of
    * reading the shingle-set side `salt` times — result is
    * bit-identical to the unsalted join (content-derived salt,
    * SkewOps.scala). doc_b stays unsalted: pair order puts the
    * hot/template doc on the a-side in the common case, and one
    * balanced join is enough to break the straggler.
    */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame, // columns doc_a, doc_b
      shingleSize: Int,
      salt: Int = 1
  ): DataFrame = {
    val sets = docs.select(
      col(idCol),
      shingles(tokens(col(textCol)), shingleSize).as("ss"))
    val inter = size(array_intersect(col("ss_a"), col("ss_b")))
    val union = size(col("ss_a")) + size(col("ss_b")) - inter
    val setsA = sets.select(col(idCol).as("doc_a"), col("ss").as("ss_a"))
    val joinedA =
      if (salt >= 2) graft.operators.SkewOps.saltedJoin(pairs, setsA, Seq("doc_a"), salt)
      else pairs.join(setsA, "doc_a")
    joinedA
      .join(sets.select(col(idCol).as("doc_b"), col("ss").as("ss_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        when(union === 0, lit(0.0))
          .otherwise(inter.cast(DoubleType) / union.cast(DoubleType))
          .as("jaccard"))
  }

  /** The deterministic composite quality score over [[textStats]]
    * columns — long-enough, low punctuation, some stopword mass; each
    * term a double in [0,1]. One definition shared by the scoring,
    * curriculum-decile, and keep-best-keeper queries (and mirrored
    * verbatim in their oracles): the bit-exactness argument holds only
    * while all consumers compute the SAME expression.
    */
  def qualityScoreCol: Column =
    least(col("n_words").cast(DoubleType) / 100.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))) * 0.3 +
      least(col("stopword_ratio") * 10.0, lit(1.0)) * 0.3

  /** Per-doc text statistics: length, word/token counts, punctuation
    * count and ratio, stopword count and ratio — the quality-scoring
    * raw features. One projection, no shuffle.
    */
  def textStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      carry: Seq[String] = Nil
  ): DataFrame = {
    val t = col(textCol)
    val words = size(split(trim(t), "\\s+"))
    val toks = size(regexp_extract_all(t, lit(TokenRegex), lit(0)))
    val punct = size(regexp_extract_all(t, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val stop = size(expr(
      s"filter(split(trim($textCol), ' '), x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))"))
    // ANSI mode: guard zero denominators (empty/whitespace-only docs)
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    docs.select(
      col(idCol) +: carry.map(col) :+
        length(t).cast("long").as("text_len") :+
        words.cast("long").as("n_words") :+
        toks.cast("long").as("n_tokens") :+
        punct.cast("long").as("n_punct") :+
        ratio(punct, toks).as("punct_ratio") :+
        stop.cast("long").as("n_stopwords") :+
        ratio(stop, words).as("stopword_ratio"): _*)
  }

  /** Language-ID heuristic: score = count of language-marker stopwords;
    * claim the language with a positive score, else 'unknown'. (A
    * deterministic n-gram/stopword heuristic — the operator contract a
    * real fastText-style model would slot into.)
    */
  def langId(docs: DataFrame, idCol: String, textCol: String, langCol: String): DataFrame = {
    val en = size(expr(
      s"filter(split(trim($textCol), ' '), x -> x IN ('the', 'a', 'of', 'and', 'is'))"))
    docs.select(
      col(idCol),
      col(langCol).as("lang"),
      when(en >= 1, lit("en")).otherwise(lit("unknown")).as("predicted_lang"),
      en.cast("long").as("en_score"))
  }

  /** Document fingerprint: md5 of case/whitespace-normalized text —
    * catches trivially-reformatted duplicates exact dedup misses.
    */
  def normalizedFingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** Repetition-quality signals (the Gopher-rule family): duplicate
    * line and token fractions as projections, plus the most frequent
    * bigram's share of all bigrams (one doc-local groupBy — the
    * shuffle carries (doc, bigram) counts, never text bodies).
    * Low-quality machine-generated text scores high on all three.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    val lines = split(t, "\n")
    val toks = tokens(t)
    val base = docs.select(
      col(idCol),
      size(lines).cast("long").as("n_lines"),
      ratio(size(lines) - size(array_distinct(lines)), size(lines)).as("dup_line_ratio"),
      size(toks).cast("long").as("n_tokens"),
      ratio(size(toks) - size(array_distinct(toks)), size(toks)).as("dup_token_ratio"))
    val bigrams = docs.select(
        col(idCol),
        explode(WordShingles.word_shingles_all(tokens(t), 2)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("top_bigram_n"), sum(col("__c")).as("n_bigrams"))
      .select(col(idCol), col("top_bigram_n"),
        ratio(col("top_bigram_n"), col("n_bigrams")).as("top_bigram_frac"))
    base.join(bigrams, Seq(idCol), "left")
  }

  /** The remaining Gopher-rule quality signals (Rae et al. 2021 §A1.1,
    * complementing [[textStats]] and [[repetitionStats]]): mean word
    * length, fraction of words with an alphabetic character, symbol-
    * to-word ratio (# and ellipsis), and bullet/ellipsis line
    * fractions. One codegen'd char scan per document ([[TextSignals]]
    * — the column-composition equivalent walked the text ~7 times with
    * two interpreted higher-order filters; equivalence is
    * spec-asserted). Row-local, no shuffle.
    */
  def gopherQualitySignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextSignals.text_signals(col(textCol)).as("__sig"))
      .select(
        col(idCol),
        col("__sig.mean_word_len").as("mean_word_len"),
        col("__sig.frac_alpha_words").as("frac_alpha_words"),
        col("__sig.symbol_word_ratio").as("symbol_word_ratio"),
        col("__sig.bullet_line_frac").as("bullet_line_frac"),
        col("__sig.ellipsis_line_frac").as("ellipsis_line_frac"))

  /** PII redaction: emails then long digit runs replaced by typed
    * placeholders — deterministic regexes shared with the SQL oracle.
    * The pattern set is a seam; a production pass would extend it.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val longDigits = "[0-9]{10,}"
    regexp_replace(regexp_replace(text, email, "<EMAIL>"), longDigits, "<NUM>")
  }

  /** Deterministic train/val/test assignment by content-independent id
    * hash: the first 4 md5 hex chars of the id as a uniform 16-bit
    * value against cumulative weight cutoffs. Pure projection —
    * reproducible across engines, runs, and partitionings (never
    * rand()).
    */
  def splitAssign(id: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val bucket = conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int")
    val cutoffs = splits.scanLeft(0.0)(_ + _._2).tail
    splits.zip(cutoffs).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), cut), other) =>
        when(bucket < lit((cut * 65536).toInt), lit(name)).otherwise(other)
    }
  }

  /** Benchmark decontamination: per (corpus doc, probe doc) count of
    * shared distinct n-gram shingles — the standard check that an eval/
    * benchmark set has not leaked into training data. The probe side
    * (eval sets: thousands of docs) is BROADCAST, so the corpus never
    * shuffles for the join; only (doc, probe, partial count) rows reach
    * the one aggregation exchange, with map-side combine. Shingle sets
    * are distinct per side, so `count(*)` of join hits IS the distinct
    * overlap.
    */
  def contaminationCheck(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      probes: DataFrame,
      probeIdCol: String,
      probeTextCol: String,
      shingleSize: Int,
      minShared: Long
  ): DataFrame = {
    val corpusSh = corpus.select(
      col(idCol).as("doc_id"),
      explode(shingles(tokens(col(textCol)), shingleSize)).as("__s"))
    val probeSh = probes.select(
      col(probeIdCol).as("probe_id"),
      explode(shingles(tokens(col(probeTextCol)), shingleSize)).as("__s"))
    corpusSh
      .join(broadcast(probeSh), Seq("__s"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus diff between two dataset versions, by id and content
    * fingerprint: 'added' (id only in `cur`), 'removed' (id only in
    * `known`), 'changed' (both, but normalized content differs).
    * The dataset-versioning analog of the reference's listing diff
    * (GapOps.listingDiff) applied to document content — one full outer
    * join on the id carrying 16-byte fingerprints, never text.
    */
  def corpusDiff(
      cur: DataFrame,
      known: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val c = cur.select(col(idCol).as("doc_id"),
      normalizedFingerprint(col(textCol)).as("__fc"))
    val k = known.select(col(idCol).as("doc_id"),
      normalizedFingerprint(col(textCol)).as("__fk"))
    c.join(k, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__fk").isNull, lit("added"))
          .when(col("__fc").isNull, lit("removed"))
          .when(col("__fc") =!= col("__fk"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** Span-level corpus dedup (the C4/CCNet "remove duplicated lines
    * across documents" rule, at fixed token-block granularity since
    * the segmentation unit is a parameter of the corpus, not the
    * algorithm): segment each document into consecutive blocks of
    * `blockTokens` whitespace tokens, drop every block whose exact
    * content appears in at least `minDocs` DISTINCT documents, and
    * reassemble the survivors in original order.
    *
    * Scale shape: the duplicate-block set is found by one hash
    * aggregate over 16-byte block hashes (text never enters that
    * exchange); the anti-join shuffles blocks by hash once; reassembly
    * shuffles kept blocks by doc once. Documents whose every block is
    * boilerplate vanish from the output — exactly the rows exact dedup
    * retires anyway.
    */
  /** Fixed token blocks per document: (doc_id, bi, blk, __h) — the
    * segmentation stage shared by [[spanDedup]] and
    * [[boilerplateTopK]].
    */
  private def tokenBlocks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int
  ): DataFrame = {
    require(blockTokens > 0, s"blockTokens=$blockTokens must be positive")
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
    // split(trim(x), " ") yields at least [""], so nBlocks >= 1 and the
    // descending-sequence trap (sequence(1,0) = [1,0]) cannot trigger
    val nBlocks = ceil(size(col("__t")).cast("double") / blockTokens).cast("int")
    toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), nBlocks), i =>
          array_join(slice(col("__t"), (i - lit(1)) * blockTokens + lit(1), lit(blockTokens)), " ")))
          .as(Seq("bi", "blk")))
      .withColumn("__h", md5(col("blk").cast("binary")))
  }

  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int,
      minDocs: Long
  ): DataFrame = {
    val blocks = tokenBlocks(docs, idCol, textCol, blockTokens)
    val dup = blocks
      .select(col("__h"), col("doc_id"))
      .groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select("__h")
    blocks
      .join(dup, Seq("__h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("bi"), col("blk")))), s => s("blk")),
          " ").as("text_clean"),
        count(lit(1)).as("n_blocks_kept"))
  }

  /** Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): per document, every MAXIMAL
    * token span covered by k-token windows that also occur in at least
    * `minDocs` distinct documents corpus-wide. [[spanDedup]]'s fixed
    * block grid misses a shared substring that straddles a block
    * boundary or sits at an arbitrary offset; here a shingle is
    * emitted at EVERY position, so any shared run of >= k tokens is
    * caught wherever it starts.
    *
    * "Exact" is exact over 64-BIT SHINGLE HASHES, not shingle text:
    * two different k-token windows colliding in xxhash64 flag (and
    * [[substringScrub]] then removes) a span that was never
    * duplicated. Expected false-positive collisions ~ n²/2^65 for n
    * distinct shingles — nil at test scale, ~3 shingle pairs per
    * 10^10 shingles (about 1 TB of text), and a real, quantifiable
    * false-removal source at 100-TB corpora. That is the same
    * birthday-bound trade the minhash/simhash ops document for their
    * banding; a caller needing true-exact semantics at that scale
    * should confirm flagged spans by text (join span tokens back on
    * doc_id — batch-proportional, spans are a tiny subset) before
    * scrubbing.
    *
    * Shape for scale: the corpus-wide shared test rides the shingle
    * shuffle itself — for the standard `minDocs = 2`, "appears in >= 2
    * distinct docs" is exactly `min(doc_id) != max(doc_id)` over the
    * hash partition, two O(1)-state streaming window aggregates (a
    * `collect_set` would hold every doc id of a boilerplate shingle;
    * a groupBy+semi-join would shuffle the shingles twice). The
    * shuffle rows are (hash, doc, pos) — ~24 bytes, never text.
    * Duplicated positions (a tiny subset) then run-merge per document:
    * starts whose k-token coverage overlaps or touches (gap <= k)
    * collapse into one span, so output spans are maximal and
    * non-overlapping. General `minDocs > 2` falls back to the
    * agg+semi-join form.
    *
    * Returns (doc_id, span_start, span_end, n_tokens) with 0-based
    * token indices, end exclusive.
    */
  def substringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDocs: Long = 2L
  ): DataFrame = {
    require(k >= 2, s"shingle width must be >= 2 tokens, got $k")
    import org.apache.spark.sql.expressions.Window
    val shingles = shinglePositions(docs, idCol, textCol, k)
    val dupPos =
      if (minDocs == 2L) {
        val byHash = Window.partitionBy(col("__h"))
        shingles
          .withColumn("__mn", min(col("doc_id")).over(byHash))
          .withColumn("__mx", max(col("doc_id")).over(byHash))
          .where(col("__mn") =!= col("__mx"))
          .select(col("doc_id"), col("pos"))
      } else {
        val dup = shingles.groupBy(col("__h"))
          .agg(countDistinct(col("doc_id")).as("__d"))
          .where(col("__d") >= minDocs)
          .select("__h")
        shingles.join(dup, Seq("__h")).select(col("doc_id"), col("pos"))
      }
    mergeSpans(dupPos, k)
  }

  /** (doc_id, pos, __h): the xxhash64 of every k-token window, emitted
    * at each 0-based start position. The shuffle currency of the
    * substring-dedup family — 24-byte rows, never text.
    */
  private[graft] def shinglePositions(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val hashes = transform(
      sequence(lit(0), size(col("__t")) - k),
      i => xxhash64(array_join(slice(col("__t"), i + 1, lit(k)), " ")))
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k)
      .select(col("doc_id"), posexplode(hashes).as(Seq("pos", "__h")))
  }

  /** Run-merge duplicated shingle starts into maximal non-overlapping
    * spans: starts whose k-token coverage overlaps or touches
    * (gap <= k) collapse into one (doc_id, span_start, span_end,
    * n_tokens) row, 0-based, end exclusive.
    */
  private[graft] def mergeSpans(dupPos: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("__grp", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("n_tokens"))
  }

  /** Incremental-ingest [[substringDedup]]: maximal spans in the NEW
    * batch whose every k-token window already occurs in the standing
    * CORPUS — the substring side of the incremental-crawl story
    * ([[minhashCrossPairs]] / cross-SimHash are the near-dup sides).
    *
    * Work scales with the batch, never corpus²: the corpus reduces to
    * its DISTINCT shingle-hash set (one map-side-combined aggregate —
    * at scale this is the standing table you persist bucketed on the
    * hash, exactly like the minhash signature store, so the semi-join
    * reads it in place), the batch's shingles semi-join that set, and
    * only batch positions run-merge. Within-batch shares are
    * deliberately out of scope here — union the batch into the corpus
    * and run [[substringDedup]] for the full view.
    */
  def substringCrossSpans(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusTextCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 2, s"shingle width must be >= 2 tokens, got $k")
    val corpusHashes = shinglePositions(corpus, corpusIdCol, corpusTextCol, k)
      .select("__h").distinct()
    val dupPos = shinglePositions(newDocs, idCol, textCol, k)
      .join(corpusHashes, Seq("__h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    mergeSpans(dupPos, k)
  }

  /** The removal half of [[substringDedup]] (Lee et al. REMOVE the
    * shared spans, they don't just flag them): cut every duplicated
    * span's tokens out of each document and reassemble the survivors —
    * [[spanDedup]]'s reassembly at arbitrary offsets instead of the
    * block grid.
    *
    * Shape for scale: spans per doc collapse to one small array row;
    * the corpus then moves through ONE doc_id join (the span side is
    * already doc-partitioned from the run-merge, and AQE broadcasts it
    * when small) and the token cut is a codegen'd higher-order filter
    * over the token array — no per-token explode, no per-token
    * shuffle.
    */
  def substringScrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDocs: Long = 2L
  ): DataFrame = {
    val spans = substringDedup(docs, idCol, textCol, k, minDocs)
      .groupBy(col("doc_id"))
      .agg(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e"))).as("__cuts"))
    val noCuts = expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__cuts", coalesce(col("__cuts"), noCuts))
      .withColumn("__kept", filter(col("__t"), (t, i) =>
        !exists(col("__cuts"), c => i >= c("s") && i < c("e"))))
      .select(
        col("doc_id"),
        array_join(col("__kept"), " ").as("text_clean"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        (size(col("__t")) - size(col("__kept"))).cast("long").as("n_tokens_dropped"))
  }

  /** Boilerplate mining — the analysis complement of [[spanDedup]]:
    * the k most widely-duplicated token blocks, ranked by distinct
    * documents touched then total occurrences. What a pipeline owner
    * reads to decide the dedup threshold (and the removal list a
    * template-stripping pass would start from). One shuffle of block
    * hashes + a global top-k — the blocks themselves only reach the
    * driver for the k winners.
    */
  def boilerplateTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockTokens: Int,
      minDocs: Long,
      k: Int
  ): DataFrame =
    tokenBlocks(docs, idCol, textCol, blockTokens)
      .groupBy(col("blk"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("blk"))
      .limit(k)

  /** In-document repeated-line scrub (the C4-style cleanup: a page
    * that repeats its own nav/footer/promo lines keeps one copy):
    * each line's FIRST occurrence survives, later repeats drop, and
    * the text is rebuilt in original order. Row-local projection —
    * zero shuffle; per-doc cost is O(n_lines²) compares via the
    * first-occurrence probe, bounded by per-document line counts
    * (cross-corpus frequency is [[boilerplateScrub]]'s job — this
    * pass never looks outside the row).
    */
  def lineScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__kept", filter(col("__lines"), (x, i) =>
        array_position(col("__lines"), x) === i.cast("long") + lit(1L)))
      .select(
        col(idCol),
        array_join(col("__kept"), "\n").as("scrubbed_text"),
        size(col("__lines")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__kept"))).cast("long")
          .as("n_removed"))

  /** Cross-corpus boilerplate-line scrub (the RefinedWeb template
    * strip): a line that appears in >= `minDocs` DISTINCT documents is
    * boilerplate and every copy is removed; all other lines survive in
    * order. The frequency decision rides xxhash64 of the line — the
    * substring-dedup discipline: the corpus-wide shuffle carries
    * (doc, pos, 8-byte hash) rows, never line text (same ~n²/2^65
    * false-positive note as [[substringDedup]]); the rebuilt text is a
    * per-doc sorted re-assembly, and a doc whose every line was
    * boilerplate survives with empty text (left join back, not lost to
    * the groupBy). Two key-partitioned shuffles: line-hash frequency,
    * per-doc re-assembly.
    */
  def boilerplateScrub(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long
  ): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    val lines = lineRows(docs, idCol, textCol)
    val frequent = lines
      .select(col(idCol), col("__h"))
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    scrubAgainst(docs, idCol, textCol, frequent)
  }

  /** One row per (doc, line): position `__i`, text `__l`, 8-byte
    * xxhash64 `__h` — the shared explode of [[boilerplateScrub]] and
    * the streaming line-frequency store.
    */
  private[graft] def lineRows(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__i", "__l")))
      .withColumn("__h", xxhash64(col("__l")))

  /** Rebuild each doc's text minus lines whose hash is in `frequent`
    * (one `__h` column) — the removal half of [[boilerplateScrub]],
    * shared with the streaming store's per-batch scrub. A doc whose
    * every line was frequent survives with empty text.
    */
  private[graft] def scrubAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      frequent: DataFrame
  ): DataFrame = {
    val rebuilt = lineRows(docs, idCol, textCol)
      .join(frequent, Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__i"), col("__l")))),
            x => x.getField("__l")), "\n").as("scrubbed_text"),
        count(lit(1)).as("n_lines_kept"))
    docs.select(col(idCol),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Deterministic per-stratum downsampling (training-mix construction:
    * "keep 100% of books, 10% of common-crawl"): a row survives iff its
    * id's 16-bit md5 bucket falls under its stratum's rate cutoff.
    * Pure projection+filter — no shuffle, no rand(), reproducible
    * across runs, retries, and partitionings, and any id kept at rate r
    * is also kept at every rate > r (nested samples for ablations).
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Seq[(String, Double)],
      defaultRate: Double
  ): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0, 1]: $rates default=$defaultRate")
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10).cast("int")
    val cutoff = rates.foldRight(lit((defaultRate * 65536).toInt): Column) {
      case ((stratum, r), other) =>
        when(col(strataCol) === stratum, lit((r * 65536).toInt)).otherwise(other)
    }
    df.filter(bucket < cutoff)
  }

  /** Exactly-n-per-stratum deterministic sample — the fixed-quota
    * complement of [[stratifiedSample]]'s rate-based form (eval-set
    * carving: "exactly 1000 docs per language"). Rows rank by the md5
    * of their id within each stratum, so membership is a pure function
    * of (id, stratum, n): stable across runs and partitionings, and
    * n' < n yields a strict subset. One shuffle on the stratum.
    */
  def stratifiedTake(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      n: Int
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Weight-proportional deterministic Bernoulli sampling — the
    * per-ROW generalization of [[stratifiedSample]]'s per-stratum
    * rates (quality-weighted corpus construction: "sample documents
    * proportional to quality/length score"). Row i survives with
    * probability min(1, rate * w_i / weightScale), decided by exact
    * integer cross-multiplication on the id's 16-bit md5 bucket:
    *
    *   u * weightScale < w * floor(rate * 65536)
    *
    * — no rand(), no floats, so membership is a pure function of
    * (id, weight, rate, scale): reproducible across runs, retries and
    * partitionings, and nested in `rate` (any row kept at rate r is
    * kept at every r' > r, so ablation subsets need no re-sampling).
    * Pure projection+filter: zero shuffle at any scale. `weightCol`
    * must be a non-negative integral column (a count, a scaled score).
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: Column,
      weightScale: Long,
      rate: Double
  ): DataFrame = {
    require(weightScale > 0, s"weightScale=$weightScale must be positive")
    require(rate >= 0.0 && rate <= 1.0, s"rate=$rate must be in [0, 1]")
    // The cutoff quantizes rate at 2^28 (u's 16 bits x a 2^12 guard):
    // u * weightScale * 2^12 < w * round(rate * 2^28). Equivalent to
    // the plain 16-bit form whenever rate*65536 is integral (both
    // sides scale by 4096), but a non-representable rate loses at
    // most 2^-28 relative — and a rate BELOW the resolution is an
    // error, not a silent keep-nothing.
    val rateNum = math.round(rate * (1L << 28))
    require(rate == 0.0 || rateNum > 0,
      s"rate=$rate is below the 2^-28 sampling resolution")
    require(weightScale <= (1L << 31),
      s"weightScale=$weightScale would overflow the 16+12-bit cutoff compare")
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long")
    // w * rateNum (rateNum < 2^28) silently wraps for w > 2^35 in
    // non-ANSI Spark, flipping sampling decisions — raise instead of
    // sampling wrong (a weight that large means the caller scaled
    // upstream; divide it down, don't widen the compare).
    val w = weightCol.cast("long")
    df.filter(
      // NULL weights drop (as the pre-guard filter always did); only
      // genuinely oversized weights raise
      when(w.isNull, lit(false))
        .when(w <= lit(Long.MaxValue >> 28),
          u * lit(weightScale * 4096L) < w * lit(rateNum))
        .otherwise(raise_error(concat(
          lit("weightedSample: weight "), w.cast("string"),
          lit(" exceeds 2^35 and would overflow the cutoff compare;"
            + " rescale the weight column")))))
  }

  /** Out-of-vocabulary rate against a deterministic top-`vocabSize`
    * corpus vocabulary — the tokenizer-coverage signal a pipeline
    * owner reads before committing a token budget ("what fraction of
    * this corpus does a k-entry vocab actually cover?"), and a
    * per-document quality gate (high OOV = noisy/foreign text).
    *
    * Scale shape: ONE aggregate shuffles (token, count) — never text;
    * the vocabulary is a driver-bounded top-k (count desc, token asc —
    * fully deterministic under ties) that BROADCASTS into a semi join,
    * so the corpus token stream is never shuffled for membership. The
    * rate divides two exact longs once, so values are bit-reproducible
    * across engines and partitionings.
    */
  def oovRate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int
  ): DataFrame = {
    require(vocabSize > 0, s"vocabSize=$vocabSize must be positive")
    val toks = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("tok"))
      .limit(vocabSize)
      .select("tok")
    val known = toks.join(broadcast(vocab), Seq("tok"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__known"))
    docs
      .select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(known, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__known"), lit(0L))).as("n_oov"),
        ((col("n_tokens") - coalesce(col("__known"), lit(0L))).cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("oov_rate"))
  }

  /** Training-window packing: lay every document's tokens end-to-end
    * (deterministic id order within each shard group) and cut the
    * stream every `capacity` tokens — exactly how LLM pre-training
    * concatenates documents with separators and slices fixed-length
    * context windows. Emits each document's absolute token offset and
    * the first/last window it lands in (a doc may straddle windows —
    * that IS the training contract).
    *
    * Scale shape: one window shuffle keyed on the shard group; the
    * running offset is an exact-integer cumulative sum over token
    * COUNTS (one long per doc — text never enters the exchange). The
    * group column is the parallelism unit: pack per shard/split, not
    * globally, or the sort degenerates to a single partition.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      capacity: Long
  ): DataFrame = {
    require(capacity > 0, s"capacity=$capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("tok_start",
        coalesce(
          sum(col("n_tokens")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(
        col("grp"), col("doc_id"), col("n_tokens"), col("tok_start"),
        floor(col("tok_start") / lit(capacity)).cast("long").as("win_first"),
        floor((col("tok_start") + col("n_tokens") - 1) / lit(capacity))
          .cast("long").as("win_last"))
  }

  /** Training-mix planning: given requested per-source weights and a
    * total token budget, the deterministic sampling rate each source
    * needs (rate = min(1, budget·weight / source_tokens)) — the number
    * that feeds [[stratifiedSample]] when building a weighted mix
    * ("30% of the budget from src0, 20% from src1, ..."). Weights are
    * taken as given (callers normalize); a source's rate caps at 1
    * when its allocation exceeds what it has.
    *
    * Scale shape: one aggregate of (source, count, token-sum) — output
    * is #sources rows; text never shuffles. The rate is one IEEE
    * multiply and one divide on exact inputs, bit-reproducible across
    * engines.
    */
  def sourceMixRates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      weights: Seq[(String, Double)],
      defaultWeight: Double,
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    require((defaultWeight +: weights.map(_._2)).forall(_ >= 0.0),
      s"weights must be non-negative: $weights default=$defaultWeight")
    val w = weights.foldRight(lit(defaultWeight): Column) {
      case ((s, wt), other) => when(col("source") === s, lit(wt)).otherwise(other)
    }
    docs
      .select(col(srcCol).as("source"),
        size(tokens(col(textCol))).cast("long").as("__n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
      .withColumn("target_tokens", lit(budgetTokens.toDouble) * w)
      .withColumn("rate",
        least(lit(1.0d), col("target_tokens") / col("n_tokens").cast(DoubleType)))
  }

  /** Temperature-based source mixing (the T5/multilingual recipe):
    * weights DERIVED from the data, w_i ∝ tokens_i^(1/T), flattening
    * the natural mix so small sources are oversampled relative to
    * their share — the counts-driven complement of
    * [[sourceMixRates]]' explicit weights. T = 2^sqrtTimes: the
    * weight is sqrt applied `sqrtTimes` times (T=2, 4, 8), because
    * IEEE requires sqrt correctly rounded on every engine while
    * pow(x, α) inherits libm drift — arbitrary temperatures would
    * break the oracle discipline, so they are deliberately not
    * offered. Weights quantize to micro units (floor·1e6, exact
    * BIGINT) so the normalizing sum is exact integer arithmetic and
    * each published `rate` is ONE IEEE division of two exact
    * decimal(38,0) products. One aggregation shuffle + a 1-row
    * total broadcast.
    */
  def temperatureMixRates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      budgetTokens: Long,
      sqrtTimes: Int = 1
  ): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    require(sqrtTimes >= 1 && sqrtTimes <= 3,
      s"sqrtTimes=$sqrtTimes outside [1, 3]: T = 2^sqrtTimes in {2, 4, 8}")
    val dec = DecimalType(38, 0)
    val perSrc = docs
      .select(col(srcCol).as("source"),
        size(tokens(col(textCol))).cast("long").as("__n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
    val wRaw = (1 to sqrtTimes)
      .foldLeft(col("n_tokens").cast(DoubleType))((c, _) => sqrt(c))
    val staged = perSrc.withColumn("weight_micro",
      floor(wRaw * lit(1000000.0)).cast("long"))
    val tot = staged.agg(sum(col("weight_micro")).as("__wsum"))
    staged.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0d),
        (lit(budgetTokens).cast(dec) * col("weight_micro").cast(dec))
          .cast(DoubleType)
          / (col("__wsum").cast(dec) * col("n_tokens").cast(dec))
            .cast(DoubleType)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight_micro"), col("rate"))
  }

  /** Per-document top-k salient terms by TF-IDF with the raw idf
    * variant score = tf * (N / df) — multiplicative idf avoids
    * transcendental functions, keeping the score bit-reproducible
    * across engines (one IEEE divide + one multiply; ln() is libm-
    * dependent). Ties break on the term itself. Term-level rows only
    * ever shuffle (by term for the df join, by doc for the ranking);
    * document text stays in the scan stage.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minTf: Long
  ): DataFrame = {
    val nDocs = docs.count()
    val terms = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.filter(col("tf") >= minTf)
      .join(docFreq, Seq("term"))
      .withColumn("score",
        col("tf").cast("double") * (lit(nDocs).cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  /** Feature-hashing TF vectors in SPARSE form — (doc_id, bucket,
    * weight) rows with L2-normalized weights — the model-free text
    * embedding (hashing trick): token → md5-derived bucket in [0, dim),
    * weight = in-doc count / L2 norm. Sparse is the scale shape: a doc
    * touches at most min(#tokens, dim) buckets, so the frame is
    * corpus-token-bounded regardless of dim, and downstream similarity
    * joins on `bucket` ARE an inverted index. The md5-prefix bucket is
    * oracle-reproducible.
    */
  def hashingTfSparse(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int
  ): DataFrame =
    hashingTfSparseWithNorm(docs, idCol, textCol, dim).drop("__n2")

  /** [[hashingTfSparse]] plus the per-doc squared L2 norm `__n2` —
    * all computed WITHOUT a shuffle: [[HashTfMap]] counts buckets
    * inside the row, the norm folds over the map values before the
    * explode, so the whole frame is a narrow projection of the
    * document scan. (The previous explode → groupBy → window plan
    * shuffled every token row twice before any similarity work.)
    * Consumers like [[sparseCosineTopK]] carry `__n2` through their
    * aggregation instead of re-deriving norms with a groupBy + join.
    */
  def hashingTfSparseWithNorm(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int
  ): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    val s = HashTf.hash_tf(split(trim(lower(col(textCol))), "\\s+"), dim)
    docs
      .select(col(idCol).as("doc_id"), s.as("__s"))
      .select(col("doc_id"), col("__s").getField("n2").as("__n2"),
        explode(col("__s").getField("tf")).as(Seq("bucket", "c")))
      .select(col("doc_id"), col("bucket"), col("c"),
        (col("c").cast("double") / sqrt(col("__n2").cast("double"))).as("w"),
        col("__n2"))
  }

  /** Exact cosine top-k over the sparse TF frame via its inverted
    * index: the query docs' rows are BROADCAST, candidates join on
    * `bucket` (each query row meets only candidates sharing a bucket —
    * never all-pairs). The dot product sums exact INTEGER counts
    * (order-independent by construction — no float accumulation
    * anywhere), and cosine divides by the two L2 norms once at the end:
    * bit-reproducible across engines, partitionings, and runs.
    *
    * `maxBucketDocs > 0` enables stop-bucket pruning — the inverted-
    * index analog of the banded self-joins' [[capBuckets]] guard: a
    * bucket touched by more than that many documents (a stop word at
    * corpus scale) is excluded from candidate generation AND from the
    * dot product, bounding the join fan-out per query row. Norms keep
    * all buckets, so pruned similarity is a strict underestimate of
    * exact cosine (never inflated). 0 = exact.
    */
  def sparseCosineTopK(
      tf: DataFrame,
      queryPred: Column,
      k: Int,
      maxBucketDocs: Long = 0L
  ): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("doc_id"))
    // Norm-carrying TF ([[hashingTfSparseWithNorm]]) arrives with each
    // row knowing its doc's full squared norm; a legacy norm-free TF is
    // normalized into that shape first (one groupBy + join over the
    // UNCAPPED frame — norms must keep all buckets so pruned similarity
    // stays a strict underestimate). From there a single pipeline:
    // candidate-join → one pair aggregation (norms ride along as max()
    // of a per-doc constant) → top-k window. Two exchanges total.
    val withN2 =
      if (tf.columns.contains("__n2")) tf
      else tf.join(
        tf.groupBy(col("doc_id")).agg(sum(col("c") * col("c")).as("__n2")),
        Seq("doc_id"))
    val scored =
      if (maxBucketDocs <= 0L) withN2
      else capBuckets(withN2, Seq("bucket"), maxBucketDocs)
    val queries = scored.filter(queryPred)
      .select(col("doc_id").as("query_id"), col("bucket"),
        col("c").as("__qc"), col("__n2").as("__qn2"))
    // Two pinned exchanges (graft.api.Par.spread), same count as the
    // previous plan's (pair-aggregate + top-k window), placed so every
    // compute stage runs cores-wide instead of the 1-task stages AQE's
    // byte-sized coalescing produced (round-15 profile: 1.2 s TF+join
    // stage, 0.7 s agg+window stage, both single-task at sf0.1):
    //  1. postings by doc_id — the candidate join (broadcast queries)
    //     and the dot-product partial aggregation spread over the
    //     session width; postings are fixed-size (doc, bucket, count)
    //     rows, never text (guide §8's lightweight-proxy rule);
    //  2. candidates by query_id — hash(query_id) satisfies both the
    //     (query_id, doc_id) pair aggregate and the top-k window, so
    //     the two previous exchanges collapse into this one and the
    //     whole tail completes in-place.
    val postings = graft.api.Par.spread(scored, Seq(col("doc_id")))
    val candidates = postings.join(broadcast(queries), Seq("bucket"))
      .filter(col("doc_id") =!= col("query_id"))
    graft.api.Par.spread(candidates, Seq(col("query_id")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c") * col("__qc")).as("__dot"),
        max(col("__n2")).as("__dn2"), max(col("__qn2")).as("__qn2m"))
      .withColumn("sim",
        col("__dot").cast("double") /
          (sqrt(col("__dn2").cast("double")) * sqrt(col("__qn2m").cast("double"))))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("sim"), col("rank"))
  }

  /** SimHash near-dup pairs: fingerprint every doc (row-local custom
    * expression), band by FOUR disjoint 16-bit keys (the standard
    * rotated-table trick), self-join within each band bucket, filter by
    * hamming distance, dedup pairs found in multiple bands.
    *
    * Recall guarantee: a pair at hamming distance <= 3 differs in at
    * most 3 bits, which can touch at most 3 of the 4 bands — so the
    * pair agrees EXACTLY on at least one full 16-bit band and is always
    * a join candidate (pigeonhole).
    *
    * Skew guard: a degenerate band value (e.g. thousands of near-empty
    * docs with identical fingerprint bits) would go quadratic inside
    * its bucket; buckets larger than `bucketCap` docs are dropped
    * before the self-join. At the default cap this only fires on
    * pathological buckets where the quadratic join would dominate the
    * whole job — the pairs inside a dropped bucket are better served by
    * exact dedup (they are near-identical by construction).
    */
  def simhashNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val fp = docs.select(
      col(idCol),
      SimHash64.simhash64(tokens(col(textCol))).as("simhash"))
    bandedHammingPairs(fp, idCol, "simhash", maxHamming, bucketCap)
      .withColumnRenamed("id_a", "doc_a")
      .withColumnRenamed("id_b", "doc_b")
  }

  /** Incremental SimHash near-dup: fingerprint pairs between a NEW
    * batch and the standing corpus at hamming <= `maxHamming` — the
    * SimHash counterpart of [[minhashCrossPairs]], completing the
    * incremental-ingest story across both text-LSH modalities. Each
    * side bands independently (with its own hot-bucket cap), the join
    * is new x known only, so work scales with the batch — and at
    * 100 TB the corpus side's banded keys are the 10-byte-per-band
    * signature store a deployment persists once.
    */
  def simhashCrossPairs(
      newDocs: DataFrame,
      newIdCol: String,
      newTextCol: String,
      known: DataFrame,
      knownIdCol: String,
      knownTextCol: String,
      maxHamming: Int,
      bucketCap: Long = 10000L
  ): DataFrame = {
    require(maxHamming <= 3, s"4 disjoint 16-bit bands guarantee recall only to hamming 3: $maxHamming")
    def fpOf(df: DataFrame, id: String, text: String) = df.select(
      col(id), SimHash64.simhash64(tokens(col(text))).as("simhash"))
    val n = bandFp64(fpOf(newDocs, newIdCol, newTextCol), newIdCol, "simhash", bucketCap)
      .select(col(newIdCol).as("new_id"), col("simhash").as("__fn"),
        col("band"), col("h"))
    val k = bandFp64(fpOf(known, knownIdCol, knownTextCol), knownIdCol, "simhash", bucketCap)
      .select(col(knownIdCol).as("known_id"), col("simhash").as("__fk"),
        col("band"), col("h"))
    n.join(k, Seq("band", "h"))
      .withColumn("hamming", bit_count(col("__fn").bitwiseXOR(col("__fk"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("new_id"), col("known_id"), col("hamming"))
      .distinct()
  }

  /** Near-dup pairs over ANY 64-bit fingerprint column (simhash,
    * image/video dHash): band into four disjoint 16-bit keys, self-join
    * within band buckets, keep pairs at hamming <= `maxHamming`. The
    * pigeonhole recall guarantee (<= 3 flipped bits can touch at most
    * 3 of 4 bands) and the capBuckets skew guard come with the shape.
    */
  /** Band a 64-bit fingerprint into four disjoint 16-bit keys and
    * apply the hot-bucket guard — the shared stage behind the
    * hamming self-join and the incremental cross-join.
    */
  private def bandFp64(
      fp: DataFrame,
      idCol: String,
      hashCol: String,
      bucketCap: Long
  ): DataFrame =
    capBuckets(bandFp64Raw(fp, idCol, hashCol), Seq("band", "h"), bucketCap)

  private def bandFp64Raw(
      fp: DataFrame,
      idCol: String,
      hashCol: String
  ): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(
        lit(b).as("band"),
        shiftrightunsigned(col(hashCol), b * 16).bitwiseAND(lit(65535L)).as("h"))
    }
    fp
      .select(col(idCol), col(hashCol), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col(hashCol), col("__b.band").as("band"), col("__b.h").as("h"))
  }

  /** What `bucketCap` does to the 4×16-bit band buckets of ANY 64-bit
    * fingerprint column (text SimHash, image/video dHash, audio
    * energy hash) — the observability companion to every
    * [[bandedHammingPairs]]-shaped operator
    * ([[graft.operators.CapReport.of]]).
    */
  def fp64CapReport(
      fp: DataFrame,
      idCol: String,
      hashCol: String,
      bucketCap: Long = 10000L
  ): DataFrame =
    graft.operators.CapReport.of(
      bandFp64Raw(fp, idCol, hashCol), Seq("band", "h"), idCol, bucketCap)

  /** [[fp64CapReport]] over the SimHash fingerprints of a text corpus
    * — the companion to [[simhashNearDupPairs]].
    */
  def simhashCapReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bucketCap: Long = 10000L
  ): DataFrame =
    fp64CapReport(
      docs.select(col(idCol),
        SimHash64.simhash64(tokens(col(textCol))).as("simhash")),
      idCol, "simhash", bucketCap)

  private[graft] def bandedHammingPairs(
      fp: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      bucketCap: Long
  ): DataFrame = {
    require(maxHamming <= 3, s"4 disjoint 16-bit bands guarantee recall only to hamming 3: $maxHamming")
    val guarded = bandFp64(fp, idCol, hashCol, bucketCap)
    val a = guarded.select(col(idCol).as("id_a"), col(hashCol).as("fp_a"), col("band"), col("h"))
    val b = guarded.select(col(idCol).as("id_b"), col(hashCol).as("fp_b"), col("band"), col("h"))
    a.join(b, Seq("band", "h"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Corpus-level n-gram counts over a cutoff — the canonical
    * web-scale counting job ("count every 5-gram in the crawl"). One
    * shuffle of (gram -> partial counts): the explode feeds a hash
    * aggregate whose map-side combine collapses each partition's grams
    * before the exchange, and the top-k is a TakeOrdered, so the
    * driver sees k rows, never the gram table.
    *
    * Emits (ngram, n_docs, n_occurrences) for grams in >= `minCount`
    * occurrences, top `k` by (occurrences desc, gram) — the
    * deterministic tie-break keeps the LIMIT stable across engines.
    */
  def ngramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minCount: Long,
      k: Int
  ): DataFrame = {
    require(n > 0, s"n=$n must be positive")
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
    // sequence(1, size-n+1) descends when size < n (Spark fills
    // descending sequences) — guard to an empty gram list instead
    val grams = toks.select(
      col("doc_id"),
      explode(
        when(size(col("__t")) >= n,
          transform(sequence(lit(1), size(col("__t")) - n + 1), i =>
            array_join(slice(col("__t"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("ngram"))
    grams
      .groupBy(col("ngram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(k)
  }

  /** BM25 ranked retrieval for a fixed term set, with the raw-odds
    * idf variant `(N - df + 0.5) / (df + 0.5)` (the expression inside
    * BM25's log; transcendental-free so every engine computing IEEE
    * doubles in this operation order produces bit-identical scores).
    *
    * Scale shape: document length is a projection (`size(tokens)` —
    * no explode); the tf aggregate shuffles only (doc, term) rows for
    * the |q| query terms, never the corpus's full token stream; df and
    * the (N, avgdl) scalars are term-table-sized and broadcast. The
    * per-doc score folds the per-term partials in fixed term order —
    * one summation tree, reproducible across partitionings.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.distinct == terms, s"duplicate query terms: $terms")
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"), col("__t"), size(col("__t")).cast("long").as("dl"))
    val corpus = base.select(
      sum(col("dl")).as("total_dl"), count(lit(1)).as("n_docs"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("__t")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val df = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("__avgdl",
        col("total_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("__idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("__s",
        col("__idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("__avgdl"))))
    // fold per-term partials in the caller's term order: each sum sees
    // at most one non-null row, so the aggregate is exact and the final
    // addition chain is a fixed left-to-right tree
    val perTerm = terms.map(t =>
      sum(when(col("term") === lit(t), col("__s")).otherwise(lit(0.0))).as(s"__s_$t"))
    val matched = sum(lit(1)).cast("long")
    scored
      .groupBy(col("doc_id"))
      .agg(perTerm.head, (perTerm.tail :+ matched.as("n_terms_matched")): _*)
      .withColumn("score", terms.map(t => col(s"__s_$t")).reduceLeft(_ + _))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score"), col("n_terms_matched"))
  }

  /** Bigram continuation statistics — the count-based language-model
    * table a memorization / contamination audit reads: for the top
    * bigrams, the exact conditional probability p(w2 | w1) =
    * c(w1 w2) / c(w1 ·). Both counts are exact integers and the
    * probability is ONE IEEE division, so rows are bit-reproducible.
    * One gram aggregate (map-side combined) + a broadcast join of the
    * vocabulary-sized prefix table; top-k is a TakeOrdered.
    */
  def bigramLm(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long,
      k: Int
  ): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("__t"))
    val pairs = toks.select(
      explode(
        when(size(col("__t")) >= 2,
          transform(sequence(lit(1), size(col("__t")) - 1), i =>
            struct(element_at(col("__t"), i).as("w1"),
              element_at(col("__t"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val uni = bi.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_prefix"))
    bi.join(broadcast(uni), Seq("w1"))
      .filter(col("n_pair") >= minCount)
      .withColumn("p",
        col("n_pair").cast("double") / col("n_prefix").cast("double"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_prefix"), col("p"))
  }

  /** Exact phrase search over a positional inverted index: emit
    * (doc_id, position) for every occurrence of the token phrase.
    * The corpus's token stream is filtered to the PHRASE'S terms
    * before anything shuffles (at 100 TB the pushed `isin` means the
    * postings exchange carries only the queried terms' rows, a
    * vanishing fraction of the corpus — where a LIKE scan reads every
    * byte of text). Adjacency is k-1 self-equi-joins on
    * (doc, pos + offset) — banded, never positional windows over
    * full documents.
    */
  def phraseSearch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phrase: Seq[String]
  ): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one token")
    val postings = docs
      .select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
    val first = postings.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(first) { case (acc, (tok, off)) =>
      acc.join(
        postings.filter(col("term") === tok)
          .select(col("doc_id"), (col("pos") - off).as("pos")),
        Seq("doc_id", "pos"))
    }.select(col("doc_id"), col("pos").cast("long").as("pos"))
  }

  /** Curriculum binning: n-tile rank of each row's score WITHIN its
    * stratum (per-source quality deciles — the table a curriculum
    * schedule or a quality-pruning threshold reads). Ties break on the
    * row id, so bin assignment is deterministic across engines and
    * partitionings. One shuffle on the stratum key; at 100 TB strata
    * (sources/languages) are many and balanced, and rows carry only
    * (id, stratum, score) into the exchange.
    */
  def curriculumBins(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      scoreCol: String,
      nBins: Int
  ): DataFrame = {
    require(nBins > 0, s"nBins=$nBins must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col(scoreCol), col(idCol))
    df.withColumn("bin", ntile(nBins).over(w).cast("long"))
  }

  /** Quality-first token-budget selection: per stratum (source), rank
    * docs by quality score (best first, doc_id tiebreak) and keep the
    * prefix whose cumulative token count fits `budgetTokens` — the
    * curation step that turns "we can afford N tokens of source X per
    * epoch" into a concrete, deterministic document set. The running
    * total is an exact integer window sum, so the cut point is
    * reproducible regardless of partitioning.
    *
    * One keys-partitioned window (single exchange on the stratum);
    * token counting is the row-local [[textStats]] projection. At
    * 100 TB the per-source window sort is the honest cost of a global
    * quality-ordered prefix; an approximate variant would bucket by
    * score decile ([[curriculumBins]]) and cut at bucket granularity.
    */
  def tokenBudget(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      budgetTokens: Long
  ): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    val st = textStats(docs, idCol, textCol, carry = Seq(strataCol))
      .select(col(idCol), col(strataCol), col("n_tokens"),
        qualityScoreCol.as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("quality_score").desc_nulls_last, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    st
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** Content-defined chunking (FastCDC for token streams): cut each
    * document at positions where the rolling w-gram hash lands on a
    * chosen residue, so chunk boundaries follow CONTENT, not offsets —
    * an insertion near the head of a re-crawled page changes only the
    * chunks it touches, and every later chunk keeps its hash. Chunk-
    * hash equality across crawls/documents is therefore a shift-robust
    * dedup unit (the incremental complement of [[spanDedup]]'s fixed
    * blocks).
    *
    * Scale shape: boundary detection, chunk assembly, and hashing are
    * one row-local projection (array HOFs over the token list — zero
    * shuffle, zero state); downstream dedup shuffles only 16-byte
    * chunk hashes. Expected chunk length is `modulus` tokens.
    *
    * Emits (doc_id, chunk_idx, chunk_hash, n_tokens, chunk_text).
    */
  def cdcChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      modulus: Int,
      carry: Seq[String] = Nil
  ): DataFrame = {
    require(w > 0, s"w=$w must be positive")
    require(modulus > 1, s"modulus=$modulus must exceed 1")
    val toks = docs.select(
        col(idCol).as("doc_id") +: carry.map(col) :+ tokens(col(textCol)).as("__t"): _*)
      .withColumn("__n", size(col("__t")))
    // gram ending at i (1-based, i in [w, n-1] — a boundary at n would
    // open an empty final chunk): boundary iff low hash bits hit 0
    val gramHash = (i: Column) =>
      pmod(conv(substring(md5(array_join(
        slice(col("__t"), i - w + 1, lit(w)), " ").cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(modulus))
    val cuts = toks.withColumn("__cuts",
      concat(
        array(lit(0)),
        when(col("__n") > w,
          filter(transform(sequence(lit(w), col("__n") - 1), i =>
            when(gramHash(i) === 0, i).otherwise(lit(null))), x => x.isNotNull))
          .otherwise(array().cast("array<int>")),
        array(col("__n"))))
    cuts
      .select(col("doc_id") +: carry.map(col) :+
        posexplode(transform(sequence(lit(1), size(col("__cuts")) - 1), k =>
          slice(col("__t"),
            element_at(col("__cuts"), k) + 1,
            element_at(col("__cuts"), k + 1) - element_at(col("__cuts"), k))))
          .as(Seq("chunk_idx", "__chunk")): _*)
      .select(col("doc_id") +: carry.map(col) :+
        col("chunk_idx").cast("long").as("chunk_idx") :+
        md5(array_join(col("__chunk"), " ").cast("binary")).as("chunk_hash") :+
        size(col("__chunk")).cast("long").as("n_tokens") :+
        array_join(col("__chunk"), " ").as("chunk_text"): _*)
  }

  /** Frozen linear quality classifier over hashed bag-of-words —
    * model inference as a pure projection+aggregate. Weights are
    * derived from the bucket id's md5 (a stand-in for a trained
    * fastText-style model shipped as a literal table): quarter-unit
    * values in [-3/4, 3/4], so `margin = sum(tf_b * w_b) + bias` is a
    * sum of exact dyadic rationals — order-independent, bit-identical
    * under any partitioning, and reproducible in any IEEE engine.
    *
    * Scale shape: tokens shuffle once as (doc, bucket) partial counts
    * (map-side combined, `dim`-bounded per doc); the weight is a
    * projection of the bucket id, so no weight table joins — at 100 TB
    * the model rides the scan for free.
    */
  def linearQualityScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int,
      bias: Double = -0.25
  ): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    val bucket = pmod(
      conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long"), lit(dim))
    val weight = (pmod(
      conv(substring(md5(concat(lit("w"), col("bucket"))), 1, 8), 16, 10).cast("long"),
      lit(7)) - lit(3)).cast("double") / lit(4.0)
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("__tok"))
      .filter(col("__tok") =!= "")
      .select(col("doc_id"), bucket.as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("__w", weight)
      .groupBy(col("doc_id"))
      .agg((sum(col("c").cast("double") * col("__w")) + lit(bias)).as("margin"),
        sum(col("c")).as("n_tokens"))
      .select(col("doc_id"), col("margin"),
        (col("margin") > lit(0.0)).as("keep"), col("n_tokens"))
  }

  /** Token-rarity (surprisal-proxy) score: rank the corpus vocabulary
    * by frequency, charge each token occurrence floor(log2(rank)) bits
    * (`length(bin(rank)) − 1` — the integer trick the inter-arrival
    * histogram uses), and report each document's token count, total
    * bits, and mean bits/token — a perplexity-shaped quality signal
    * computed entirely in exact integers plus ONE final division, so
    * it hash-matches where a float log-prob sum could not.
    *
    * Shape at scale: the vocab aggregate is map-side combinable; the
    * global rank runs DISTRIBUTED ([[graft.operators.RankOps
    * .distributedRank]] — range partitions + broadcast offsets, never
    * a single-task sort even at web-scale vocabularies); the rank
    * join is a plain equi-join AQE will broadcast when the vocab is
    * small enough.
    */
  /** Distinctive terms per document cluster: cluster-level term
    * frequency weighted by corpus-level inverse document frequency
    * (the [[tfidfTopTerms]] score lifted from documents to clusters) —
    * the human-readable label for an embedding-space topic cluster.
    * `clusters` carries (doc_id, cluster) from any assignment (k-means
    * over embeddings in the shipped query). Deterministic: counts are
    * exact longs, the score is a fixed two-op IEEE chain, and the
    * per-cluster rank breaks ties on the term itself.
    *
    * Scale: token explode → two hash aggregates (cluster-term, term
    * df) + one broadcast-friendly join; no all-pairs anything.
    */
  def clusterTopTerms(
      docs: DataFrame,
      clusters: DataFrame,
      idCol: String,
      textCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val nDocs = docs.count()
    val terms = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val docFreq = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("__tfd"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val ctf = terms.join(clusters, "doc_id")
      .groupBy(col("cluster"), col("term")).agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("score").desc, col("term").asc)
    ctf.join(docFreq, Seq("term"))
      .withColumn("score",
        col("tf").cast(DoubleType) *
          (lit(nDocs).cast(DoubleType) / col("df").cast(DoubleType)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cluster"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Dataset-card summary per (source, lang): document count, exact
    * char/token totals, exact-hash unique-document count, and the
    * derived mean-tokens and duplicate-ratio — the one-page corpus
    * report a training-data release ships. One map-side-combinable
    * aggregate; tokens counted row-local; every float is one division
    * of exact longs.
    */
  def corpusCard(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nToks = when(trim(t) === "", lit(0L))
      .otherwise(size(split(trim(t), "\\s+")).cast("long"))
    docs
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(nToks).as("total_tokens"),
        countDistinct(md5(t)).as("n_unique"))
      .select(col("source"), col("lang"), col("n_docs"), col("total_chars"),
        col("total_tokens"), col("n_unique"),
        (col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("mean_tokens"),
        ((col("n_docs") - col("n_unique")).cast(DoubleType) /
          col("n_docs").cast(DoubleType)).as("dup_ratio"))
  }

  def rarityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
    // distributed exact rank: a web-scale vocabulary (1e8+ terms) must
    // not funnel through one un-partitioned window task
    val ranked = graft.operators.RankOps.distributedRank(vocab,
      Seq(col("__n").desc, col("tok").asc), "__rank")
      .select(col("tok"), col("__rank"))
    toks.join(ranked, "tok")
      .select(col("doc_id"),
        (length(bin(col("__rank"))) - 1).cast("long").as("__bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__bits")).as("surprisal_bits"))
      .withColumn("mean_bits",
        col("surprisal_bits").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  /** Cross-source overlap matrix: for every unordered source pair, how
    * many DISTINCT `shingleSize`-gram shingles appear in both — the
    * overlap diagnostic behind crawl-dedup priorities and
    * contamination triage ("how much of source B's material is
    * already in source A?"). Shingle grain catches shared passages
    * where whole-document hashing sees nothing (distinct documents can
    * still carry the same boilerplate or quoted blocks).
    *
    * Scale shape: shingles leave the scan as (source, md5) pairs,
    * distinct-collapsed BEFORE the self-join, so the join key is a
    * 16-byte digest whose fan-out is #sources-containing-the-shingle
    * (bounded by the source count, typically tens) — never
    * document-quadratic.
    */
  def crossSourceOverlap(
      docs: DataFrame,
      textCol: String,
      sourceCol: String = "source",
      shingleSize: Int = 3
  ): DataFrame = {
    // Digest-keyed distinct (graft.api.Par.spread on __h): hash(__h)
    // satisfies the distinct's (src, h) clustering AND is exactly the
    // self-join's required distribution, so ONE pinned exchange —
    // reused by both join sides (identical subtree) — replaces the
    // previous three (distinct on (src, h) + a per-side __h exchange),
    // and the distinct/join/count stages run cores-wide instead of the
    // single task AQE's byte-sized coalescing left them (round-15
    // profile: 0.5 s 1-task join stage at sf0.1). Trade-off: the
    // exchange carries pre-distinct digest rows (per-doc shingles are
    // already array_distinct'd, so the lost map-side combine is only
    // cross-doc duplicates within a source).
    val h = graft.api.Par.spread(
      docs.select(col(sourceCol).as("__src"),
          explode(array_distinct(
            shingles(tokens(col(textCol)), shingleSize))).as("__s"))
        .select(col("__src"), md5(col("__s")).as("__h")),
      Seq(col("__h"))).distinct()
    h.select(col("__src").as("source_a"), col("__h"))
      .join(h.select(col("__src").as("source_b"), col("__h")), "__h")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-document n-gram novelty: the fraction of a doc's DISTINCT
    * shingles whose FIRST corpus appearance (min doc id) is this doc.
    * The corpus-curation dual of near-dup detection — instead of
    * asking "who does this doc copy?", it scores how much material
    * the doc contributes that no earlier doc had (novelty ~0 = pure
    * recombination; ~1 = fresh content). Deterministic given the
    * corpus's id order, so it doubles as a streaming-ingest keep
    * signal ("only keep docs adding >X% new shingles").
    *
    * Scale shape: shingles leave the scan as md5 digests, so both
    * shuffles (first-owner aggregate, ownership join) carry fixed
    * 32-byte keys, never text — the exact-dedup discipline applied to
    * shingle grain. Output rows = docs with >= n tokens.
    */
  def ngramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int
  ): DataFrame = {
    val ds = docs.select(
      col(idCol).as("doc_id"),
      explode(array_distinct(
        shingles(tokens(col(textCol)), shingleSize))).as("__s"))
      .select(col("doc_id"), md5(col("__s")).as("__h"))
    val owner = ds.groupBy(col("__h")).agg(min(col("doc_id")).as("__first"))
    ds.join(owner, "__h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_shingles").cast(DoubleType))
  }

  /** Per-document bigram fluency: the mean corpus-conditional
    * probability of the doc's word transitions, integer-scaled — the
    * sequence-level quality signal that separates formulaic/templated
    * text (high: every bigram is a common continuation) from
    * gibberish or shuffled text (low: transitions the corpus LM has
    * never seen), where unigram rarity ([[rarityScore]]) cannot tell
    * the two apart.
    *
    * Transcendental-free: each bigram instance scores
    * floor(n_pair * 1000 / n_prefix) in exact integers (milli-
    * probability), summed per doc; only the reported mean divides
    * once as IEEE doubles. Bit-identical across engines and
    * partitionings.
    *
    * Scale shape: instances collapse map-side to per-(doc, bigram)
    * multiplicities before any join; the LM tables are aggregates of
    * the same pairs frame (vocabulary-bounded), joined on w1/w2 hash
    * keys — inverted-index shape, no broadcast of an unbounded
    * vocabulary, no window over full documents.
    */
  def bigramFluency(
      docs: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    val pairs = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .select(col("doc_id"),
        explode(
          when(size(col("__t")) >= 2,
            transform(sequence(lit(1), size(col("__t")) - 1), i =>
              struct(element_at(col("__t"), i).as("w1"),
                element_at(col("__t"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("__p"))
      .select(col("doc_id"), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    // Materialized once: perDoc feeds both the LM tables (bi → uni)
    // and the final scoring join, and the planner did NOT reuse the
    // aggregate's exchange across the two consumers — the round-15
    // profile showed the whole tokenize + bigram-explode + partial-agg
    // map stage running TWICE (2 × 0.44 s identical stages at sf0.1).
    // The checkpoint pays one write of the per-(doc, bigram) counts to
    // collapse the doubled text pass.
    // Fault-tolerance trade-off (r15 advice): an EAGER localCheckpoint
    // truncates lineage onto executor-local storage — an executor loss
    // mid-query makes the downstream stages unrecoverable (no
    // recompute path), and the checkpoint job runs at DataFrame
    // construction even if the caller never executes the result.
    // Acceptable for this engine's bounded single-tenant sessions
    // (the DedupGroups precedent); a long multi-tenant deployment
    // would gate it behind the session's checkpoint policy.
    val perDoc = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("__m"))
      .localCheckpoint(true)
    val bi = perDoc.groupBy(col("w1"), col("w2"))
      .agg(sum(col("__m")).as("__n_pair"))
    val uni = bi.groupBy(col("w1")).agg(sum(col("__n_pair")).as("__n_prefix"))
    perDoc
      .join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .select(col("doc_id"), col("__m"),
        (col("__m") * expr("__n_pair * 1000 div __n_prefix")).as("__milli"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__m")).as("n_bigrams"),
        sum(col("__milli")).as("fluency_sum_milli"))
      .withColumn("mean_fluency_milli",
        col("fluency_sum_milli").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType))
  }

  /** The RAKE delimiter stopwords — the same tiny deterministic list
    * [[textStats]]/[[langId]] count (a real deployment swaps in a full
    * list; the operator contract is identical).
    */
  val RakeStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** RAKE keyword extraction (Rose et al. 2010), ratio-of-sums
    * scoring: candidate phrases are maximal stopword-free token runs;
    * each word's freq counts its occurrences and its degree sums the
    * lengths of the phrases it appears in (the co-occurrence-graph
    * degree, self included). The classic phrase score Σ deg(w)/freq(w)
    * is a rational sum no engine keeps exact, so this scores
    * Σ deg(w) / Σ freq(w) — the same ranking intuition ("long phrases
    * of widely-co-occurring words win") with ONE division of exact
    * longs, and the top-K ordered by the floor-scaled integer ratio so
    * tie-breaks cannot differ across engines.
    *
    * Scale shape: one posexplode (corpus-token rows), the run-grouping
    * window on (doc, pos) — the exchange every per-doc op pays — then
    * hash aggregates; the word-stats join is vocabulary-bounded.
    * TakeOrderedAndProject for the top-K, no global sort.
    */
  def rakeKeywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int
  ): DataFrame = {
    require(topK > 0, s"topK=$topK must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // The run-grouping window's exchange already carries the exploded
    // token rows (fixed-size (doc, pos, tok) — never the text column);
    // the pin (graft.api.Par) only sets its width, which AQE had
    // coalesced to one task at sf0.1.
    val toks = graft.api.Par.spread(
      docs
        .select(col(idCol).as("doc_id"),
          posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0),
      Seq(col("doc_id")))
    val runs = toks
      .filter(!col("tok").isInCollection(RakeStopwords))
      .withColumn("grp", col("pos") - row_number().over(w))
    val withLen = runs.withColumn("len",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("grp"))))
    val wordStats = withLen.groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("degree"))
    val perPhrase = withLen
      .join(wordStats, Seq("tok"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("__len"),
        sum(col("degree")).as("__sdeg"),
        sum(col("freq")).as("__sfreq"))
    perPhrase
      .groupBy(col("phrase"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        max(col("__len")).as("n_words"),
        max(col("__sdeg")).as("sum_degree"),
        max(col("__sfreq")).as("sum_freq"))
      .withColumn("rake_score",
        col("sum_degree").cast(DoubleType) / col("sum_freq").cast(DoubleType))
      .orderBy(expr("sum_degree * 10000 div sum_freq").desc, col("phrase"))
      .limit(topK)
  }

  /** TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    * word-adjacency graph — an undirected edge links each pair of
    * DISTINCT non-stopword tokens adjacent in the text (window 2), and
    * [[graft.operators.GraphOps.pagerankPinnedKeyed]] runs the pinned
    * integer fixed-point directly on the word nodes (no id mapping —
    * ranks are exact scaled longs, so the top-K order cannot drift
    * across engines; ties break on the word).
    *
    * Scale shape: bigram generation is row-local (the [[bigramFluency]]
    * transform), edges collapse to the vocabulary-adjacency size before
    * any iteration, and each PageRank round is one join + one aggregate
    * over that edge list.
    */
  def textrankKeywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int
  ): DataFrame = {
    require(topK > 0, s"topK=$topK must be positive")
    val pairs = docs
      .select(tokens(col(textCol)).as("__t"))
      .select(explode(
        when(size(col("__t")) >= 2,
          transform(sequence(lit(1), size(col("__t")) - 1), i =>
            struct(element_at(col("__t"), i).as("w1"),
              element_at(col("__t"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    val edges = pairs
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0 &&
        col("w1") =!= col("w2") &&
        !col("w1").isInCollection(RakeStopwords) &&
        !col("w2").isInCollection(RakeStopwords))
      .select(least(col("w1"), col("w2")).as("x"),
        greatest(col("w1"), col("w2")).as("y"))
      .distinct()
    graft.operators.GraphOps.pagerankPinnedKeyed(edges)
      .select(col("node").as("word"), col("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("word"))
      .limit(topK)
  }

  /** Flesch reading ease per document, fully deterministic: words are
    * letter runs of the lowercased text, sentences are [.!?]+ runs
    * (min 1), syllables the vowel-group count per word (min 1) — the
    * standard dictionary-free heuristic. The score
    * 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is a FIXED expression tree
    * of correctly-rounded IEEE ops on exact integer operands — a
    * per-row scalar, so no summation-order hazard — and hash-matches
    * any engine evaluating the same tree.
    */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksC = filter(
      split(regexp_replace(lower(col(textCol)), "[^a-z]+", " "), " "),
      t => length(t) > 0)
    val nw = size(toksC).cast("long")
    val ns = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    val syl = aggregate(toksC, lit(0L), (acc, t) =>
      acc + greatest(lit(1),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))).cast("long"))
    docs.select(
      col(idCol).as("doc_id"),
      nw.as("n_words"), ns.as("n_sentences"), syl.as("n_syllables"),
      when(nw > 0,
        lit(206.835)
          - lit(1.015) * (nw.cast(DoubleType) / ns.cast(DoubleType))
          - lit(84.6) * (syl.cast(DoubleType) / nw.cast(DoubleType)))
        .as("flesch"))
  }
}
