package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.{ProductQuantizer, TextOps, VectorOps}
import graft.sources.Tables

/** The embedding vectors queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object VectorQueries {
  /** Seed coarse quantizer: centroid j = j-th smallest vec_id, assignment
    * argmin |c|^2 - 2 v.c with the lower cell on ties (`asg`).
    */
  private val seedIvfCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb AS cent,
                    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         c2 AS (SELECT j, cent, list_inner_product(cent, cent) AS cc FROM seed),
         asg AS (SELECT vec_id, j AS cluster FROM (
             SELECT e.vec_id, t.j,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY t.cc - 2.0 * list_inner_product(e.emb, t.cent), t.j) AS rn
             FROM e, c2 t) WHERE rn = 1)"""

  /** Seed-quantizer IVF with 2-probe search: each query's candidates in
    * its two nearest cells (`p`).
    */
  private val ivfProbeCtes: String =
    s"""$seedIvfCtes,
         ec AS (SELECT e.vec_id, e.emb, asg.cluster FROM e JOIN asg USING (vec_id)),
         q AS (SELECT vec_id AS query_id, emb AS qemb
               FROM ec WHERE vec_id < 20),
         pr AS (SELECT query_id, j AS probe_cluster FROM (
             SELECT q.query_id, t.j,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY t.cc - 2.0 * list_inner_product(q.qemb, t.cent), t.j) AS rn
             FROM q, c2 t) WHERE rn <= 2),
         p AS (SELECT q.query_id, ec.vec_id AS neighbor_id,
                      list_cosine_similarity(q.qemb, ec.emb) AS sim
               FROM q JOIN pr USING (query_id)
               JOIN ec ON ec.vec_id <> q.query_id AND ec.cluster = pr.probe_cluster)"""

  /** Seed-codebook PQ encode and the ADC-scored candidates of the first 20
    * vectors (`scored`).
    */
  private val pqAdcCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         seed AS (SELECT emb, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
         js AS (SELECT CAST(unnest(range(8)) AS INT) AS j),
         cent2 AS (SELECT js.j, seed.c,
                     list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8) AS cent,
                     list_inner_product(
                       list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8),
                       list_slice(seed.emb, js.j * 8 + 1, js.j * 8 + 8)) AS c2
                   FROM seed, js),
         enc AS (SELECT vec_id, j, c, c2 FROM (
             SELECT e.vec_id, t.j, t.c, t.c2,
                    row_number() OVER (PARTITION BY e.vec_id, t.j
                      ORDER BY t.c2 - 2.0 * list_inner_product(
                        list_slice(e.emb, t.j * 8 + 1, t.j * 8 + 8), t.cent), t.c) AS rn
             FROM e, cent2 t) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qemb,
                      sqrt(list_inner_product(emb, emb)) AS qnorm
               FROM e WHERE vec_id < 20),
         dt AS (SELECT q.query_id, t.j, t.c,
                       list_inner_product(
                         list_slice(q.qemb, t.j * 8 + 1, t.j * 8 + 8), t.cent) AS d
                FROM q, cent2 t),
         parts AS (SELECT q.query_id, enc.vec_id,
                          list(dt.d ORDER BY enc.j) AS ds,
                          list(enc.c2 ORDER BY enc.j) AS cs,
                          any_value(q.qnorm) AS qnorm
                   FROM enc
                   JOIN q ON enc.vec_id <> q.query_id
                   JOIN dt ON dt.query_id = q.query_id AND dt.j = enc.j AND dt.c = enc.c
                   GROUP BY 1, 2),
         scored AS (SELECT query_id, vec_id AS neighbor_id,
             CASE WHEN (cs[1]+cs[2]+cs[3]+cs[4]+cs[5]+cs[6]+cs[7]+cs[8]) = 0.0
                       OR qnorm = 0.0 THEN 0.0
                  ELSE (ds[1]+ds[2]+ds[3]+ds[4]+ds[5]+ds[6]+ds[7]+ds[8])
                       / (qnorm * sqrt(cs[1]+cs[2]+cs[3]+cs[4]+cs[5]+cs[6]+cs[7]+cs[8]))
             END AS sim
           FROM parts)"""

  val all: Seq[Q] = Seq(
    Q("q_cap_report_clusters", (s, dir) =>
      VectorOps.clusterCapReport(Tables.embeddings(s, dir), "vec_id", "label",
        clusterCap = 52),
      Some("""WITH bn AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(count(CASE WHEN n > 52 THEN 1 END) AS BIGINT) AS n_split_buckets,
                CAST(coalesce(sum(CASE WHEN n > 52 THEN (n + 51) // 52 END), 0) AS BIGINT)
                  AS n_split_blocks,
                CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket_n,
                CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_pair_comparisons
         FROM bn""")),

    // ----- ANN recall audit: recall@5 of the pinned IVF probe against
    // exact brute-force kNN, per query — THE index-ops metric (is the
    // speedup worth the misses?). Integer hit counts, one division ----
    Q("q_ann_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val exact = VectorOps.knnTopK(emb, "vec_id", "embedding", col("vec_id") < 20, k = 5)
      val cents = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iterations = 1)
      val withCluster = emb.join(
        VectorOps.kmeansAssign(emb, "vec_id", "embedding", k = 8, iterations = 1)
          .withColumnRenamed("id", "vec_id"), "vec_id")
      val ivf = VectorOps.knnTopKIvfProbe(withCluster, "vec_id", "embedding", "cluster",
        VectorOps.centroidsDF(s, cents), col("vec_id") < 20, k = 5, nprobe = 2)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(ivf.select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast(DoubleType) / col("k").cast(DoubleType))
    },
      // recall@5: the q_knn_ivf_probe pinned-IVF CTEs + the q_knn_topk
      // exact CTE, joined on (query, neighbor)
      Some(s"""WITH $ivfProbeCtes,
         iv AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM p) WHERE rnk <= 5),
         xp AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(q.qemb, e.emb) AS sim
                FROM q JOIN e ON e.vec_id <> q.query_id),
         xx AS (SELECT query_id, neighbor_id FROM (
                 SELECT query_id, neighbor_id,
                        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                 FROM xp) WHERE rnk <= 5)
         SELECT xx.query_id, CAST(count(*) AS BIGINT) AS k,
                CAST(count(iv.neighbor_id) AS BIGINT) AS n_hits,
                CAST(count(iv.neighbor_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
         FROM xx LEFT JOIN iv USING (query_id, neighbor_id)
         GROUP BY 1""")),

    // ----- Training-data pipeline: similarity search ------------------
    Q("q_knn_topk", (s, dir) =>
      VectorOps.knnTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding", col("vec_id") < 20, k = 5),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
         p AS (SELECT query_id, e.vec_id AS neighbor_id, list_cosine_similarity(qemb, e.emb) AS sim
               FROM q JOIN e ON e.vec_id <> query_id)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""")),
    Q("q_knn_ivf_topk", (s, dir) =>
      VectorOps.knnTopKIvf(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", col("vec_id") < 50, k = 5),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS qlabel, emb AS qemb FROM e WHERE vec_id < 50),
         p AS (SELECT query_id, e.vec_id AS neighbor_id, list_cosine_similarity(qemb, e.emb) AS sim
               FROM q JOIN e ON e.vec_id <> query_id AND e.label = qlabel)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""")),

    // ----- 1-NN label purity: the embedding-quality readout behind
    // semantic dedup and clustering — per label, how often a probe's
    // nearest neighbor (self excluded, exact brute force) shares its
    // label. Integer counts + ONE division; probes are a FIXED
    // bounded panel (vec_id < 2000, every 10th — a purity readout is
    // a sample statistic, it does not need a corpus-proportional
    // panel; the unbounded %10 panel measured 88x for 10x vectors at
    // sf1, the brute-force panel x corpus trap). Identical result at
    // sf0.01/sf0.1 where all vec ids are < 2000. Candidates never
    // shuffle (broadcast query side, the knnTopK shape). -------------
    Q("q_knn_label_purity", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nn1 = VectorOps.knnTopK(emb, "vec_id", "embedding",
        col("vec_id") < 2000 && col("vec_id") % 10 === 0, k = 1)
      val lbl = emb.select(col("vec_id"), col("label"))
      nn1
        .join(lbl.select(col("vec_id").as("query_id"), col("label").as("__ql")), "query_id")
        .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")), "neighbor_id")
        .groupBy(col("__ql").as("label"))
        .agg(
          count(lit(1)).as("n_probes"),
          sum(when(col("__nl") === col("__ql"), 1L).otherwise(0L)).as("n_pure"))
        .withColumn("purity",
          col("n_pure").cast(DoubleType) / col("n_probes").cast(DoubleType))
    },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT vec_id AS query_id, label AS ql, emb AS qemb FROM e WHERE vec_id < 2000 AND vec_id % 10 = 0),
         p AS (SELECT query_id, ql, e.vec_id AS neighbor_id, e.label AS nl,
                 list_cosine_similarity(qemb, e.emb) AS sim
               FROM q JOIN e ON e.vec_id <> query_id),
         r AS (SELECT query_id, ql, nl,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
               FROM p)
         SELECT ql AS label, count(*) AS n_probes,
                CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
                CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS purity
         FROM r WHERE rnk = 1 GROUP BY 1""")),
    Q("q_embed_neardup", (s, dir) =>
      VectorOps.cosineNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label", threshold = 0.45),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45""")),

    // SemDeDup-style semantic dedup: cluster-bounded cosine pairs ->
    // connected components -> keeper per semantic group. The looser
    // 0.30 threshold grows a real graph (0.45 leaves ~2 pairs at
    // sf0.01); the label column plays the coarse cluster, exactly as
    // k-means/LSH buckets would at scale. Since r13 the within-
    // cluster pairs are EXACT at any cluster size (blocked
    // sub-sharding) — the cost is the all-pairs bill Σ n²/2, which
    // q_cap_report_clusters prices up front; at 100 TB you size the
    // clustering (k-means cells ≈ corpus/target-cell) so cells stay
    // near the cap, you don't shed members.
    Q("q_semantic_dedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = VectorOps.cosineNearDupPairs(
          emb, "vec_id", "embedding", "label", threshold = 0.30)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      graft.operators.DedupGroups.resolveKeepers(emb, "vec_id", pairs)
        .select(col("doc_id").as("vec_id"), col("keeper_id"), col("is_keeper"))
    },
      // Same transitive-closure contract as q_dedup_groups, over the
      // cosine candidate graph instead of the MinHash one.
      Some("""WITH RECURSIVE
         e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cand AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
                  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.30),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                   UNION SELECT doc_b, doc_a FROM cand),
         reach(id, lbl) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT g.src, r.lbl FROM edges g JOIN reach r ON r.id = g.dst),
         grp AS (SELECT id, min(lbl) AS group_id FROM reach GROUP BY id)
         SELECT v.vec_id, coalesce(g.group_id, v.vec_id) AS keeper_id,
                coalesce(g.group_id, v.vec_id) = v.vec_id AS is_keeper
         FROM embeddings v LEFT JOIN grp g ON g.id = v.vec_id""")),

    // Storage-side int8 quantization summary (float32 -> int8, the 4x
    // shrink a 100 TB embedding store takes before indexing) ---------
    Q("q_embed_quantize", (s, dir) =>
      VectorOps.quantizeInt8Stats(Tables.embeddings(s, dir), "vec_id", "embedding"),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         q AS (SELECT vec_id, scale,
                 CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS qs
               FROM s)
         SELECT vec_id, scale, list_min(qs) AS q_min, list_max(qs) AS q_max,
                CAST(list_aggregate(qs, 'sum') AS BIGINT) AS q_sum
         FROM q""")),

    // Hyperplane-LSH bucketed variant. Few planes -> big buckets ->
    // high recall at this tiny SF. The seed-42 gaussian planes are
    // deterministic, so the oracle pins all 4x64 weights as literals
    // and replays bucket = OR over sign bits + in-bucket cosine —
    // fully hash-checked (left rows-only until round 5).
    Q("q_lsh_neardup", (s, dir) =>
      VectorOps.lshNearDupPairs(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nPlanes = 4, threshold = 0.45),
      // Pinned-plane hyperplane LSH: the 4x64 seed-42 gaussian plane
      // weights are embedded as literals (Double.toString round-trips
      // exactly), bucket bit j = sign(v . plane_j) as in
      // hyperplaneBucketKernel, then within-bucket pairs verified by
      // exact cosine at 0.45 — byte-for-byte the engine's lshNearDupPairs.
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         b AS (SELECT e.vec_id,
                      CAST(sum(CASE WHEN list_inner_product(e.emb, p.plane) > 0.0
                                    THEN 1 << p.j ELSE 0 END) AS INT) AS cluster
               FROM e, (SELECT * FROM (VALUES
           (0, [1.1419053154730547, 0.9194079489827879, -0.9498666368908959, -1.1069902863993377, 0.2809776380727795, 0.6846227956326554, -0.8172214073987268, -1.3966434026780434, -0.19094451307087512, 1.4862133923906502, 0.8023071496873626, -0.12151292466549345, 1.4105062239438624, -0.6402327822135738, -1.2096444592532913, 0.35375769787202876, -0.4903496491990076, 0.5507215382743629, -1.2035510019650835, 0.3210160806416416, 1.5511476388671834, 0.43853028624710505, 0.4815980608245389, 1.5196310789680683, -0.2768317291873249, -0.08393897849486337, 1.255833005788796, -0.3252727938665772, -0.17329033306108363, -1.8585851445864527, 1.4238069456328435, -1.363726024075023, -1.964666098753878, -0.9185948439341892, -2.548887393384806, -1.6309606578419305, -0.12200477461989162, 1.289159071801577, -0.2691388556559934, 0.2574914085090889, -0.3199143760045327, -1.7684998592513064, -0.4834503128592458, -0.5099904653893699, 1.1166733769661994, -0.04094720151728288, -1.1076715169200795, 1.8623214176471945, 1.1457411377091524, -1.0586772048930921, 1.0725991339400673, -1.9317441520296659, 0.30102521611534994, 0.2475231582804265, 1.406156849249087, -1.5202207203569256, 0.2709294126920897, 0.561249284813777, -0.5298295780368607, 0.5390221914988275, 2.2123402141787243, -0.6329335687728442, -1.8831759122084633, 0.3865659853763343]),
           (1, [0.32582927090649455, -0.9013043195000002, -0.002680308907617573, -0.4739592549853249, -0.5479781547659026, -0.01910014847196348, 1.6468163882596327, -1.107062592215791, 0.5938103926672539, -0.15566462108511642, 0.6632872929286855, 1.226793360688623, 0.8839698437730904, 0.22172454670212935, 0.9197020859698617, -0.7393758185888677, 0.803517749531419, -0.2539417447630359, -0.7638388605060555, -1.8645567427274516, -1.861306200027518, -0.576599881116305, -0.40899380621224757, 0.24846093761654187, -0.48091295490277447, 0.44621205735391023, -0.4465888888803913, 0.045638687865053575, 0.7045663273135641, -0.2718240183671583, 0.08074877915238832, 1.2590964696340183, 0.7635098382407334, 1.7220810801509723, 0.14595005405372477, -0.9946630124621867, 0.2007496259633872, 0.8962364439355677, 1.5117192131332227, -1.4034737280748781, -1.9069696484274985, 1.3685654487373131, -0.5596730323653845, 0.7446081536741976, 1.573665595681067, 1.1280434418181906, -0.19208158669725373, -2.2544936618345086, 0.439851862908128, 0.6568003265998675, -0.7449501614293713, 1.1994753269490135, 1.7797467521986703, 0.06740415207570563, 1.2950640220107117, -0.5826765284502453, 0.7688682382458406, 0.4176645501737688, -0.46909223599067523, 0.4141481732625842, 0.6630227275361512, 0.8671946375362719, 0.29670087780568055, 0.32152305651538937]),
           (2, [2.2242953580982188, 0.8358482078498958, -1.1933022979733765, 0.1188051459900597, 0.5580410346433533, -1.9527104650970353, 1.4960553383489514, -0.7625821886812193, 0.8951776489120974, -0.18267090292344199, 0.9297634639960395, -0.4374803598273085, -0.10491093903022966, -0.6114382438880094, 0.35276466448456023, -1.1445166107986677, -0.6538317989304822, 2.677097108514281, 0.15132171644246425, 1.8470372001182738, 0.4407433149811739, 0.8773090852445982, 0.946980694388772, -0.6997736460145386, -2.315207227451069, 0.09480020117496452, 0.1920371028231238, -1.0081308322886091, -2.150717205632501, 1.6170416083849217, 0.5473509656354903, 1.6230096333098776, 0.36966929887014705, 1.2240526315272633, 0.8751209163514154, -0.29000442763399675, 0.4333345396190892, 1.0069743967645715, 1.7830081455237958, 1.356870316505785, 0.4459302415658664, 1.3915127940536753, 0.03295541525474264, -0.8018248798505966, -0.017182633216773876, -1.3164854365297216, -0.027818555215940465, 1.9719833390831583, 1.3758681039407463, -1.2706898498985282, 0.2920337802284907, 1.533319271731563, 0.10462042588973046, -1.3131603671758911, 1.7799964944316888, 0.3952547694086232, -0.5004628323242984, -2.0407393926238933, 1.0869289165797924, -1.0408491311776968, 1.9616582572418195, 0.9258632212977318, 1.361656934659277, 2.8896525506477344]),
           (3, [-0.4910136707454713, -0.710198583176802, 1.5704667206621972, -0.842408497299511, -0.3319307686020679, -1.698847669879108, -0.5311415117921071, -2.5875629832762232, 0.3015645247761741, -1.1528052896236403, -1.7133285086762593, 0.08131975803507514, -1.3278612176303164, 0.6965862080356764, -1.2876713313576322, 1.2509059068665722, 0.012552200267459757, 0.6566974914450203, -1.321353005901397, 0.8149172295041944, 0.6110409277400992, 0.12348089487854173, 0.38840257501965103, -0.5821272380571016, 0.43343568884177824, -0.7960431045019911, 0.06399529912314222, -0.7421110756691232, 1.1806635961066305, 0.9198186083780134, 1.2380051788351232, -0.07088550150391275, -0.5658960602508907, 1.0508212282447211, 0.9441165305261189, -0.6911609067777333, 0.8859638093504211, -2.533371339542391, 0.4163203752064485, 0.4062903984061704, 0.8418616457792908, -0.3480736064260179, 1.0703545150299583, -0.23477690871527593, 0.15572639860723536, 0.6683095785190067, 0.3685121432402299, 0.09709933719650744, -1.2388537517698515, -0.2653296755913956, -0.6031387254158636, -0.14638328860844366, 1.8821103658250251, 1.8435869679890158, -0.7743715896031117, -0.15335007392100358, 0.13720880703462834, -0.9119325994640678, 0.1906821021913211, 0.7232172113039873, -0.43633626572057416, -0.18091541708210968, 0.8037789293095281, 1.3862531407675853])) AS t(j, plane)) p
               GROUP BY e.vec_id),
         ec AS (SELECT e.vec_id, e.emb, b.cluster FROM e JOIN b USING (vec_id))
         SELECT a.vec_id AS id_a, c.vec_id AS id_b
         FROM ec a JOIN ec c ON a.cluster = c.cluster AND a.vec_id < c.vec_id
         WHERE list_cosine_similarity(a.emb, c.emb) >= 0.45""")),

    // ----- IVF over computed k-means clusters. iterations = 1 keeps
    // the coarse quantizer at its deterministic seed (first k vectors
    // by id), which a SQL oracle reproduces exactly — so assignment +
    // in-cell search is fully hash-checked; the Lloyd's refinement
    // loop stays exercised (and recall-pinned) by q_ivfadc_topk,
    // q_knn_ivf_probe and KmeansCompactionSpec ------------------------
    Q("q_knn_kmeans_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val clusters = VectorOps.kmeansAssign(emb, "vec_id", "embedding", k = 8, iterations = 1)
      val withCluster = emb.join(
        clusters.withColumnRenamed("id", "vec_id"), "vec_id")
      VectorOps.knnTopKIvf(withCluster, "vec_id", "embedding", "cluster",
        col("vec_id") < 20, k = 5)
    },
      // Seed-coarse-quantizer IVF: centroid j = vector of the j-th
      // smallest vec_id; assignment = argmin |c|^2 - 2 v·c with
      // first-minimum (smallest j) tie-break — exactly kmeansAssign at
      // iterations = 1 — then exact in-cell cosine top-k.
      Some(s"""WITH $seedIvfCtes,
         ec AS (SELECT e.vec_id, e.emb, asg.cluster FROM e JOIN asg USING (vec_id)),
         q AS (SELECT vec_id AS query_id, emb AS qemb, cluster AS qc
               FROM ec WHERE vec_id < 20),
         p AS (SELECT query_id, ec.vec_id AS neighbor_id,
                      list_cosine_similarity(qemb, ec.emb) AS sim
               FROM q JOIN ec ON ec.vec_id <> query_id AND ec.cluster = qc)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""")),

    // ----- PQ-compressed ANN: 64-float vectors scan as 8-byte codes,
    // ADC lookup-table scoring. iterations = 1 pins the codebooks at
    // their deterministic seed (sub-slices of the first ksub vectors
    // by id), which the SQL oracle rebuilds — encode argmin, lookup
    // tables, and the ordered ADC fold are then bit-reproducible, so
    // the whole ADC path is hash-checked; Lloyd's-refined codebooks
    // stay exercised by q_ivfadc_topk and recall-pinned in PqSpec ----
    Q("q_pq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iterations = 1)
      ProductQuantizer.adcTopK(emb, "vec_id", "embedding",
        col("vec_id") < 20, model, k = 10)
    },
      // Seed-codebook PQ/ADC: codebook (j, c) = 8-dim sub-slice j of the
      // vector with the c-th smallest vec_id (ProductQuantizer.train at
      // iterations = 1); encode = per-subspace argmin |c|^2 - 2 v·c,
      // smallest c on ties; ADC dot and reconstructed norm fold the 8
      // per-subspace lookup values IN SUBSPACE ORDER (list(... ORDER BY
      // j) then explicit left-assoc indexing) to match the engine's
      // ascending accumulation bit-for-bit.
      Some(s"""WITH $pqAdcCtes
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM scored)
         WHERE rnk <= 10""")),

    // ----- ADC shortlist + exact cosine re-rank: the two-stage ANN
    // serving shape; same pinned seed codebook as q_pq_topk, so the
    // shortlist AND the re-ranked order are both hash-checked ---------
    Q("q_pq_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, ksub = 16, iterations = 1)
      ProductQuantizer.adcRerankTopK(emb, "vec_id", "embedding",
        col("vec_id") < 20, model, shortlist = 30, k = 10)
    },
      // Same pinned seed codebook as q_pq_topk; the ADC scan proposes a
      // 30-deep shortlist, the true cosine on raw vectors re-ranks it
      Some(s"""WITH $pqAdcCtes,
         sl AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
             FROM scored)
           WHERE rnk <= 30),
         ex AS (SELECT sl.query_id, sl.neighbor_id,
                       list_cosine_similarity(q.qemb, e.emb) AS sim
                FROM sl
                JOIN q USING (query_id)
                JOIN e ON e.vec_id = sl.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM ex)
         WHERE rnk <= 10""")),

    // ----- IVFADC: coarse-cell pruning + residual-PQ ADC, the full
    // memory-bound ANN index (rows-only: engine-defined codebooks;
    // recall and cell membership pinned in PqSpec) --------------------
    Q("q_ivfadc_topk", (s, dir) =>
      ProductQuantizer.ivfadcTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, kCoarse = 8, coarseIterations = 3,
        m = 8, ksub = 16, pqIterations = 3, nprobe = 2, k = 10),
      None),

    // ----- IVFADC at iterations = 1: the identical architecture with
    // both quantizers pinned at their deterministic seeds, so coarse
    // probing, residual encoding, AND ADC scoring are hash-checked
    // (Lloyd's-refined codebooks stay exercised by q_ivfadc_topk) -----
    Q("q_ivfadc_pinned", (s, dir) =>
      ProductQuantizer.ivfadcTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 20, kCoarse = 8, coarseIterations = 1,
        m = 8, ksub = 16, pqIterations = 1, nprobe = 2, k = 10),
      // IVFADC with both quantizers at their deterministic seeds: coarse
      // cells = first-8 vectors (assignment argmin |c|^2 - 2 v.c, ties
      // to the lower cell), probing = top-2 cells by RAW DOT descending
      // (the MIPS contract — not distance), residual PQ codebooks =
      // sub-slices of the first-16 residuals, ADC score = coarse dot +
      // per-subspace lookups folded in ascending j (left-assoc chain
      // mirrors the engine's accumulation bit for bit)
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         cseed AS (SELECT emb AS cent, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl
                   FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         casg AS (SELECT vec_id, cl FROM (
             SELECT e.vec_id, c.cl,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_inner_product(c.cent, c.cent)
                               - 2.0 * list_inner_product(e.emb, c.cent), c.cl) AS rn
             FROM e, cseed c) WHERE rn = 1),
         res AS (SELECT e.vec_id, a.cl,
                   [e.emb[i] - c.cent[i] for i in generate_series(1, 64)] AS r
                 FROM e JOIN casg a USING (vec_id) JOIN cseed c ON c.cl = a.cl),
         pseed AS (SELECT r, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c
                   FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16)),
         js AS (SELECT CAST(unnest(range(8)) AS INT) AS j),
         cent2 AS (SELECT js.j, pseed.c,
                     list_slice(pseed.r, js.j * 8 + 1, js.j * 8 + 8) AS cent,
                     list_inner_product(
                       list_slice(pseed.r, js.j * 8 + 1, js.j * 8 + 8),
                       list_slice(pseed.r, js.j * 8 + 1, js.j * 8 + 8)) AS c2
                   FROM pseed, js),
         enc AS (SELECT vec_id, cl, j, c FROM (
             SELECT res.vec_id, res.cl, t.j, t.c,
                    row_number() OVER (PARTITION BY res.vec_id, t.j
                      ORDER BY t.c2 - 2.0 * list_inner_product(
                        list_slice(res.r, t.j * 8 + 1, t.j * 8 + 8), t.cent), t.c) AS rn
             FROM res, cent2 t) WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
         pr AS (SELECT query_id, cl AS probe_cl, coarse_dot FROM (
             SELECT q.query_id, c.cl,
                    list_inner_product(q.qemb, c.cent) AS coarse_dot,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY list_inner_product(q.qemb, c.cent) DESC, c.cl) AS rn
             FROM q, cseed c) WHERE rn <= 2),
         dt AS (SELECT q.query_id, t.j, t.c,
                  list_inner_product(
                    list_slice(q.qemb, t.j * 8 + 1, t.j * 8 + 8), t.cent) AS d
                FROM q, cent2 t),
         parts AS (SELECT q.query_id, enc.vec_id, enc.cl,
                     list(dt.d ORDER BY enc.j) AS ds
                   FROM enc
                   JOIN q ON enc.vec_id <> q.query_id
                   JOIN dt ON dt.query_id = q.query_id AND dt.j = enc.j AND dt.c = enc.c
                   GROUP BY 1, 2, 3),
         scored AS (SELECT p.query_id, p.vec_id AS neighbor_id,
                      pr.coarse_dot + ds[1] + ds[2] + ds[3] + ds[4]
                        + ds[5] + ds[6] + ds[7] + ds[8] AS sim
                    FROM parts p
                    JOIN pr ON pr.query_id = p.query_id AND pr.probe_cl = p.cl)
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM scored)
         WHERE rnk <= 10""")),

    // ----- Multi-probe IVF: nprobe=2 probes each query's two nearest
    // centroids — the recall knob of a production IVF index. Like
    // q_knn_kmeans_ivf, iterations = 1 pins the coarse quantizer at
    // its deterministic seed so probe selection + in-cell search are
    // fully hash-checked; Lloyd's-refined centroids stay exercised by
    // q_ivfadc_topk and KmeansCompactionSpec --------------------------
    Q("q_knn_ivf_probe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = VectorOps.kmeansCentroids(emb, "vec_id", "embedding", k = 8, iterations = 1)
      val withCluster = emb.join(
        VectorOps.kmeansAssign(emb, "vec_id", "embedding", k = 8, iterations = 1)
          .withColumnRenamed("id", "vec_id"), "vec_id")
      VectorOps.knnTopKIvfProbe(withCluster, "vec_id", "embedding", "cluster",
        VectorOps.centroidsDF(s, cents), col("vec_id") < 20, k = 5, nprobe = 2)
    },
      // Seed-coarse-quantizer multi-probe IVF: same centroid/assignment
      // construction as q_knn_kmeans_ivf, but each query probes its TWO
      // nearest centroids (rn <= 2, distance then smallest-j tie-break —
      // knnTopKIvfProbe's __pr window) before the exact in-cell cosine
      // top-k over the union of both cells.
      Some(s"""WITH $ivfProbeCtes
         SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM p)
         WHERE rnk <= 5""")),

    // ----- PCA over the embedding column: the dimensionality-
    // reduction stage before LSH/IVF indexing. Components are
    // engine-internal floats (one-pass moment sums + driver Jacobi),
    // so the projection is rows-only; q_pca_audit publishes the
    // model invariants as oracle-checked booleans. ---------------------
    Q("q_pca_project", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.functions.PcaOps.fit(emb, "embedding", k = 8)
      graft.functions.PcaOps.project(emb, "vec_id", "embedding", model)
        .orderBy(col("vec_id"))
    },
      None),
    Q("q_pca_audit", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val k = 8
      val model = graft.functions.PcaOps.fit(emb, "embedding", k)
      val dim = model.mean.length
      // W Wt ~= I (components are rows): max abs deviation
      val maxDev = (0 until k).map { a =>
        (0 until k).map { b =>
          val dotAb = model.components(a).zip(model.components(b))
            .map { case (x, y) => x * y }.sum
          math.abs(dotAb - (if (a == b) 1.0 else 0.0))
        }.max
      }.max
      val descending = model.eigenvalues.sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1) - 1e-12)
      val topSum = model.eigenvalues.sum
      val accounted = topSum <= model.trace + 1e-9 * math.max(1.0, model.trace) &&
        topSum >= model.trace * k / dim - 1e-9
      // the DISTRIBUTED projection's first-component variance must
      // match the driver model's top eigenvalue (ties fit to project)
      val pc0 = graft.functions.PcaOps
        .project(emb, "vec_id", "embedding", model)
        .agg(var_pop(col("pc0"))).head().getDouble(0)
      val pc0Matches = math.abs(pc0 - model.eigenvalues(0)) <=
        1e-6 * math.max(1.0, model.eigenvalues(0))
      import s.implicits._
      Seq((model.nRows, dim.toLong, k.toLong,
          maxDev < 1e-8, descending, accounted, pc0Matches))
        .toDF("n_rows", "dim", "k", "orthonormal", "eigs_descending",
          "variance_accounted", "pc0_var_matches")
    },
      // PCA audit: counts + literal booleans for the model invariants
      // the engine verifies (orthonormal components, descending
      // eigenvalues, variance accounting, distributed-projection
      // variance == top eigenvalue); the component floats themselves
      // are engine-internal, so q_pca_project stays rows-only.
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST((SELECT len(embedding) FROM embeddings LIMIT 1) AS BIGINT) AS dim,
                CAST(8 AS BIGINT) AS k,
                TRUE AS orthonormal, TRUE AS eigs_descending,
                TRUE AS variance_accounted, TRUE AS pc0_var_matches
         FROM embeddings""")),

    // ----- Topic-cluster labels: k-means over embeddings (iterations=1
    // pins the seed-centroid assignment, the q_knn_kmeans_ivf pattern)
    // joined to documents, top distinctive terms per cluster by
    // cluster-tf x corpus-idf ----------------------------------------
    Q("q_cluster_topics", (s, dir) => {
      val assign = VectorOps.kmeansAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iterations = 1)
        .withColumnRenamed("id", "doc_id")
      TextOps.clusterTopTerms(Tables.documents(s, dir), assign,
        "doc_id", "text", k = 5)
    },
      Some(raw"""WITH $seedIvfCtes,
         t AS (SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
               FROM documents),
         tk AS (SELECT doc_id, term FROM t WHERE term <> ''),
         dfq AS (SELECT term, count(*) AS df FROM (
                   SELECT doc_id, term FROM tk GROUP BY 1, 2) GROUP BY 1),
         nd AS (SELECT count(*) AS n FROM documents),
         ctf AS (SELECT asg.cluster, tk.term, count(*) AS tf
                 FROM tk JOIN asg ON tk.doc_id = asg.vec_id GROUP BY 1, 2),
         scored AS (SELECT cluster, ctf.term, tf, dfq.df,
                      CAST(tf AS DOUBLE)
                        * (CAST(nd.n AS DOUBLE) / CAST(dfq.df AS DOUBLE)) AS score
                    FROM ctf JOIN dfq ON ctf.term = dfq.term, nd)
         SELECT cluster, term, tf, df, score, CAST(rnk AS INT) AS rank FROM (
           SELECT cluster, term, tf, df, score,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY score DESC, term) AS rnk
           FROM scored)
         WHERE rnk <= 5""")),

    // ----- Embedding drift monitor: worst per-dimension mean shift
    // between two cohorts per label — exact micro-unit sums, one
    // division per cohort mean, MAX reduction (order-insensitive) ----
    Q("q_embed_drift", (s, dir) =>
      VectorOps.embeddingDrift(Tables.embeddings(s, dir), "embedding",
        "label", col("vec_id") % 2 === 0),
      Some("""WITH comp AS (
           SELECT label, vec_id % 2 = 0 AS a,
                  CAST(generate_subscripts(CAST(embedding AS DOUBLE[]), 1) - 1
                       AS BIGINT) AS pos,
                  CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 1000000)
                       AS BIGINT) AS m
           FROM embeddings),
         per_dim AS (
           SELECT label, pos,
                  CAST(sum(CASE WHEN a THEN m END) AS BIGINT) AS sa,
                  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                  CAST(sum(CASE WHEN NOT a THEN m END) AS BIGINT) AS sb,
                  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb
           FROM comp GROUP BY 1, 2),
         d AS (SELECT label, pos,
                 abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                     - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) AS delta
               FROM per_dim WHERE na > 0 AND nb > 0),
         w AS (SELECT label, pos, delta,
                 row_number() OVER (PARTITION BY label
                   ORDER BY delta DESC, pos DESC) AS rn,
                 count(*) OVER (PARTITION BY label) AS n_dims
               FROM d)
         SELECT label, n_dims, delta AS max_abs_delta_micro, pos AS worst_dim
         FROM w WHERE rn = 1"""))
  )
}
