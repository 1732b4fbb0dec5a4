package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MultimodalOps

/** The synthetic media queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object MediaQueries {
  /** The synthetic media table is pure arithmetic over the id
    * (MultimodalOps.syntheticMedia), so DuckDB reproduces it from
    * generate_series with no parquet input — which upgrades the
    * metadata-shaped media queries from rows-only to full hash checks.
    * (Feature extraction stays rows-only: its checksum walks payload
    * bytes through Java wrapping arithmetic.)
    */
  private val syntheticMediaCte: String =
    """m AS (
       SELECT g.id AS media_id,
         CASE WHEN g.id % 3 = 0 THEN 'image'
              WHEN g.id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CASE WHEN g.id % 3 = 0 THEN 0 ELSE 1000 + (g.id % 9000) END AS duration_ms,
         CASE WHEN g.id % 3 = 0 THEN 640 ELSE 0 END AS width,
         CASE WHEN g.id % 3 = 0 THEN 480 ELSE 0 END AS height,
         64 + (g.id % 64) AS n_payload
       FROM generate_series(0, 499) AS g(id))"""

  /** 4x16-bit band guard over `fp` and the hamming <= 3 verify. */
  private val bandedHammingSql: String =
    """banded AS (SELECT id, h, bs.band, (h >> (bs.band * 16)) & 65535 AS bh
                    FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs),
         kept AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, bh))
         SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         FROM guarded a JOIN guarded b USING (band, bh)
         WHERE a.id < b.id AND bit_count(xor(a.h, b.h)) <= 3"""

  /** Image-pixel replay on the resize grid and the gradient bits (`b`). */
  private val imagePixelCtes: String =
    """ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, gy, gx,
                 ((id * 3 + ((gx * 32) // 9) * 5) % 256)
               + ((id * 7 + ((gy * 24) // 8) * 11) % 256)
               + ((id + ((gx * 32) // 9) * ((gy * 24) // 8)) % 256) AS gray
               FROM ids, gxs, gys),
         b AS (SELECT l.id, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray)"""

  /** Audio energy per window and the rising-energy bits (`b`). */
  private val audioEdgeCtes: String =
    """ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         n AS (SELECT id, 64 + (id % 64) AS ns FROM ids),
         s AS (SELECT id, unnest([{'i': i, 'v': abs(((id * 31 + i * 7) % 65536) - 32768)}
                                  for i in generate_series(0, ns - 1)]) AS u
               FROM n),
         sam AS (SELECT id, u.i AS i, u.v AS v FROM s),
         wsum AS (SELECT sam.id, CAST((i * 65) // n.ns AS INT) AS win, sum(v) AS e
                  FROM sam JOIN n ON n.id = sam.id GROUP BY 1, 2),
         grid AS (SELECT n.id, ws.win FROM n, (SELECT unnest(generate_series(0, 64)) AS win) ws),
         e AS (SELECT grid.id, grid.win, COALESCE(wsum.e, 0) AS e
               FROM grid LEFT JOIN wsum ON wsum.id = grid.id AND wsum.win = grid.win),
         b AS (SELECT l.id, l.win AS w FROM e l JOIN e r ON r.id = l.id AND r.win = l.win + 1
               WHERE l.win < 64 AND r.e > l.e)"""

  /** Frame-pixel replay of MultimodalOps.synthPixel on the resize grid and
    * the horizontal-gradient bits (`b`).
    */
  private val framePixelCtes: String =
    """ids AS (SELECT unnest(generate_series(0, 199)) AS id),
         nf AS (SELECT id, 2 + (id % 4) AS nf FROM ids),
         fr AS (SELECT id, unnest([f for f in generate_series(0, nf - 1)]) AS f FROM nf),
         gxs AS (SELECT unnest(generate_series(0, 8)) AS gx),
         gys AS (SELECT unnest(generate_series(0, 7)) AS gy),
         g AS (SELECT id, f, gy, gx,
                 ((id * 3 + f * 7 + ((gx * 16) // 9) * 5) % 256)
               + ((id * 5 + f * 11 + ((gy * 12) // 8) * 3) % 256)
               + ((id + f + ((gx * 16) // 9) * ((gy * 12) // 8)) % 256) AS gray
               FROM fr, gxs, gys),
         b AS (SELECT l.id, l.f, l.gy AS y, l.gx AS x
               FROM g l JOIN g r ON r.id = l.id AND r.f = l.f AND r.gy = l.gy AND r.gx = l.gx + 1
               WHERE l.gx < 8 AND r.gray > l.gray)"""

  /** Per-frame video dHash for every frame, 0 for a flat frame (`fp`). */
  private val videoFrameFpCtes: String =
    s"""$framePixelCtes,
         fp0 AS (SELECT id, f, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                 FROM b GROUP BY 1, 2),
         fp AS (SELECT fr.id, fr.f, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM fr LEFT JOIN fp0 ON fp0.id = fr.id AND fp0.f = fr.f)"""

  val all: Seq[Q] = Seq(
    // ----- Multimodal plumbing (synthetic media; stubbed codec; no SQL
    // oracle — rows-only check) --------------------------------------
    Q("q_media_stats", (s, _) =>
      MultimodalOps.mediaStats(MultimodalOps.syntheticMedia(s, 500).toDF()),
      Some(s"""WITH $syntheticMediaCte
         SELECT kind, count(*) AS n_items,
                CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
                avg(width * height) AS avg_pixels
         FROM m GROUP BY 1""")),

    // feature vector projected to a scalar string: the driver's checker
    // sorts rows via pandas, which cannot hash a raw array<float> column
    Q("q_media_features", (s, _) =>
      MultimodalOps.extractFeatures(MultimodalOps.syntheticMedia(s, 500)).toDF()
        .select(
          col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          concat_ws(",", transform(col("feature"), f => f.cast("string")))
            .as("feature_csv")),
      // the StubCodec's rolling checksum emulated with HUGEINT wrap
      // arithmetic (Java long overflow ≡ mod 2^64, signed view at the
      // end); float-to-string renderings verified identical across both
      // engines for all 256 possible feature byte values
      Some("""WITH m AS (SELECT g.id AS media_id,
              CASE WHEN g.id % 3 = 0 THEN 'image' WHEN g.id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
              64 + (g.id % 64) AS nb
            FROM generate_series(0, 499) AS g(id)),
         ck AS (SELECT media_id, kind, nb,
            list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
              list_transform(generate_series(0, nb - 1), i ->
                CAST(CASE WHEN (media_id * 31 + i) % 251 >= 128
                          THEN (media_id * 31 + i) % 251 - 256
                          ELSE (media_id * 31 + i) % 251 END AS HUGEINT))),
              (h, b) -> (((31 * h + b) % 18446744073709551616) + 18446744073709551616) % 18446744073709551616) AS u
            FROM m)
         SELECT media_id, kind, CAST(nb AS BIGINT) AS n_bytes,
           CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS checksum,
           concat_ws(',',
             CAST(CAST((u // 1 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 256 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 65536 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 16777216 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 4294967296 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 1099511627776 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 281474976710656 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR),
             CAST(CAST((u // 72057594037927936 % 256) AS FLOAT) / CAST(255 AS FLOAT) AS VARCHAR)
           ) AS feature_csv
         FROM ck""")),
    Q("q_frame_samples", (s, _) =>
      MultimodalOps.sampleFrames(MultimodalOps.syntheticMedia(s, 500).toDF(), everyMs = 500L),
      Some(s"""WITH $syntheticMediaCte
         SELECT media_id, CAST(f // 500 AS INT) AS frame_no, f AS frame_ts_ms
         FROM (SELECT media_id, unnest(generate_series(0, duration_ms - 1, 500)) AS f
               FROM m WHERE kind IN ('video', 'audio') AND duration_ms > 0)""")),
    Q("q_media_resize", (s, _) =>
      MultimodalOps.resizeImages(MultimodalOps.syntheticMedia(s, 500), 224, 224).toDF()
        .groupBy("kind", "width", "height")
        .agg(count(lit(1)).as("n"), sum(length(col("payload"))).as("payload_bytes")),
      Some(s"""WITH $syntheticMediaCte
         SELECT kind,
                CASE WHEN kind = 'image' THEN 224 ELSE 0 END AS width,
                CASE WHEN kind = 'image' THEN 224 ELSE 0 END AS height,
                count(*) AS n, CAST(sum(n_payload) AS BIGINT) AS payload_bytes
         FROM m GROUP BY 1, 2, 3""")),

    // ----- REAL image decode: payloads are genuine PNGs, stats come
    // from javax.imageio-decoded pixels (channel sums + a nearest-
    // neighbor 8x6 downsample), and the oracle replays the pixel
    // arithmetic from generate_series — a full hash check on an
    // actual codec path. -------------------------------------------
    Q("q_media_decode", (s, _) =>
      MultimodalOps.decodeImageStats(MultimodalOps.syntheticImages(s, 200), 8, 6),
      Some("""WITH px AS (
           SELECT g.id AS media_id,
                  CAST((g.id * 3 + x.x * 5) % 256 AS BIGINT) AS r,
                  CAST((g.id * 7 + y.y * 11) % 256 AS BIGINT) AS gch,
                  CAST((g.id + x.x * y.y) % 256 AS BIGINT) AS b
           FROM generate_series(0, 199) AS g(id)
           CROSS JOIN generate_series(0, 31) AS x(x)
           CROSS JOIN generate_series(0, 23) AS y(y)),
         f AS (SELECT media_id, CAST(sum(r) AS BIGINT) AS sum_r,
                      CAST(sum(gch) AS BIGINT) AS sum_g,
                      CAST(sum(b) AS BIGINT) AS sum_b
               FROM px GROUP BY 1),
         rz AS (SELECT g.id AS media_id,
                       CAST(sum((g.id * 3 + (rx.rx * 4) * 5) % 256) AS BIGINT) AS sum_r_resized
                FROM generate_series(0, 199) AS g(id)
                CROSS JOIN generate_series(0, 7) AS rx(rx)
                CROSS JOIN generate_series(0, 5) AS ry(ry)
                GROUP BY 1)
         SELECT f.media_id, 32 AS img_w, 24 AS img_h, CAST(768 AS BIGINT) AS n_px,
                sum_r, sum_g, sum_b, sum_r_resized
         FROM f JOIN rz USING (media_id)""")),

    // ----- Per-frame video dHashes: demux + real PNG decode + the
    // image fingerprint, oracle replays the frame pixel arithmetic ----
    Q("q_video_dhash", (s, _) =>
      MultimodalOps.videoFrameDHashes(MultimodalOps.syntheticVideos(s, 200))
        .select(col("media_id"), col("frame_no"),
          lpad(lower(hex(col("dhash"))), 16, "0").as("dhash_hex")),
      // replays MultimodalOps.synthPixel over the 32x24 grid (PNG decode
      // is lossless, so decoded pixels ARE the formula); the 8x6 resize
      // samples src = dst*srcDim//dstDim = dst*4 on both axes
      Some(s"""WITH $framePixelCtes,
         fp AS (SELECT id, f, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                FROM b GROUP BY 1, 2)
         SELECT fr.id AS media_id, fr.f AS frame_no,
                lower(lpad(to_hex(COALESCE(fp.h, CAST(0 AS UBIGINT))), 16, '0')) AS dhash_hex
         FROM fr LEFT JOIN fp ON fp.id = fr.id AND fp.f = fr.f""")),

    // ----- Scene-change detection: consecutive-frame dHash deltas,
    // paired inside the demux iterator (zero shuffle) -----------------
    Q("q_scene_changes", (s, _) =>
      MultimodalOps.sceneChanges(MultimodalOps.syntheticVideos(s, 200), minHamming = 12),
      // same frame-pixel replay as q_video_dhash, then consecutive-frame
      // xor popcount over the cut threshold
      Some(s"""WITH $videoFrameFpCtes,
         d AS (SELECT a.id, a.f, CAST(bit_count(xor(a.h, p.h)) AS BIGINT) AS hamming
               FROM fp a JOIN fp p ON p.id = a.id AND p.f = a.f - 1)
         SELECT id AS media_id, f AS frame_no, hamming FROM d WHERE hamming >= 12""")),

    // ----- Perceptual image fingerprints over the REAL decode path:
    // dHash on the 9x8 nearest-neighbor grid; oracle replays the
    // synthetic pixel arithmetic bit for bit (hash emitted as hex, the
    // simhash-oracle convention for 64-bit values) -------------------
    Q("q_image_dhash", (s, _) =>
      MultimodalOps.imageDHashes(MultimodalOps.syntheticImages(s, 200))
        .select(col("media_id"),
          lpad(lower(hex(col("dhash"))), 16, "0").as("dhash_hex")),
      Some(s"""WITH $imagePixelCtes,
         fp AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                FROM b GROUP BY 1)
         SELECT ids.id AS media_id,
                lower(lpad(to_hex(COALESCE(fp.h, CAST(0 AS UBIGINT))), 16, '0')) AS dhash_hex
         FROM ids LEFT JOIN fp ON fp.id = ids.id""")),

    // ----- Perceptual image near-dup pairs: real-decode dHashes into
    // the shared 4-band hamming self-join (8-byte fingerprints are all
    // that shuffles; hot fingerprint buckets capped) ------------------
    Q("q_image_neardup", (s, _) =>
      MultimodalOps.imageNearDupPairs(
        MultimodalOps.imageDHashes(MultimodalOps.syntheticImages(s, 200)),
        maxHamming = 3),
      // image-dhash replay + the 4x16-bit band guard + hamming verify,
      // the q_simhash_neardup convention over the image fingerprint
      Some(s"""WITH $imagePixelCtes,
         fp0 AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(y * 8 + x AS INT)) AS h
                 FROM b GROUP BY 1),
         fp AS (SELECT ids.id, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM ids LEFT JOIN fp0 ON fp0.id = ids.id),
         $bandedHammingSql""")),

    // ----- REAL audio decode: payloads are genuine RIFF/PCM WAVs,
    // stats come from javax.sound.sampled-decoded samples; the oracle
    // replays the sample arithmetic (PCM is uncompressed, decode is
    // verbatim). ----------------------------------------------------
    Q("q_media_audio", (s, _) =>
      MultimodalOps.decodeAudioStats(MultimodalOps.syntheticWavs(s, 200)),
      Some("""WITH s AS (
           SELECT g.id AS media_id, i.i AS i,
                  CAST((g.id * 31 + i.i * 7) % 65536 - 32768 AS BIGINT) AS smp,
                  64 + (g.id % 64) AS ns
           FROM generate_series(0, 199) AS g(id)
           CROSS JOIN generate_series(0, 127) AS i(i)
           WHERE i.i < 64 + (g.id % 64))
         SELECT media_id, 8000 AS sample_rate,
                CAST(max(ns) AS BIGINT) AS n_samples,
                CAST(sum(smp) AS BIGINT) AS sum_s,
                CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
                CAST(min(smp) AS INT) AS min_s,
                CAST(max(smp) AS INT) AS max_s
         FROM s GROUP BY 1""")),

    // ----- Audio fingerprints over the REAL WAV decode: 65-window
    // energy-gradient hash, oracle replays the PCM sample arithmetic --
    Q("q_audio_fingerprint", (s, _) =>
      MultimodalOps.audioFingerprints(MultimodalOps.syntheticWavs(s, 200))
        .select(col("media_id"),
          lpad(lower(hex(col("ahash"))), 16, "0").as("ahash_hex")),
      Some(s"""WITH $audioEdgeCtes,
         fp AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(w AS INT)) AS h FROM b GROUP BY 1)
         SELECT ids.id AS media_id,
                lower(lpad(to_hex(COALESCE(fp.h, CAST(0 AS UBIGINT))), 16, '0')) AS ahash_hex
         FROM ids LEFT JOIN fp ON fp.id = ids.id""")),

    // ----- Clip-level video near-dup: frame-fingerprint containment
    // (re-post detection; only 8-byte hashes shuffle) -----------------
    Q("q_video_neardup", (s, _) =>
      MultimodalOps.videoNearDupPairs(
        MultimodalOps.videoFrameDHashes(MultimodalOps.syntheticVideos(s, 200)),
        minShared = 2L),
      // frame-dhash replay, then distinct-hash containment between clips
      Some(s"""WITH $videoFrameFpCtes,
         uniq AS (SELECT DISTINCT id, h FROM fp),
         sizes AS (SELECT id, count(*) AS n FROM uniq GROUP BY 1),
         kept AS (SELECT h FROM uniq GROUP BY h HAVING count(*) <= 10000),
         guarded AS (SELECT uniq.* FROM uniq JOIN kept USING (h)),
         pairs AS (SELECT a.id AS media_a, b.id AS media_b, count(*) AS n_shared
                   FROM guarded a JOIN guarded b ON b.h = a.h AND a.id < b.id
                   GROUP BY 1, 2)
         SELECT media_a, media_b, n_shared,
                CAST(n_shared AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
         FROM pairs JOIN sizes sa ON sa.id = media_a
                    JOIN sizes sb ON sb.id = media_b
         WHERE n_shared >= 2""")),

    // ----- Audio near-dup pairs: the shared banded-hamming join over
    // the energy-gradient hashes ------------------------------------
    Q("q_audio_neardup", (s, _) =>
      MultimodalOps.audioNearDupPairs(
        MultimodalOps.audioFingerprints(MultimodalOps.syntheticWavs(s, 200)),
        maxHamming = 3),
      // audio energy-gradient replay + the shared band guard + hamming
      Some(s"""WITH $audioEdgeCtes,
         fp0 AS (SELECT id, bit_or(CAST(1 AS UBIGINT) << CAST(w AS INT)) AS h FROM b GROUP BY 1),
         fp AS (SELECT n.id, COALESCE(fp0.h, CAST(0 AS UBIGINT)) AS h
                FROM n LEFT JOIN fp0 ON fp0.id = n.id),
         $bandedHammingSql""")),

    // ----- Video demux + per-frame REAL PNG decode: the container is
    // a documented frame-table stand-in (no mp4 demuxer in the JDK),
    // the per-frame codec is genuine ImageIO; the oracle replays the
    // frame pixel arithmetic. ----------------------------------------
    Q("q_media_video_frames", (s, _) =>
      MultimodalOps.decodeVideoFrameStats(MultimodalOps.syntheticVideos(s, 150)),
      Some("""WITH px AS (
           SELECT g.id AS media_id, f.f AS frame_no,
                  CAST((g.id * 3 + f.f * 7 + x.x * 5) % 256 AS BIGINT) AS r,
                  CAST((g.id * 5 + f.f * 11 + y.y * 3) % 256 AS BIGINT) AS gc,
                  CAST((g.id + f.f + x.x * y.y) % 256 AS BIGINT) AS b
           FROM generate_series(0, 149) AS g(id)
           CROSS JOIN generate_series(0, 5) AS f(f)
           CROSS JOIN generate_series(0, 15) AS x(x)
           CROSS JOIN generate_series(0, 11) AS y(y)
           WHERE f.f < 2 + (g.id % 4))
         SELECT media_id, CAST(frame_no AS INT) AS frame_no,
                CAST(sum(r) AS BIGINT) AS sum_r,
                CAST(sum(gc) AS BIGINT) AS sum_g,
                CAST(sum(b) AS BIGINT) AS sum_b
         FROM px GROUP BY 1, 2"""))
  )
}
