package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.operators.{CandleOps, MicrostructureOps}
import graft.sources.Tables

/** The microstructure and indicators queries. Each record's run function sits directly
  * above its DuckDB oracle; [[graft.SparkEntry]] assembles the
  * family modules into the query and oracle maps.
  */
object IndicatorQueries {
  /** Oracle for q_macd, mirroring [[graft.operators.CandleOps.macd]]'s
    * exact-rational arithmetic: the weighted-lag EMA numerators/
    * denominators accumulate in HUGEINT (the cross-multiplies reach
    * ~1e28, past int64), the macd is ONE double division, the signal
    * EMA runs over the floor-quantized micro-cents macd.
    */
  private def macdOracleSql(fast: Int, slow: Int, signalN: Int): String = {
    def weights(n: Int) = (0 until n).map { j =>
      BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(n: Int, x: String) = weights(n).zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(n: Int, x: String) = weights(n).zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         m1 AS (SELECT user_id, bucket_ts, cents,
                 ${numSql(fast, "cents")} AS nf,
                 ${denSql(fast, "cents")} AS df,
                 ${numSql(slow, "cents")} AS ns,
                 ${denSql(slow, "cents")} AS ds
                FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         m2 AS (SELECT user_id, bucket_ts, cents,
                 CAST(nf * ds - ns * df AS DOUBLE) / CAST(df * ds AS DOUBLE) AS macd
                FROM m1),
         m3 AS (SELECT user_id, bucket_ts, cents, macd,
                 CAST(floor(macd * 1000000) AS BIGINT) AS macd_micro FROM m2),
         sig AS (SELECT user_id, bucket_ts, cents, macd, macd_micro,
                 CAST(${numSql(signalN, "macd_micro")} AS DOUBLE)
                 / CAST(${denSql(signalN, "macd_micro")} AS DOUBLE) AS sig_v
                FROM m3 WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cents AS close_cents, macd AS macd_cents,
                macd_micro, sig_v AS signal_micro,
                CAST(macd_micro AS DOUBLE) - sig_v AS hist_micro
         FROM sig"""
  }

  /** Oracle for q_holt_brown: the engine's twice-applied truncated
    * EWMA with Brown's rational identities expanded over HUGEINTs —
    * level/trend/forecast each one IEEE division, matching the
    * decimal(38,0) arithmetic bit for bit.
    */
  private def holtOracleSql(n: Int): String = {
    def weights = (0 until n).map { j =>
      BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         m1 AS (SELECT user_id, bucket_ts, cents,
                 ${numSql("cents")} AS n1,
                 ${denSql("cents")} AS d1
                FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         m2 AS (SELECT user_id, bucket_ts, cents,
                 CAST(floor((CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE)) * 1000000)
                      AS BIGINT) AS s1_micro
                FROM m1),
         m3 AS (SELECT user_id, bucket_ts, cents, s1_micro,
                 ${numSql("s1_micro")} AS n2,
                 ${denSql("s1_micro")} AS d2
                FROM m2 WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cents AS close_cents, s1_micro,
                CAST(2 * s1_micro * d2 - n2 AS DOUBLE) / CAST(d2 AS DOUBLE)
                  AS level_micro,
                CAST(2 * (s1_micro * d2 - n2) AS DOUBLE)
                  / CAST(${n - 1} * d2 AS DOUBLE) AS trend_micro,
                CAST((2 * s1_micro * d2 - n2) * ${n - 1}
                     + 2 * (s1_micro * d2 - n2) AS DOUBLE)
                  / CAST(${n - 1} * d2 AS DOUBLE) AS forecast_micro
         FROM m3"""
  }

  /** Oracle for q_keltner: EMA num/den weights and the windowed TR
    * sum/count combined over the common denominator in HUGEINTs —
    * mid/upper/lower each one IEEE division.
    */
  private def keltnerOracleSql(emaN: Int, atrN: Int, k: Int): String = {
    def weights = (0 until emaN).map { j =>
      BigInt(emaN - 1).pow(j) * BigInt(emaN + 1).pow(emaN - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         t AS (SELECT user_id, bucket_ts, cl,
                 CASE WHEN lag(cl) OVER w IS NULL THEN h - l
                      ELSE greatest(h - l, abs(h - lag(cl) OVER w),
                                    abs(l - lag(cl) OVER w)) END AS tr,
                 ${numSql("cl")} AS ne,
                 ${denSql("cl")} AS de
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         s AS (SELECT user_id, bucket_ts, cl, tr, ne, de,
                 CAST(sum(tr) OVER wa AS HUGEINT) AS ts,
                 CAST(count(*) OVER wa AS HUGEINT) AS tc
               FROM t
               WINDOW wa AS (PARTITION BY user_id ORDER BY bucket_ts
                             ROWS BETWEEN ${atrN - 1} PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, cl AS close_cents, tr AS tr_cents,
                CAST(ne AS DOUBLE) / CAST(de AS DOUBLE) AS mid_cents,
                CAST(ne * tc + $k * ts * de AS DOUBLE)
                  / CAST(de * tc AS DOUBLE) AS upper_cents,
                CAST(ne * tc - $k * ts * de AS DOUBLE)
                  / CAST(de * tc AS DOUBLE) AS lower_cents
         FROM s"""
  }

  /** Oracle for q_ewma_vol: the truncated EWMA weights over squared
    * cent moves in HUGEINTs; variance = one division, vol = its sqrt.
    */
  private def ewmaVolOracleSql(n: Int): String = {
    def weights = (0 until n).map { j =>
      BigInt(n - 1).pow(j) * BigInt(n + 1).pow(n - 1 - j)
    }
    def lagExpr(x: String, j: Int) = if (j == 0) x else s"lag($x, $j) OVER w"
    def numSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) * ${lagExpr(x, j)} ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    def denSql(x: String) = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(x, j)} IS NOT NULL THEN CAST($wj AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 cents - lag(cents) OVER w AS dd,
                 (cents - lag(cents) OVER w) * (cents - lag(cents) OVER w) AS d2
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         v AS (SELECT user_id, bucket_ts, dd,
                 ${numSql("d2")} AS nv,
                 ${denSql("d2")} AS dv
               FROM d WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, dd AS move_cents,
                CASE WHEN dd IS NOT NULL
                     THEN CAST(nv AS DOUBLE) / CAST(dv AS DOUBLE) END
                  AS ewma_var_cents2,
                CASE WHEN dd IS NOT NULL
                     THEN sqrt(CAST(nv AS DOUBLE) / CAST(dv AS DOUBLE)) END
                  AS ewma_vol_cents
         FROM v"""
  }

  /** Oracle for q_heikin_ashi: hc4 = cents OHLC sum (= 4·ha_close
    * cents); ha_open = Σ 2^(n-j)·hc4_lag_j / (400·Σ 2^(n-j) present),
    * the engine's truncated dyadic EWMA, seeded at raw (o+c)/2.
    */
  private def haOracleSql(nWindow: Int): String = {
    def lagExpr(j: Int) = s"lag(hc4, $j) OVER w"
    val numTerms = (1 to nWindow).map { j =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN ${1L << (nWindow - j)} * ${lagExpr(j)} ELSE 0 END"
    }.mkString("\n                + ")
    val wTerms = (1 to nWindow).map { j =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN CAST(${1L << (nWindow - j)} AS BIGINT) ELSE 0 END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_min(value, ts) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, open, high, low, close,
                 CAST(round(open * 100) AS BIGINT) AS oc,
                 CAST(round(close * 100) AS BIGINT) AS cc,
                 CAST(round(open * 100) AS BIGINT) + CAST(round(high * 100) AS BIGINT)
                   + CAST(round(low * 100) AS BIGINT) + CAST(round(close * 100) AS BIGINT) AS hc4
               FROM r1h),
         h AS (SELECT user_id, bucket_ts, high, low, oc, cc, hc4,
                 $numTerms AS num,
                 $wTerms AS wsum
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         ha AS (SELECT user_id, bucket_ts, high, low,
                 CASE WHEN wsum = 0
                      THEN CAST(oc + cc AS DOUBLE) / 200.0
                      ELSE CAST(num AS DOUBLE) / CAST(wsum * 400 AS DOUBLE) END AS ha_open,
                 CAST(hc4 AS DOUBLE) / 400.0 AS ha_close
               FROM h)
         SELECT user_id, bucket_ts, ha_open, ha_close,
                greatest(high, ha_open, ha_close) AS ha_high,
                least(low, ha_open, ha_close) AS ha_low
         FROM ha"""
  }

  /** Oracle for q_ema: the same truncated-EWMA integer weights
    * (n-1)^j (n+1)^(n-1-j) as CandleOps.ema, generated as BIGINT
    * literals over explicit lags so DuckDB reproduces the exact
    * numerator/denominator and the single IEEE division bit-for-bit.
    * BIGINT, not HUGEINT, on purpose: DuckDB's HUGEINT→DOUBLE cast
    * converts the two 64-bit halves separately and double-rounds on
    * rare values, while int64→double is correctly rounded in both
    * engines — so the checked configuration must keep
    * n·(n+1)^(n-1)·maxCents under 2^63 (n=12 covers cents to ~4e5;
    * DuckDB raises on overflow rather than wrapping, so a violation
    * is loud).
    */
  private def emaOracleSql(nWindow: Int): String = {
    val weights = (0 until nWindow).map { j =>
      BigInt(nWindow - 1).pow(j) * BigInt(nWindow + 1).pow(nWindow - 1 - j)
    }
    def lagExpr(j: Int) = if (j == 0) "cents" else s"lag(cents, $j) OVER w"
    val numTerms = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN CAST($wj AS BIGINT) * ${lagExpr(j)} ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n                + ")
    val denTerms = weights.zipWithIndex.map { case (wj, j) =>
      s"CASE WHEN ${lagExpr(j)} IS NOT NULL THEN CAST($wj AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n                + ")
    s"""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h)
         SELECT user_id, bucket_ts, cents AS close_cents,
                CAST($numTerms AS DOUBLE)
                / CAST($denTerms AS DOUBLE) AS ema_cents
         FROM c
         WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)"""
  }

  /** Last value per user and hour (`r1h`). */
  private val hourlyCloseCte: String =
    """r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2)"""

  /** Daily closes per user as (day number, cents) points (`r1d`, `p`). */
  private val dailyCentsXyCtes: String =
    """r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         p AS (SELECT user_id,
                 date_diff('day', DATE '1970-01-01', CAST(bucket_ts AS DATE)) AS x,
                 CAST(round(close * 100) AS BIGINT) AS y FROM r1d)"""

  /** Hourly closes per user, then in cents (`r1h`, `c`). */
  private val hourlyCentsCtes: String =
    """r1h AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                  arg_max(value, ts) AS close
           FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h)"""

  /** Hourly close and cent volume per user, then in cents (`r1h`, `c`). */
  private val closeVolCentsCtes: String =
    """r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl,
                 vol_cents AS v
               FROM r1h)"""

  /** Hourly high/low/close per user, then in cents (`r1h`, `c`). */
  private val hlcCentsCtes: String =
    """r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h)"""

  /** Hourly closes in cents (`c`) and each key's non-null cent moves
    * keyed by bucket epoch (`m`).
    */
  private val centMoveCtes: String =
    """c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, epoch_us(bucket_ts) AS us, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL)"""

  /** Sign-sketch fingerprint per key (`ax`, `votes`, `fp`): md5-derived
    * 64-axis majority sign of each key's cent moves.
    */
  private val signFpCtes: String =
    """ax AS (SELECT user_id,
                  CAST(('0x' || substr(md5(CAST(us AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS j,
                  dd AS s
                FROM m WHERE dd <> 0),
         votes AS (SELECT user_id, j, sum(s) AS vote FROM ax GROUP BY 1, 2),
         fp AS (SELECT user_id,
                  bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << CAST(j AS INT)
                              ELSE CAST(0 AS UBIGINT) END) AS sh
                FROM votes GROUP BY 1)"""

  /** Band guard, candidate pairs within hamming 24, and the exact co-moment
    * correlation over aligned moves: the tail of the sign-sketch screens.
    */
  private val screenTailCtes: String =
    """kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h)),
         pairs AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                     CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                   FROM guarded a JOIN guarded b USING (band, h)
                   WHERE a.user_id < b.user_id
                     AND bit_count(xor(a.sh, b.sh)) <= 24),
         al AS (SELECT p.key_a, p.key_b, p.hamming, a.dd AS da, b.dd AS db
                FROM pairs p
                JOIN m a ON a.user_id = p.key_a
                JOIN m b ON b.user_id = p.key_b AND b.us = a.us),
         g AS (SELECT key_a, key_b, max(hamming) AS hamming, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM al GROUP BY 1, 2)
         SELECT key_a, key_b, hamming, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g"""

  /** Per-user candles at `grain` from the events table: the series most
    * indicators read.
    */
  private def userCandles(s: SparkSession, dir: String, grain: String): DataFrame =
    CandleOps.ohlcvRollup(Tables.events(s, dir), Seq("user_id"), "ts", "value", grain)

  /** [[userCandles]] with exact cent volumes: the carrier rollup
    * without its two carrier timestamps.
    */
  private def userCandlesCents(s: SparkSession, dir: String, grain: String): DataFrame =
    CandleOps.ohlcvRollup(Tables.events(s, dir), Seq("user_id"), "ts", "value", grain,
      withCarriers = true).drop("open_ts", "close_ts")

  val all: Seq[Q] = Seq(
    // ----- Window-frame analytics: moving average over rollups --------
    Q("q_sma", (s, dir) => {
      val r1h = CandleOps.ohlcvRollup(
        Tables.events(s, dir), Seq("user_id"), "ts", "value", "1 hour",
        withCarriers = true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
        .rowsBetween(-6, 0)
      r1h.select(
        col("user_id"), col("bucket_ts"),
        col("close").as("close"),
        sum(col("vol_cents")).over(w).as("__sv"),
        count(lit(1)).over(w).as("__n"))
        .select(col("user_id"), col("bucket_ts"), col("close"),
          (graft.functions.Cents.centsToMoney(col("__sv")) / col("__n")).as("vol_sma7"),
          col("__n").cast(LongType).as("n_in_frame"))
    },
      Some("""WITH r1h AS (
           SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                  arg_max(value, ts) AS close,
                  sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS vol_cents
           FROM events GROUP BY 1, 2)
         SELECT user_id, bucket_ts, close,
                CAST(sum(vol_cents) OVER w AS DOUBLE) / 100 / count(*) OVER w AS vol_sma7,
                CAST(count(*) OVER w AS BIGINT) AS n_in_frame
         FROM r1h
         WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""")),

    // ----- Technical indicators: Bollinger bands and simple RSI over
    // the 1h candle rollup — exact cent sums, one IEEE division /
    // correctly-rounded sqrt at the end -------------------------------
    Q("q_bollinger", (s, dir) =>
      CandleOps.bollinger(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close",
        nWindow = 20, k = 2),
      Some(s"""WITH $hourlyCentsCtes
         SELECT user_id, bucket_ts, cents AS close_cents,
                count(*) OVER w AS n_in_frame,
                CAST(sum(cents) OVER w AS DOUBLE)
                  / CAST(count(*) OVER w AS DOUBLE) AS mid_cents,
                CAST(sum(cents) OVER w AS DOUBLE)
                  / CAST(count(*) OVER w AS DOUBLE)
                  + 2 * sqrt(CAST(count(*) OVER w * (sum(cents * cents) OVER w)
                               - (sum(cents) OVER w) * (sum(cents) OVER w) AS DOUBLE)
                             / CAST(count(*) OVER w * count(*) OVER w AS DOUBLE))
                  AS upper_cents,
                CAST(sum(cents) OVER w AS DOUBLE)
                  / CAST(count(*) OVER w AS DOUBLE)
                  - 2 * sqrt(CAST(count(*) OVER w * (sum(cents * cents) OVER w)
                               - (sum(cents) OVER w) * (sum(cents) OVER w) AS DOUBLE)
                             / CAST(count(*) OVER w * count(*) OVER w AS DOUBLE))
                  AS lower_cents
         FROM c
         WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""")),
    Q("q_rsi", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      CandleOps.rsi(r1h, Seq("user_id"), "bucket_ts", "close", nWindow = 14)
    },
      Some(s"""WITH $hourlyCentsCtes,
         d AS (SELECT user_id, bucket_ts,
                 cents - lag(cents) OVER (PARTITION BY user_id
                   ORDER BY bucket_ts) AS dd FROM c),
         g AS (SELECT user_id, bucket_ts,
                 CAST(sum(CASE WHEN dd > 0 THEN dd ELSE 0 END) OVER w AS BIGINT) AS gains_cents,
                 CAST(sum(CASE WHEN dd < 0 THEN -dd ELSE 0 END) OVER w AS BIGINT) AS losses_cents
               FROM d
               WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, gains_cents, losses_cents,
                CASE WHEN gains_cents + losses_cents = 0 THEN NULL
                     ELSE CAST(gains_cents * 100 AS DOUBLE)
                          / CAST(gains_cents + losses_cents AS DOUBLE)
                END AS rsi
         FROM g""")),

    // ----- Time-weighted average (TWAP): each observation holds until
    // the next one (validity-interval weighting), exact decimal sums,
    // single final division — the indicator VWAP's time-domain twin ---
    Q("q_twap", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("__next_ts", lead(col("ts"), 1).over(w))
        .filter(col("__next_ts").isNotNull)
        .withColumn("__dur",
          unix_micros(col("__next_ts")) - unix_micros(col("ts")))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("__dur")).as("total_dur_us"),
          // cents x micros: exact integer weighted sum (the sigma-
          // outlier cents idiom — round(v*100) is IEEE-identical in
          // both engines, unlike a double -> decimal cast)
          sum(round(col("value") * 100).cast(DecimalType(38, 0)) *
            col("__dur")).as("__wsum"))
        .select(col("user_id"), col("n_intervals"), col("total_dur_us"),
          (col("__wsum").cast(DoubleType) /
            (col("total_dur_us").cast(DoubleType) * lit(100.0))).as("twap"))
    },
      // Observation-holds-until-next weighting; decimal-exact weighted
      // sum, BIGINT-cast duration sum (DuckDB sum() is HUGEINT), one
      // IEEE division at the end.
      Some("""WITH iv AS (
           SELECT user_id, value,
                  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                    - epoch_us(ts) AS dur
           FROM events
           QUALIFY lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL)
         SELECT user_id,
                count(*) AS n_intervals,
                CAST(sum(dur) AS BIGINT) AS total_dur_us,
                CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0)) * dur) AS DOUBLE)
                  / (CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) * 100.0) AS twap
         FROM iv GROUP BY 1""")),

    // ----- Truncated EWMA in exact integers: weights (n-1)^j(n+1)^(n-1-j)
    // make numerator/denominator exact decimal sums; ema is ONE IEEE
    // division (same bit-reproducibility contract as q_rsi/q_bollinger).
    // n = 12 keeps the numerator under 2^63 so BOTH engines cast the
    // same int64 to double correctly rounded — DuckDB's HUGEINT→DOUBLE
    // goes through two 64-bit halves and double-rounds ~1e-16 of rows,
    // so the hash contract pins the sums to the BIGINT range ----------
    Q("q_ema", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      CandleOps.ema(r1h, Seq("user_id"), "bucket_ts", "close", nWindow = 12)
    },
      Some(emaOracleSql(nWindow = 12))),

    // ----- Max drawdown per key: running-peak window in exact cents,
    // per-key max of (peak - close) and its IEEE-division ratio -------
    Q("q_drawdown", (s, dir) =>
      CandleOps.drawdown(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close"),
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         p AS (SELECT user_id, cents,
                 max(cents) OVER (PARTITION BY user_id ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
               FROM c)
         SELECT user_id, count(*) AS n_buckets,
                CAST(max(peak) AS BIGINT) AS peak_cents,
                CAST(max(peak - cents) AS BIGINT) AS max_dd_cents,
                max(CASE WHEN peak > 0
                      THEN CAST(peak - cents AS DOUBLE) / CAST(peak AS DOUBLE)
                    END) AS max_dd_frac
         FROM p GROUP BY 1""")),

    // ----- Realized-volatility summary: exact-integer close-to-close
    // move stats (n·Σd² − (Σd)² variance, never divides early) --------
    Q("q_move_stats", (s, dir) =>
      CandleOps.moveStats(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close"),
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         d AS (SELECT user_id, cents - lag(cents) OVER
                 (PARTITION BY user_id ORDER BY bucket_ts) AS d FROM c)
         SELECT user_id, count(*) AS n_moves,
                CAST(sum(d) AS BIGINT) AS sum_move_cents,
                CAST(sum(d * d) AS BIGINT) AS sum_move_sq,
                CAST(CAST(sum(d) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_move,
                CASE WHEN count(*) > 1 THEN
                  CAST(count(*) * CAST(sum(d * d) AS BIGINT)
                       - CAST(sum(d) AS BIGINT) * CAST(sum(d) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) * count(*) AS DOUBLE)
                END AS var_move,
                CAST(max(d) AS BIGINT) AS max_up_cents,
                CAST(min(d) AS BIGINT) AS max_down_cents
         FROM d WHERE d IS NOT NULL GROUP BY 1""")),

    // ----- Beta/correlation vs a benchmark key: broadcast the one
    // benchmark series into the bucket join; five exact co-moment
    // sums, one division (beta) and one sqrt (corr) -------------------
    Q("q_beta", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      CandleOps.betaVsBenchmark(
        r1h, Seq("user_id"), "bucket_ts", "close", col("user_id") === 7)
    },
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1h),
         m AS (SELECT user_id, bucket_ts, dx FROM (
                 SELECT user_id, bucket_ts, cents - lag(cents) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dx FROM c)
               WHERE dx IS NOT NULL),
         b AS (SELECT bucket_ts, dx AS dy FROM m WHERE user_id = 7),
         j AS (SELECT m.user_id, m.dx, b.dy
               FROM m JOIN b USING (bucket_ts) WHERE m.user_id <> 7),
         a AS (SELECT user_id, count(*) AS n,
                 CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                 CAST(sum(dx * dy) AS BIGINT) AS sxy,
                 CAST(sum(dx * dx) AS BIGINT) AS sxx,
                 CAST(sum(dy * dy) AS BIGINT) AS syy
               FROM j GROUP BY 1)
         SELECT user_id, n AS n_aligned, sx AS sum_dx, sy AS sum_dy,
                sxy AS sum_dxdy, sxx AS sum_dx2, syy AS sum_dy2,
                CASE WHEN n * syy - sy * sy > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * syy - sy * sy AS DOUBLE)
                END AS beta,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE))
                END AS corr
         FROM a""")),

    // ----- Candlestick pattern stream: doji/hammer/engulfing flags in
    // pure integer-cents comparisons, one lag window, flagged rows only
    Q("q_candle_patterns", (s, dir) =>
      CandleOps.candlePatterns(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts"),
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_min(value, ts) AS open, max(value) AS high,
                min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(open * 100) AS BIGINT) AS o,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1h),
         f AS (SELECT user_id, bucket_ts, o, h, l, cl,
                 abs(cl - o) AS body, h - l AS rng,
                 least(o, cl) - l AS ls, h - greatest(o, cl) AS us,
                 lag(o) OVER w AS po, lag(cl) OVER w AS pc
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, o AS open_cents, h AS high_cents,
                l AS low_cents, cl AS close_cents,
                body * 10 <= rng AND rng > 0 AS doji,
                ls >= body * 2 AND us <= body AND body > 0 AS hammer,
                coalesce(pc IS NOT NULL AND pc < po AND cl > o
                         AND cl >= po AND o <= pc, FALSE) AS bullish_engulfing,
                coalesce(pc IS NOT NULL AND pc > po AND cl < o
                         AND cl <= po AND o >= pc, FALSE) AS bearish_engulfing
         FROM f
         WHERE (body * 10 <= rng AND rng > 0)
            OR (ls >= body * 2 AND us <= body AND body > 0)
            OR coalesce(pc IS NOT NULL AND pc < po AND cl > o
                        AND cl >= po AND o <= pc, FALSE)
            OR coalesce(pc IS NOT NULL AND pc > po AND cl < o
                        AND cl <= po AND o >= pc, FALSE)""")),

    // ----- Stochastic oscillator: raw %K one division of exact cent
    // longs; slow line smooths num/den separately so it stays one
    // division too (an SMA of doubles would not hash-match) ----------
    Q("q_stochastic", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      CandleOps.stochastic(r1h, Seq("user_id"), "bucket_ts", nWindow = 14, smoothN = 3)
    },
      Some(s"""WITH $hlcCentsCtes,
         b AS (SELECT user_id, bucket_ts,
                 cl - min(l) OVER w14 AS num,
                 max(h) OVER w14 - min(l) OVER w14 AS den
               FROM c
               WINDOW w14 AS (PARTITION BY user_id ORDER BY bucket_ts
                              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, num AS k_num_cents, den AS k_den_cents,
                CASE WHEN den > 0 THEN CAST(num * 100 AS DOUBLE)
                                       / CAST(den AS DOUBLE) END AS k_raw,
                CASE WHEN CAST(sum(den) OVER w3 AS BIGINT) > 0
                     THEN CAST(CAST(sum(num) OVER w3 AS BIGINT) * 100 AS DOUBLE)
                          / CAST(CAST(sum(den) OVER w3 AS BIGINT) AS DOUBLE)
                END AS k_slow
         FROM b
         WINDOW w3 AS (PARTITION BY user_id ORDER BY bucket_ts
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""")),

    // ----- ATR: true range in exact cents, windowed-mean smoothing
    // (one division by the actual frame size) ------------------------
    Q("q_atr", (s, dir) =>
      CandleOps.atr(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", nWindow = 14),
      Some(s"""WITH $hlcCentsCtes,
         t AS (SELECT user_id, bucket_ts,
                 CASE WHEN lag(cl) OVER w IS NULL THEN h - l
                      ELSE greatest(h - l, abs(h - lag(cl) OVER w),
                                    abs(l - lag(cl) OVER w)) END AS tr
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, tr AS tr_cents,
                CAST(CAST(sum(tr) OVER w14 AS BIGINT) AS DOUBLE)
                  / CAST(count(*) OVER w14 AS DOUBLE) AS atr_cents
         FROM t
         WINDOW w14 AS (PARTITION BY user_id ORDER BY bucket_ts
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""")),

    // ----- Donchian channel: rolling extreme band + close position --
    Q("q_donchian", (s, dir) =>
      CandleOps.donchian(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", nWindow = 20),
      Some(s"""WITH $hlcCentsCtes
         SELECT user_id, bucket_ts, cl AS close_cents,
                max(h) OVER w20 AS upper_cents,
                min(l) OVER w20 AS lower_cents,
                CAST(max(h) OVER w20 + min(l) OVER w20 AS DOUBLE) / 2.0 AS mid_cents,
                CASE WHEN max(h) OVER w20 > min(l) OVER w20
                     THEN CAST(cl - min(l) OVER w20 AS DOUBLE)
                          / CAST(max(h) OVER w20 - min(l) OVER w20 AS DOUBLE)
                END AS position
         FROM c
         WINDOW w20 AS (PARTITION BY user_id ORDER BY bucket_ts
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""")),

    // ----- SAX words: 6-segment symbolic shape of each user's last 24
    // daily closes (the test streams span ~30 active days), digitized
    // against the window's own exact quartiles — regime/motif matching
    // as a string join ------------------------------------------------
    Q("q_sax", (s, dir) =>
      CandleOps.saxWords(userCandles(s, dir, "1 day"), Seq("user_id"), "bucket_ts", "close",
        nDays = 24, segLen = 4),
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, CAST(round(close * 100) AS BIGINT) AS v FROM r1d),
         r AS (SELECT user_id, v,
                 row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts DESC) AS rn
               FROM c),
         k AS (SELECT user_id, v, rn, count(*) OVER (PARTITION BY user_id) AS nk
               FROM r WHERE rn <= 24),
         f AS (SELECT user_id, v, rn, (24 - rn) // 4 AS seg,
                 row_number() OVER (PARTITION BY user_id ORDER BY v, rn) AS qr
               FROM k WHERE nk = 24),
         q AS (SELECT user_id,
                 max(CASE WHEN qr = 6 THEN v END) AS q1,
                 max(CASE WHEN qr = 12 THEN v END) AS q2,
                 max(CASE WHEN qr = 18 THEN v END) AS q3
               FROM f GROUP BY 1),
         s AS (SELECT user_id, seg, sum(v) AS sv FROM f GROUP BY 1, 2),
         y AS (SELECT s.user_id, s.seg,
                 CASE WHEN sv < q1 * 4 THEN 'a'
                      WHEN sv < q2 * 4 THEN 'b'
                      WHEN sv < q3 * 4 THEN 'c'
                      ELSE 'd' END AS sym
               FROM s JOIN q USING (user_id))
         SELECT user_id, string_agg(sym, '' ORDER BY seg) AS sax_word
         FROM y GROUP BY 1""")),

    // ----- Mann–Kendall monotonic-trend gate: exact integer pair
    // concordance + tie-corrected variance, one sqrt-division z ------
    Q("q_mann_kendall", (s, dir) =>
      CandleOps.mannKendall(userCandles(s, dir, "1 day"), Seq("user_id"), "bucket_ts", "close"),
      Some(s"""WITH $dailyCentsXyCtes,
         sp AS (SELECT a.user_id, CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat
                FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x GROUP BY 1),
         tg AS (SELECT user_id, y, count(*) AS t FROM p GROUP BY 1, 2),
         ti AS (SELECT user_id, CAST(sum(t) AS BIGINT) AS n,
                  CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT) AS tieterm
                FROM tg GROUP BY 1)
         SELECT sp.user_id, ti.n AS n_obs, sp.s_stat,
                ti.n * (ti.n - 1) * (ti.n * 2 + 5) - ti.tieterm AS var18,
                CAST(CASE WHEN sp.s_stat > 0 THEN sp.s_stat - 1
                          WHEN sp.s_stat < 0 THEN sp.s_stat + 1
                          ELSE 0 END AS DOUBLE)
                  / sqrt(CAST(ti.n * (ti.n - 1) * (ti.n * 2 + 5) - ti.tieterm AS DOUBLE)
                         / 18.0) AS z
         FROM sp JOIN ti USING (user_id)
         WHERE ti.n * (ti.n - 1) * (ti.n * 2 + 5) - ti.tieterm > 0""")),

    // ----- Theil–Sen robust trend: lower median of all pairwise daily
    // slopes — the outlier-immune complement to q_trend_slope --------
    Q("q_theil_sen", (s, dir) =>
      CandleOps.theilSen(userCandles(s, dir, "1 day"), Seq("user_id"), "bucket_ts", "close"),
      Some(s"""WITH $dailyCentsXyCtes,
         s AS (SELECT a.user_id,
                 CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
               FROM p a JOIN p b ON a.user_id = b.user_id AND a.x < b.x),
         r AS (SELECT user_id, sl,
                 row_number() OVER (PARTITION BY user_id ORDER BY sl) AS rk,
                 count(*) OVER (PARTITION BY user_id) AS m
               FROM s)
         SELECT user_id, CAST(max(m) AS BIGINT) AS n_pairs, min(sl) AS theil_sen_slope
         FROM r WHERE rk * 2 = m OR rk * 2 = m + 1 GROUP BY 1""")),

    // ----- Runs test: do up/down days streak beyond chance? Exact
    // counts; expected/variance one division each; z mirrors the
    // oracle op-for-op -----------------------------------------------
    Q("q_runs_test", (s, dir) =>
      CandleOps.runsTest(userCandles(s, dir, "1 day"), Seq("user_id"), "bucket_ts", "close"),
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, CAST(round(close * 100) AS BIGINT) AS v FROM r1d),
         m AS (SELECT user_id, bucket_ts,
                 CASE WHEN v > lag(v) OVER w THEN 1
                      WHEN v < lag(v) OVER w THEN -1 ELSE 0 END AS sgn
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         f AS (SELECT user_id, bucket_ts, sgn,
                 lag(sgn) OVER (PARTITION BY user_id ORDER BY bucket_ts) AS prev
               FROM m WHERE sgn <> 0),
         g AS (SELECT user_id,
                 CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
                 CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
                 CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
               FROM f GROUP BY 1)
         SELECT user_id, n_plus, n_minus, n_runs,
                1.0 + CAST(n_plus * n_minus * 2 AS DOUBLE)
                      / CAST(n_plus + n_minus AS DOUBLE) AS expected_runs,
                CASE WHEN (n_plus * n_minus * 2) * (n_plus * n_minus * 2 - (n_plus + n_minus)) > 0
                     THEN (CAST(n_runs AS DOUBLE)
                           - (1.0 + CAST(n_plus * n_minus * 2 AS DOUBLE)
                                    / CAST(n_plus + n_minus AS DOUBLE)))
                          / sqrt(CAST((n_plus * n_minus * 2) * (n_plus * n_minus * 2 - (n_plus + n_minus)) AS DOUBLE)
                                 / CAST((n_plus + n_minus) * (n_plus + n_minus) * (n_plus + n_minus - 1) AS DOUBLE))
                END AS z
         FROM g WHERE n_plus + n_minus >= 2 AND n_plus > 0 AND n_minus > 0""")),

    // ----- Ichimoku cloud: channel midpoints + displaced spans, every
    // line ONE division of exact integer cents -----------------------
    Q("q_ichimoku", (s, dir) =>
      CandleOps.ichimoku(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts"),
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts, close,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l
               FROM r1h),
         m AS (SELECT user_id, bucket_ts, close,
                 max(h) OVER w9 + min(l) OVER w9 AS t2,
                 max(h) OVER w26 + min(l) OVER w26 AS k2,
                 max(h) OVER w52 + min(l) OVER w52 AS b2
               FROM c
               WINDOW w9 AS (PARTITION BY user_id ORDER BY bucket_ts
                             ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                      w26 AS (PARTITION BY user_id ORDER BY bucket_ts
                              ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
                      w52 AS (PARTITION BY user_id ORDER BY bucket_ts
                              ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts,
                CAST(t2 AS DOUBLE) / 200.0 AS tenkan,
                CAST(k2 AS DOUBLE) / 200.0 AS kijun,
                CAST(lag(t2 + k2, 26) OVER wo AS DOUBLE) / 400.0 AS senkou_a,
                CAST(lag(b2, 26) OVER wo AS DOUBLE) / 200.0 AS senkou_b,
                lead(close, 26) OVER wo AS chikou
         FROM m
         WINDOW wo AS (PARTITION BY user_id ORDER BY bucket_ts)""")),

    // ----- On-balance volume: signed cumulative volume in exact
    // decimal, published as BIGINT cents -----------------------------
    Q("q_obv", (s, dir) => {
      val r1h = userCandlesCents(s, dir, "1 hour")
      CandleOps.obv(r1h, Seq("user_id"), "bucket_ts", "close", "vol_cents")
    },
      Some(s"""WITH $closeVolCentsCtes,
         d AS (SELECT user_id, bucket_ts, cl,
                 CASE WHEN cl - lag(cl) OVER w > 0 THEN v
                      WHEN cl - lag(cl) OVER w < 0 THEN -v
                      ELSE 0 END AS sv
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cl AS close_cents,
                CAST(sum(sv) OVER (PARTITION BY user_id ORDER BY bucket_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS obv_cents
         FROM d""")),

    // ----- MACD as exact rationals: fast/slow truncated EMAs cross-
    // multiplied before the ONE division; signal EMA re-enters integer
    // arithmetic via the floor-quantized micro-cents macd ------------
    Q("q_macd", (s, dir) =>
      CandleOps.macd(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close",
        fast = 6, slow = 13, signalN = 5),
      Some(macdOracleSql(fast = 6, slow = 13, signalN = 5))),

    // ----- Brown's double exponential smoothing: level/trend/one-step
    // forecast, each ONE division of exact decimals over the
    // twice-applied truncated EWMA (the macd quantize discipline) ----
    Q("q_holt_brown", (s, dir) =>
      CandleOps.holtBrown(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close",
        nWindow = 6),
      Some(holtOracleSql(n = 6))),

    // ----- Keltner channels: rational EWMA middle ± k×windowed-ATR,
    // each band one division over the common denominator --------------
    Q("q_keltner", (s, dir) =>
      CandleOps.keltner(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts",
        emaN = 13, atrN = 10, k = 2),
      Some(keltnerOracleSql(emaN = 13, atrN = 10, k = 2))),

    // ----- EWMA volatility (RiskMetrics): truncated rational EWMA of
    // squared cent moves, vol = one division then one sqrt ------------
    Q("q_ewma_vol", (s, dir) =>
      CandleOps.ewmaVolatility(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close",
        nWindow = 6),
      Some(ewmaVolOracleSql(n = 6))),

    // ----- Floor-trader pivot points from the previous day's candle --
    Q("q_pivot_points", (s, dir) =>
      CandleOps.pivotPoints(userCandles(s, dir, "1 day"), Seq("user_id"), "bucket_ts"),
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(round(close * 100) AS BIGINT) AS cl
               FROM r1d),
         p AS (SELECT user_id, bucket_ts, cl,
                 lag(h) OVER w AS ph, lag(l) OVER w AS pl, lag(cl) OVER w AS pc
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, bucket_ts, cl AS close_cents,
                ph AS prev_high_cents, pl AS prev_low_cents,
                pc AS prev_close_cents,
                CAST(ph + pl + pc AS DOUBLE) / 3.0 AS pivot,
                2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(pl AS DOUBLE) AS r1,
                2.0 * (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(ph AS DOUBLE) AS s1,
                (CAST(ph + pl + pc AS DOUBLE) / 3.0) + CAST(ph - pl AS DOUBLE) AS r2,
                (CAST(ph + pl + pc AS DOUBLE) / 3.0) - CAST(ph - pl AS DOUBLE) AS s2
         FROM p""")),

    // ----- Volume-at-price profile: $1 price buckets per key ---------
    Q("q_volume_profile", (s, dir) => {
      val r1h = userCandlesCents(s, dir, "1 hour")
      CandleOps.volumeProfile(r1h, Seq("user_id"), "close", "vol_cents",
        bucketCents = 100L)
    },
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id,
                 CAST(floor(CAST(round(close * 100) AS BIGINT) / 100.0) AS BIGINT)
                   AS price_bucket,
                 vol_cents AS v
               FROM r1h),
         g AS (SELECT user_id, price_bucket, count(*) AS n_buckets,
                 CAST(sum(v) AS BIGINT) AS volume_cents
               FROM c GROUP BY 1, 2)
         SELECT user_id, price_bucket, n_buckets, volume_cents,
                CAST(volume_cents AS DOUBLE)
                  / CAST(CAST(sum(volume_cents) OVER (PARTITION BY user_id)
                         AS BIGINT) AS DOUBLE) AS share
         FROM g""")),

    // ----- Per-user OLS price trend: exact integer moment sums over
    // the hourly rollup, closed-form least squares ---------------------
    Q("q_trend_slope", (s, dir) =>
      CandleOps.trendSlope(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", "close",
        originTs = "2024-01-01 00:00:00"),
      // OLS moments cross as digit strings; slope/intercept divide the
      // same exact integers once as doubles on both sides
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id,
                 (epoch_us(bucket_ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
                   // 3600000000 AS x,
                 CAST(round(close * 100) AS BIGINT) AS y
               FROM r1h),
         m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
               FROM c GROUP BY 1)
         SELECT user_id, n_obs,
                CAST(n_obs * sxy - sx * sy AS VARCHAR) AS slope_num,
                CAST(sy * sxx - sx * sxy AS VARCHAR) AS intercept_num,
                CAST(n_obs * sxx - sx * sx AS VARCHAR) AS den,
                CASE WHEN n_obs * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(n_obs * sxy - sx * sy AS DOUBLE)
                          / CAST(n_obs * sxx - sx * sx AS DOUBLE) END
                  AS slope_cents_per_hour,
                CASE WHEN n_obs * sxx - sx * sx = 0 THEN NULL
                     ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
                          / CAST(n_obs * sxx - sx * sx AS DOUBLE) END
                  AS intercept_cents
         FROM m""")),

    // ----- Lag-1 autocorrelation per user: mean-reversion diagnostic
    // from exact integer moments; IEEE sqrt is correctly rounded ------
    Q("q_autocorr", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      CandleOps.autocorrelation(r1h, Seq("user_id"), "bucket_ts", "close", k = 1)
    },
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS y FROM r1h),
         p AS (SELECT user_id, lag(y) OVER w AS x, y
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
               FROM p WHERE x IS NOT NULL GROUP BY 1)
         SELECT user_id, n_pairs,
                CAST(n_pairs * sxy - sx * sy AS VARCHAR) AS r_num,
                CASE WHEN (n_pairs * sxx - sx * sx) = 0
                       OR (n_pairs * syy - sy * sy) = 0 THEN NULL
                     ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) END
                  AS autocorr
         FROM m""")),

    // ----- Longest up/down day streaks per user: gaps-and-islands on
    // the sign of the daily move; the momentum-persistence readout of
    // the candle series. Flat days BREAK streaks: the overall day
    // index (__rn_all) is assigned BEFORE flat rows are dropped, so a
    // flat day leaves a hole in __rn_all and splits the island — an
    // up-flat-up sequence is two 1-day streaks, not one 2-day streak.
    Q("q_streaks", (s, dir) => {
      val r1d = userCandles(s, dir, "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val cents = round(col("close") * 100).cast(LongType)
      val (c, pc) = (col("__c"), col("__pc"))
      val sgn = when(c > pc, 1).when(c < pc, -1).otherwise(0)
      val wSgn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("sgn")).orderBy(col("bucket_ts"))
      r1d.select(col("user_id"), col("bucket_ts"), cents.as("__c"),
          lag(cents, 1).over(w).as("__pc"))
        .select(col("user_id"), col("bucket_ts"), sgn.as("sgn"),
          pc.isNotNull.as("__has_prev"))
        .filter(col("__has_prev"))
        .withColumn("__rn_all", row_number().over(w))
        .filter(col("sgn") =!= 0)
        .withColumn("__isl",
          col("__rn_all") - row_number().over(wSgn))
        .groupBy(col("user_id"), col("sgn"), col("__isl"))
        .agg(count(lit(1)).as("__len"))
        .groupBy(col("user_id"))
        .agg(
          coalesce(max(when(col("sgn") === 1, col("__len"))), lit(0L))
            .as("longest_up"),
          coalesce(max(when(col("sgn") === -1, col("__len"))), lit(0L))
            .as("longest_down"))
    },
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cents FROM r1d),
         m AS (SELECT user_id, bucket_ts,
                 CASE WHEN cents > lag(cents) OVER w THEN 1
                      WHEN cents < lag(cents) OVER w THEN -1 ELSE 0 END AS sgn,
                 lag(cents) OVER w IS NOT NULL AS has_prev
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, bucket_ts, sgn,
                 row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts) AS rn_all
               FROM m WHERE has_prev),
         f AS (SELECT user_id, bucket_ts, sgn,
                 rn_all
                 - row_number() OVER (PARTITION BY user_id, sgn ORDER BY bucket_ts) AS isl
               FROM g WHERE sgn <> 0),
         s AS (SELECT user_id, sgn, isl, CAST(count(*) AS BIGINT) AS len
               FROM f GROUP BY 1, 2, 3)
         SELECT user_id,
                CAST(coalesce(max(CASE WHEN sgn = 1 THEN len END), 0) AS BIGINT)
                  AS longest_up,
                CAST(coalesce(max(CASE WHEN sgn = -1 THEN len END), 0) AS BIGINT)
                  AS longest_down
         FROM s GROUP BY 1""")),

    // ----- Heikin-Ashi candles: ha_close one division of the cents
    // OHLC sum; ha_open the truncated dyadic-weight EWMA of past
    // ha_closes (exact longs, one division), seeded at raw (o+c)/2 ---
    Q("q_heikin_ashi", (s, dir) =>
      CandleOps.heikinAshi(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts", nWindow = 12),
      Some(haOracleSql(nWindow = 12))),

    // ----- Daily top movers: largest absolute day-over-day returns.
    // Rank key is floor basis points in INTEGERS (a float-ratio sort
    // could tie-break differently across engines); reported bps stays
    // the one IEEE division. TakeOrdered top-k, no global sort -------
    Q("q_top_movers", (s, dir) => {
      val r1d = userCandles(s, dir, "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val cents = round(col("close") * 100).cast(LongType)
      r1d.select(col("user_id"), col("bucket_ts"), cents.as("close_cents"))
        .withColumn("prev_cents", lag(col("close_cents"), 1).over(w))
        .filter(col("prev_cents").isNotNull && col("prev_cents") =!= 0)
        .withColumn("move_cents", col("close_cents") - col("prev_cents"))
        .withColumn("__bps_floor",
          expr("abs(move_cents) * 10000 div abs(prev_cents)"))
        .withColumn("move_bps",
          (col("move_cents") * lit(10000L)).cast(DoubleType) /
            col("prev_cents").cast(DoubleType))
        .orderBy(col("__bps_floor").desc, col("user_id"), col("bucket_ts"))
        .limit(25)
        .select(col("user_id"), col("bucket_ts"), col("close_cents"),
          col("prev_cents"), col("move_cents"), col("move_bps"))
    },
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS close_cents FROM r1d),
         m AS (SELECT user_id, bucket_ts, close_cents,
                 lag(close_cents) OVER (PARTITION BY user_id
                   ORDER BY bucket_ts) AS prev_cents
               FROM c),
         d AS (SELECT user_id, bucket_ts, close_cents, prev_cents,
                 close_cents - prev_cents AS move_cents
               FROM m WHERE prev_cents IS NOT NULL AND prev_cents <> 0)
         SELECT user_id, bucket_ts, close_cents, prev_cents, move_cents,
                CAST(move_cents * 10000 AS DOUBLE) / CAST(prev_cents AS DOUBLE)
                  AS move_bps
         FROM d
         ORDER BY abs(move_cents) * 10000 // abs(prev_cents) DESC,
                  user_id, bucket_ts
         LIMIT 25""")),

    // ----- Williams %R: close position in the trailing high/low
    // envelope; exact cent bounds, one division --------------------------
    Q("q_williams_r", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      MicrostructureOps.williamsR(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    },
      Some(s"""WITH $hlcCentsCtes,
         e AS (SELECT user_id, bucket_ts,
                 max(h) OVER w AS hh, min(l) OVER w AS ll, cl
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts,
                hh - cl AS hh_minus_close_cents,
                hh - ll AS range_cents,
                CASE WHEN hh - ll > 0 THEN
                  CAST((hh - cl) * -100 AS DOUBLE) / CAST(hh - ll AS DOUBLE)
                END AS willr
         FROM e""")),

    // ----- Aroon: bars-since-extreme via the packed-integer rolling
    // argmax (no first/last nondeterminism), one division ----------------
    Q("q_aroon", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      MicrostructureOps.aroon(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    },
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) AS h,
                 CAST(round(low * 100) AS BIGINT) AS l,
                 CAST(row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts)
                      AS BIGINT) AS rn
               FROM r1h),
         p AS (SELECT user_id, bucket_ts, rn,
                 h * 4294967296 + rn AS ph,
                 l * 4294967296 + (4294967295 - rn) AS pl
               FROM c),
         e AS (SELECT user_id, bucket_ts, rn,
                 CAST(count(*) OVER w AS BIGINT) AS m,
                 max(ph) OVER w AS mph, min(pl) OVER w AS mpl
               FROM p WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts,
                rn - (((mph % 4294967296) + 4294967296) % 4294967296) AS bars_since_high,
                rn - (4294967295 - (((mpl % 4294967296) + 4294967296) % 4294967296)) AS bars_since_low,
                CAST((m - (rn - (((mph % 4294967296) + 4294967296) % 4294967296))) * 100 AS DOUBLE)
                  / CAST(m AS DOUBLE) AS aroon_up,
                CAST((m - (rn - (4294967295 - (((mpl % 4294967296) + 4294967296) % 4294967296)))) * 100 AS DOUBLE)
                  / CAST(m AS DOUBLE) AS aroon_down
         FROM e""")),

    // ----- Money flow index: volume-weighted RSI on 3x typical price
    // (exact longs), one division ----------------------------------------
    Q("q_mfi", (s, dir) => {
      val r1h = userCandlesCents(s, dir, "1 hour")
      MicrostructureOps.mfi(r1h, Seq("user_id"), "bucket_ts", nWindow = 14)
    },
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS vol_cents
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) + CAST(round(low * 100) AS BIGINT)
                   + CAST(round(close * 100) AS BIGINT) AS tp3,
                 vol_cents AS v
               FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 CASE WHEN tp3 - lag(tp3) OVER o > 0 THEN tp3 * v ELSE 0 END AS pos,
                 CASE WHEN tp3 - lag(tp3) OVER o < 0 THEN tp3 * v ELSE 0 END AS neg
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         e AS (SELECT user_id, bucket_ts,
                 CAST(sum(pos) OVER w AS BIGINT) AS pf,
                 CAST(sum(neg) OVER w AS BIGINT) AS nf
               FROM d WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT user_id, bucket_ts, pf AS pos_flow, nf AS neg_flow,
                CASE WHEN pf + nf > 0 THEN
                  CAST(pf * 100 AS DOUBLE) / CAST(pf + nf AS DOUBLE)
                END AS mfi
         FROM e""")),

    // ----- CCI: the window's OWN mean deviation folded exactly with a
    // higher-order aggregate over the collected window ------------------
    Q("q_cci", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      MicrostructureOps.cci(r1h, Seq("user_id"), "bucket_ts", nWindow = 20)
    },
      Some("""WITH r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(high * 100) AS BIGINT) + CAST(round(low * 100) AS BIGINT)
                   + CAST(round(close * 100) AS BIGINT) AS tp3
               FROM r1h),
         e AS (SELECT user_id, bucket_ts, tp3,
                 CAST(count(*) OVER w AS BIGINT) AS m,
                 CAST(sum(tp3) OVER w AS BIGINT) AS s,
                 list(tp3) OVER w AS l
               FROM c WINDOW w AS (PARTITION BY user_id ORDER BY bucket_ts
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         f AS (SELECT user_id, bucket_ts, tp3, m, s,
                 CAST(list_sum(list_transform(l, x -> abs(m * x - s))) AS BIGINT)
                   AS dev_sum
               FROM e)
         SELECT user_id, bucket_ts,
                m * tp3 - s AS tp3_dev,
                dev_sum,
                CASE WHEN dev_sum > 0 THEN
                  CAST(m * (m * tp3 - s) * 1000 AS DOUBLE)
                  / CAST(dev_sum * 15 AS DOUBLE)
                END AS cci
         FROM f""")),

    // ----- Roll's implied spread: 2*sqrt(-serial autocovariance) of
    // cent moves; integer co-moments, sqrt of one division --------------
    Q("q_roll_spread", (s, dir) =>
      MicrostructureOps.rollSpread(userCandles(s, dir, "1 hour"), Seq("user_id"), "bucket_ts"),
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         d AS (SELECT user_id, bucket_ts,
                 cl - lag(cl) OVER o AS dt
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         p AS (SELECT user_id, dt, lag(dt) OVER o AS dp
               FROM d WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, count(*) AS n,
                 CAST(sum(dt) AS BIGINT) AS sx, CAST(sum(dp) AS BIGINT) AS sy,
                 CAST(sum(dt * dp) AS BIGINT) AS sxy
               FROM p WHERE dt IS NOT NULL AND dp IS NOT NULL GROUP BY 1)
         SELECT user_id, n AS n_pairs, sx AS sum_dt, sy AS sum_dp,
                sxy AS sum_dtdp,
                CASE WHEN n > 1 AND n * sxy - sx * sy < 0 THEN
                  sqrt(CAST(sx * sy - n * sxy AS DOUBLE)
                       / CAST(n * n AS DOUBLE)) * 2.0
                END AS roll_spread_cents
         FROM g""")),

    // ----- Kyle's lambda: OLS of cent move on tick-rule signed cent
    // volume — price impact per key, decimal co-moments -----------------
    Q("q_kyle_lambda", (s, dir) =>
      MicrostructureOps.kyleLambda(userCandlesCents(s, dir, "1 hour"), Seq("user_id"), "bucket_ts"),
      Some(s"""WITH $closeVolCentsCtes,
         d AS (SELECT user_id,
                 cl - lag(cl) OVER o AS y,
                 CASE WHEN cl - lag(cl) OVER o > 0 THEN v
                      WHEN cl - lag(cl) OVER o < 0 THEN -v
                      ELSE 0 END AS x
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
               FROM d WHERE y IS NOT NULL GROUP BY 1)
         SELECT user_id, n AS n_moves,
                CAST(sx AS BIGINT) AS sum_sv, CAST(sy AS BIGINT) AS sum_d,
                CASE WHEN n * sxx - sx * sx > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                END AS kyle_lambda
         FROM g""")),

    // ----- Amihud-style illiquidity, ratio-of-sums per (key, day):
    // cents moved per cent of volume, one division -----------------------
    Q("q_amihud", (s, dir) =>
      MicrostructureOps.amihud(userCandlesCents(s, dir, "1 hour"), Seq("user_id"), "bucket_ts"),
      Some(s"""WITH $closeVolCentsCtes,
         d AS (SELECT user_id, CAST(bucket_ts AS DATE) AS day,
                 cl - lag(cl) OVER o AS dd, v
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts))
         SELECT user_id, day, count(*) AS n_moves,
                CAST(sum(abs(dd)) AS BIGINT) AS sum_abs_move_cents,
                CAST(sum(v) AS BIGINT) AS sum_volume_cents,
                CASE WHEN CAST(sum(v) AS BIGINT) > 0 THEN
                  CAST(CAST(sum(abs(dd)) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                END AS illiq
         FROM d WHERE dd IS NOT NULL GROUP BY 1, 2""")),

    // ----- Pairwise return-correlation matrix: bucket-aligned self-
    // join (universe^2 pairs, map-side-combined co-moments) --------------
    Q("q_corr_matrix", (s, dir) =>
      MicrostructureOps.corrMatrix(userCandles(s, dir, "1 hour"), "user_id", "bucket_ts"),
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         m AS (SELECT user_id, bucket_ts, dd FROM (
                 SELECT user_id, bucket_ts, cl - lag(cl) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
               WHERE dd IS NOT NULL),
         j AS (SELECT a.user_id AS key_a, b.user_id AS key_b,
                 a.dd AS da, b.dd AS db
               FROM m a JOIN m b
                 ON a.bucket_ts = b.bucket_ts AND a.user_id < b.user_id),
         g AS (SELECT key_a, key_b, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM j GROUP BY 1, 2)
         SELECT key_a, key_b, n AS n_aligned, sab AS sum_ab, saa AS sum_aa,
                sbb AS sum_bb,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""")),

    // ----- Day-of-week return seasonality: mean daily move per
    // weekday as a ratio of exact sums — "is Monday red?" ---------------
    Q("q_dow_returns", (s, dir) => {
      val r1d = userCandles(s, dir, "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val cents = round(col("close") * 100).cast(LongType)
      val dec = DecimalType(38, 0)
      r1d.select(col("user_id"), col("bucket_ts"),
        (cents - lag(cents, 1).over(w)).as("__d"))
        .filter(col("__d").isNotNull)
        .groupBy(dayofweek(col("bucket_ts")).cast(LongType).as("weekday"))
        .agg(
          count(lit(1)).as("n_moves"),
          sum(col("__d").cast(dec)).cast(LongType).as("sum_move_cents"),
          sum(when(col("__d") > 0, 1L).otherwise(0L)).as("n_up"),
          (sum(col("__d").cast(dec)).cast(LongType).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("mean_move_cents"))
    },
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1d),
         d AS (SELECT user_id, bucket_ts, cl - lag(cl) OVER
                 (PARTITION BY user_id ORDER BY bucket_ts) AS dd FROM c)
         SELECT CAST(dayofweek(bucket_ts) + 1 AS BIGINT) AS weekday,
                count(*) AS n_moves,
                CAST(sum(dd) AS BIGINT) AS sum_move_cents,
                CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
                CAST(CAST(sum(dd) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS mean_move_cents
         FROM d WHERE dd IS NOT NULL GROUP BY 1""")),

    // ----- Overnight gaps: each day's open vs the prior day's close,
    // exact cents and one bps division ----------------------------------
    Q("q_overnight_gaps", (s, dir) => {
      val r1d = userCandles(s, dir, "1 day")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("bucket_ts"))
      val openC = round(col("open") * 100).cast(LongType)
      val closeC = round(col("close") * 100).cast(LongType)
      r1d.select(col("user_id"), col("bucket_ts"), openC.as("open_cents"),
        lag(closeC, 1).over(w).as("prev_close_cents"))
        .filter(col("prev_close_cents").isNotNull &&
          col("prev_close_cents") =!= 0)
        .withColumn("gap_cents", col("open_cents") - col("prev_close_cents"))
        .withColumn("gap_bps",
          (col("gap_cents") * 10000).cast(DoubleType) /
            abs(col("prev_close_cents")).cast(DoubleType))
    },
      Some("""WITH r1d AS (SELECT user_id, time_bucket(INTERVAL '1 day', ts) AS bucket_ts,
                arg_min(value, ts) AS open, arg_max(value, ts) AS close
            FROM events GROUP BY 1, 2),
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(open * 100) AS BIGINT) AS open_cents,
                 lag(CAST(round(close * 100) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY bucket_ts) AS prev_close_cents
               FROM r1d)
         SELECT user_id, bucket_ts, open_cents, prev_close_cents,
                open_cents - prev_close_cents AS gap_cents,
                CAST((open_cents - prev_close_cents) * 10000 AS DOUBLE)
                  / CAST(abs(prev_close_cents) AS DOUBLE) AS gap_bps
         FROM c WHERE prev_close_cents IS NOT NULL AND prev_close_cents <> 0""")),

    // ----- VPIN-style flow toxicity on the volume clock: equal-volume
    // buckets via a per-key prefix sum, tick-rule signed flow, one
    // division per bucket. The cent-exact candle derives volume cents
    // PER ROW before the rollup aggregation via the pure-IEEE
    // floor(v*100+0.5) (Cents.scala) and sums them as longs; the close
    // cents are the same function of the candle's close tick — no
    // engine-owned rounding policy anywhere in the hash-compared path,
    // and every oracle column carries an explicit
    // portable CAST (the r6-r8 red was the uncast HUGEINT vol_bucket,
    // whose pandas/arrow conversion differs across DuckDB releases) ----
    Q("q_vpin", (s, dir) => {
      val pre = userCandlesCents(s, dir, "1 hour")
        .withColumn("close_cents", graft.functions.Cents.cents(col("close")))
      MicrostructureOps.vpinFromCents(pre, Seq("user_id"), "bucket_ts",
        "close_cents", "vol_cents", bucketVolumeCents = 50000L)
    },
      Some("""WITH e AS (SELECT user_id, ts,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events),
         c AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                 arg_max(cents, ts) AS cl,
                 CAST(sum(cents) AS BIGINT) AS v
            FROM e GROUP BY 1, 2),
         d AS (SELECT user_id, bucket_ts, cl - lag(cl) OVER o AS dd, v
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         f AS (SELECT user_id, bucket_ts,
                 CASE WHEN dd > 0 THEN v WHEN dd < 0 THEN -v ELSE 0 END AS sv, v
               FROM d WHERE dd IS NOT NULL AND v > 0),
         s AS (SELECT user_id, sv, v,
                 sum(v) OVER (PARTITION BY user_id ORDER BY bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS cum
               FROM f),
         b AS (SELECT user_id, CAST(cum // 50000 AS BIGINT) AS vol_bucket, sv, v FROM s)
         SELECT user_id, vol_bucket, CAST(count(*) AS BIGINT) AS n_bars,
                CAST(abs(sum(sv)) AS BIGINT) AS imbalance_cents,
                CAST(sum(v) AS BIGINT) AS total_cents,
                CAST(abs(sum(sv)) * 10000 AS DOUBLE)
                  / CAST(sum(v) AS DOUBLE) AS toxicity_bps
         FROM b GROUP BY 1, 2""")),

    // ----- Lo-MacKinlay variance ratio (q=4): random-walk diagnostic,
    // both variances rational, one division of decimal products ---------
    Q("q_variance_ratio", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      MicrostructureOps.varianceRatio(r1h, Seq("user_id"), "bucket_ts", q = 4)
    },
      Some(s"""WITH $hourlyCloseCte,
         c AS (SELECT user_id, bucket_ts,
                 CAST(round(close * 100) AS BIGINT) AS cl FROM r1h),
         d AS (SELECT user_id,
                 cl - lag(cl, 1) OVER o AS d1,
                 cl - lag(cl, 4) OVER o AS dq
               FROM c WINDOW o AS (PARTITION BY user_id ORDER BY bucket_ts)),
         g AS (SELECT user_id, count(d1) AS n1, count(dq) AS nq,
                 sum(d1) AS s1, sum(d1 * d1) AS s11,
                 sum(dq) AS sq, sum(dq * dq) AS sqq
               FROM d GROUP BY 1)
         SELECT user_id, CAST(n1 AS BIGINT) AS n_1, CAST(nq AS BIGINT) AS n_q,
                CASE WHEN nq > 0 AND n1 * s11 - s1 * s1 > 0 THEN
                  CAST((nq * sqq - sq * sq) * n1 * n1 AS DOUBLE)
                  / CAST((n1 * s11 - s1 * s1) * nq * nq * 4 AS DOUBLE)
                END AS variance_ratio
         FROM g""")),

    // ----- Distributed OLS (trend + weekend dummy) by exact normal
    // equations: nine integer sufficient statistics, Cramer dets in
    // decimal, one division per coefficient -----------------------------
    Q("q_ols_trend", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      MicrostructureOps.olsSeasonalTrend(
        r1h, Seq("user_id"), "bucket_ts", originTs = "2024-01-01 00:00:00")
    },
      Some(s"""WITH $hourlyCloseCte,
         v AS (SELECT user_id,
                 (epoch_us(bucket_ts)
                  - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 3600000000 AS x1,
                 CASE WHEN dayofweek(bucket_ts) IN (0, 6) THEN 1 ELSE 0 END AS x2,
                 CAST(round(close * 100) AS BIGINT) AS y
               FROM r1h),
         g AS (SELECT user_id, count(*) AS n,
                 sum(x1) AS s1, sum(x2) AS s2,
                 sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
                 sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
               FROM v GROUP BY 1),
         d AS (SELECT user_id, n,
                 n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                   + s2 * (s1 * s12 - s2 * s11) AS det,
                 sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
                   + s2 * (s1y * s12 - s11 * s2y) AS det0,
                 n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
                   + s2 * (s1 * s2y - s1y * s2) AS det1,
                 n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
                   + sy * (s1 * s12 - s11 * s2) AS det2
               FROM g)
         SELECT user_id, CAST(n AS BIGINT) AS n_obs, CAST(det AS DOUBLE) AS det,
                CASE WHEN det <> 0 THEN
                  CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE) END AS intercept_cents,
                CASE WHEN det <> 0 THEN
                  CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE) END AS trend_cents_per_hour,
                CASE WHEN det <> 0 THEN
                  CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE) END AS weekend_shift_cents
         FROM d""")),

    // ----- Correlation SCREEN — the scale path the corrMatrix doc
    // routes large universes to (sf1 measured the exact matrix at
    // universe² = 164× for 10× keys): 64-bit sign-sketch per key,
    // banded candidate join at the AUTO-SIZED band width
    // (autoBandBits from a measured approx_count_distinct of the key
    // universe — the r11 sweep measured the old fixed 8-bit width at
    // exponent 1.87 / 964 s on sf10's 150k universe vs 0.91 / 37 s
    // sized), exact co-moment corr on the candidates only. corr
    // values bit-match the full matrix's entries for the screened
    // pairs. At the driver's universes (150 keys at sf0.01, 1500 at
    // sf0.1 — both ≤ the 2048-key 8-bit boundary) auto picks 8-bit,
    // which is exactly the width the DuckDB oracle bands at; sf1+
    // universes auto-promote to 16/32-bit. maxHamming 24 exercises
    // the probabilistic-recall regime (guaranteed ≤ 7) because this
    // fixture's keys are independent random walks — at ≤ 7 the
    // correct answer is zero pairs, which would hash-check trivially.
    Q("q_corr_screen", (s, dir) =>
      MicrostructureOps.corrScreenAuto(userCandles(s, dir, "1 hour"), "user_id", "bucket_ts",
        maxHamming = 24),
      // Sign-sketch screen: md5-derived 64-axis majority-sign
      // fingerprint, 8x8-bit banded candidates at hamming <= 7, exact
      // co-moment corr on candidates only (same arithmetic as the full
      // matrix, so screened corr values match its entries bitwise).
      Some(s"""WITH $hourlyCloseCte,
         $centMoveCtes,
         $signFpCtes,
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 8)) & 255 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bs(band)),
         $screenTailCtes""")),

    // ----- BOTH sides of the screen: co-moving AND anti-moving pairs
    // (complement-band candidates — the pairs-trading/hedge screen);
    // an anti pair's corr is the full matrix's negative entry bitwise.
    // Auto-sized band width like q_corr_screen (8-bit at the driver's
    // universes, matching the oracle's banding).
    Q("q_corr_screen_signed", (s, dir) =>
      MicrostructureOps.corrScreenSignedAuto(userCandles(s, dir, "1 hour"), "user_id", "bucket_ts",
        maxHamming = 24),
      // Signed screen: co-moving candidates from direct bands, anti-moving
      // from complement bands; hamming on the anti side is the distance to
      // the complement.
      Some(s"""WITH $hourlyCloseCte,
         $centMoveCtes,
         $signFpCtes,
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 8)) & 255 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bs(band)),
         kept AS (SELECT band, h FROM banded GROUP BY band, h HAVING count(*) <= 10000),
         guarded AS (SELECT banded.* FROM banded JOIN kept USING (band, h)),
         bandedc AS (SELECT user_id, sh, bs.band,
                      (xor(sh, CAST(18446744073709551615 AS UBIGINT)) >> (bs.band * 8)) & 255 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bs(band)),
         keptc AS (SELECT band, h FROM bandedc GROUP BY band, h HAVING count(*) <= 10000),
         guardedc AS (SELECT bandedc.* FROM bandedc JOIN keptc USING (band, h)),
         cop AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming,
                   'co_moving' AS side
                 FROM guarded a JOIN guarded b USING (band, h)
                 WHERE a.user_id < b.user_id
                   AND bit_count(xor(a.sh, b.sh)) <= 24),
         ap AS (SELECT DISTINCT a.user_id AS key_a, b.user_id AS key_b,
                  CAST(64 - bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming,
                  'anti_moving' AS side
                FROM guarded a JOIN guardedc b USING (band, h)
                WHERE a.user_id < b.user_id
                  AND 64 - bit_count(xor(a.sh, b.sh)) <= 24),
         pairs AS (SELECT * FROM cop UNION SELECT * FROM ap),
         al AS (SELECT p.key_a, p.key_b, p.side, p.hamming, a.dd AS da, b.dd AS db
                FROM pairs p
                JOIN m a ON a.user_id = p.key_a
                JOIN m b ON b.user_id = p.key_b AND b.us = a.us),
         g AS (SELECT key_a, key_b, side, max(hamming) AS hamming, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM al GROUP BY 1, 2, 3)
         SELECT key_a, key_b, side, hamming, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS corr
         FROM g""")),

    // ----- The same screen at the 16-bit band width production runs
    // past a few thousand keys (2^bandBits ≳ universe): near-linear at
    // sf1 where 8-bit bands saturate. Planted-copycat recall is
    // spec-pinned (MicrostructureSpec); on this independent-walk
    // fixture the correct small-SF answer is few/no pairs. -----------
    Q("q_corr_screen_wide", (s, dir) =>
      MicrostructureOps.corrScreen(userCandles(s, dir, "1 hour"), "user_id", "bucket_ts",
        maxHamming = 24, bandBits = 16),
      // 16-bit-band twin: 4 bands, guaranteed recall to hamming 3,
      // probabilistic beyond -- the production width past a few thousand keys.
      Some(s"""WITH $hourlyCloseCte,
         $centMoveCtes,
         $signFpCtes,
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 16)) & 65535 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bs(band)),
         $screenTailCtes""")),

    // ----- The AUTO screen at a >2048-key universe: 20 replicas of
    // the event stream under offset user_ids push the measured
    // universe to ~3000 keys at sf0.01, so measuredBandBits COMMITS
    // the 16-bit decision under the oracle (through r12 only the
    // 8-bit branch ran end-to-end; 16/32 were spec-only). maxHamming
    // 24 sits in the probabilistic-recall regime, where the candidate
    // set depends on the band width — the hash only matches if the
    // oracle bands at exactly the width the engine chose, so the
    // DECISION itself is what this query pins (at radius-guaranteed
    // hammings 8- and 16-bit banding would coincide). Replica
    // families are identical series: corr exactly 1.0 at hamming 0,
    // one IEEE division of equal exact co-moments on both engines.
    // user_id < 200 makes the fixture a FIXED panel past sf0.01 (the
    // q_contamination convention): the replica blow-up exists to pin
    // a band-width decision, not to scale — unbounded it multiplied
    // the whole corpus 20x and benched 264 s at sf1; the decision
    // needs ~3-4k keys, not 20k.
    Q("q_corr_screen_hicard", (s, dir) => {
      val reps = s.range(0, 20).select(col("id").as("__r"))
      val wide = Tables.events(s, dir)
        .filter(col("user_id") < 200)
        .select(col("user_id"), col("ts"), col("value"))
        .crossJoin(broadcast(reps))
        .select((col("user_id") + col("__r") * lit(1000000L)).as("user_id"),
          col("ts"), col("value"))
      val r1h = CandleOps.ohlcvRollup(wide, Seq("user_id"), "ts", "value", "1 hour")
      MicrostructureOps.corrScreenAuto(r1h, "user_id", "bucket_ts",
        maxHamming = 24)
    },
      // Auto-width screen at a ~3000-key universe: the oracle bands at
      // 16 bits because that is what autoBandBits commits for this
      // replica fixture — a hash match at maxHamming 24 (probabilistic
      // regime) certifies the engine's measured decision, not just the
      // pair math.
      Some(s"""WITH ev AS (SELECT events.user_id + 1000000 * r.i AS user_id, ts, value
                     FROM events CROSS JOIN
                       (SELECT unnest(generate_series(0, 19)) AS i) r(i)
                     WHERE events.user_id < 200),
         r1h AS (SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
                arg_max(value, ts) AS close
            FROM ev GROUP BY 1, 2),
         $centMoveCtes,
         $signFpCtes,
         banded AS (SELECT user_id, sh, bs.band,
                      (sh >> (bs.band * 16)) & 65535 AS h
                    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bs(band)),
         $screenTailCtes""")),

    // ----- Lead-lag cross-correlation vs the benchmark key: who moves
    // first — co-moment longs per (key, lag), broadcast lag-exploded
    // benchmark, one division -------------------------------------------
    Q("q_lead_lag", (s, dir) => {
      val r1h = userCandles(s, dir, "1 hour")
      MicrostructureOps.leadLagCorr(
        r1h, "user_id", "bucket_ts", col("user_id") === 7, maxLag = 3)
    },
      Some(s"""WITH $hourlyCloseCte,
         $centMoveCtes,
         b AS (SELECT us AS bus, dd AS db FROM m WHERE user_id = 7),
         l AS (SELECT unnest(generate_series(-3, 3)) AS lag),
         bl AS (SELECT CAST(l.lag AS BIGINT) AS lag_steps,
                  b.bus + l.lag * 3600000000 AS jus, b.db
                FROM b CROSS JOIN l),
         j AS (SELECT m.user_id, bl.lag_steps, m.dd AS da, bl.db
               FROM m JOIN bl ON m.us = bl.jus WHERE m.user_id <> 7),
         g AS (SELECT user_id, lag_steps, count(*) AS n,
                 CAST(sum(da) AS BIGINT) AS sa, CAST(sum(db) AS BIGINT) AS sb,
                 CAST(sum(da * db) AS BIGINT) AS sab,
                 CAST(sum(da * da) AS BIGINT) AS saa,
                 CAST(sum(db * db) AS BIGINT) AS sbb
               FROM j GROUP BY 1, 2)
         SELECT user_id, lag_steps, n AS n_aligned,
                CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
                  CAST(n * sab - sa * sb AS DOUBLE)
                  / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                         * CAST(n * sbb - sb * sb AS DOUBLE))
                END AS xcorr
         FROM g"""))
  )
}
