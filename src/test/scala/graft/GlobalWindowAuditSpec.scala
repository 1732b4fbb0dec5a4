package graft

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Suite-wide physical-plan audit for GLOBAL windows: a WindowExec
  * with an empty partitionSpec moves every input row to a single
  * partition ("No Partition Defined for Window operation" — Spark's
  * own warning). That is the one operator shape that silently
  * serializes a 1000-executor cluster: it passes any small-SF
  * correctness gate and then funnels the full table through one task
  * at 100 TB.
  *
  * The audit plans EVERY SparkEntry query and requires each global
  * window to be justified: allowed only when the window's input is
  * already bounded — an upstream aggregation has reduced the stream
  * to O(keys), O(buckets) or O(k) rows before the single-partition
  * exchange. Each allowance names that bound. Anything new that plans
  * a global window over raw rows must restructure (partition the
  * window, or pre-aggregate) rather than extend the list.
  *
  * The same planning pass also checks that no `Window` operator
  * evaluates a window function twice. Catalyst's analyzer
  * (`ExtractWindowExpressions`) gives every `WindowExpression`
  * occurrence its own `_weN` output and nothing dedupes them, so an
  * operator that writes `lag(x, j).over(w)` into two expressions
  * computes that lag twice per row; the engine stages each lag and
  * rolling frame once as a named column instead. That audit has no
  * allow-list.
  */
class GlobalWindowAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // query -> why the global window's input is bounded (the upstream
  // reduction, not the fixture size). Two legitimate shapes exist:
  //   (a) RankOps' offset frames — distributedRank/Ntile/PrefixSum
  //       window over the per-partition COUNT frame (#partitions
  //       rows), which is the whole point of those operators: the
  //       DATA never crosses a single-partition exchange;
  //   (b) a final presentation window over an already-aggregated
  //       bounded frame (deciles, distinct depths, distinct days).
  private val boundedGlobalWindow: Map[String, String] = Map(
    "q_abc_classes" -> "distributedPrefixSum offset frame (#partitions rows)",
    "q_gini" -> "distributedRank offset frame (#partitions rows)",
    "q_five_number" -> "distributedRank offset frame (#partitions rows)",
    "q_rarity_score" -> "distributedRank offset frame over the vocabulary (#partitions rows)",
    "q_rfm" -> "three distributedNtile offset frames (R, F, M; #partitions rows each)",
    "q_equidepth_hist" -> "distributedNtile offset frame (#partitions rows)",
    "q_power_curve" -> "ntile offset frame + share window over the 10-row decile frame",
    "q_lorenz_deciles" -> "ntile offset frame + cum/total windows over the 10-row decile frame",
    "q_session_depth" -> "share window over the depth histogram (rows = distinct session depths)",
    "q_topk_churn" -> "day-lag window over the distinct-days frame (rows = observed days)"
  )

  /** Every SparkEntry query, planned once for both audits. */
  private lazy val planned: Seq[(String, QueryExecution)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe =
        try { val qe = fn(spark, sfDir).queryExecution; qe.executedPlan; qe }
        catch { case e: Throwable =>
          fail(s"$name failed to plan: ${e.getMessage}")
        }
      name -> qe
    }

  private def globalWindows(plan: SparkPlan): Seq[String] = plan.collect {
    case w: WindowExec if w.partitionSpec.isEmpty =>
      s"WindowExec[${w.windowExpression.map(_.name).mkString(",")}]"
    case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
      s"WindowGroupLimitExec[limit=${w.limit}]"
    case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan).mkString(";")
  }.filter(_.nonEmpty)

  test("global (single-partition) windows only over bounded inputs") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    planned.foreach { case (name, qe) =>
      val gw = globalWindows(qe.executedPlan)
      if (gw.nonEmpty) {
        seen += name
        if (!boundedGlobalWindow.contains(name))
          offenders += s"$name: ${gw.mkString(" | ")}"
      }
    }
    assert(offenders.isEmpty,
      s"unexplained global windows (single-partition at scale):\n  ${offenders.mkString("\n  ")}")
    val stale = boundedGlobalWindow.keySet.diff(seen)
    assert(stale.isEmpty, s"stale global-window allowances: $stale")
  }

  test("every Window operator holds pairwise-distinct window expressions") {
    val offenders = planned.flatMap { case (name, qe) =>
      val slots = qe.optimizedPlan.collect { case w: Window =>
        val exprs = w.windowExpressions.map {
          case a: Alias => a.child.canonicalized
          case e => e.canonicalized
        }
        (exprs.size, exprs.distinct.size)
      }
      val (total, distinct) = (slots.map(_._1).sum, slots.map(_._2).sum)
      if (total > distinct) Some(s"$name $total/$distinct") else None
    }
    assert(offenders.isEmpty,
      s"${offenders.size} queries evaluate a window function more than once " +
        s"(query total/distinct):\n  ${offenders.mkString("\n  ")}")
  }
}
