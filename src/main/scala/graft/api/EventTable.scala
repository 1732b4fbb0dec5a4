package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{EventOps, QualityReport, SessionOps}

/** Fluent facade over the event-analytics family — the product-
  * analytics axis of the engine, mirroring [[CandleTable]] (market
  * data) and [[CorpusTable]] (training corpora). Wraps a keyed,
  * timestamped event stream and exposes every analytic as a lazy
  * DataFrame, so chains optimize as one Catalyst plan.
  *
  * {{{
  * val ev = EventTable(df, "user_id", "event_type", "ts", "event_id")
  * ev.funnel(Seq("view", "click", "purchase"), window = 24.hoursUs)
  * ev.retention()
  * ev.lifecycle()
  * ev.sigmaOutliers("value", k = 3)
  * ev.sessions("30 minutes", valueCol = "value")
  * }}}
  */
final case class EventTable(
    df: DataFrame,
    userCol: String,
    typeCol: String,
    tsCol: String,
    idCol: String
) {

  /** Conversion funnel: users reaching each step inside the window. */
  def funnel(steps: Seq[String], windowUs: Long): DataFrame =
    EventOps.funnelSteps(df, userCol, typeCol, tsCol, steps, windowUs)

  /** Per-step time-to-convert statistics for the same chain. */
  def funnelLatency(steps: Seq[String], windowUs: Long): DataFrame =
    EventOps.funnelLatency(df, userCol, typeCol, tsCol, steps, windowUs)

  /** First-touch cohort x day-offset retention matrix. */
  def retention(): DataFrame =
    EventOps.retentionCohorts(df, userCol, tsCol)

  /** Weekly new / retained / resurrected / churning accounting. */
  def lifecycle(): DataFrame =
    EventOps.userLifecycle(df, userCol, tsCol)

  /** Per-user ordered event-code string vs a find-anywhere regex. */
  def sequenceMatch(pattern: String): DataFrame =
    EventOps.sequenceMatch(df, userCol, typeCol, tsCol, idCol, pattern)

  /** Top-k most common 3-step paths. */
  def paths(k: Int): DataFrame =
    EventOps.eventPaths(df, userCol, typeCol, tsCol, idCol, k)

  /** Exact-integer k-sigma outliers of `valueCol` per event type. */
  def sigmaOutliers(valueCol: String, k: Int): DataFrame =
    EventOps.sigmaOutliers(df, typeCol, valueCol, k)

  /** Robust median/MAD outliers of `valueCol` per event type. */
  def madOutliers(valueCol: String, k: Double): DataFrame =
    EventOps.madOutliers(df, typeCol, valueCol, k)

  /** First-order Markov transition matrix over user journeys. */
  def transitions(): DataFrame =
    EventOps.markovTransitions(df, userCol, typeCol, tsCol, idCol)

  /** Multi-touch attribution of `convType` conversions to channels. */
  def attribution(valueCol: String, convType: String, lookbackUs: Long): DataFrame =
    EventOps.attribution(df, userCol, typeCol, tsCol, idCol, valueCol,
      convType, lookbackUs)

  /** Chi-square event-mix drift across the `splitTs` boundary. */
  def drift(splitTs: String, threshold100: Long = 384L): DataFrame =
    EventOps.driftChi2(df, typeCol, tsCol, splitTs, threshold100)

  /** Exact two-sample KS value-distribution drift per type. */
  def valueDrift(valueCol: String, splitTs: String,
      c2Milli: Long = 1844L): DataFrame =
    EventOps.driftKs(df, typeCol, tsCol, valueCol, splitTs, c2Milli)

  /** Column-stats drift gate: null rate, user reach, value range. */
  def statsDrift(valueCol: String, splitTs: String,
      thresholdMilli: Long = 50L): DataFrame =
    EventOps.statsDrift(df, typeCol, tsCol, valueCol, userCol, splitTs,
      thresholdMilli)

  /** Exact Gini concentration of per-user value totals. */
  def concentration(valueCol: String): DataFrame =
    EventOps.giniConcentration(df, userCol, valueCol)

  /** Rank-trimmed robust mean of values per type. */
  def trimmedMean(valueCol: String, trimPermille: Long = 100L): DataFrame =
    EventOps.trimmedMean(df, typeCol, idCol, valueCol, trimPermille)

  /** Hourly-count Fano factor + peak-to-mean per type. */
  def burstiness(): DataFrame = EventOps.burstiness(df, typeCol, tsCol)

  /** CUSUM change-point: where each type's value level shifted. */
  def changePoint(valueCol: String): DataFrame =
    EventOps.changePoint(df, typeCol, tsCol, idCol, valueCol)

  /** Inactivity-gap sessions per user. */
  def sessions(gap: String, valueCol: String): DataFrame =
    SessionOps.sessionSummaries(df, Seq(userCol), tsCol, valueCol, gap)

  /** CUPED variance-reduced A/B readout: `covariateType` event counts
    * adjust the `metricType` cent-value metric per arm.
    */
  def cuped(
      valueCol: String,
      covariateType: String,
      metricType: String,
      splits: Seq[(String, Double)] = Seq("a" -> 0.5, "b" -> 0.5)): DataFrame =
    EventOps.cupedReadout(df, userCol, typeCol, valueCol,
      covariateType, metricType, splits)

  /** One-pass declarative quality report over the stream's rows. */
  def quality(rules: Seq[QualityReport.RowRule]): DataFrame =
    QualityReport.rowReport(df, rules)

  /** windowFunnel with a mode: "default", "strict_order" (no
    * interleaving funnel events) or "strict_dedup" (no repeat of the
    * previous step) — per-user levels.
    */
  def funnelLevels(steps: Seq[String], windowUs: Long,
      mode: String = "default"): DataFrame =
    EventOps.funnelLevelsByKeyModal(df, Seq(userCol), typeCol, tsCol,
      steps, windowUs, mode)

  /** Non-overlapping repeats of an event-code journey per user. */
  def sequenceCount(pattern: String): DataFrame =
    EventOps.sequenceCount(df, userCol, typeCol, tsCol, idCol, pattern)

  /** RFM quintile segmentation (5 = best on every axis). */
  def rfm(valueCol: String, monetaryType: String): DataFrame =
    EventOps.rfm(df, userCol, tsCol, valueCol, col(typeCol) === monetaryType)

  /** Activity-decile power-user curve. */
  def powerCurve(): DataFrame = EventOps.powerCurve(df, userCol)

  /** DAU/MAU engagement ratio per day. */
  def stickiness(): DataFrame = EventOps.stickiness(df, userCol, tsCol)

  /** Cohort LTV curve over `purchaseType` revenue. */
  def cohortLtv(valueCol: String, purchaseType: String): DataFrame =
    EventOps.cohortLtv(df, userCol, tsCol, valueCol, col(typeCol) === purchaseType)

  /** Hour-of-day x day-of-week load shape per event type. */
  def seasonality(): DataFrame = EventOps.seasonalityProfile(df, typeCol, tsCol)

  /** Per-(user, day) trailing features + leak-free next-7d label. */
  def userFeatures(valueCol: String, purchaseType: String): DataFrame =
    EventOps.rollingUserFeatures(df, userCol, tsCol, valueCol,
      col(typeCol) === purchaseType)

  /** Day-over-day churn of the top-k users by `valueCol`. */
  def topKChurn(valueCol: String, k: Int = 10): DataFrame =
    EventOps.topKSetChurn(df, userCol, tsCol, valueCol, k)

  /** Hour-of-day value index per type, exact cross-multiplied bps. */
  def seasonalIndex(valueCol: String): DataFrame =
    EventOps.seasonalIndex(df, typeCol, tsCol, valueCol)

  /** Kaplan-Meier time-to-first-`eventType` survival + cumulative
    * hazard per entry cohort, never-converting users right-censored.
    */
  def survival(eventType: String): DataFrame =
    EventOps.kaplanMeier(df, userCol, tsCol, col(typeCol) === eventType)

  /** Restrict to one event type (pushes down to the scan). */
  def ofType(eventType: String): EventTable =
    copy(df = df.filter(col(typeCol) === eventType))

  /** Restrict to a time range (partition-prunable predicate). */
  def between(from: java.sql.Timestamp, to: java.sql.Timestamp): EventTable =
    copy(df = df.filter(col(tsCol) >= from && col(tsCol) < to))
}
