package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Scale-adaptive parallelism pin for compute-dense stages.
  *
  * AQE coalesces post-shuffle partitions by shuffle BYTES
  * (`advisoryPartitionSizeInBytes`), which is the right currency for
  * byte-bound stages but serializes the engine's compute-amplifying
  * ones: a bucket-aligned pair join fans each input row out to
  * O(universe) outputs, and a lag-convolution window does O(n·lags)
  * decimal arithmetic per input byte — both were measured running in
  * 1-2 tasks on a 32-core local session because their INPUT shuffle is
  * a couple of MB (round-15 profile: corrMatrix 14 s of task time in 2
  * tasks; the MACD window 0.9 s in 1). Coalescing sees the bytes, not
  * the bill.
  *
  * [[spread]] pins the session's configured shuffle parallelism onto
  * such a stage with an explicit hash repartition on the stage's own
  * clustering key:
  *
  *   - explicit numPartitions = `spark.sql.shuffle.partitions`, the
  *     session's own scale knob (Bench sets it to the core count; a
  *     cluster session sets it to the cluster's tuned width) — never a
  *     constant;
  *   - AQE does not coalesce a user-specified partition count, so the
  *     downstream stage actually runs that wide;
  *   - EnsureRequirements recognizes the partitioning for any
  *     downstream window/aggregate/join clustered on the same keys, so
  *     where the consumer would have inserted its own exchange this
  *     REPLACES it (same exchange count, plan-diffed per call site).
  *
  * Trade-off, documented once here: a user-pinned exchange also opts
  * out of AQE skew-split for the stage. Every call site is an operator
  * whose per-key group size is bounded by construction (indicator
  * windows: one key's candle series; corrMatrix: a bucket holds at
  * most `maxUniverse` aligned keys), so byte-skew splitting has
  * nothing to split there, while the compute bill it would ignore is
  * the whole stage.
  *
  * [[bySize]] is the other scale decision: whether an input is small
  * enough to solve on the driver at all.
  */
object Par {

  /** Hash-repartition `df` on `cols` at the session's configured
    * shuffle parallelism (see object doc). Use immediately upstream of
    * a compute-dense window/aggregate/join clustered on `cols`.
    */
  def spread(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** [[spread]] on named key columns, UNLESS the frame is a
    * projection/filter over a table bucketed on (a subset of) those
    * keys — a bucketed scan already provides the hash clustering, the
    * downstream window/aggregate elides its exchange entirely (the
    * zero-exchange contract EventBucketingSpec pins for the
    * bucketed-store monitoring paths), and an unconditional
    * repartition would both add the exchange back and make the planner
    * abandon the bucketed read. Guide §2.4: never shuffle what the
    * storage layout already clusters.
    *
    * The walk only descends operators that provably preserve the key
    * columns (Project passing the keys through as bare attributes,
    * Filter, aliasing wrappers); anything else conservatively answers
    * "not bucketed" and spreads.
    *
    * Only bucketed SCANS are recognized here, and nothing more is
    * needed: over a frame already hash-partitioned on the keys the
    * planner drops the spread's exchange. Over a `groupBy(keys)` it is
    * removed as identical to the aggregate's own exchange, which keeps
    * its ENSURE_REQUIREMENTS origin; over a `repartition(n, keys)` at
    * the same width the two collapse into one REPARTITION_BY_NUM
    * exchange. Either plan holds exactly one exchange
    * (ExchangeBudgetSpec pins both).
    */
  def spreadKeyed(df: DataFrame, keyNames: Seq[String]): DataFrame =
    if (keyNames.isEmpty || bucketedOn(df.queryExecution.analyzed, keyNames)) df
    else spread(df, keyNames.map(org.apache.spark.sql.functions.col))

  /** [[spread]] via RANGE partitioning — for frames whose upstream
    * operator already hash-partitioned them on exactly `cols` (e.g.
    * the output of a groupBy on the same keys). There a hash
    * repartition is ELIMINATED outright: its spec equals the child's
    * partitioning, so the planner drops it and the surviving
    * aggregate exchange keeps its AQE-coalescible ENSURE_REQUIREMENTS
    * origin — the r15 spans spread in resampleFfill/Interpolate
    * silently no-op'd exactly this way (r16 profile: the whole grid
    * explode + fill-window chain ran in ONE task, 1.1 s at sf0.1).
    * RangePartitioning is a different partitioning class, so the
    * explicit exchange survives with its uncoalescible
    * REPARTITION_BY_NUM origin, while still satisfying a downstream
    * window/aggregate/join clustered on `cols` (equal keys share a
    * partition). Costs one boundary-sampling pass of `df` — meant for
    * the one-row-per-key frames where that is negligible (the
    * RankOps.exactPercentilesCont precedent).
    */
  def spreadRange(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.repartitionByRange(
      df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  /** Size-adaptive dispatch: solve an input on the driver when it fits
    * where a broadcast would be built, else run the distributed path.
    *
    * `df` is cached once, and up to `autoBroadcastJoinThreshold` /
    * `rowBytes` of its rows are collected. When that is all of them,
    * `onDriver` gets the rows — an input of a few thousand rows then
    * costs one collect instead of a Spark job per stage. A larger input
    * (or a threshold of -1, which turns broadcasting off) goes to
    * `distributed` as the cached frame, so its lineage is computed
    * once either way. The cache is dropped when the chosen path
    * returns; a distributed path that returns a lazy frame over it must
    * materialise that frame first. Both paths must give the same
    * answer: specs run each case under the default threshold and at -1.
    */
  def bySize[T](df: DataFrame, rowBytes: Long)(onDriver: Array[Row] => T)(
      distributed: DataFrame => T): T = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val cached = df.cache()
    try {
      val small =
        if (threshold < 0) None
        else {
          val bound = math.min(threshold / rowBytes, Int.MaxValue - 1L).toInt
          Some(cached.limit(bound + 1).collect()).filter(_.length <= bound)
        }
      small match {
        case Some(rows) =>
          cached.unpersist()
          onDriver(rows)
        case None => distributed(cached)
      }
    } finally cached.unpersist()
  }

  private def bucketedOn(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      keyNames: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    plan match {
      case p: Project =>
        val passedThrough = keyNames.forall(k =>
          p.projectList.exists {
            case a: AttributeReference => a.name == k
            case _ => false
          })
        passedThrough && bucketedOn(p.child, keyNames)
      case f: Filter => bucketedOn(f.child, keyNames)
      case s: SubqueryAlias => bucketedOn(s.child, keyNames)
      case l: LogicalRelation =>
        l.catalogTable.flatMap(_.bucketSpec).exists(bs =>
          bs.bucketColumnNames.nonEmpty &&
            bs.bucketColumnNames.toSet.subsetOf(keyNames.toSet))
      case _ => false
    }
  }
}
