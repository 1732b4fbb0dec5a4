package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of joins — the realtime forms of
  * [[graft.operators.AsOfJoin]], all three directions: backward
  * (latest `ts_r <= ts_l`), forward (earliest `ts_r >= ts_l`), and
  * nearest (the closer of the two, ties backward) — on the same key,
  * optionally (backward) or necessarily (forward/nearest) within a
  * tolerance; every left is emitted exactly once, with a null match
  * when nothing qualifies.
  *
  * Neither a windowed aggregate nor a stream-stream equi/interval join
  * can express "closest qualifying right, else null": the interval
  * join ([[StreamJoin]]) emits EVERY right row in the band and drops
  * matchless lefts. So this is `flatMapGroupsWithState`: per-key
  * buffers of pending lefts and candidate rights, with
  * event-time-timeout sealing.
  *
  * Correctness contract (stream ≡ batch, spec-asserted): a left seals
  * only once the watermark guarantees its match set is complete —
  * backward, when the watermark passes `ts_l` (no `ts_r <= ts_l` can
  * still arrive); forward, when it passes `ts_l + tolerance` (every
  * candidate `ts_r <= ts_l + tol` has arrived — which is why forward
  * REQUIRES a tolerance: an unbounded forward left could wait forever
  * and its state never seal). Equal timestamps match (inclusive, like
  * the batch union-merge tag ordering); ties between multiple rights
  * at the SAME ts resolve deterministically (largest payload backward,
  * smallest forward) where the batch window form is partition-order-
  * dependent — keep right timestamps unique per key if you need the
  * two forms bit-identical under ties.
  *
  * State size: pending lefts are bounded by the (watermark + tolerance)
  * horizon × per-key event rate; rights are pruned to the tolerance
  * window behind the watermark — or, backward with unbounded lookback,
  * the single newest at-or-before row (the only one a future left can
  * still match), O(1) per key. Bounded, independent of stream length.
  *
  * Buffers carry exact epoch-MICROS: `Timestamp.getTime` alone
  * truncates to milliseconds and would drift every microsecond event
  * time; the watermark API is millis, so sealing compares strictly
  * below the watermark millisecond.
  */
object AsOfStream {

  /** Timestamp <-> epoch-micros without precision loss. */
  private def toUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromUs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** One side's event: key, event time, payload value. */
  case class Tick(key: String, ts: Timestamp, value: Double)

  case class AsOfPair(
      key: String, ts_l: Timestamp, l_value: Double,
      asof_ts: Option[Timestamp], asof_value: Option[Double])

  /** Internal: union-tagged event (public for encoder codegen). */
  case class Tagged(key: String, ts: Timestamp, value: Double, left: Boolean)

  /** Internal: per-key pending buffers (public for encoder codegen). */
  case class BufState(
      lefts: List[(Long, Double)],
      rights: List[(Long, Double)])

  /** Backward: latest right at-or-before each left.
    * @param toleranceMs max staleness of the prevailing right row;
    *                    None = unbounded lookback (the newest
    *                    at-or-before right is retained in state
    *                    indefinitely, still O(1) per key)
    */
  def asofBackward(
      left: Dataset[Tick],
      right: Dataset[Tick],
      watermark: String,
      toleranceMs: Option[Long] = None
  ): Dataset[AsOfPair] =
    build(left, right, watermark, toleranceMs.map(_ * 1000L), Backward)

  /** Forward: earliest right at-or-after each left, within
    * `toleranceMs` (REQUIRED — see the class doc: an unbounded forward
    * wait can never seal).
    */
  def asofForward(
      left: Dataset[Tick],
      right: Dataset[Tick],
      watermark: String,
      toleranceMs: Long
  ): Dataset[AsOfPair] = {
    requireHorizon(toleranceMs, "forward")
    build(left, right, watermark, Some(toleranceMs * 1000L), Forward)
  }

  /** Nearest: whichever of the backward/forward matches is closer in
    * event time, ties to the BACKWARD match — the streaming form of
    * [[graft.operators.AsOfJoin.asofNearest]]. Tolerance REQUIRED
    * (the forward component needs a horizon to seal).
    */
  def asofNearest(
      left: Dataset[Tick],
      right: Dataset[Tick],
      watermark: String,
      toleranceMs: Long
  ): Dataset[AsOfPair] = {
    requireHorizon(toleranceMs, "nearest")
    build(left, right, watermark, Some(toleranceMs * 1000L), Nearest)
  }

  private def requireHorizon(toleranceMs: Long, dir: String): Unit =
    require(toleranceMs > 0, s"toleranceMs=$toleranceMs must be positive: " +
      s"a $dir as-of without a horizon could wait forever for its match " +
      "and its state would never seal")

  private sealed trait Direction
  private case object Backward extends Direction
  private case object Forward extends Direction
  private case object Nearest extends Direction

  private def build(
      left: Dataset[Tick],
      right: Dataset[Tick],
      watermark: String,
      tolUs: Option[Long],
      direction: Direction
  ): Dataset[AsOfPair] = {
    implicit val tagEnc = Encoders.product[Tagged]
    implicit val keyEnc = Encoders.STRING
    implicit val stEnc = Encoders.product[BufState]
    implicit val outEnc = Encoders.product[AsOfPair]

    val tagged = left.map(t => Tagged(t.key, t.ts, t.value, left = true))
      .unionByName(right.map(t => Tagged(t.key, t.ts, t.value, left = false)))
      .withWatermark("ts", watermark)

    def backMatch(tsL: Long, rights: List[(Long, Double)]): Option[(Long, Double)] = {
      val eligible = rights.filter { case (tsR, _) =>
        tsR <= tsL && tolUs.forall(tol => tsR >= tsL - tol)
      }
      if (eligible.isEmpty) None else Some(eligible.max) // latest; equal-ts ties large
    }
    def fwdMatch(tsL: Long, rights: List[(Long, Double)]): Option[(Long, Double)] = {
      val tol = tolUs.get
      val eligible = rights.filter { case (tsR, _) => tsR >= tsL && tsR <= tsL + tol }
      if (eligible.isEmpty) None else Some(eligible.min) // earliest; equal-ts ties small
    }
    def matchFor(tsL: Long, rights: List[(Long, Double)]): Option[(Long, Double)] =
      direction match {
        case Backward => backMatch(tsL, rights)
        case Forward  => fwdMatch(tsL, rights)
        case Nearest  =>
          // closer of the two; ties to BACKWARD (the batch contract)
          (backMatch(tsL, rights), fwdMatch(tsL, rights)) match {
            case (Some(b), Some(f)) =>
              Some(if (tsL - b._1 <= f._1 - tsL) b else f)
            case (b, f) => b.orElse(f)
          }
      }

    // a left's match set is complete once the watermark passes this
    def sealPointUs(tsL: Long): Long =
      if (direction == Backward) tsL else tsL + tolUs.get

    def update(
        key: String,
        rows: Iterator[Tagged],
        state: GroupState[BufState]
    ): Iterator[AsOfPair] = {
      var s = state.getOption.getOrElse(BufState(Nil, Nil))
      if (!state.hasTimedOut) {
        rows.foreach { r =>
          if (r.left) s = s.copy(lefts = (toUs(r.ts), r.value) :: s.lefts)
          else s = s.copy(rights = (toUs(r.ts), r.value) :: s.rights)
        }
      }
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (ready, pending) = s.lefts.partition(l => sealPointUs(l._1) < wmUs)
      val out = ready.sorted.map { case (tsL, v) =>
        val m = matchFor(tsL, s.rights)
        AsOfPair(key, fromUs(tsL), v,
          m.map(x => fromUs(x._1)), m.map(_._2))
      }
      // prune rights no pending or future left can match. Unsealed
      // lefts have sealPoint >= wm, i.e. ts_l >= wm (backward) or
      // ts_l >= wm - tol (forward/nearest); the oldest right such a
      // left can reach is ts_l - tol backward-looking — so the prune
      // horizon is wm - tol for backward and forward (forward never
      // looks back at all, but the shared bound is safe), and
      // wm - 2*tol for nearest, whose pending lefts look a further
      // tol behind their own timestamp
      val keptRights = tolUs match {
        case Some(tol) =>
          val horizon = if (direction == Nearest) wmUs - 2 * tol else wmUs - tol
          s.rights.filter(_._1 >= horizon)
        case None => // backward, unbounded lookback
          val (before, after) = s.rights.partition(_._1 < wmUs)
          if (before.isEmpty) after else before.max :: after
      }
      s = BufState(pending, keptRights)
      if (s.lefts.isEmpty && s.rights.isEmpty) state.remove()
      else {
        state.update(s)
        // wake when the earliest pending left seals; with only rights
        // left and a tolerance, wake when the last right expires so a
        // dead key's state is reclaimed (unbounded-lookback rights are
        // deliberately retained: they ARE the prevailing quote)
        val wakeUs: Option[Long] =
          if (pending.nonEmpty) Some(pending.map(l => sealPointUs(l._1)).min)
          else tolUs.flatMap(tol =>
            if (keptRights.isEmpty) None else Some(keptRights.map(_._1).max + tol))
        wakeUs.foreach { w =>
          // timeout API is millis; round UP so the fire time is not
          // before the sealing micro-instant, and stay past the wm
          val wMs = Math.floorDiv(w, 1000L) + 1L
          state.setTimeoutTimestamp(math.max(wMs, state.getCurrentWatermarkMs() + 1L))
        }
      }
      out.iterator
    }

    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
