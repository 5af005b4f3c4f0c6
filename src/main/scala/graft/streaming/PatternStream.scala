package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.functions._

/** Streaming SASE+ sequence detection — the true-streaming twin of
  * [[graft.cep.SeqPattern]] (reference NFA:
  * crates/varpulis-runtime/src/sase.rs; runs/partial matches per key,
  * time-bounded by `within`).
  *
  * Realized with `flatMapGroupsWithState` keyed on the partition key:
  * state = the set of live partial matches (NFA runs), events advance
  * runs in arrival order, completed runs emit immediately, expired
  * runs are evicted by event time. Semantics = skip-till-any-match,
  * identical to the batch join compiler — the spec asserts the two
  * paths agree on the same data.
  *
  * Scale: state lives in the state store, partitioned by key; per-key
  * state is bounded by `maxRuns` (the reference's limits.rs plays the
  * same role) plus event-time expiry, so no key can grow unboundedly.
  */
object PatternStream {

  final case class Ev(
      event_id: Long, user_id: Long, event_type: String,
      value: Double, ts_us: Long,
      // the watermarked event-time attribute must survive into the
      // typed Dataset or EventTimeTimeout loses its watermark
      ts: java.sql.Timestamp)

  final case class Run(stepIdx: Int, firstTsUs: Long, ids: List[Long])
  final case class NfaState(runs: List[Run])
  final case class Match(user_id: Long, ids: Seq[Long], span_us: Long)

  /** A sequence step: event-type to match (value predicates could be
    * added per-step; type match is what the verified queries need).
    */
  final case class StepSpec(eventType: String)

  // ---- generic NFA (string keys, payload carry) — the VPL streaming
  // sequence backend ------------------------------------------------

  /** Pre-typed event for the generic NFA: `mask` bit i set = this
    * event can serve step i (type + local predicates evaluated
    * declaratively before the stateful operator, so the NFA itself
    * stays a pure automaton); `payload` carries the fields the emit
    * clause needs.
    */
  final case class GEv(event_id: Long, key: String, ts_us: Long,
      ts: java.sql.Timestamp, mask: Long, payload: Map[String, String])
  /** A live partial match. `ids`/`pays` are aligned BY STEP INDEX
    * (length = stepIdx + 1); a Kleene step's slot holds the LAST
    * matched element's id/payload, with the run aggregates folded
    * into the payload under reserved keys (`__k_count`,
    * `__k_first_id`, `__k_sum`). `lastTsUs` is the time of the most
    * recently matched element (per-transition `within` bound).
    */
  final case class GRun(stepIdx: Int, firstTsUs: Long, lastTsUs: Long,
      ids: Vector[Long], pays: Vector[Map[String, String]])
  /** a completed match held until its negation window closes */
  final case class GPend(firstTsUs: Long, lastId: Long, spanUs: Long,
      ids: Vector[Long], pays: Vector[Map[String, String]])
  final case class GState(runs: List[GRun], pending: List[GPend],
      buf: List[GEv] = Nil)
  final case class GMatch(key: String, ids: Seq[Long],
      payloads: Seq[Map[String, String]], span_us: Long)

  private val byEventId = WatermarkFold.byTime[GEv, Long](_.ts_us, _.event_id)

  /** Cross-step predicate: (incoming event's payload, payloads of the
    * steps matched so far, aligned by step index) => admit. Must be
    * serializable (closures over plain data only).
    */
  type GPred = (Map[String, String], IndexedSeq[Map[String, String]]) => Boolean

  /** Per-step NFA spec.
    *  - `kleene`: 0 = exactly one event (`T`), 1 = one-or-more (`T+`,
    *    sase.rs KleenePlus), 2 = zero-or-more (`T*`, KleeneStar).
    *  - `withinPrevUs`: per-transition time bound against the
    *    PREVIOUS matched element (batch SeqPattern's per-step within;
    *    reference: per-edge timers). None = only the global within.
    *  - `pred`: cross-step predicate over prior payloads (local,
    *    same-event predicates stay declarative in the mask).
    *  - `sumField`: for a Kleene step, a payload field accumulated
    *    into `__k_sum` (batch kleeneBetween's sum_b).
    */
  final case class GStepSpec(
      kleene: Int = 0,
      withinPrevUs: Option[Long] = None,
      pred: Option[GPred] = None,
      sumField: Option[String] = None)

  /** Reserved payload keys for Kleene run aggregates. */
  final val KCount = "__k_count"
  final val KFirstId = "__k_first_id"
  final val KSum = "__k_sum"

  /** The pre-shuffle filters below use a vacuous `ts IS NULL` disjunct
    * (referencing the watermark column) to keep the filter ABOVE the
    * EventTimeWatermark node, so dropped rows still feed the watermark
    * stats. That pin only holds while `ts` is nullable: on a
    * non-nullable ts, NullPropagation folds the disjunct to false and
    * PushPredicateThroughNonJoin pushes the filter BELOW the watermark
    * — starving it and freezing state eviction/negation emission. Fail
    * fast instead of freezing silently. (Parquet/case-class-encoder
    * sources are always nullable; this trips only on a hand-built
    * non-nullable schema.)
    */
  private def requireNullableTs(ds: Dataset[_], who: String): Unit =
    require(ds.schema("ts").nullable,
      s"$who: the ts column must be nullable — the pre-shuffle filter's " +
        "'ts IS NULL' watermark pin folds away on a non-nullable ts")

  /** [[detect]] generalized to arbitrary correlation keys, carried
    * payloads, cross-step predicates, per-transition time bounds and
    * Kleene closures — same skip-till-any-match semantics, same
    * EventTimeTimeout state hygiene. Events with mask 0 (other types,
    * the end-of-stream sentinel) flow through the watermark but never
    * touch state.
    *
    * Kleene semantics mirror the batch compilers
    * ([[graft.cep.Pattern.kleeneBetween]] / kleeneStarBetween): a run
    * whose current step is Kleene extends IN PLACE on each matching
    * element (maximal run + aggregates — the 2^n−1 sub-runs the
    * reference's detection mode enumerates are derivable, and trend
    * COUNTS live in TrendAggregate), stays alive after emitting so a
    * later closing event yields the (anchor, later-close) pair too,
    * and a star step may be skipped entirely. The final step must not
    * be Kleene (no closing anchor would bound the run).
    *
    * `withNegation`: mask bit `steps.size` marks negation killers.
    * Completed matches are then HELD in state; a killer arriving
    * after the match's last event and inside its window (and passing
    * `negPred` against the match's payloads, when given) retracts it,
    * and survivors emit once the watermark passes the window
    * (sase.rs negation-timeout semantics, cross-batch safe because
    * emission is watermark-gated).
    *
    * Micro-batch-split invariance (the same guarantee detectAbsence
    * carries): arriving events pass through a [[WatermarkFold]] —
    * buffered in state and applied in `event_id` order only once the
    * watermark passes their event time — so the NFA sees one
    * deterministic order regardless of how the source splits
    * micro-batches. The cost is that matches surface one watermark
    * advance after their closing event (a closed/test stream appends
    * a far-future sentinel to flush).
    */
  def detectGeneric(
      events: Dataset[GEv],
      steps: IndexedSeq[GStepSpec],
      withinUs: Long,
      maxRuns: Int = 10000,
      withNegation: Boolean = false,
      negPred: Option[GPred] = None)(
      implicit spark: SparkSession): Dataset[GMatch] = {
    import spark.implicits._
    val nSteps = steps.size
    require(nSteps >= 1 && steps.last.kleene == 0,
      "detectGeneric: the final step must be a plain (non-Kleene) step")
    // Drop mask-0 events (other types, the end-of-stream sentinel)
    // BEFORE the groupByKey shuffle: they can never touch state, but
    // a plain `mask != 0` filter would be pushed below the
    // EventTimeWatermark node and starve the watermark of those rows
    // (state eviction and watermark-gated negation would freeze). The
    // `ts IS NULL` disjunct is vacuous (ts is never null) but
    // references the watermark column, which pins the filter ABOVE
    // the watermark node — every row still feeds the watermark stats,
    // only the shuffle and the stateful operator see the ~3×-smaller
    // live subset. Keys whose rows are all dropped still drain via
    // event-time timeouts (the sentinel only ever carried key "-1" —
    // other keys always relied on timeouts, so this changes no
    // semantics).
    requireNullableTs(events, "detectGeneric")
    events
      .filter(col("mask") =!= 0L || col("ts").isNull)
      .groupByKey(_.key)
      .flatMapGroupsWithState[GState, GMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[GEv], state: GroupState[GState]) =>
          val prev = state.getOption.getOrElse(GState(Nil, Nil))
          var runs = prev.runs
          var pending = prev.pending
          val out = scala.collection.mutable.ArrayBuffer.empty[GMatch]
          def complete(nr: GRun, lastId: Long, spanUs: Long): Unit =
            if (withNegation)
              pending = GPend(nr.firstTsUs, lastId, spanUs,
                nr.ids, nr.pays) :: pending
            else out += GMatch(key, nr.ids, nr.pays, spanUs)
          def admits(j: Int, ev: GEv, r: GRun): Boolean =
            ((ev.mask >> j) & 1L) == 1L &&
              steps(j).withinPrevUs.forall(d => ev.ts_us - r.lastTsUs <= d) &&
              steps(j).pred.forall(p => p(ev.payload, r.pays))
          /** entry payload for a Kleene step's first element */
          def kEnter(ev: GEv, j: Int): Map[String, String] =
            ev.payload + (KCount -> "1") + (KFirstId -> ev.event_id.toString) ++
              steps(j).sumField.map(f => KSum ->
                ev.payload.get(f).flatMap(v =>
                  scala.util.Try(v.toDouble).toOption).getOrElse(0.0).toString)
          /** extension: last element's payload, aggregates carried over */
          def kExtend(prevPay: Map[String, String], ev: GEv, j: Int): Map[String, String] =
            ev.payload +
              (KCount -> (prevPay(KCount).toLong + 1L).toString) +
              (KFirstId -> prevPay(KFirstId)) ++
              steps(j).sumField.map(f => KSum ->
                (prevPay.get(KSum).map(_.toDouble).getOrElse(0.0) +
                  ev.payload.get(f).flatMap(v =>
                    scala.util.Try(v.toDouble).toOption).getOrElse(0.0)).toString)
          /** empty slot for a skipped star step (n_b = 0, NULL-ish ids) */
          val kSkip: Map[String, String] = Map(KCount -> "0")
          // apply the finalized events in global event_id order; later
          // micro-batches can no longer deliver anything this old
          val (ready, buf) = byEventId.release(state, prev.buf,
            it.filter(_.mask != 0L))
          locally {
            for (ev <- ready) {
              runs = runs.filter(r => ev.ts_us - r.firstTsUs <= withinUs)
              if (withNegation && ((ev.mask >> nSteps) & 1L) == 1L)
                pending = pending.filterNot(p =>
                  ev.event_id > p.lastId &&
                    ev.ts_us - p.firstTsUs <= withinUs &&
                    negPred.forall(f => f(ev.payload, p.pays)))
              val next = List.newBuilder[GRun]
              for (r <- runs) {
                // in-place Kleene extension (maximal-run semantics:
                // extending replaces the run; sub-runs are derivable)
                val extended =
                  if (steps(r.stepIdx).kleene > 0 && admits(r.stepIdx, ev, r)) {
                    val pay = kExtend(r.pays(r.stepIdx), ev, r.stepIdx)
                    GRun(r.stepIdx, r.firstTsUs, ev.ts_us,
                      r.ids.updated(r.stepIdx, ev.event_id),
                      r.pays.updated(r.stepIdx, pay))
                  } else r
                // forward targets: the next step, plus each step
                // reachable by skipping star steps (sase.rs skip edges).
                // Forward matching uses the PRE-extension run: an event
                // serving as the closing anchor must not count itself
                // into the Kleene aggregates (batch's strictly-between).
                var j = r.stepIdx + 1
                var skipped = Vector.empty[(Long, Map[String, String])]
                var go = true
                // entering a Kleene step CONSUMES the run (in-place
                // transition): one maximal run per anchor prefix, so
                // each (anchor, close) pair emits exactly once — the
                // batch compilers' one-row-per-(a_id, c_id) shape.
                // Non-Kleene steps branch (skip-till-any, batch
                // SeqPattern's all-combinations).
                var consumed = false
                while (go && j < nSteps) {
                  if (admits(j, ev, r)) {
                    val (ids2, pays2) =
                      (r.ids ++ skipped.map(_._1), r.pays ++ skipped.map(_._2))
                    if (steps(j).kleene > 0) {
                      next += GRun(j, r.firstTsUs, ev.ts_us,
                        ids2 :+ ev.event_id, pays2 :+ kEnter(ev, j))
                      consumed = true
                    } else {
                      val nr = GRun(j, r.firstTsUs, ev.ts_us,
                        ids2 :+ ev.event_id, pays2 :+ ev.payload)
                      if (j == nSteps - 1)
                        complete(nr, ev.event_id, ev.ts_us - nr.firstTsUs)
                      else next += nr
                    }
                  }
                  // continue past step j only if it is skippable (star)
                  if (steps(j).kleene == 2) {
                    skipped = skipped :+ ((-1L, kSkip)); j += 1
                  } else go = false
                }
                if (!consumed) next += extended
              }
              runs = next.result()
              // new run from step 0
              if (((ev.mask & 1L) == 1L) &&
                steps(0).pred.forall(p => p(ev.payload, Vector.empty))) {
                if (nSteps == 1)
                  complete(GRun(0, ev.ts_us, ev.ts_us, Vector(ev.event_id),
                    Vector(ev.payload)), ev.event_id, 0L)
                else if (steps(0).kleene > 0)
                  runs = GRun(0, ev.ts_us, ev.ts_us, Vector(ev.event_id),
                    Vector(kEnter(ev, 0))) :: runs
                else
                  runs = GRun(0, ev.ts_us, ev.ts_us, Vector(ev.event_id),
                    Vector(ev.payload)) :: runs
              }
              if (runs.size > maxRuns) runs = runs.take(maxRuns)
            }
          }
          val wmUs = WatermarkFold.watermarkUs(state)
          if (wmUs > 0L) {
            runs = runs.filter(r => r.firstTsUs + withinUs >= wmUs)
            val (done, held) = pending.partition(p =>
              p.firstTsUs + withinUs < wmUs)
            done.foreach(p =>
              out += GMatch(key, p.ids, p.pays, p.spanUs))
            pending = held
          }
          if (runs.isEmpty && pending.isEmpty && buf.isEmpty) state.remove()
          else {
            state.update(GState(runs, pending, buf))
            // wake when the watermark passes the next run/negation
            // deadline OR the next buffered event's time
            WatermarkFold.rearm(state, ((runs.map(_.firstTsUs + withinUs) ++
              pending.map(_.firstTsUs + withinUs) ++
              buf.map(_.ts_us)).min / 1000L) + 1L)
          }
          out.iterator
      }
  }

  /** Minimal buffered event for cross-batch ordering. */
  final case class Buf(event_id: Long, ts_us: Long, isA: Boolean)
  final case class AbsenceState(pending: List[Run], buf: List[Buf])
  final case class Absence(user_id: Long, a_id: Long)
  private val absenceFold = WatermarkFold.byTime[Buf, Long](_.ts_us, _.event_id)

  /** Streaming negation `A -> NOT(B) within d` (sase.rs
    * NegationInfo / timer.rs timeout semantics): pending A's are
    * killed by a matching B inside the window and emitted once the
    * event-time watermark passes their deadline — via
    * EventTimeTimeout timers, the streaming analog of the
    * reference's negation timers. Requires `withWatermark` on the
    * input's ts column.
    *
    * Cross-batch order safety: arriving events pass through a
    * [[WatermarkFold]] — applied in `event_id` order only once the
    * watermark passes their event time — so the result does not
    * depend on how the source splits micro-batches. An anchor is
    * emitted only when its deadline falls behind the watermark: any
    * kill-event for it would have ts ≤ deadline < watermark and so is
    * either already applied or impossibly late.
    */
  def detectAbsence(
      events: Dataset[Ev],
      aType: String, bType: String,
      withinUs: Long)(implicit spark: SparkSession): Dataset[Absence] = {
    import spark.implicits._
    // drop event types that can't touch state before the shuffle; the
    // vacuous ts-IS-NULL disjunct pins the filter above the watermark
    // node (see detectGeneric) so every row still feeds watermark stats
    requireNullableTs(events, "detectAbsence")
    events
      .filter(col("event_type").isin(aType, bType) || col("ts").isNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AbsenceState, Absence](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[AbsenceState]) =>
          val prev = state.getOption.getOrElse(AbsenceState(Nil, Nil))
          var pending = prev.pending
          val out = scala.collection.mutable.ArrayBuffer.empty[Absence]
          // apply the finalized events in global arrival order
          val (ready, buf) = absenceFold.release(state, prev.buf,
            it.flatMap { ev =>
              if (ev.event_type == aType) Some(Buf(ev.event_id, ev.ts_us, isA = true))
              else if (ev.event_type == bType) Some(Buf(ev.event_id, ev.ts_us, isA = false))
              else None
            })
          for (e <- ready) {
            if (e.isA) pending = Run(0, e.ts_us, List(e.event_id)) :: pending
            else pending = pending.filterNot(r =>
              e.event_id > r.ids.head && e.ts_us - r.firstTsUs <= withinUs)
          }
          // watermark passed a deadline → no B can retract it anymore
          val wm = WatermarkFold.watermarkUs(state)
          val (done, live) = pending.partition(r => r.firstTsUs + withinUs < wm)
          done.foreach(r => out += Absence(user, r.ids.head))
          pending = live
          if (pending.isEmpty && buf.isEmpty) state.remove()
          else {
            state.update(AbsenceState(pending, buf))
            // wake when the watermark passes the next deadline OR the
            // next buffered event's time, whichever is sooner
            WatermarkFold.rearm(state, ((pending.map(_.firstTsUs + withinUs) ++
              buf.map(_.ts_us)).min / 1000L) + 1L)
          }
          out.iterator
      }
  }

  /** Sequence detection with full state hygiene: quiet keys are
    * evicted by event-time timers (reference: sase.rs run expiry),
    * not only when their next event happens to arrive. Requires
    * `withWatermark` on the input's ts column. `droppedRuns`, when
    * given, counts runs discarded by the `maxRuns` cap (the
    * reference's limits.rs drop counter).
    */
  def detect(
      events: Dataset[Ev],
      steps: Seq[StepSpec],
      withinUs: Long,
      maxRuns: Int = 10000,
      droppedRuns: Option[org.apache.spark.util.LongAccumulator] = None)(
      implicit spark: SparkSession): Dataset[Match] = {
    import spark.implicits._
    // pre-shuffle filter to the step types (see detectGeneric)
    requireNullableTs(events, "detect")
    events
      .filter(col("event_type").isin(steps.map(_.eventType): _*) ||
        col("ts").isNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[NfaState, Match](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[NfaState]) =>
          var runs = state.getOption.map(_.runs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[Match]
          if (!state.hasTimedOut) {
            // arrival order = event_id order (micro-batch may be unordered)
            val batch = it.toArray.sortBy(_.event_id)
            for (ev <- batch) {
              // evict expired runs first (event-time bound)
              runs = runs.filter(r => ev.ts_us - r.firstTsUs <= withinUs)
              // advance every run whose next step matches (skip-till-any:
              // the run also stays alive for later alternatives)
              val advanced = runs.flatMap { r =>
                if (r.stepIdx + 1 < steps.size &&
                  steps(r.stepIdx + 1).eventType == ev.event_type &&
                  ev.ts_us - r.firstTsUs <= withinUs) {
                  val nr = Run(r.stepIdx + 1, r.firstTsUs, ev.event_id :: r.ids)
                  if (nr.stepIdx == steps.size - 1) {
                    out += Match(user, nr.ids.reverse, ev.ts_us - nr.firstTsUs)
                    None // completed runs don't persist
                  } else Some(nr)
                } else None
              }
              runs = runs ++ advanced
              // new run from step 0
              if (steps.head.eventType == ev.event_type) {
                if (steps.size == 1) out += Match(user, Seq(ev.event_id), 0L)
                else runs = Run(0, ev.ts_us, List(ev.event_id)) :: runs
              }
              if (runs.size > maxRuns) {
                droppedRuns.foreach(_.add(runs.size - maxRuns))
                runs = runs.take(maxRuns)
              }
            }
          }
          // timer fired OR batch done: drop every run the watermark has
          // already expired — no future in-watermark event can advance it
          val wmUs = WatermarkFold.watermarkUs(state)
          if (wmUs > 0L) runs = runs.filter(r => r.firstTsUs + withinUs >= wmUs)
          if (runs.isEmpty) state.remove()
          else {
            state.update(NfaState(runs))
            // wake when the earliest live run's deadline passes the
            // watermark, so quiet keys still get cleaned up
            WatermarkFold.rearm(state,
              (runs.map(_.firstTsUs + withinUs).min / 1000L) + 1L)
          }
          out.iterator
      }
  }

  final case class SharedState(anchors: List[Run])
  final case class TaggedMatch(user_id: Long, pattern: String, a_id: Long,
      b_id: Long, span_us: Long)

  /** Multi-query shared detection (reference: zdd_unified — one
    * matcher serving N registered patterns instead of N independent
    * automata). N two-step patterns that share an anchor type keep
    * each live anchor ONCE in one state store; every completion type
    * closes all the patterns it completes. State is |anchors|, not
    * N × |anchors|, and the stream is scanned once for all N queries
    * — the sharing argument of the reference's unified engine, in
    * flatMapGroupsWithState form (Hamlet-style sharing for DETECTION,
    * complementing s19's shared trend COUNTING).
    *
    * Match semantics per pattern are exactly [[detect]]'s skip-till-
    * any 2-step sequence, so each tag shares its single-pattern
    * oracle: every (anchor a, completion b) with b.event_id >
    * a.event_id and ts span within the bound.
    */
  def detectShared(
      events: Dataset[Ev],
      anchorType: String,
      completions: Map[String, String],
      withinUs: Long)(
      implicit spark: SparkSession): Dataset[TaggedMatch] = {
    import spark.implicits._
    requireNullableTs(events, "detectShared")
    val types = (anchorType :: completions.values.toList).distinct
    // deterministic tag order for events completing several patterns
    val byCompletion = completions.toSeq.sortBy(_._1)
    events
      .filter(col("event_type").isin(types: _*) || col("ts").isNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SharedState, TaggedMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Ev], state: GroupState[SharedState]) =>
          var anchors = state.getOption.map(_.anchors).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[TaggedMatch]
          if (!state.hasTimedOut) {
            val batch = it.toArray.sortBy(_.event_id)
            for (ev <- batch) {
              anchors = anchors.filter(a => ev.ts_us - a.firstTsUs <= withinUs)
              for ((tag, compType) <- byCompletion
                   if compType == ev.event_type;
                   a <- anchors if ev.event_id > a.ids.head)
                out += TaggedMatch(user, tag, a.ids.head, ev.event_id,
                  ev.ts_us - a.firstTsUs)
              if (ev.event_type == anchorType)
                anchors = Run(0, ev.ts_us, List(ev.event_id)) :: anchors
            }
          }
          val wmUs = WatermarkFold.watermarkUs(state)
          if (wmUs > 0L)
            anchors = anchors.filter(a => a.firstTsUs + withinUs >= wmUs)
          if (anchors.isEmpty) state.remove()
          else {
            state.update(SharedState(anchors))
            WatermarkFold.rearm(state,
              (anchors.map(_.firstTsUs + withinUs).min / 1000L) + 1L)
          }
          out.iterator
      }
  }
}
