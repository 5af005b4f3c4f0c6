package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online PST forecasting on a live stream — the streaming form of the
  * reference's pst/ online updates (pst/online.rs keeps per-context
  * transition counts current as events arrive; the batch `.forecast`
  * compilers fit the model once up front, which this operator exists
  * to lift).
  *
  * Each event is annotated with the probability the model assigned it
  * BEFORE observing it: P(type | longest context with support), where
  * a context is the key's previous 1..2 event types and support means
  * the context was seen at least once before. The counts then absorb
  * the observed transition — so the model is exactly "all transitions
  * with event_id below mine", which makes the semantics
  * window-count-expressible in SQL and therefore hash-oracleable,
  * unlike the fit-once batch surrogate.
  *
  * Cross-batch determinism comes from [[WatermarkFold]]: arriving
  * events buffer in state and are applied in `event_id` order only
  * once the watermark passes their event time, with an event-time
  * timer re-firing the group when no further rows arrive for the key.
  *
  * Scale: state per key is the context-count map — bounded by
  * (#distinct event types)^2 · #types entries, independent of stream
  * length — plus the transient watermark buffer. A production stream
  * with unbounded type vocabularies would TTL contexts; the staged
  * vocabularies are closed.
  */
object ForecastStream {

  final case class FEv(event_id: Long, user_id: Long, event_type: String,
      ts_us: Long, ts: java.sql.Timestamp)
  /** counts: "d␁ctx" → den and "d␁ctx␁type" → num (␁ = U+0001, which
    * cannot appear in an event type); recent: last ≤2 types, newest
    * first; buf: watermark re-ordering buffer.
    */
  final case class FState(counts: Map[String, Long], recent: List[String],
      buf: List[FEv])
  final case class FOut(event_id: Long, user_id: Long, prob: Double,
      cnt: Long, depth: Int)

  private final val Sep = "\u0001"
  private val byEventId = WatermarkFold.byTime[FEv, Long](_.ts_us, _.event_id)

  def onlineScores(events: Dataset[FEv])(
      implicit spark: SparkSession): Dataset[FOut] = {
    import spark.implicits._
    require(events.schema("ts").nullable,
      "onlineScores: the ts column must be nullable — the pre-shuffle " +
        "filter's 'ts IS NULL' watermark pin folds away on a non-nullable ts")
    // the sentinel must feed the watermark but never the model; the
    // vacuous ts-IS-NULL disjunct pins the filter above the watermark
    // node (see PatternStream.detectGeneric)
    events
      .filter(col("event_type") =!= "__sentinel" || col("ts").isNull)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FState, FOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[FEv], state: GroupState[FState]) =>
          val prev = state.getOption.getOrElse(FState(Map.empty, Nil, Nil))
          var counts = prev.counts
          var recent = prev.recent
          // apply the finalized events in global event_id order
          val (ready, buf) = byEventId.release(state, prev.buf, it)
          val out = scala.collection.mutable.ArrayBuffer.empty[FOut]
          for (ev <- ready) {
            val ctx1 = recent.headOption
            val ctx2 =
              if (recent.size >= 2) Some(recent(1) + ">" + recent(0)) else None
            def den(d: Int, c: String) =
              counts.getOrElse(s"$d$Sep$c", 0L)
            def num(d: Int, c: String) =
              counts.getOrElse(s"$d$Sep$c$Sep${ev.event_type}", 0L)
            val (prob, cnt, depth) =
              ctx2.filter(c => den(2, c) > 0)
                .map(c => (num(2, c).toDouble / den(2, c), num(2, c), 2))
                .orElse(ctx1.filter(c => den(1, c) > 0)
                  .map(c => (num(1, c).toDouble / den(1, c), num(1, c), 1)))
                .getOrElse((0.0, 0L, 0))
            out += FOut(ev.event_id, user, prob, cnt, depth)
            // absorb the observed transition (the online update)
            ctx1.foreach { c =>
              counts += (s"1$Sep$c" -> (den(1, c) + 1L))
              counts += (s"1$Sep$c$Sep${ev.event_type}" -> (num(1, c) + 1L))
            }
            ctx2.foreach { c =>
              counts += (s"2$Sep$c" -> (den(2, c) + 1L))
              counts += (s"2$Sep$c$Sep${ev.event_type}" -> (num(2, c) + 1L))
            }
            recent = (ev.event_type :: recent).take(2)
          }
          // a drained buffer needs no timer (the model just waits for
          // the key's next event)
          if (counts.isEmpty && recent.isEmpty && buf.isEmpty) state.remove()
          else byEventId.save(state, FState(counts, recent, buf), buf)
          out.iterator
      }
  }
}
