package graft.streaming

import org.apache.spark.sql.streaming.GroupState

/** The watermark rule every buffered `flatMapGroupsWithState` fold in
  * graft shares. A group's arrivals wait in its state until the
  * event-time watermark finalizes them; by then no earlier event can
  * still arrive, so the fold applies one deterministic order however
  * the source splits micro-batches (results surface one watermark
  * advance after their last event — a closed stream appends a
  * far-future sentinel to flush the tail).
  *
  * Per group invocation, [[release]]
  *  - appends the arrivals to the state buffer, unless the state has
  *    timed out (a firing timer delivers no rows);
  *  - releases the buffered events whose `finalUs` is at or behind the
  *    watermark, sorted by the site's `order`;
  *  - keeps the rest in the buffer, in arrival order.
  *
  * The event-time timer is re-armed at `max(next due, watermark + 1
  * ms)` — Spark rejects a timeout behind the watermark. [[save]] does
  * that for a fold whose only due values are its kept events'
  * `dueMs`, and arms nothing once the buffer drains; a fold with
  * deadlines of its own calls [[WatermarkFold.rearm]] directly.
  */
final class WatermarkFold[E, K](
    finalUs: E => Long, order: E => K, dueMs: E => Long)(
    implicit ord: Ordering[K]) extends Serializable {

  /** (the finalized events in `order`, the events still buffered) */
  def release(state: GroupState[_], buf: List[E],
      arrivals: => Iterator[E]): (List[E], List[E]) = {
    val all = if (state.hasTimedOut) buf else buf ++ arrivals
    val wmUs = WatermarkFold.watermarkUs(state)
    val (ready, kept) = all.partition(finalUs(_) <= wmUs)
    (ready.sortBy(order), kept)
  }

  /** Stores `next` and re-arms the timer for its `kept` buffer. */
  def save[S](state: GroupState[S], next: S, kept: List[E]): Unit = {
    state.update(next)
    if (kept.nonEmpty) WatermarkFold.rearm(state, kept.map(dueMs).min)
  }
}

object WatermarkFold {

  /** Events final once the watermark passes their own time `tsUs`,
    * and due 1 ms after it.
    */
  def byTime[E, K: Ordering](tsUs: E => Long, order: E => K)
      : WatermarkFold[E, K] =
    new WatermarkFold[E, K](tsUs, order, e => tsUs(e) / 1000L + 1L)

  def watermarkUs(state: GroupState[_]): Long =
    state.getCurrentWatermarkMs() * 1000L

  /** Sets the event-time timer at `max(dueMs, watermark + 1 ms)`. */
  def rearm(state: GroupState[_], dueMs: Long): Unit =
    state.setTimeoutTimestamp(
      math.max(dueMs, state.getCurrentWatermarkMs() + 1L))
}
