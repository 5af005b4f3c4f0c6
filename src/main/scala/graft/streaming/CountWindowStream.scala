package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Generic streaming count windows (reference window.rs CountWindow:
  * emit when N events collected; the trailing partial never fires) for
  * the VPL compiler's `.window(n)` on a live stream.
  *
  * Count windows cannot ride Spark's time-window aggregation (the
  * window id is a per-key event COUNTER, not a timestamp bucket), so
  * the membership decision lives in `flatMapGroupsWithState`: rows
  * finalized by a [[WatermarkFold]] fold in `ord` (event_id) order
  * through per-window accumulators; a window emits the moment its
  * Nth event folds in. The accumulators — (count, sum, min, max) per requested
  * aggregate — are O(#aggs) per key; the not-yet-final buffer is
  * bounded by the watermark delay. State is a stable case class, so a
  * checkpointed query resumes across restarts mid-window (the
  * reference's checkpoint_count_window scenario, CheckpointSpec).
  *
  * Agg kinds: ("count", -1) | ("sum"|"avg"|"min"|"max", i) where i
  * indexes the row's `vals`. Sums/avgs accumulate in ord order —
  * deterministic, restart-invariant doubles.
  */
object CountWindowStream {

  /** `ts` carries the watermark tag into the state function (Spark
    * requires the watermarked column in the flatMapGroupsWithState
    * input for event-time timeouts); the fold itself uses `ts_us`.
    * `live` is false for the end-of-stream sentinel: filtering the
    * sentinel with a Column predicate would be PUSHED BELOW the
    * watermark node into the scan and the watermark would never
    * advance — so the row flows through and the fold skips it.
    */
  final case class In(key: String, ord: Long, ts_us: Long,
      ts: java.sql.Timestamp, live: Boolean, vals: Seq[Double])
  final case class Out(key: String, win_id: Long, outs: Seq[Double])
  final case class St(winId: Long, cnt: Int, sums: Seq[Double],
      mins: Seq[Double], maxs: Seq[Double], buf: List[In])

  private val byOrd = WatermarkFold.byTime[In, Long](_.ts_us, _.ord)

  def run(ds: Dataset[In], n: Int, kinds: Seq[(String, Int)])(
      implicit spark: SparkSession): Dataset[Out] = {
    import spark.implicits._
    require(n > 0, "count window size must be positive")
    val k = kinds.map(_._2).filter(_ >= 0).foldLeft(0)((m, i) => math.max(m, i + 1))
    def zeros = Seq.fill(k)(0.0)
    def inf = Seq.fill(k)(Double.PositiveInfinity)
    def ninf = Seq.fill(k)(Double.NegativeInfinity)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[In], state: GroupState[St]) =>
          val st = state.getOption.getOrElse(St(0L, 0, zeros, inf, ninf, Nil))
          val (ready, waiting) = byOrd.release(state, st.buf, it.filter(_.live))
          var (winId, cnt) = (st.winId, st.cnt)
          var (sums, mins, maxs) = (st.sums, st.mins, st.maxs)
          val out = scala.collection.mutable.ArrayBuffer.empty[Out]
          for (r <- ready) {
            sums = sums.zip(r.vals).map { case (a, v) => a + v }
            mins = mins.zip(r.vals).map { case (a, v) => math.min(a, v) }
            maxs = maxs.zip(r.vals).map { case (a, v) => math.max(a, v) }
            cnt += 1
            if (cnt == n) {
              out += Out(key, winId, kinds.map {
                case ("count", _) => cnt.toDouble
                case ("sum", i)   => sums(i)
                case ("avg", i)   => sums(i) / cnt
                case ("min", i)   => mins(i)
                case ("max", i)   => maxs(i)
                case (other, _) => throw new IllegalArgumentException(
                  s"unsupported streaming count-window aggregate: $other")
              })
              winId += 1; cnt = 0; sums = zeros; mins = inf; maxs = ninf
            }
          }
          byOrd.save(state, St(winId, cnt, sums, mins, maxs, waiting), waiting)
          out.iterator
      }
  }
}
