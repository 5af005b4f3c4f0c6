package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query layer counters gathered from Spark's listener buses. */
final case class QueryTrace(
    jobs: Int, stages: Int, tasks: Long,
    planMs: Double, stageBusyMs: Double, exchanges: Int,
    taskRunS: Double, taskCpuS: Double, gcS: Double, spillBytes: Long,
    scanRows: Long, scanBytes: Long,
    exchWriteBytes: Long, exchReadBytes: Long, fetchWaitMs: Double,
    serialStageS: Double,
    streamBatches: Int, streamInputRows: Long, triggerMs: Double,
    addBatchMs: Double, streamCommitMs: Double,
    stateRowsPeak: Long, stateBytesPeak: Long, stateCommitMs: Double)

/** Listeners the benchmark registers on its own session. Queries run one
  * at a time, so everything delivered between [[begin]] and [[end]]
  * belongs to the query in between; [[end]] first drains the listener
  * bus so that late deliveries are not lost to the next query.
  */
final class Tracer private (spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[AnyRef]()

  private final case class Qe(planMs: Double, exchanges: Int)
  private final case class Progress(p: StreamingQueryListener.QueryProgressEvent)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      events.add(Qe(Tracer.planMs(qe), Tracer.exchanges(qe.executedPlan)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(Progress(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  def begin(): Unit = { org.apache.spark.ListenerDrain(spark.sparkContext); events.clear() }

  def end(): QueryTrace = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val evs = events.asScala.toVector
    events.clear()
    val stages = evs.collect { case s: SparkListenerStageCompleted => s.stageInfo }
    val tasks = evs.collect { case t: SparkListenerTaskEnd if t.taskMetrics != null => t.taskMetrics }
    val qes = evs.collect { case q: Qe => q }
    val progress = evs.collect { case Progress(p) => p.progress }
    val intervals = stages.flatMap(s => for {
      a <- s.submissionTime; b <- s.completionTime } yield (a, b))
    val rowsIn = (s: StageInfo) =>
      s.taskMetrics.inputMetrics.recordsRead + s.taskMetrics.shuffleReadMetrics.recordsRead
    val serial = stages.filter(s => s.numTasks == 1 && rowsIn(s) > Tracer.SerialRowFloor)
      .flatMap(s => for { a <- s.submissionTime; b <- s.completionTime } yield (b - a) / 1e3)
    val dur = (k: String) => progress.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble
    val ops = progress.flatMap(_.stateOperators)
    QueryTrace(
      jobs = evs.count(_.isInstanceOf[SparkListenerJobStart]),
      stages = stages.size,
      tasks = tasks.size.toLong,
      planMs = qes.map(_.planMs).sum,
      stageBusyMs = Tracer.unionMs(intervals),
      exchanges = qes.map(_.exchanges).sum,
      taskRunS = tasks.map(_.executorRunTime).sum / 1e3,
      taskCpuS = tasks.map(_.executorCpuTime).sum / 1e9,
      gcS = tasks.map(_.jvmGCTime).sum / 1e3,
      spillBytes = tasks.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).sum,
      scanRows = tasks.map(_.inputMetrics.recordsRead).sum,
      scanBytes = tasks.map(_.inputMetrics.bytesRead).sum,
      exchWriteBytes = tasks.map(_.shuffleWriteMetrics.bytesWritten).sum,
      exchReadBytes = tasks.map(_.shuffleReadMetrics.totalBytesRead).sum,
      fetchWaitMs = tasks.map(_.shuffleReadMetrics.fetchWaitTime).sum.toDouble,
      serialStageS = serial.sum,
      streamBatches = progress.size,
      streamInputRows = progress.map(_.numInputRows).sum,
      triggerMs = dur("triggerExecution"),
      addBatchMs = dur("addBatch"),
      streamCommitMs = dur("commitOffsets") + dur("walCommit"),
      stateRowsPeak = (0L +: ops.map(_.numRowsTotal)).max,
      stateBytesPeak = (0L +: ops.map(_.memoryUsedBytes)).max,
      stateCommitMs = ops.map(_.commitTimeMs).sum.toDouble)
  }
}

object Tracer {
  /** A stage that ran one task over more input rows than this is counted
    * in `exec.serial_stage_s`. */
  val SerialRowFloor: Long = 50000L

  def install(spark: SparkSession): Tracer = new Tracer(spark)

  /** Analysis, optimisation and physical planning, from the plan tracker. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble

  /** Exchange nodes of the final plan, walking into adaptive plans and
    * their query stages (a stage wraps the exchange it materialised). */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum
    case other =>
      (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** Total length of the union of [a, b] millisecond intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
