package graft.sources

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timed `.evt` replay into Structured Streaming — the reference's
  * scenario runner semantics (event_file.rs replay: BATCH n delays
  * the following events n ms from stream start), re-expressed for a
  * micro-batch engine:
  *
  *  - every BATCH group becomes its own staged file, stamped with
  *    event-time `ts = base + delay_ms` — so the *watermark* sees
  *    exactly the timing the .evt encodes;
  *  - file modification times preserve BATCH order, and the stream
  *    reads with `maxFilesPerTrigger=1`, so each BATCH is its own
  *    micro-batch (the micro-batch analog of the reference's timed
  *    injection);
  *  - optionally, [[releasePaced]] renames the staged files into the
  *    watched directory on a wall-clock schedule scaled from the
  *    .evt delays — a true rate-controlled source for soak runs.
  *
  * Staging loops over BATCH groups on the driver; an .evt scenario is
  * a test artifact (tens of batches), not a data path — the data path
  * is the stream reader, which is ordinary distributed file streaming.
  * Live injects skip the text: [[stageEvents]] writes their rows.
  */
object EventReplay {

  /** Default replay epoch: 2024-01-01T00:00:00Z, matching nothing in
    * the data on purpose (scenario time is relative).
    */
  val DefaultBaseEpochMs: Long = 1704067200000L

  /** Appended phase k owns files `batch_<k * 10000 + i>` and event
    * ids from `k * 1e9`: phases sort in order and never collide.
    */
  private val PhaseFileStride = 10000
  private val PhaseIdStride = 1000000000L

  /** files = (path, delayMs) in BATCH order. */
  final case class Staged(dir: String, files: Seq[(String, Long)], nBatches: Int)

  /** Parse `evtPath` and write one parquet file per BATCH group under
    * `dir` (or `dir/.staged` when `paced`), named and modstamped in
    * BATCH order. Columns: event_id (line order), event_type, ts
    * (event time = base + delay_ms), delay_ms, fields.
    * When `sentinel`, a final `__sentinel` event 2h past the last
    * batch closes every window/watermark for append-mode sinks.
    */
  def stage(
      spark: SparkSession,
      evtPath: String,
      dir: String,
      baseEpochMs: Long = DefaultBaseEpochMs,
      sentinel: Boolean = true,
      paced: Boolean = false,
      fileIdxOffset: Int = 0,
      idOffset: Long = 0L,
      delayOffsetMs: Long = 0L): Staged = {
    val target = new java.io.File(dir)
    target.mkdirs()
    val stagedDir = if (paced) new java.io.File(dir, ".staged") else target
    stagedDir.mkdirs()
    val parsed = EventFile.read(spark, evtPath)
      .withColumn("delay_ms", col("delay_ms") + lit(delayOffsetMs))
      .withColumn("ts", timestamp_millis(lit(baseEpochMs) + col("delay_ms")))
      .select((col("line_no") + lit(idOffset)).as("event_id"),
        col("event_type"),
        col("ts"), col("delay_ms"), col("fields"), col("fields_raw"))
      .cache()
    val delays = parsed.select("delay_ms").distinct()
      .orderBy("delay_ms").collect().map(_.getLong(0))
    val lastMs = delays.lastOption.getOrElse(delayOffsetMs)
    val files = delays.zipWithIndex.map { case (d, i) =>
      (writeBatch(parsed.filter(col("delay_ms") === d), stagedDir,
        i + fileIdxOffset, baseEpochMs), d)
    }.toSeq
    val sentinelFiles = if (sentinel) {
      val s = spoolFrame(spark, baseEpochMs,
        Seq((-1L, "__sentinel", lastMs + 7200000L, Map.empty, Map.empty)))
      Seq((writeBatch(s, stagedDir, delays.length + fileIdxOffset,
        baseEpochMs), lastMs + 7200000L))
    } else Nil
    parsed.unpersist()
    Staged(dir, files ++ sentinelFiles, delays.length)
  }

  /** Append a later `.evt` phase to an already-staged directory: new
    * file names/modtimes sort after the existing batches, event_ids
    * continue in a disjoint range, and event time continues after
    * `afterDelayMs` — so a RESTARTED streaming query (same checkpoint)
    * consumes exactly the new files as its next micro-batches. This
    * is the reference's two-phase checkpoint scenario staging
    * (tests/scenarios/checkpoint_*_phase{1,2}.evt).
    */
  def stagePhase(
      spark: SparkSession,
      evtPath: String,
      staged: Staged,
      phase: Int,
      afterDelayMs: Long,
      sentinel: Boolean,
      baseEpochMs: Long = DefaultBaseEpochMs): Staged = {
    val more = stage(spark, evtPath, staged.dir, baseEpochMs,
      sentinel = sentinel,
      fileIdxOffset = phase * PhaseFileStride,
      idOffset = phase * PhaseIdStride,
      delayOffsetMs = afterDelayMs)
    Staged(staged.dir, staged.files ++ more.files,
      staged.nBatches + more.nBatches)
  }

  /** The servers' inject path: append one phase of validated events,
    * each a type and `(key, .evt literal)` pairs, as the rows
    * [[stagePhase]] writes for them with `afterDelayMs = phase * 1000`.
    * Built on the driver (one write job, no text round trip), so
    * string values may hold commas.
    */
  def stageEvents(
      spark: SparkSession,
      staged: Staged,
      phase: Int,
      events: Seq[(String, Seq[(String, String)])]): Staged =
    if (events.isEmpty) staged
    else {
      val delayMs = phase * 1000L
      val rows = events.zipWithIndex.map { case ((eventType, raw), i) =>
        val fields = raw.map { case (k, v) =>
          k -> v.stripPrefix("\"").stripSuffix("\"")
        }
        (phase * PhaseIdStride + i, eventType, delayMs,
          ListMap.from(fields), ListMap.from(raw))
      }
      val file = writeBatch(spoolFrame(spark, DefaultBaseEpochMs, rows),
        new java.io.File(staged.dir), phase * PhaseFileStride,
        DefaultBaseEpochMs)
      Staged(staged.dir, staged.files :+ (file -> delayMs),
        staged.nBatches + 1)
    }

  /** The staged files of phases `<= phase`, the seed included. */
  def upToPhase(staged: Staged, phase: Int): Seq[(String, Long)] =
    staged.files.filter { case (f, _) =>
      new java.io.File(f).getName.stripPrefix("batch_")
        .stripSuffix(".parquet").toIntOption
        .exists(_ < (phase + 1) * PhaseFileStride)
    }

  /** Seed a spool directory with a ZERO-ROW staged file — the deploy
    * shape of the pipeline-management API, where a streaming query
    * must start on an empty event log (the file source needs at least
    * one file to carry the schema) and later injects append via
    * [[stageEvents]].
    */
  def stageEmpty(
      spark: SparkSession,
      dir: String,
      baseEpochMs: Long = DefaultBaseEpochMs): Staged = {
    val target = new java.io.File(dir)
    target.mkdirs()
    val empty = spoolFrame(spark, baseEpochMs, Nil)
    Staged(dir, Seq((writeBatch(empty, target, 0, baseEpochMs), 0L)), 0)
  }

  /** Driver-side spool rows `(event_id, event_type, delay_ms, fields,
    * fields_raw)` as the spool columns, event time `base + delay_ms`.
    */
  private def spoolFrame(spark: SparkSession, baseEpochMs: Long,
      rows: Seq[(Long, String, Long, Map[String, String], Map[String, String])])
      : DataFrame =
    spark.createDataFrame(rows)
      .toDF("event_id", "event_type", "delay_ms", "fields", "fields_raw")
      .select(col("event_id"), col("event_type"),
        timestamp_millis(lit(baseEpochMs) + col("delay_ms")).as("ts"),
        col("delay_ms"), col("fields"), col("fields_raw"))

  /** Write `df` as the one file `dir/batch_<idx>.parquet`, modtime
    * pinned to `base + idx` s: FileStreamSource orders by (modTime, path).
    * The modtime is set before the move, because a running stream that
    * lists the file under its wall-clock write time skips every later,
    * older-stamped file as past `maxFileAge`. The move is an atomic
    * rename, so `dir` must share a filesystem with `java.io.tmpdir`
    * (every spool is a temp directory); otherwise it fails rather
    * than copying the file in under a wall-clock modtime.
    */
  private def writeBatch(df: DataFrame, dir: java.io.File, idx: Int,
      baseEpochMs: Long): String = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_replay_stage_").toFile
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(dir, f"batch_$idx%05d.parquet")
      part.setLastModified(baseEpochMs + idx * 1000L)
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      dest.getPath
    } finally {
      Option(tmp.listFiles()).foreach(_.foreach(_.delete()))
      tmp.delete(): Unit
    }
  }

  /** Open the staged directory as a stream, one BATCH per micro-batch. */
  def readStream(spark: SparkSession, staged: Staged): DataFrame = {
    val schema = spark.read.parquet(staged.files.head._1).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.dir)
  }

  /** Wall-clock-paced release for a `stage(..., paced = true)` result:
    * a daemon thread renames each staged file into the watched dir at
    * `delay_ms * timeScale` ms after start (rename is atomic on a
    * local fs, which is what FileStreamSource requires). Returns the
    * thread; join it before asserting end-of-stream.
    */
  def releasePaced(staged: Staged, timeScale: Double): Thread = {
    val t = new Thread(() => {
      val start = System.nanoTime()
      staged.files.foreach { case (f, delayMs) =>
        val src = new java.io.File(f)
        val dueMs = (delayMs * timeScale).toLong
        val elapsedMs = (System.nanoTime() - start) / 1000000L
        if (dueMs > elapsedMs) Thread.sleep(dueMs - elapsedMs)
        java.nio.file.Files.move(src.toPath,
          new java.io.File(staged.dir, src.getName).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    })
    t.setDaemon(true)
    t.start()
    t
  }
}
