package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2 #31–34).
  *
  * These run a real `readStream → transform → writeStream(memory)`
  * pipeline synchronously over the test parquet (file source), then
  * return the sink table — so the driver's batch verify/oracle
  * machinery checks true streaming results. In production the same
  * plans run unbounded with `append` + watermark to a real sink; the
  * `complete`+memory form here is the test harness, not the design.
  */
object StreamingQueries {

  /** streaming EMA state/rows (see [[streamEma]]) */
  final case class EmaBuf(event_id: Long, ts_us: Long, value: Double)
  final case class EmaState(ema: Double, n: Long, buf: List[EmaBuf])
  final case class EmaOut(user_id: Long, event_id: Long, ema10: Double)

  /** streaming Hawkes state/rows (see [[streamHawkes]]) */
  final case class HkState(li: Double, lt: Long, buf: List[EmaBuf])
  final case class HkOut(user_id: Long, event_id: Long, intensity: Double)

  /** streaming count-window state/rows (see [[streamCountWindow]]) */
  final case class CwState(winId: Long, cnt: Int, firstId: Long,
      lastId: Long, sumCents: Long, buf: List[EmaBuf])
  final case class CwOut(user_id: Long, win_id: Long, first_id: Long,
      last_id: Long, sum_value: Double)

  /** streaming anomaly state/rows (see [[streamAnomaly]]) */
  final case class AnState(ring: List[Long], buf: List[EmaBuf])
  final case class AnOut(user_id: Long, event_id: Long, value: Double,
      z: Double, is_anomaly: Boolean)

  /** streaming heavy-hitters row (see [[streamHeavyHitters]]) */
  final case class HhOut(win_start: Long, event_type: String, n: Long)

  /** streaming packing input/state/rows (see [[streamPack]]) */
  final case class PkIn(shard: Long, doc_id: Long, tok: Long)
  final case class PkState(bin: Long, used: Long)
  final case class PkOut(shard: Long, doc_id: Long, bin: Long,
      bin_used: Long)

  /** streaming incremental-dedup input/state/rows (see
    * [[streamIncrementalDedup]])
    */
  final case class IdIn(fp: String, doc_id: Long, in_base: Boolean)
  final case class IdState(seen: Boolean)
  final case class IdOut(doc_id: Long, status: String)

  /** streaming rate-limit state/rows (see [[streamRateLimit]]) */
  final case class RlState(buf: List[EmaBuf])
  final case class RlOut(event_id: Long, user_id: Long, win_start: Long,
      admitted: Boolean)

  /** streaming circuit-breaker state/rows (see [[streamBreaker]]) */
  final case class BkEv(event_id: Long, ts_us: Long, ok: Boolean)
  final case class BkStreamState(open: Boolean, consec: Int,
      openedUs: Long, buf: List[BkEv])
  final case class BkOut(connector: String, event_id: Long,
      decision: String, state_after: String)

  /** streaming as-of enrichment buffer/state/rows (see
    * [[streamAsofEnrich]]) — the buffer keeps each event's type
    * because a signup IS the dimension update
    */
  final case class AeBuf(event_id: Long, ts_us: Long, value: Double,
      event_type: String)
  final case class AeState(dimId: Option[Long], dimValue: Option[Double],
      dimUs: Option[Long], buf: List[AeBuf])
  final case class AeOut(event_id: Long, user_id: Long,
      asof_signup_id: Option[Long], asof_value: Option[Double],
      asof_gap_us: Option[Long])

  // Staged source dirs and schemas are memoized per input file: the
  // staged contents are immutable for a given file, and re-staging per
  // query costs two batch reads + a parquet write — ~1s × every
  // closed-stream query in a Verify/Bench run.
  private val dirCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val closedDirCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  /** Parquet footer schema, memoized per path (immutable test data). */
  private def schemaOf(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema)

  /** Links the table at `file` into the staging directory `dir`: a
    * single file as itself, a directory-shaped table (a multi-part
    * write, e.g. a ScaleBench-staged corpus) as each of its parquet
    * part FILES — readStream.parquet does not recurse into a directory
    * symlink, so linking the directory itself silently feeds the
    * stream ZERO rows.
    */
  private def linkParts(file: String, dir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val src = Paths.get(file).toAbsolutePath
    val parts =
      if (!Files.isDirectory(src)) Seq(src)
      // Files.list holds a directory fd until closed — materialize
      // under Using so the caches don't leak one fd per staged table
      else scala.util.Using.resource(Files.list(src)) { s =>
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      }
    require(parts.nonEmpty, s"no parquet part files under $src")
    parts.foreach(p => Files.createSymbolicLink(dir.resolve(p.getFileName), p))
  }

  /** The file streaming source requires a directory; the test tables
    * are single files. Stage a temp dir of symlinks — in production
    * the source would already be a directory/object-store prefix.
    */
  private def streamDir(file: String): String =
    dirCache.getOrElseUpdate(file, {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_")
      linkParts(file, dir)
      dir.toString
    })

  /** Stage a CLOSED bounded stream: the source table plus one sentinel
    * row 2 hours past the max event time. The end-of-stream watermark
    * then passes every deadline / session gap, so append-mode state
    * flushes completely and the bounded streaming run equals the batch
    * semantics (making these queries oracle-checkable). The sentinel
    * carries user_id −1 / event_type "__sentinel"; it must stay in the
    * plan through the watermark node (a pre-aggregation filter would
    * be pushed below it and the watermark would never advance) — its
    * own pending state simply never emits in append mode.
    * An unbounded production run simply never stages a sentinel.
    */
  private def closedStreamDir(spark: SparkSession, file: String): String =
    // its OWN staged dir (not streamDir's memoized one — appending the
    // sentinel there would leak it into the open-stream queries)
    closedDirCache.getOrElseUpdate(file, {
      val dir = java.nio.file.Files.createTempDirectory("graft_cstream_")
      linkParts(file, dir)
      // The sentinel must be written in the SAME physical ts type as
      // the source file so the staged dir's files share one schema.
      // Two staged encodings exist (see Tables.normalizeTs): ns-epoch
      // LONG (nanosAsLong) and µs TIMESTAMP_NTZ — support both; any
      // other encoding is a loader gap we want to fail loudly on.
      val tsField = schemaOf(spark, file)("ts")
      val maxRow = spark.read.parquet(file).agg(max(col("ts"))).head
      require(!maxRow.isNullAt(0), s"closedStreamDir: empty source $file")
      val sentinelTs: org.apache.spark.sql.Column = tsField.dataType match {
        case org.apache.spark.sql.types.LongType =>
          lit(maxRow.getLong(0) + 7200L * 1000000000L)
        case org.apache.spark.sql.types.TimestampNTZType =>
          // lit(LocalDateTime) is a TIMESTAMP_NTZ literal; parquet
          // write emits timestamp[us] isAdjustedToUTC=false, matching
          lit(maxRow.getAs[java.time.LocalDateTime](0).plusHours(2))
        case other => throw new IllegalArgumentException(
          s"closedStreamDir: unsupported ts encoding $other in $file — " +
            "extend Tables.normalizeTs and this sentinel writer together")
      }
      // non-ts columns cast to the SOURCE file's physical types too,
      // so an upstream switch to e.g. int32 ids / float32 value can
      // never leave the staged dir with two parquet schemas
      val srcSchema = schemaOf(spark, file)
      def asSrc(c: org.apache.spark.sql.Column, name: String) =
        c.cast(srcSchema(name).dataType).as(name)
      spark.range(1).select(
        asSrc(lit(-1L), "event_id"),
        sentinelTs.as("ts"),
        asSrc(lit(-1L), "user_id"),
        asSrc(lit("__sentinel"), "event_type"),
        asSrc(lit(0.0), "value"),
        asSrc(lit("{}"), "props"))
        .coalesce(1).write.mode("append").parquet(dir.toString)
      dir.toString
    })

  /** The closed event stream of `dir` ([[closedStreamDir]]),
    * normalized and watermarked on `ts` with `delay`.
    */
  private def closedEvents(spark: SparkSession, dir: String,
      delay: String = "1 second"): DataFrame = {
    val path = s"$dir/events.parquet"
    graft.Tables.normalizeEvents(spark.readStream.schema(schemaOf(spark, path))
      .parquet(closedStreamDir(spark, path))).withWatermark("ts", delay)
  }

  /** A watermarked event frame as the typed rows the stateful folds
    * take (`ts` rides along: event-time timeouts need it).
    */
  private def asEv(events: DataFrame): Dataset[PatternStream.Ev] = {
    import events.sparkSession.implicits._
    events.select(col("event_id"), col("user_id"), col("event_type"),
      col("value"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[PatternStream.Ev]
  }

  /** The shuffle-partition cap of every stream run here, so at most
    * this many state stores commit per micro-batch (see
    * [[runToTable]]; 1, 2 and 4 measured alike).
    */
  private final val StreamStateParts = 4

  private def runToTable(
      spark: SparkSession, streamed: DataFrame, name: String,
      mode: String): DataFrame = {
    // drop leftovers from a previous invocation in this session
    spark.sql(s"DROP VIEW IF EXISTS $name")
    // A stateful query creates/commits one state store per shuffle
    // partition per micro-batch; on the bounded local test run that
    // maintenance overhead dominates, so cap the stream's state
    // partitioning (the conf is captured at query start and pinned in
    // the checkpoint — a production run sizes it to the cluster).
    // NOTE: the override briefly mutates the session-global conf; any
    // plan built concurrently in this session during that window would
    // capture the capped value. The test harness runs queries
    // sequentially in one thread, which is the supported mode here.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    if (prev.toInt > StreamStateParts)
      spark.conf.set("spark.sql.shuffle.partitions", StreamStateParts.toString)
    val q =
      try streamed.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try {
      q.processAllAvailable()
    } finally {
      q.stop()
    }
    spark.table(name)
  }

  /** #31 streaming tumbling aggregation with watermark (same oracle
    * as the batch w1 query — the two paths must agree).
    */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .select(col("event_type"), col("window.start").cast("long").as("win_start"),
        col("n"), col("sum_value"))
    runToTable(spark, agg, "graft_s1_sink", "complete")
  }

  /** #9-streaming: sliding time windows on a live stream (1h size,
    * 30m slide — every event lands in 2 overlapping windows). Append
    * mode: a window emits ONCE when the watermark passes its end (the
    * form whose state stays finite unbounded — complete mode re-emits
    * every window every micro-batch, which at this window count
    * costs 5× the wall); the staged sentinel closes the bounded run
    * so every window flushes. Shares batch w2's oracle.
    */
  def streamSliding(spark: SparkSession, dir: String): DataFrame = {
    val agg = closedEvents(spark, dir)
      .groupBy(col("event_type"),
        window(col("ts"), "1 hour", "30 minutes"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .select(col("event_type"), col("window.start").cast("long").as("win_start"),
        col("n"), col("sum_value"))
    runToTable(spark, agg, "graft_s14_sink", "append")
  }

  /** #33 stream-stream interval join (VPL `join(...).on(...).window()`
    * over two live streams): signups ⋈ purchases of the same user
    * within 30 minutes. Watermarks bound the join state on both
    * sides — the knob that keeps state finite on an unbounded run.
    * Same match set as the batch p1_seq2 join and the s3 oracle: the
    * ordering predicate is `b_id > a_id` (exactly the oracle's), with
    * `p_ts >= s_ts` / `p_ts <= s_ts + 30m` as the conjunctive range
    * bounds Spark needs to derive join-state eviction — so two events
    * sharing a timestamp cannot diverge from the oracle hash.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    def src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("a_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("b_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = signups.join(purchases,
      expr("""s_user = p_user AND b_id > a_id AND p_ts >= s_ts AND
             |p_ts <= s_ts + interval 30 minutes""".stripMargin))
      .select(col("s_user").as("user_id"), col("a_id"), col("b_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("span_us"))
    runToTable(spark, joined, "graft_s3_sink", "append")
  }

  /** #10-streaming: session windows over a live stream (gap-merged
    * state in the streaming agg). Append mode: a session emits once
    * the watermark passes its end+gap; the staged sentinel closes the
    * bounded run so every real session flushes — the result equals
    * the batch w3 session query and shares its oracle.
    */
  def streamSession(spark: SparkSession, dir: String): DataFrame = {
    val agg = closedEvents(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("sess_start_us"),
        col("n"), col("sum_value"))
    runToTable(spark, agg, "graft_s5_sink", "append")
  }

  /** #24-streaming: negation via event-time timers. Absences emit
    * once the watermark passes the deadline; the staged sentinel
    * closes the bounded run so every pending anchor resolves — the
    * result equals the batch anti-join and shares its oracle.
    */
  def streamNegation(spark: SparkSession, dir: String): DataFrame = {
    val absences = PatternStream.detectAbsence(
      asEv(closedEvents(spark, dir)), "purchase", "error",
      withinUs = 900L * 1000000L)(spark)
    runToTable(spark, absences.toDF(), "graft_s4_sink", "append")
  }

  /** #32 streaming SASE sequence detection — the generic buffered NFA
    * (split-invariant [[WatermarkFold]] ordering, like every stateful
    * streaming query here); matches the batch p1_seq2 join's oracle.
    * The lightweight [[PatternStream.detect]] (immediate arrival-order
    * processing) remains the low-latency primitive for in-order
    * sources.
    */
  /** #32-multi: SHARED multi-query detection on one live stream
    * (reference zdd_unified: one matcher for N registered patterns).
    * Two 2-step sequences share the signup anchor prefix in ONE
    * state store ([[PatternStream.detectShared]]); the oracle is the
    * UNION of the per-pattern single-query joins, so the shared
    * matcher is held to exactly the semantics of running each query
    * alone.
    */
  def streamMultiPattern(spark: SparkSession, dir: String): DataFrame =
    streamMultiPatternWith(spark, dir,
      Map("purchase_after_signup" -> "purchase",
        "error_after_signup" -> "error"), "graft_s23_sink")

  /** [[streamMultiPattern]] parameterized on the shared pattern set —
    * the sharing-scaling harness (Profile PROFILE_SHARE) measures how
    * one anchor-sharing store carries N registered patterns vs N
    * separate single-pattern runs (the zdd_unified sharing claim,
    * measured rather than asserted).
    */
  def streamMultiPatternWith(spark: SparkSession, dir: String,
      followers: Map[String, String], sink: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val src = asEv(graft.Tables.normalizeEvents(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
      .withWatermark("ts", "1 hour"))
    val out = PatternStream.detectShared(src, "signup", followers,
      withinUs = 1800L * 1000000L)(spark)
    runToTable(spark, out.toDF()
      .select(col("pattern"), col("user_id"), col("a_id"), col("b_id"),
        col("span_us")), sink, "append")
  }

  def streamPattern(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, sequenceTransform(closedEvents(spark, dir, "1 hour")),
      "graft_s2_sink", "append")

  /** The s2 signup → purchase sequence over a watermarked event frame,
    * exposed so the split-invariance spec can drive it.
    */
  private[graft] def sequenceTransform(src: DataFrame): DataFrame = {
    import src.sparkSession.implicits._
    import PatternStream._
    val gev = src.select(
      col("event_id"),
      col("user_id").cast("string").as("key"),
      unix_micros(col("ts")).as("ts_us"),
      col("ts"),
      (when(col("event_type") === "signup", 1L).otherwise(0L) +
        when(col("event_type") === "purchase", 2L).otherwise(0L)).as("mask"),
      map(lit("uid"), col("user_id").cast("string")).as("payload")).as[GEv]
    val matches = detectGeneric(gev,
      IndexedSeq(GStepSpec(), GStepSpec()),
      withinUs = 1800L * 1000000L)(src.sparkSession).toDF()
    matches.select(
      col("key").cast("long").as("user_id"),
      col("ids")(0).as("a_id"), col("ids")(1).as("b_id"),
      col("span_us"))
  }

  /** #22b-streaming: Kleene `signup -> error+ -> purchase within 8h`
    * on a live stream via the generic NFA's loop step — shares p7's
    * kleeneBetween oracle (one row per anchor pair; n_b / first_b /
    * last_b / sum_b from the in-run aggregates).
    *
    * Oracle-exact sums: the run accumulates CENTS (value cast
    * decimal(14,2) × 100 as long — the same rounding the batch/oracle
    * decimal sum applies), so the final divide-by-100 reproduces the
    * decimal-sum-cast-double bit for bit; a raw double fold would
    * drift.
    */
  def streamKleene(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import PatternStream._
    // closed stream: detectGeneric applies events once the watermark
    // finalizes them (split-invariant ordering), so the bounded run
    // needs the far-future sentinel to flush the tail
    val gev = closedEvents(spark, dir, "1 hour").select(
      col("event_id"),
      col("user_id").cast("string").as("key"),
      unix_micros(col("ts")).as("ts_us"),
      col("ts"),
      (when(col("event_type") === "signup", 1L).otherwise(0L) +
        when(col("event_type") === "error", 2L).otherwise(0L) +
        when(col("event_type") === "purchase", 4L).otherwise(0L)).as("mask"),
      map(lit("cents"),
        (col("value").cast("decimal(14,2)") * 100).cast("long").cast("string"))
        .as("payload")).as[GEv]
    val steps = IndexedSeq(
      GStepSpec(),
      GStepSpec(kleene = 1, sumField = Some("cents")),
      GStepSpec())
    val m = detectGeneric(gev, steps, withinUs = 28800L * 1000000L)(spark).toDF()
    val out = m.select(
      col("ids")(0).as("a_id"),
      col("ids")(2).as("c_id"),
      col("payloads")(1).getItem(KCount).cast("long").as("n_b"),
      col("payloads")(1).getItem(KFirstId).cast("long").as("first_b"),
      col("ids")(1).as("last_b"),
      (col("payloads")(1).getItem(KSum).cast("double") / 100.0).as("sum_b"))
    runToTable(spark, out, "graft_s6_sink", "append")
  }

  /** #25-streaming: AND (both events, any order, within d) as a
    * symmetric stream-stream interval join — the two-sided time bound
    * gives Spark the state-eviction constraint on both sides, exactly
    * the batch conjunction's |Δts| ≤ d semantics (shares p4's oracle).
    */
  def streamConjunction(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    def src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("a_user"), col("event_id").as("click_id"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", "1 hour")
    val errors = src.filter(col("event_type") === "error")
      .select(col("user_id").as("b_user"), col("event_id").as("error_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "1 hour")
    val joined = clicks.join(errors,
      expr("""a_user = b_user AND click_id != error_id AND
             |b_ts >= a_ts - interval 10 minutes AND
             |b_ts <= a_ts + interval 10 minutes""".stripMargin))
      .select(col("click_id"), col("error_id"), col("a_user").as("user_id"))
    runToTable(spark, joined, "graft_s7_sink", "append")
  }

  /** #19-streaming: per-event running EMA on a live stream
    * (aggregation.rs ema over unbounded streams). State = the running
    * (ema, n) per key plus the [[WatermarkFold]] buffer — events fold
    * in event_id order once the watermark passes them, so the
    * sequential recursion is deterministic under any micro-batch
    * split, and the emitted doubles reproduce the oracle's
    * list_reduce prefix fold bit for bit (same seed-first semantics,
    * same IEEE evaluation order). Per-key state is one (double,
    * long) forever — the inherent cost of a running per-key
    * aggregate, reference semantics included.
    */
  def streamEma(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, emaTransform(asEv(closedEvents(spark, dir))).toDF(),
      "graft_s9_sink", "append")

  /** The [[WatermarkFold]] of the user-keyed folds below: event-time
    * finalized, event_id ordered.
    */
  private val byEventId = WatermarkFold.byTime[EmaBuf, Long](_.ts_us, _.event_id)

  /** The real events of a group (the closing sentinel only feeds the
    * watermark), as buffer rows.
    */
  private def emaBufs(it: Iterator[PatternStream.Ev]): Iterator[EmaBuf] =
    it.filter(_.event_type != "__sentinel")
      .map(e => EmaBuf(e.event_id, e.ts_us, e.value))

  /** Cents of the decimal(14,2)-rounded value (BigDecimal.valueOf =
    * the same shortest-representation rounding Spark's double→decimal
    * cast applies).
    */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  /** The s9 fold, exposed so the split-invariance spec can drive it. */
  private[graft] def emaTransform(src: Dataset[PatternStream.Ev])
      : Dataset[EmaOut] = {
    import src.sparkSession.implicits._
    val alpha = 2.0 / 11.0
    val beta = 1.0 - alpha
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[EmaState]) =>
          val prev = state.getOption.getOrElse(EmaState(0.0, 0L, Nil))
          var ema = prev.ema
          var n = prev.n
          val (ready, buf) = byEventId.release(state, prev.buf, emaBufs(it))
          val outRows = ready.map { e =>
            ema = if (n == 0L) e.value else alpha * e.value + beta * ema
            n += 1
            EmaOut(user, e.event_id, ema)
          }
          byEventId.save(state, EmaState(ema, n, buf), buf)
          outRows.iterator
      }
  }

  /** #29b-streaming: Hawkes self-exciting intensity on a live stream
    * (pst/hawkes.rs runs exactly this recursion online). Per-key
    * state is the recursion's own O(1) carry — (last intensity, last
    * event time) — plus the [[WatermarkFold]] buffer; events fold in
    * event_id order once the watermark passes them, and each step
    * calls the SAME [[graft.functions.HawkesFoldUtil.step]] the batch
    * fold uses, so the twins cannot diverge and s32 shares f4's
    * recursive-CTE oracle verbatim. This is the 100 TB path for
    * unbounded per-key histories that the batch collect_list fold
    * deliberately is not.
    */
  /** The fMGWS transform behind [[streamHawkes]], exposed so the
    * checkpoint spec can run the SAME topology against a
    * parquet-source/checkpointed pipeline and prove the (li, lt)
    * carry survives a restart.
    */
  def hawkesTransform(src: Dataset[PatternStream.Ev],
      mu: Double, alpha: Double, beta: Double): Dataset[HkOut] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[HkState, HkOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[HkState]) =>
          val prev = state.getOption.getOrElse(HkState(0.0, -1L, Nil))
          var li = prev.li
          var lt = prev.lt
          val (ready, buf) = byEventId.release(state, prev.buf, emaBufs(it))
          val outRows = ready.map { e =>
            li = graft.functions.HawkesFoldUtil.step(
              li, lt, e.ts_us, mu, alpha, beta)
            lt = e.ts_us
            HkOut(user, e.event_id, li)
          }
          byEventId.save(state, HkState(li, lt, buf), buf)
          outRows.iterator
      }
  }

  def streamHawkes(spark: SparkSession, dir: String): DataFrame = {
    val (mu, alpha, beta) = (0.001, 0.002, 0.0005)
    val out = hawkesTransform(asEv(closedEvents(spark, dir)), mu, alpha, beta)
    // identical post-projection to f4's batch select: boost from the
    // RAW intensity, then both columns rounded to 6
    val shaped = out.toDF().select(
      col("user_id"), col("event_id"),
      round(col("intensity"), 6).as("intensity"),
      round(least(greatest(col("intensity") / lit(mu), lit(1.0)),
        lit(5.0)), 6).as("boost_factor"))
    runToTable(spark, shaped, "graft_s32_sink", "append")
  }

  /** #11-streaming: count windows on a live stream (window.rs Count —
    * a window EMITS when it fills, which is why the batch twin's
    * oracle keeps only complete windows). State per key = the open
    * window's running aggregates plus the [[WatermarkFold]] buffer;
    * values accumulate as [[cents]], so the emitted sum reproduces
    * the oracle's decimal aggregation bit for bit.
    */
  def streamCountWindow(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      countWindowTransform(asEv(closedEvents(spark, dir))).toDF(),
      "graft_s10_sink", "append")

  /** The s10 fold, exposed so the split-invariance spec can drive it. */
  private[graft] def countWindowTransform(src: Dataset[PatternStream.Ev])
      : Dataset[CwOut] = {
    import src.sparkSession.implicits._
    val winSize = 10
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[CwState, CwOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[CwState]) =>
          var st = state.getOption.getOrElse(
            CwState(0L, 0, Long.MaxValue, Long.MinValue, 0L, Nil))
          val (ready, buf) = byEventId.release(state, st.buf, emaBufs(it))
          val outRows = scala.collection.mutable.ArrayBuffer.empty[CwOut]
          for (e <- ready) {
            st = CwState(st.winId, st.cnt + 1,
              math.min(st.firstId, e.event_id),
              math.max(st.lastId, e.event_id),
              st.sumCents + cents(e.value), Nil)
            if (st.cnt == winSize) {
              outRows += CwOut(user, st.winId, st.firstId, st.lastId,
                st.sumCents / 100.0)
              st = CwState(st.winId + 1, 0, Long.MaxValue, Long.MinValue, 0L, Nil)
            }
          }
          byEventId.save(state, st.copy(buf = buf), buf)
          outRows.iterator
      }
  }

  /** #20c-streaming: z-score anomaly detection on a live stream —
    * the trailing-20 moments ride per-key state as CENTS / CENTS²
    * (the exact integers the batch twin's decimal(14,2) sums and
    * scale-4 products represent), and the z expression replicates the
    * batch double arithmetic term for term, so the result shares
    * w8's oracle bit for bit.
    */
  def streamAnomaly(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, anomalyTransform(asEv(closedEvents(spark, dir))).toDF(),
      "graft_s11_sink", "append")

  /** The s11 fold, exposed so the split-invariance spec can drive it. */
  private[graft] def anomalyTransform(src: Dataset[PatternStream.Ev])
      : Dataset[AnOut] = {
    import src.sparkSession.implicits._
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnState, AnOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[AnState]) =>
          val prev = state.getOption.getOrElse(AnState(Nil, Nil))
          var ring = prev.ring // newest first, ≤ 20 entries of cents
          val (ready, buf) = byEventId.release(state, prev.buf, emaBufs(it))
          val outRows = scala.collection.mutable.ArrayBuffer.empty[AnOut]
          for (e <- ready) {
            val n = ring.size
            if (n >= 5) {
              val sx = ring.sum / 100.0
              val sxx = ring.map(c => c * c).sum / 10000.0
              val z = (e.value - sx / n) /
                math.sqrt((sxx - sx * sx / n) / (n - 1))
              val zr = java.math.BigDecimal.valueOf(z)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              outRows += AnOut(user, e.event_id, e.value, zr,
                math.abs(z) > 3.0)
            }
            ring = (cents(e.value) :: ring).take(20)
          }
          byEventId.save(state, AnState(ring, buf), buf)
          outRows.iterator
      }
  }

  /** #7d-streaming: as-of (SCD) enrichment on a live stream — the one
    * enrichment mode the reference runs live by nature
    * (enrichment/cache.rs keeps a TTL'd latest-state cache that
    * lookups hit as events arrive): facts and dimension updates
    * interleave on ONE keyed stream, fMGWS state carries each user's
    * latest signup (id, value, time), and every fact attaches the
    * state as of its event time — O(1) state per key, no join.
    * Events apply in (event-time, event_id) order only once the
    * watermark finalizes them, so the attach order is micro-batch-
    * split invariant and the result shares e2's batch oracle
    * verbatim (facts before any signup emit NULL state — the
    * fallback contract).
    */
  /** The s35 state machine, separated so the split-invariance spec
    * can drive it over a fuzz-partitioned source.
    */
  private[graft] def asofEnrichTransform(src: Dataset[PatternStream.Ev])
      : Dataset[AeOut] = {
    import src.sparkSession.implicits._
    val fold = WatermarkFold.byTime[AeBuf, (Long, Long)](
      _.ts_us, e => (e.ts_us, e.event_id))
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[AeState, AeOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[AeState]) =>
          val prev = state.getOption.getOrElse(AeState(None, None, None, Nil))
          var dimId = prev.dimId
          var dimValue = prev.dimValue
          var dimUs = prev.dimUs
          val (ready, buf) = fold.release(state, prev.buf,
            it.filter(_.event_type != "__sentinel")
              .map(e => AeBuf(e.event_id, e.ts_us, e.value, e.event_type)))
          val outRows = scala.collection.mutable.ArrayBuffer.empty[AeOut]
          for (e <- ready) {
            if (e.event_type == "signup") {
              dimId = Some(e.event_id)
              dimValue = Some(e.value)
              dimUs = Some(e.ts_us)
            } else {
              outRows += AeOut(e.event_id, user, dimId, dimValue,
                dimUs.map(d => e.ts_us - d))
            }
          }
          fold.save(state, AeState(dimId, dimValue, dimUs, buf), buf)
          outRows.iterator
      }
  }

  def streamAsofEnrich(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark,
      asofEnrichTransform(asEv(closedEvents(spark, dir))).toDF(),
      "graft_s35_sink", "append")

  /** #35-streaming: exact dedup on a live stream — `dropDuplicates`
    * over keyed state, suppressing repeat clicks per (user, hour).
    * The dedup key includes the event-time window column, so the
    * state store evicts closed hours as the watermark passes — the
    * pattern that keeps streaming-dedup state finite on an unbounded
    * run. The output is the distinct key set (no arrival-order-
    * dependent representative), so the result is micro-batch-split
    * invariant and shares a plain DISTINCT oracle.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val out = src
      .filter(col("event_type") === "click")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .dropDuplicates("user_id", "w")
      .select(col("user_id"), col("w.start").cast("long").as("hr"))
    runToTable(spark, out, "graft_s12_sink", "append")
  }

  /** #7-streaming: enrichment as a stream-static join — the static
    * dimension is broadcast to every task, so live events are
    * annotated without shuffling the stream or keeping join state
    * (same plan + fallback semantics as batch e1, whose oracle it
    * shares).
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val dim = broadcast(graft.Tables(spark, dir).customer
      .select("c_custkey", "c_name", "c_mktsegment"))
    val out = src.join(dim, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_name"), lit("unknown")).as("cust_name"),
        coalesce(col("c_mktsegment"), lit("unknown")).as("segment"),
        when(col("c_name").isNull, "fallback").otherwise("ok")
          .as("enrich_status"))
    runToTable(spark, out, "graft_s13_sink", "append")
  }

  /** #7c-streaming: model scoring on a live stream — the reference's
    * scoring.rs annotates events in flight. A [[graft.ml.Score.Model]]
    * is a narrow map-only transform, so it applies to an unbounded
    * stream unchanged: no state, no watermark, codegen'd column
    * arithmetic per micro-batch (an ONNX-backed Model would slot in
    * as a mapPartitions with the same stateless shape). Shares m2's
    * oracle.
    */
  def streamScore(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val out = graft.ml.Score.LinearModel("risk", Map("value" -> 0.01), bias = -0.8)
      .score(src)
      .select(col("event_id"), col("score"))
    runToTable(spark, out, "graft_s15_sink", "append")
  }

  /** #7c-streaming: REAL MLP inference at ingest (scoring.rs's ONNX
    * shape on a live stream): the pre-trained network rides in the
    * closure (model-as-literal) and scores each arriving event in a
    * stateless mapPartitions — per-partition init is where a native
    * runtime session would load. Bit-determinism contract makes the
    * stream rows identical to batch: shares m4's generated-SQL
    * oracle verbatim.
    */
  def streamMlpScore(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
      .select(col("event_id"), col("user_id"),
        col("value").as("x1"),
        (col("user_id") % 10).cast("double").as("x2"),
        (col("event_id") % 5).cast("double").as("x3"))
    val out = graft.queries.MlQueries.demoMlp.score(src)
      .select(col("event_id"), col("user_id"), col("score"))
    runToTable(spark, out, "graft_s33_sink", "append")
  }

  /** #27-streaming: GRETA trend aggregation on a live stream — the
    * closed-form count_trends = 2^n − 1 / sum_trends arithmetic
    * applies to streaming windowed aggregates unchanged, so trend
    * counting over unbounded streams costs one stateful windowed agg
    * (two numbers of state per open window, map-side partials) plus
    * per-row arithmetic at emit. The type filter keeps the sentinel
    * (it must reach the watermark node to close the bounded run's
    * windows; its own far-future window never emits). Shares p6's
    * oracle.
    */
  def streamTrend(spark: SparkSession, dir: String): DataFrame = {
    val agg = closedEvents(spark, dir)
      .filter(col("event_type") === "error" ||
        col("event_type") === "__sentinel")
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_dec"))
      .select(col("user_id"),
        col("window.start").cast("long").as("win_start"),
        col("n").as("event_count"),
        graft.cep.TrendAggregate.countTrends(col("n")).as("count_trends"),
        (pow(lit(2.0), col("n") - 1) * col("sum_dec").cast("double"))
          .as("sum_trends"))
    runToTable(spark, agg, "graft_s16_sink", "append")
  }

  /** #29-streaming: ONLINE PST forecast — per-key transition counts
    * update live in [[ForecastStream.onlineScores]] state (pst/
    * online.rs), each event annotated with the probability the model
    * assigned it before observing it. The prefix-count semantics are
    * window-expressible in SQL, so unlike the fit-once batch
    * surrogate this live model is fully hash-oracled.
    */
  def streamForecastOnline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val src = closedEvents(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[ForecastStream.FEv]
    val out = ForecastStream.onlineScores(src).toDF()
    runToTable(spark, out, "graft_s20_sink", "append")
  }

  /** #28b-streaming: Hamlet multi-query trend sharing on a live
    * stream — trend aggregates for SEVERAL Kleene patterns (error+,
    * click+, purchase+) from ONE watermarked windowed aggregation:
    * conditional counts inside a single (user, window) groupBy, so N
    * patterns share one scan and one shuffle exactly like the batch
    * [[graft.cep.TrendAggregate.kleeneShared]] (hamlet/'s shared
    * graphlet propagation, live). Per-window state is N running
    * counters — no event buffering; the closed form needs only n.
    * Shares p10's oracle. The sentinel advances the watermark to
    * close the bounded run's windows; its own group never closes, so
    * it emits nothing.
    */
  def streamMultiTrend(spark: SparkSession, dir: String): DataFrame = {
    val pats = Seq("error", "click", "purchase")
    val aggs = pats.flatMap { p =>
      Seq(count(when(col("event_type") === p, 1)).as(s"n_$p"),
        graft.cep.TrendAggregate.countTrends(
          count(when(col("event_type") === p, 1))).as(s"trends_$p"))
    }
    val agg = closedEvents(spark, dir)
      .filter(col("event_type").isin(pats: _*) ||
        col("event_type") === "__sentinel")
      .groupBy(col("user_id"), window(col("ts"), "1 hour"))
      .agg(aggs.head, aggs.tail: _*)
      .select((col("user_id") +:
        col("window.start").cast("long").as("win_start") +:
        pats.flatMap(p => Seq(col(s"n_$p"), col(s"trends_$p")))): _*)
    runToTable(spark, agg, "graft_s19_sink", "append")
  }

  /** #20b-streaming: heavy hitters per tumbling window on a live
    * stream. Counting is commutative, so per-(window, type) counts
    * accumulate on arrival with NO event buffering — per-window state
    * is one small count map — and the RANKING (top-2 by count) runs
    * once, when the event-time timer fires as the watermark passes
    * the window end; the state is then dropped. This is the
    * two-stage "windowed agg → rank at close" shape Spark's
    * declarative streaming can't chain (window functions aren't
    * incremental); the timer turns it into one stateful operator.
    * The sentinel is skipped in the counter but still advances the
    * watermark, closing the bounded run's windows (its own window
    * never times out — an empty map that emits nothing). Shares a5's
    * oracle.
    */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = asEv(closedEvents(spark, dir))
    val winUs = 3600L * 1000000L
    val out = src.groupByKey(e => (e.ts_us / winUs) * 3600L)
      .flatMapGroupsWithState[Map[String, Long], HhOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (winStart: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.getOption.getOrElse(Map.empty[String, Long])
            state.remove()
            counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(2)
              .map { case (t, n) => HhOut(winStart, t, n) }.iterator
          } else {
            var m = state.getOption.getOrElse(Map.empty[String, Long])
            it.foreach { e =>
              if (e.event_type != "__sentinel")
                m = m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(m)
            state.setTimeoutTimestamp((winStart + 3600L) * 1000L)
            Iterator.empty
          }
      }
    runToTable(spark, out.toDF(), "graft_s17_sink", "append")
  }

  /** #26-streaming: OR is stateless on a live stream — a pushed-down
    * disjunctive filter, no state, no watermark needed (shares p5's
    * oracle).
    */
  /** #45d-streaming: stratified domain sampling on a live stream.
    * The FNV-1a bucket decision is row-local and deterministic, so
    * the op is a stateless pushed-down filter — zero state, zero
    * shuffle, and the SAME rows survive as in the batch twin (shares
    * t7's oracle). This is what makes hash sampling the right
    * mixture primitive for a stream: arrival order and micro-batch
    * boundaries cannot change any decision.
    */
  def streamSample(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val n = regexp_extract(col("source"), "[0-9]+", 0).cast("int")
    val rate = when(n < 5, 900000L).when(n < 10, 600000L)
      .when(n < 15, 300000L).otherwise(120000L)
    val out = graft.text.TextAnalysis.stratifiedSample(
      src.select(col("doc_id"), col("source")), col("doc_id"), rate)
    runToTable(spark, out, "graft_s18_sink", "append")
  }

  /** #45d2-streaming: temperature-flattened multilingual resampling
    * at ingest. The per-language rate table is PRE-FIT once on the
    * static corpus through the SAME integer derivation as batch t16
    * (the s26/s30 train-offline-once pattern — mixture rates are a
    * model you fit offline and apply live), then the keep decision
    * is the stateless row-local hash filter riding a broadcast
    * stream-static join: zero state, zero stream-side shuffle, and
    * bit-identical survivors to the batch twin (shares t16's
    * oracle).
    */
  def streamTemperature(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = schemaOf(spark, path)
    val static = graft.Tables.normalizeDocuments(spark.read.parquet(path))
      .select(col("doc_id"), col("lang"))
    val rates = graft.text.TextAnalysis.temperatureRates(
      static, col("lang"), budgetNum = 3L, budgetDen = 10L)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schema).parquet(streamDir(path)))
      .select(col("doc_id"), col("lang"))
    val out = graft.text.TextAnalysis.applyTemperatureRates(
      src, col("doc_id"), col("lang"), rates)
    runToTable(spark, out, "graft_s36_sink", "append")
  }

  /** #45j-streaming: the Gopher/C4 filter battery applied on a live
    * document feed — stateless row-local column work, so the
    * streaming plan is the batch plan under a micro-batch scheduler
    * (no watermark, no state store, append mode). The value over
    * batch: quality gating happens ON INGEST, before anything lands
    * in the lake. Shares t12's oracle verbatim.
    */
  def streamGopher(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.gopherFilter(src)
    runToTable(spark, out, "graft_s25_sink", "append")
  }

  /** #45n-streaming: BPE tokenization AT INGEST — the merge table is
    * pre-fit ONCE on the static corpus (memoized per corpus dir — the
    * reference's train-offline-once model; s26/s30 pre-fit precedent)
    * and rides into the native row-local BpeEncode walk; arriving
    * documents tokenize in a stateless zero-shuffle map. Emits the
    * same scalar projection as batch t15 (space-joined token stream —
    * tokens are pure [a-z0-9]) and shares t15's full training+encode
    * hash oracle; stream≡batch row identity is also spec-pinned
    * (StreamingSpec).
    */
  def streamBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val staticDocs = graft.Tables(spark, dir).documents
    val merges = graft.text.TextAnalysis
      .trainedMergesCached(staticDocs, col("text"), nMerges = 8, cacheKey = dir)
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis
      .bpeEncode(src, col("text"), merges)
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        col("n_chars"), array_join(col("tokens"), " ").as("tokens_joined"))
    runToTable(spark, out, "graft_s34_sink", "append")
  }

  /** #45r-streaming: the per-language tokenizer fertility report
    * maintained LIVE — the trainer watches tokens/word and
    * chars/token converge while the crawl streams in, instead of
    * waiting for a batch pass. Merges pre-fit once on the static
    * corpus (s34's pattern); the encode is row-local native
    * [[graft.functions.BpeEncode]]; the per-language totals are one
    * complete-mode streaming aggregation (map-side-combined partials,
    * state = one row per language — bounded by the language space,
    * never the corpus). Long sums commute, so the final table is
    * bit-identical to batch t20 and s42 shares its oracle verbatim.
    */
  def streamFertility(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val staticDocs = graft.Tables(spark, dir).documents
    val merges = graft.text.TextAnalysis
      .trainedMergesCached(staticDocs, col("text"), nMerges = 8, cacheKey = dir)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.fertilityAgg(
      graft.text.TextAnalysis.bpeEncode(src, col("text"), merges,
        passthrough = Seq("lang" -> col("lang"))))
    runToTable(spark, out, "graft_s42_sink", "complete")
  }

  /** #45o-streaming: bigram-LM fluency filtering AT INGEST — the
    * CCNet-style quality gate applied before anything lands in the
    * lake. The stupid-backoff model (bigram + unigram count maps +
    * total, all exact integers) is fit ONCE on the static reference
    * slice (cap-guarded driver collect, the s26/s30
    * train-offline-once pattern) and rides into a native row-local
    * scorer as codegen reference objects: O(1) hash lookups per
    * bigram, no joins, no shuffle, no state. Long sums commute, so
    * the per-doc totals are bit-identical to the batch join
    * formulation and s38 shares t17's oracle verbatim.
    */
  def streamLmFluency(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val staticDocs = graft.Tables(spark, dir).documents
    val (bi, uni, total) = graft.text.TextAnalysis.lmFitLocal(
      staticDocs, col("text"), col("lang") === "en")
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.lmScoreLocal(
      src, col("doc_id"), col("text"), bi, uni, total, keepQ14 = 1200L)
    runToTable(spark, out, "graft_s38_sink", "append")
  }

  /** #45q-streaming: CCNet tier assignment AT INGEST — the LM (t17's
    * prefit integer bigram model) and the per-language tertile
    * thresholds (t19's cutoff pair, from the histogram pass on the
    * static reference corpus) are both fit ONCE at query start; each
    * arriving document is then scored row-locally and bucketed
    * head/middle/tail with one map-literal lookup — zero joins, zero
    * shuffles, zero state, the s26/s30 train-offline-once pattern.
    * Integer arithmetic is bit-identical to the batch path, so s41
    * shares t19's oracle verbatim.
    */
  def streamCcnet(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val staticDocs = graft.Tables(spark, dir).documents
    val (bi, uni, total) = graft.text.TextAnalysis.lmFitLocal(
      staticDocs, col("text"), col("lang") === "en")
    // threshold pre-fit scores through the SAME row-local scorer the
    // stream uses (bit-identical to the batch join chain, zero model
    // shuffles, lang rides as passthrough instead of a join)
    val scoredStatic = graft.text.TextAnalysis.lmScoreLocal(
      staticDocs, col("doc_id"), col("text"), bi, uni, total,
      keepQ14 = 1200L, passthrough = Seq("lang" -> col("lang")))
    val th = graft.text.TextAnalysis.ccnetThresholds(scoredStatic).collect()
    val c1 = th.map(r => r.getString(0) -> r.getLong(1)).toMap
    val c2 = th.map(r => r.getString(0) -> r.getLong(2)).toMap
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val scored = graft.text.TextAnalysis.lmScoreLocal(
      src, col("doc_id"), col("text"), bi, uni, total, keepQ14 = 1200L,
      passthrough = Seq("lang" -> col("lang")))
    // a language absent from the static training corpus has no
    // thresholds — bucket it "unscored" DELIBERATELY rather than let
    // the null element_at comparisons fall through to "tail" (batch
    // t19 never sees this case: its thresholds are fit on the same
    // corpus it buckets, so every lang has a cutoff by construction)
    val out = scored.select(col("doc_id"), col("lang"), col("fluency_q14"),
      when(element_at(typedLit(c1), col("lang")).isNull, "unscored")
        .when(col("fluency_q14") >= element_at(typedLit(c1), col("lang")),
          "head")
        .when(col("fluency_q14") >= element_at(typedLit(c2), col("lang")),
          "middle")
        .otherwise("tail").as("bucket"))
    runToTable(spark, out, "graft_s41_sink", "append")
  }

  /** #49b-streaming: the per-event imperative fn fold AT INGEST —
    * the same statement-bodied VPL fn (while/:=/if over an event
    * field) the reference's engine evaluator runs per live event,
    * compiled to the fuel-capped row-level [[graft.vpl.StmtFnCall]]
    * and applied to the arriving stream. Stateless and row-local;
    * the seed arithmetic is all integer (floor → long), so stream
    * rows are bit-identical to batch and s39 shares x8's
    * recursive-CTE oracle verbatim.
    */
  def streamStmtFn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val path = s"$dir/events.parquet"
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
      .filter(col("event_type") === "purchase")
    val prog = graft.vpl.VplParser.parse(graft.queries.VplQueries.stmtFnVpl)
    val fns = prog.fns.map(f => f.name -> f).toMap
    val seed = floor(col("value")).cast("long") % 97 + 1
    val steps = ColumnBridge.column(graft.vpl.StmtFnCall(
      "collatz_steps", fns, org.apache.spark.sql.types.LongType,
      Seq(ColumnBridge.expression(seed))))
    val out = src.select(col("event_id"), seed.as("seed"), steps.as("steps"))
    runToTable(spark, out, "graft_s39_sink", "append")
  }

  /** #45p-streaming: sliding-window chunking AT INGEST — documents
    * explode into overlapping token windows as they arrive (the RAG
    * indexing placement: chunks are what gets embedded, so producing
    * them at ingest feeds the index without a batch pass). Stateless
    * row-local generator fan-out (the s27 frame-sampling shape);
    * shares t18's oracle verbatim.
    */
  def streamChunk(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.chunkDocs(
      src, col("doc_id"), col("text"), chunkTokens = 64, stride = 48)
    runToTable(spark, out, "graft_s37_sink", "append")
  }

  /** #45k-streaming: DSIR importance scoring on a live document feed.
    * The model (4096 scaled log-ratios) is fitted ONCE on the static
    * corpus at query start — the f3 pre-fit-model precedent — and
    * rides into a native row-local scorer as a codegen reference
    * object: no explode, no shuffle, no state store; scoring happens
    * at ingest and the long-sum arithmetic is bit-identical to the
    * batch decimal path, so s26 shares t13's oracle verbatim.
    */
  def streamDsir(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val isTgt = regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5
    val scaled = graft.text.TextAnalysis.dsirFit(
      spark.read.parquet(path), col("text"), isTgt)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.dsirScoreLocal(
      src, col("text"), col("doc_id"), scaled)
    runToTable(spark, out, "graft_s26_sink", "append")
  }

  /** #45s-streaming: model-based quality classification AT INGEST —
    * the FineWeb-Edu placement: the trained classifier gates every
    * arriving document BEFORE it lands in the lake. The NB model
    * (4096 scaled log-ratios + the prior) is fit ONCE on the static
    * corpus's labeled seed slice (the s26/s30 train-offline-once
    * pattern) and rides into the native row-local bucket walk
    * ([[graft.functions.DsirScore]] — model-agnostic Σ cell[bucket])
    * as a codegen reference object: no explode, no shuffle, no
    * state. Long sums commute, so scores are bit-identical to the
    * batch join formulation and s43 shares t21's oracle verbatim.
    */
  def streamNbQuality(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val staticDocs = graft.Tables(spark, dir).documents
    val (lrArr, prior) = graft.text.TextAnalysis.nbFitLocal(
      staticDocs, col("text"), col("doc_id") % 5 === 0,
      regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.nbScoreLocal(
      src, col("text"), col("doc_id"), lrArr, prior)
    runToTable(spark, out, "graft_s43_sink", "append")
  }

  /** #45b-streaming: PII scrubbing at ingest — redaction BEFORE
    * anything lands in the lake, the flagship privacy placement for
    * this operator. Pure regex column work (t5's zero-shuffle map
    * stage) under a micro-batch scheduler: stateless, append mode,
    * shares t5's oracle over the identical synthesized input.
    */
  def streamPii(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/customer.parquet"
    val src = spark.readStream.schema(schemaOf(spark, path))
      .parquet(streamDir(path))
    val out = graft.text.TextAnalysis.piiScrub(
      src.select(col("c_custkey"),
        graft.queries.TextQueries.piiSynth.as("text")),
      col("text"), col("c_custkey"))
    runToTable(spark, out, "graft_s28_sink", "append")
  }

  /** #35b-streaming: benchmark decontamination AT INGEST. The
    * benchmark's distinct 5-gram FNV hashes are collected once at
    * query start (eval sets are small by nature — the d6 broadcast
    * argument; here the broadcast IS a sorted long[] model object)
    * and every arriving doc probes them in ONE native row-local pass
    * ([[graft.functions.GramSetHits]]): no explode, no join, no
    * state — a doc is cleared or flagged before it lands. Emits only
    * contaminated docs (d6's inner-join contract); its own oracle is
    * d6's SQL minus the n_bench_docs column (per-gram bench-doc
    * identity is deliberately not in the row-local model).
    */
  def streamDecontam(spark: SparkSession, dir: String): DataFrame =
    streamDecontamCapped(spark, dir,
      sys.env.get("SPARK_GRAFT_BENCH_GRAM_CAP")
        .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(10000000))

  private[graft] def streamDecontamCapped(
      spark: SparkSession, dir: String, gramCap: Int): DataFrame = {
    import graft.functions.TextFunctions.shingles
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val path = s"$dir/documents.parquet"
    // cap semantics + loud over-cap failure documented on the shared
    // fit helper (SPARK_GRAFT_BENCH_GRAM_CAP overrides via the
    // 2-arg entry point)
    val bench = graft.dedup.Dedup.benchGramHashes(
      graft.Tables.normalizeDocuments(spark.read.parquet(path))
        .where(col("doc_id") % 7 === 0),
      k = 5, cap = gramCap)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val probe = ColumnBridge.column(graft.functions.GramSetHits(
      ColumnBridge.expression(shingles(col("text"), 5)), bench))
    val out = src.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), probe.as("p"))
      .select(col("doc_id"),
        element_at(col("p"), 2).as("n_hit_grams"),
        element_at(col("p"), 1).as("n_grams"))
      .where(col("n_hit_grams") > 0L)
      .select(col("doc_id"), col("n_hit_grams"), col("n_grams"),
        round(col("n_hit_grams").cast("double") /
          greatest(col("n_grams").cast("double"), lit(1.0)), 6)
          .as("contamination"))
    runToTable(spark, out, "graft_s29_sink", "append")
  }

  /** #45i-streaming: BM25 relevance scoring at ingest. Corpus stats
    * (n_docs, Σdl, df per term) are fitted once on the static corpus
    * and ride as LITERALS into the shared score builder — no join at
    * all on the stream, stateless append; the score expressions are
    * structurally identical to batch t11's, so s30 shares its oracle
    * bit for bit.
    */
  def streamBm25(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val terms = Seq("spark", "join", "window", "dup")
    val fit = graft.text.TextAnalysis.bm25Fit(
      graft.Tables.normalizeDocuments(spark.read.parquet(path)),
      col("text"), terms)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.text.TextAnalysis.bm25Prefit(
      src, col("doc_id"), col("text"), terms, fit)
    runToTable(spark, out, "graft_s30_sink", "append")
  }

  /** #38-streaming: SimHash NEAR-dup detection at ingest — every
    * arriving doc is checked against the EXISTING corpus ("is this
    * new content, or a near-copy of something already in the lake?").
    * The static side's chunk-blocked signatures are a stream-static
    * equi-join target (re-planned per micro-batch, shuffle/broadcast
    * as the static side's size dictates — scale-honest, no
    * corpus-sized driver model); the stream side computes its
    * signature + 4 chunk rows statelessly. One output row per
    * MATCHING CHUNK (a,b,chunk,hamming) — deliberately no distinct,
    * which would need stream state; downstream dedup keys on (a,b).
    * Own oracle: d4's derivation with both orientations kept and the
    * chunk kept in the row.
    */
  def streamNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.words
    val path = s"$dir/documents.parquet"
    def chunked(df: DataFrame): DataFrame = df
      .select(col("doc_id"), graft.dedup.Dedup.simhash64(words(col("text")))
        .as("sh64"))
      .select(col("doc_id"), col("sh64"),
        posexplode(array((0 until 4).map(c =>
          shiftrightunsigned(col("sh64"), c * 16).bitwiseAND(0xffffL)): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    val static0 = chunked(
      graft.Tables.normalizeDocuments(spark.read.parquet(path)))
      .select(col("chunk"), col("chunk_val"),
        col("doc_id").as("b_id"), col("sh64").as("b_sh"))
    val arrivals = chunked(graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path))))
      .select(col("chunk"), col("chunk_val"),
        col("doc_id").as("a_id"), col("sh64").as("a_sh"))
    val out = arrivals.join(static0, Seq("chunk", "chunk_val"))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("hamming", bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
      .where(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("chunk"), col("hamming"))
    runToTable(spark, out, "graft_s31_sink", "append")
  }

  /** #46-streaming: multimodal frame sampling at ingest — the
    * row-to-frames fan-out is a stateless generator (explode of a
    * row-local sequence), so the streaming plan is the batch plan:
    * arriving media splits into sampled frames before landing, no
    * state, append mode. Shares m3's oracle verbatim.
    */
  def streamFrames(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schemaOf(spark, path)).parquet(streamDir(path)))
    val out = graft.multimodal.Multimodal.frameSample(src)
    runToTable(spark, out, "graft_s27_sink", "append")
  }

  /** #45h-streaming: greedy sequence packing on a live document feed.
    * Per-shard state is just (bin, used) — each arriving doc folds
    * through the SAME [[graft.functions.PackGreedyUtil.step]] the
    * batch expression uses, so the two paths cannot diverge, and the
    * placement decision is final the moment it's made (append mode,
    * no retraction, no timers). Contract: the feed delivers docs in
    * id order across micro-batches (the staged single-file source
    * trivially satisfies this; a production feed packs in arrival
    * order, which IS the op's semantics there); within-batch reorder
    * is absorbed by sorting the group's batch. Shares t10's
    * recursive-CTE oracle, matching batch row for row.
    */
  /** #35f-streaming: incremental dedup of a LIVE crawl delta against
    * the standing corpus. The base corpus's DISTINCT word-set
    * fingerprints are a static frame the arriving stream left-joins
    * (stream-static join — at test scale Spark broadcasts it; a
    * 100 TB base becomes a bucketed fingerprint table on the same
    * key); within-delta first-occurrence is per-fp state (one boolean
    * per fingerprint — O(1)/key, the s12 dedup-state shape). Arrival
    * order is the spool contract (doc_id order), so the stream agrees
    * with batch d10's row_number pick row for row and shares its
    * oracle verbatim.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = s"$dir/documents.parquet"
    val schema = schemaOf(spark, path)
    val srcnum = regexp_extract(col("source"), "[0-9]+", 0).cast("int")
    val baseFp = graft.Tables.normalizeDocuments(spark.read.parquet(path))
      .where(srcnum < 15)
      .select(graft.dedup.Dedup.wordSetFp(col("text")).as("fp"))
      .distinct()
      .withColumn("in_base", lit(true))
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schema).parquet(streamDir(path)))
      .where(srcnum >= 15)
      .select(col("doc_id"), graft.dedup.Dedup.wordSetFp(col("text")).as("fp"))
    val in = src.join(baseFp, Seq("fp"), "left")
      .select(col("fp"), col("doc_id"),
        coalesce(col("in_base"), lit(false)).as("in_base")).as[IdIn]
    val out = in.groupByKey(_.fp)
      .flatMapGroupsWithState[IdState, IdOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[IdIn],
         state: GroupState[IdState]) =>
          var seen = state.getOption.exists(_.seen)
          val rows = it.toArray.sortBy(_.doc_id).map { e =>
            val status =
              if (e.in_base) "dup_vs_base"
              else if (seen) "dup_in_batch"
              else "kept"
            seen = true
            IdOut(e.doc_id, status)
          }
          state.update(IdState(seen))
          rows.iterator
      }.toDF()
    runToTable(spark, out, "graft_s40_sink", "append")
  }

  def streamPack(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeDocuments(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val out = packStream(spark, src, nShards = 64, budget = 256L)
    runToTable(spark, out, "graft_s24_sink", "append")
  }

  /** The packing pipeline over any (streaming) documents frame —
    * shared by [[streamPack]] and the multi-batch spec.
    */
  def packStream(spark: SparkSession, docs: DataFrame, nShards: Int,
      budget: Long): DataFrame = {
    import spark.implicits._
    import graft.functions.{Fnv64, PackGreedyUtil}
    import graft.functions.TextFunctions.bpeishTokenCount
    val in = docs.select(
      Fnv64.unsignedMod(
        Fnv64(concat(lit("shard|"), col("doc_id").cast("string"))),
        nShards.toLong).as("shard"),
      col("doc_id"),
      bpeishTokenCount(col("text")).cast("long").as("tok")).as[PkIn]
    in.groupByKey(_.shard)
      .flatMapGroupsWithState[PkState, PkOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[PkIn],
         state: GroupState[PkState]) =>
          val s0 = state.getOption.getOrElse(PkState(0L, 0L))
          var bin = s0.bin; var used = s0.used
          val rows = it.toArray.sortBy(_.doc_id).map { e =>
            val (b2, u2) = PackGreedyUtil.step(bin, used, e.tok, budget)
            bin = b2; used = u2
            PkOut(shard, e.doc_id, bin, u2)
          }
          state.update(PkState(bin, used))
          rows.iterator
      }.toDF()
  }

  /** #51-streaming: per-tenant rate-limit quota on a live stream
    * (tenant.rs record_event). Decisions are watermark-finalized per
    * (key, event-time hour): once the watermark passes an hour
    * window's end its membership is complete, and the first
    * `maxPerWindow` events by event_id are admitted — so the stream
    * agrees with batch g2 row for row under ANY micro-batch split
    * (shares g2's oracle). A production limiter can also run the
    * arrival-order live variant (admit immediately while the window's
    * running count is below cap — zero latency, same state shape);
    * the finalized form here is the one a replay/audit reproduces.
    */
  def streamRateLimit(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, rateLimitTransform(asEv(closedEvents(spark, dir))).toDF()
      .select(col("event_id"), col("user_id"), col("win_start"),
        col("admitted")), "graft_s21_sink", "append")

  /** The s21 fold, exposed so the split-invariance spec can drive it. */
  private[graft] def rateLimitTransform(src: Dataset[PatternStream.Ev])
      : Dataset[RlOut] = {
    import src.sparkSession.implicits._
    val maxPerWindow = 2
    val hourUs = 3600L * 1000000L
    // an event is final once its whole hour is, and due at the hour end
    def hourEndUs(e: EmaBuf): Long = (e.ts_us / hourUs + 1L) * hourUs
    val fold = new WatermarkFold[EmaBuf, (Long, Long)](hourEndUs,
      e => (e.ts_us / hourUs, e.event_id), hourEndUs(_) / 1000L)
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[RlState, RlOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[PatternStream.Ev],
         state: GroupState[RlState]) =>
          val (ready, buf) = fold.release(state,
            state.getOption.map(_.buf).getOrElse(Nil),
            it.filter(_.event_type != "__sentinel")
              .map(e => EmaBuf(e.event_id, e.ts_us, 0.0)))
          var hour = Long.MinValue
          var rank = 0
          val outRows = ready.map { e =>
            val h = e.ts_us / hourUs
            if (h != hour) { hour = h; rank = 0 }
            rank += 1
            RlOut(e.event_id, user, h * 3600L, rank <= maxPerWindow)
          }
          fold.save(state, RlState(buf), buf)
          outRows.iterator
      }
  }

  /** #52-streaming: circuit-breaker replay per connector on a live
    * stream (circuit_breaker.rs). Breaker state is inherently serial
    * per connector, so the stream buffers watermark-finalized events
    * and folds them in event_id order through the SAME
    * [[graft.functions.BreakerReplayUtil.step]] the batch expression
    * uses — decisions cannot diverge between the two paths (shares
    * g3's oracle). State is the 3-field breaker tuple plus the
    * [[WatermarkFold]] buffer; an unbounded run's state stays bounded
    * by the watermark delay.
    */
  def streamBreaker(spark: SparkSession, dir: String): DataFrame =
    runToTable(spark, breakerTransform(asEv(closedEvents(spark, dir))).toDF()
      .select(col("connector"), col("event_id"), col("decision"),
        col("state_after")), "graft_s22_sink", "append")

  /** The s22 fold, exposed so the split-invariance spec can drive it. */
  private[graft] def breakerTransform(src: Dataset[PatternStream.Ev])
      : Dataset[BkOut] = {
    import src.sparkSession.implicits._
    import graft.functions.BreakerReplayUtil
    val threshold = 3
    val timeoutUs = 3600L * 1000000L
    val decisions = Array("sent", "rejected", "probe")
    val fold = WatermarkFold.byTime[BkEv, Long](_.ts_us, _.event_id)
    src.groupByKey(_.event_type)
      .flatMapGroupsWithState[BkStreamState, BkOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (connector: String, it: Iterator[PatternStream.Ev],
         state: GroupState[BkStreamState]) =>
          val st = state.getOption.getOrElse(
            BkStreamState(open = false, consec = 0, openedUs = 0L, Nil))
          val (ready, buf) = fold.release(state, st.buf,
            it.filter(_.event_type != "__sentinel")
              .map(e => BkEv(e.event_id, e.ts_us, e.value >= 5.0)))
          var bk = BreakerReplayUtil.BkState(st.open, st.consec, st.openedUs)
          val outRows = ready.map { e =>
            val (dec, bk2) =
              BreakerReplayUtil.step(bk, e.ts_us, e.ok, threshold, timeoutUs)
            bk = bk2
            BkOut(connector, e.event_id, decisions(dec),
              if (bk.open) "open" else "closed")
          }
          fold.save(state,
            BkStreamState(bk.open, bk.consec, bk.openedUs, buf), buf)
          outRows.iterator
      }
  }

  def streamDisjunction(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    val src = graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(streamDir(path)))
    val out = src.filter(col("event_type") === "signup" ||
      (col("event_type") === "purchase" && col("value") > 150))
      .select(col("event_id"), col("user_id"), col("event_type"))
    runToTable(spark, out, "graft_s8_sink", "append")
  }
}
