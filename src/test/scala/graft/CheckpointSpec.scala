package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Checkpoint/recovery — the reference's persistence surface
  * (persistence.rs; tests/scenarios/checkpoint_*.vpl): a stopped
  * pipeline resumes from its checkpoint and processes only new data,
  * exactly once.
  */
class CheckpointSpec extends SparkSpec {

  test("streaming pipeline resumes from checkpoint, exactly once") {
    val src = Files.createTempDirectory("graft_ckp_src_").toString
    val out = Files.createTempDirectory("graft_ckp_out_").toString
    val chk = Files.createTempDirectory("graft_ckp_chk_").toString
    val events = Tables(spark, sf).events

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(events.schema).parquet(src)
        .filter(col("value") > 0)
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    // phase 1
    events.filter(col("event_id") < 500).write.mode("append").parquet(src)
    runOnce()
    val n1 = spark.read.parquet(out).count()

    // phase 2: new files arrive while the pipeline is down
    events.filter(col("event_id") >= 500).write.mode("append").parquet(src)
    runOnce()

    val result = spark.read.parquet(out)
    val total = events.count()
    assert(n1 < total, "phase 1 processed a strict subset")
    assert(result.count() == total, "all events exactly once after resume")
    assert(result.select("event_id").distinct().count() == total,
      "no duplicates across the restart")
  }

  test("streaming NFA state survives a restart (partial match completes after resume)") {
    import spark.implicits._
    import graft.streaming.PatternStream
    import graft.streaming.PatternStream.{GEv, GStepSpec}
    val src = Files.createTempDirectory("graft_nfa_src_").toString
    val out = Files.createTempDirectory("graft_nfa_out_").toString
    val chk = Files.createTempDirectory("graft_nfa_chk_").toString
    val base = 1700000000L * 1000000L // modern epoch micros
    def gev(id: Long, key: String, offUs: Long, isA: Boolean) =
      GEv(id, key, base + offUs,
        new java.sql.Timestamp((base + offUs) / 1000L),
        mask = if (isA) 1L else 2L, payload = Map("k" -> key))
    def runOnce(): Unit = {
      val schema = Seq(gev(0, "x", 0, true)).toDF().schema
      val stream = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 second").as[GEv]
      val matches = PatternStream.detectGeneric(stream,
        IndexedSeq(GStepSpec(), GStepSpec()),
        withinUs = 3600L * 1000000L)(spark).toDF()
        .select(col("key"), col("ids")(0).as("a_id"), col("ids")(1).as("b_id"))
      val q = matches.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // mask-0 sentinels advance the watermark so the WatermarkFold
    // buffer flushes at each phase end
    def sentinel(id: Long, offUs: Long) =
      GEv(id, "zz", base + offUs,
        new java.sql.Timestamp((base + offUs) / 1000L), 0L, Map.empty)
    // phase 1: u2 completes A->B; u1 has only its A (a live partial run)
    Seq(gev(1, "u1", 0, true), gev(2, "u2", 1000000, true),
      gev(3, "u2", 2000000, false), sentinel(9, 10000000))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    val phase1 = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(phase1 == Set(("u2", 2L, 3L)), s"phase1=$phase1")
    // phase 2 (after restart): u1's B arrives (past the phase-1
    // watermark, so not late) — the match completes ONLY if the run
    // survived in the state store
    Seq(gev(4, "u1", 11000000, false), sentinel(10, 30000000))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    val all = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == Set(("u2", 2L, 3L), ("u1", 1L, 4L)),
      s"state must span the restart without duplicating u2: $all")
  }

  test("reference checkpoint_count_window scenario: restart mid-window, documented 150/5") {
    // The reference's own two-phase scenario
    // (tests/scenarios/checkpoint_count_window*): phase 1 delivers 3
    // of a 5-event count window, the engine restarts, phase 2
    // delivers 2 more. The window completes with sum=150 / n=5 —
    // documented in the scenario file — ONLY if the 3 buffered events
    // survived the restart in the state store.
    import graft.sources.EventReplay
    import graft.vpl.{StreamingEvtSource, VplCompiler, VplParser}
    val sc = ReferenceCorpus.path("tests/scenarios")
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sc/checkpoint_count_window.vpl")), "UTF-8")
    val prog = VplParser.parse(text)
    val decls = prog.events.map(e => e.name -> e).toMap
    val dir = Files.createTempDirectory("graft_ckpcw_src_").toString
    val out = Files.createTempDirectory("graft_ckpcw_out_").toString
    val chk = Files.createTempDirectory("graft_ckpcw_chk_").toString
    def runOnce(st: EventReplay.Staged): Unit = {
      val df = new VplCompiler(prog,
        new StreamingEvtSource(spark, st, decls), streaming = true)
        .stream("WindowedSum")
      val q = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    var staged = EventReplay.stage(spark,
      s"$sc/checkpoint_count_window_phase1.evt", dir, sentinel = false)
    runOnce(staged)
    val afterP1 = scala.util.Try(
      spark.read.parquet(out).count()).getOrElse(0L)
    assert(afterP1 == 0L, "3 of 5 events must not emit a window")
    staged = EventReplay.stagePhase(spark,
      s"$sc/checkpoint_count_window_phase2.evt", staged, phase = 1,
      afterDelayMs = staged.files.map(_._2).max + 1000L, sentinel = true)
    runOnce(staged)
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1, s"expected the one completed window, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[Double]("sum") == 150.0 && r.getAs[Long]("n") == 5L,
      s"documented expected sum=150/n=5, got $r")
  }

  test("reference checkpoint_session_window scenario: session spans the restart") {
    // tests/scenarios/checkpoint_session_window*: 3 events 1 s apart
    // (one open 5s-gap session), restart, then an event at @9s — a
    // 7 s gap that closes the RESTORED session. Documented expected:
    // the restored session emits n=3/sum=300, the post-restart event
    // its own n=1/sum=999. The phase .evt delays are absolute, so
    // both phases stage on the same epoch (afterDelayMs = 0).
    import graft.sources.EventReplay
    import graft.vpl.{StreamingEvtSource, VplCompiler, VplParser}
    val sc = ReferenceCorpus.path("tests/scenarios")
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sc/checkpoint_session_window.vpl")), "UTF-8")
    val prog = VplParser.parse(text)
    val decls = prog.events.map(e => e.name -> e).toMap
    val dir = Files.createTempDirectory("graft_ckpsw_src_").toString
    val out = Files.createTempDirectory("graft_ckpsw_out_").toString
    val chk = Files.createTempDirectory("graft_ckpsw_chk_").toString
    def runOnce(st: EventReplay.Staged): Unit = {
      val df = new VplCompiler(prog,
        new StreamingEvtSource(spark, st, decls), streaming = true)
        .stream("SessionAgg")
      val q = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    var staged = EventReplay.stage(spark,
      s"$sc/checkpoint_session_window_phase1.evt", dir, sentinel = false)
    runOnce(staged)
    assert(scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L) == 0L,
      "an open session must not emit before its gap passes")
    staged = EventReplay.stagePhase(spark,
      s"$sc/checkpoint_session_window_phase2.evt", staged, phase = 1,
      afterDelayMs = 0L, sentinel = true)
    runOnce(staged)
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("n") -> r.getAs[Double]("sum")).toMap
    assert(got == Map(3L -> 300.0, 1L -> 999.0),
      s"documented expected {3->300, 1->999}, got $got")
  }

  test("Hawkes recursion state (li, lt) survives a restart") {
    import spark.implicits._
    import graft.streaming.{PatternStream, StreamingQueries}
    val src = Files.createTempDirectory("graft_hk_src_").toString
    val out = Files.createTempDirectory("graft_hk_out_").toString
    val chk = Files.createTempDirectory("graft_hk_chk_").toString
    val base = 1700000000L * 1000000L
    val (mu, alpha, beta) = (0.001, 0.002, 0.0005)
    def ev(id: Long, user: Long, offUs: Long, tpe: String = "e") =
      PatternStream.Ev(id, user, tpe, 1.0, base + offUs,
        new java.sql.Timestamp((base + offUs) / 1000L))
    def runOnce(): Unit = {
      val schema = Seq(ev(0, 0, 0)).toDF().schema
      val stream = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 second").as[PatternStream.Ev]
      val q = StreamingQueries.hawkesTransform(stream, mu, alpha, beta)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    // phase 1: two events for u1 one second apart (+ a sentinel
    // advancing the watermark past them)
    Seq(ev(1, 1, 0), ev(2, 1, 1000000),
      ev(8, 99, 10000000, "__sentinel"))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    // phase 2 after restart: u1's third event at t=11s — its
    // intensity depends on (li, lt) from phase 1, so it is correct
    // ONLY if the recursion carry survived in the state store
    Seq(ev(3, 1, 11000000), ev(9, 99, 30000000, "__sentinel"))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("intensity"))
      .toMap
    // batch-fold oracle over the full sequence via the shared step
    import graft.functions.HawkesFoldUtil.step
    val i1 = step(0.0, -1L, base, mu, alpha, beta)
    val i2 = step(i1, base, base + 1000000L, mu, alpha, beta)
    val i3 = step(i2, base + 1000000L, base + 11000000L, mu, alpha, beta)
    assert(got.keySet == Set(1L, 2L, 3L), s"got $got")
    assert(got(1L) == i1 && got(2L) == i2,
      "phase-1 intensities exact")
    assert(got(3L) == i3,
      s"restart must resume the recursion mid-key: got ${got(3L)}, want $i3")
  }

  test("as-of enrichment dim state survives a restart") {
    import spark.implicits._
    import graft.streaming.{PatternStream, StreamingQueries}
    val src = Files.createTempDirectory("graft_ae_src_").toString
    val out = Files.createTempDirectory("graft_ae_out_").toString
    val chk = Files.createTempDirectory("graft_ae_chk_").toString
    val base = 1700000000L * 1000000L
    def ev(id: Long, user: Long, tpe: String, offUs: Long, v: Double) =
      PatternStream.Ev(id, user, tpe, v, base + offUs,
        new java.sql.Timestamp((base + offUs) / 1000L))
    def runOnce(): Unit = {
      val schema = Seq(ev(0, 0, "e", 0, 0)).toDF().schema
      val stream = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 second").as[PatternStream.Ev]
      val q = StreamingQueries.asofEnrichTransform(stream).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val H = 3600L * 1000000L
    // phase 1: u1 signs up at t0, u2 clicks pre-signup (NULL state),
    // u1 clicks at t+2min (enriched); watermark flushed to ~1h
    Seq(ev(1, 1, "signup", 0, 7.5), ev(2, 2, "click", 60000000L, 1.0),
      ev(3, 1, "click", 120000000L, 2.0),
      ev(98, 0, "__sentinel", H, 0))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    // phase 2 after downtime: u1's click at t+2h MUST attach the
    // signup held in phase-1 state — correct only if the dim carry
    // survived the restart; u2's signup + click land fresh
    Seq(ev(4, 2, "signup", 2 * H, 9.0),
      ev(5, 1, "click", 2 * H + 60000000L, 3.0),
      ev(6, 2, "click", 2 * H + 120000000L, 4.0),
      ev(99, 0, "__sentinel", 5 * H, 0))
      .toDF().write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out).collect().map { r =>
      r.getAs[Long]("event_id") ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
    }.toMap
    assert(got.keySet == Set(2L, 3L, 5L, 6L), s"got $got")
    assert(got(2L) == ((None, None, None)), "pre-signup fact stays NULL")
    assert(got(3L) == ((Some(1L), Some(7.5), Some(120000000L))))
    assert(got(5L) == ((Some(1L), Some(7.5), Some(2 * H + 60000000L))),
      s"restart must carry u1's dim state: got ${got(5L)}")
    assert(got(6L) == ((Some(4L), Some(9.0), Some(120000000L))))
  }
}
