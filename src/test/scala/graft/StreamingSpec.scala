package graft

import org.apache.spark.sql.functions._

/** Structured Streaming twins must agree with their batch plans. */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling agg equals batch tumbling agg") {
    val cols = Seq("event_type", "win_start", "n", "sum_value")
    val streamed = SparkEntry.all("s1_stream_tumbling").build(spark, sf)
      .select(cols.head, cols.tail: _*)
    val batch = SparkEntry.all("w1_tumbling").build(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming count windows are micro-batch-split invariant (fuzz)") {
    // CountWindowStream buffers until the watermark finalizes order,
    // so ANY partition of the same events into micro-batch files must
    // yield identical windows. Deterministic "random" split: events
    // assigned to files by a seeded hash, delivered one file per
    // trigger in an order that does NOT respect event_id.
    import spark.implicits._
    import graft.streaming.CountWindowStream
    val rnd = new scala.util.Random(42)
    val n = 97 // deliberately not a multiple of the window size
    val events = (1 to n).map { i =>
      (i.toLong, 1704067200L * 1000000L + i * 1000000L, rnd.nextInt(100).toDouble)
    }
    val winSize = 5
    // expected: fold in event_id order, windows of 5, trailing partial dropped
    val expected = events.sortBy(_._1).grouped(winSize)
      .filter(_.size == winSize).zipWithIndex.map { case (g, wi) =>
        (wi.toLong, g.map(_._3).sum, g.size.toLong)
      }.toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_cwfuzz_").toString
    // 7 files, shuffled assignment; later files may hold earlier ids
    events.groupBy(e => rnd.nextInt(7)).toSeq.foreach { case (b, evs) =>
      evs.toDF("event_id", "us", "v")
        .withColumn("ts", timestamp_micros(col("us")))
        .coalesce(1).write.parquet(s"$dir/b=$b")
    }
    // The invariance contract: reordering is absorbed UP TO the
    // watermark delay (beyond it rows are late by declared
    // semantics) — so the delay must cover the fuzz's full time
    // spread, and the sentinel sits far enough out to finalize
    // every window even after the delay is subtracted.
    Seq((9999L, 1704067200L * 1000000L + 259200L * 1000000L, 0.0))
      .toDF("event_id", "us", "v")
      .withColumn("ts", timestamp_micros(col("us")))
      .coalesce(1).write.parquet(s"$dir/b=9")
    val schema = spark.read.parquet(s"$dir/b=0").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/b=*")
      .withWatermark("ts", "2 hours")
      .select(lit("k").as("key"), col("event_id").as("ord"),
        col("us").as("ts_us"), col("ts"),
        (col("event_id") =!= 9999L).as("live"),
        array(col("v")).cast("array<double>").as("vals"))
      .as[CountWindowStream.In]
    val out = CountWindowStream.run(src, winSize,
      Seq(("sum", 0), ("count", -1)))(spark)
    val q = out.toDF().writeStream.format("memory")
      .queryName("graft_cwfuzz_sink").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 5,
        "expected a genuinely multi-batch run")
    } finally q.stop()
    val got = spark.table("graft_cwfuzz_sink")
      .collect().map(r => (r.getLong(1),
        r.getSeq[Double](2).head, r.getSeq[Double](2)(1).toLong)).toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("shared multi-pattern detection equals the per-pattern matchers") {
    import spark.implicits._
    import graft.streaming.PatternStream._
    // crafted stream: anchors shared by two completion types, an
    // event completing inside/outside the window, and a completion
    // with no live anchor
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    val rows = Seq(
      (1L, 1L, "signup", ts(100)),
      (2L, 1L, "purchase", ts(200)),   // matches anchor 1
      (3L, 1L, "error", ts(300)),      // matches anchor 1
      (4L, 1L, "signup", ts(400)),
      (5L, 1L, "purchase", ts(2100)),  // outside 30m of 1, inside of 4
      (6L, 2L, "error", ts(100)),      // no anchor for user 2
      (7L, 2L, "signup", ts(150))      // anchor with no completion
    )
    val dir = java.nio.file.Files.createTempDirectory("graft_shared_").toString
    rows.toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("value", lit(0.0))
      .coalesce(1).write.parquet(s"$dir/b=a")
    val schema = spark.read.parquet(s"$dir/b=a").schema
    def src = spark.readStream.schema(schema).parquet(s"$dir/b=*")
      .withWatermark("ts", "1 second")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[Ev]
    val shared = detectShared(src, "signup",
      Map("p" -> "purchase", "e" -> "error"), 1800L * 1000000L)(spark)
    val q = shared.toDF().writeStream.format("memory")
      .queryName("graft_shared_sink").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_shared_sink")
      .select("pattern", "user_id", "a_id", "b_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // union of what each single 2-step matcher would find
    val want = Set(
      ("p", 1L, 1L, 2L), ("e", 1L, 1L, 3L),
      ("p", 1L, 4L, 5L))
    assert(got == want, s"got $got")
  }

  test("streaming multi-trend sharing equals batch kleeneShared") {
    val cols = Seq("user_id", "win_start", "n_error", "trends_error",
      "n_click", "trends_click", "n_purchase", "trends_purchase")
    val streamed = SparkEntry.all("s19_stream_multi_trend").build(spark, sf)
      .select(cols.head, cols.tail: _*)
    val batch = SparkEntry.all("p10_multi_trend").build(spark, sf)
      .select(cols.head, cols.tail: _*)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("online forecast model is micro-batch-split invariant") {
    import spark.implicits._
    import graft.streaming.ForecastStream
    import graft.streaming.ForecastStream.FEv
    // arrival order scrambles the event-time order across batches; the
    // watermark buffer must still apply transitions in event_id order,
    // so the annotated probabilities equal the in-order fold
    val base = 1700000000L * 1000000L
    def f(id: Long, offS: Long, t: String) =
      FEv(id, 7L, t, base + offS * 1000000L,
        new java.sql.Timestamp((base + offS * 1000000L) / 1000L))
    // in event order: A B A B A B — contexts gain support as the
    // alternation repeats, so depth climbs 0 → 1 → 2
    val evs = Seq(f(1, 0, "A"), f(2, 10, "B"), f(3, 20, "A"),
      f(4, 30, "B"), f(5, 40, "A"), f(6, 50, "B"))
    val sentinel = FEv(99L, -1L, "__sentinel", base + 7200L * 1000000L,
      new java.sql.Timestamp((base + 7200L * 1000000L) / 1000L))
    // batch 1 delivers the TAIL first, batch 2 the head, batch 3 flushes
    val batches = Seq(evs.drop(3), evs.take(3), Seq(sentinel))
    val dir = java.nio.file.Files.createTempDirectory("graft_fo_split_")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_fo_tmp_")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = dir.resolve(f"batch_$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val src = spark.readStream.schema(evs.toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .withWatermark("ts", "1 second").as[FEv]
    val out = ForecastStream.onlineScores(src)(spark)
    val q = out.toDF().writeStream.format("memory").queryName("fo_split")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fo_split")
      .select("event_id", "prob", "cnt", "depth").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(got == Map(
      1L -> ((0.0, 0L, 0)),  // no context yet
      2L -> ((0.0, 0L, 0)),  // ctx "A" has no prior observation
      3L -> ((0.0, 0L, 0)),  // ctx "B" has no prior observation
      4L -> ((1.0, 1L, 1)),  // ctx "A" seen once (ev2), followed by B
      5L -> ((1.0, 1L, 2)),  // ctx2 "A>B" seen once (ev3), it led to A
      6L -> ((1.0, 1L, 2))), // ctx2 "B>A" seen once (ev4), it led to B
      s"got $got")
  }

  test("windows are epoch-aligned hours") {
    val rows = SparkEntry.all("w1_tumbling").build(spark, sf)
      .select("win_start").distinct().collect()
    rows.foreach(r => assert(r.getLong(0) % 3600 == 0))
  }

  test("streaming negation equals batch anti-join on a closed stream") {
    import spark.implicits._
    import graft.streaming.PatternStream._
    // close the stream with a sentinel far past every deadline so the
    // watermark releases all pending anchors
    val events = Tables(spark, sf).events
    val maxTs = events.agg(max("ts")).head.getTimestamp(0)
    val sentinel = Seq((999999L, java.sql.Timestamp.from(
      maxTs.toInstant.plusSeconds(7200)), 0L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_neg_").toString
    events.unionByName(sentinel).write.mode("overwrite").parquet(dir)

    val src = spark.readStream.schema(events.schema).parquet(dir)
      .withWatermark("ts", "1 second")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[Ev]
    val absences = detectAbsence(src, "purchase", "error",
      withinUs = 900L * 1000000L)(spark)
    val q = absences.toDF().writeStream.format("memory")
      .queryName("graft_neg_sink").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("graft_neg_sink")
      .select(col("a_id").as("p_id"), col("user_id"))
    val batch = SparkEntry.all("p3_negation").build(spark, sf)
    assert(streamed.count() == batch.count(),
      s"streamed=${streamed.count()} batch=${batch.count()}")
    assert(streamed.except(batch.select("p_id", "user_id")).count() == 0)
  }

  test("append-mode watermark drops late data and finalizes windows once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_late_").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def write(rows: Seq[(Long, java.sql.Timestamp)], part: String): Unit =
      rows.toDF("id", "ts").write.mode("append")
        .parquet(s"$dir/part=$part")

    // batch 1: three events in hour 10, one watermark-pusher at hour 13
    write(Seq(
      (1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:15:00")),
      (3L, ts("2024-01-01 10:45:00")), (4L, ts("2024-01-01 13:00:00"))), "a")

    val schema = spark.read.parquet(s"$dir/part=a").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/part=*")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("win"), col("n"))
    val q = stream.writeStream.format("memory").queryName("graft_late_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event for hour 10 (watermark is past 12:59)
      // plus a pusher at hour 15 to flush remaining windows
      write(Seq(
        (5L, ts("2024-01-01 10:30:00")), (6L, ts("2024-01-01 15:00:00"))), "b")
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("graft_late_sink")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hour10 = ts("2024-01-01 10:00:00").getTime / 1000
    // hour-10 window finalized with the ON-TIME count only; the late
    // event (id 5) was dropped, and the window emitted exactly once
    assert(out(hour10) == 3L, s"got $out")
  }

  test("streaming session windows equal batch sessions on a closed stream") {
    import spark.implicits._
    val events = Tables(spark, sf).events
    val maxTs = events.agg(max("ts")).head.getTimestamp(0)
    val sentinel = Seq((999998L, java.sql.Timestamp.from(
      maxTs.toInstant.plusSeconds(7200)), -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_").toString
    events.unionByName(sentinel).write.mode("overwrite").parquet(dir)

    val src = spark.readStream.schema(events.schema).parquet(dir)
      .withWatermark("ts", "1 second")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("w.start")).as("sess_start_us"),
        col("n"))
    val q = src.writeStream.format("memory").queryName("graft_sess_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("graft_sess_sink")
      .filter(col("user_id") >= 0) // drop the sentinel's own session
    val batch = SparkEntry.all("w3_session").build(spark, sf)
      .select("user_id", "sess_start_us", "n")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("streaming negation is batch-split invariant (kill arrives before its anchor)") {
    import spark.implicits._
    import graft.streaming.PatternStream._
    // the cross-batch hazard: user 1's error (higher id) is DELIVERED
    // a batch before the purchase it must kill. Without state-side
    // buffering until the watermark finalizes order, the purchase
    // would emit a false absence. User 2's purchase has no error →
    // the one true absence.
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)],
        part: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dirNeg/b=$part")
    lazy val dirNeg = java.nio.file.Files
      .createTempDirectory("graft_negmb_").toString
    write(Seq((2L, ts(100), 1L, "error", 0.0, "{}"),
      (3L, ts(100), 2L, "purchase", 0.0, "{}")), "a")
    write(Seq((1L, ts(99), 1L, "purchase", 0.0, "{}")), "b")
    write(Seq((9L, ts(100 + 7200), 0L, "sentinel", 0.0, "{}")), "c")

    val schema = spark.read.parquet(s"$dirNeg/b=a").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dirNeg/b=*")
      // delay large enough that the batch-b purchase is not late
      .withWatermark("ts", "600 seconds")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[Ev]
    val absences = detectAbsence(src, "purchase", "error",
      withinUs = 900L * 1000000L)(spark)
    val q = absences.toDF().writeStream.format("memory")
      .queryName("graft_negmb_sink").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "expected a genuinely multi-batch run")
    } finally q.stop()
    val got = spark.table("graft_negmb_sink")
      .select("user_id", "a_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((2L, 3L)),
      s"expected only user 2's absence, got ${got.toSeq}")
  }

  test("streaming as-of enrichment is micro-batch-split invariant (fuzz)") {
    import spark.implicits._
    import graft.streaming.PatternStream.Ev
    // asofEnrichTransform buffers per key until the watermark
    // finalizes (ts, event_id) order, so a signup DELIVERED after the
    // facts it must enrich (but earlier in event time) still attaches
    // to them — any partition of the same events into micro-batches
    // yields identical output. Deterministic fuzz: 120 events over 5
    // users, signups interleaved, file assignment by seeded random.
    val rnd = new scala.util.Random(7)
    val base = 1704067200L * 1000000L
    val events = (1 to 120).map { i =>
      val et =
        if (i % 7 == 0) "signup" else if (i % 3 == 0) "purchase" else "click"
      (i.toLong, (i % 5).toLong + 1, et, base + i * 60000000L,
        rnd.nextInt(1000) / 10.0)
    }
    // expected: fold each user's events in (us, event_id) order
    val expected = events.groupBy(_._2).toSeq.flatMap { case (u, evs) =>
      var dim: Option[(Long, Double, Long)] = None
      evs.sortBy(e => (e._4, e._1)).flatMap { e =>
        if (e._3 == "signup") { dim = Some((e._1, e._5, e._4)); None }
        else Some((e._1, u, dim.map(_._1), dim.map(_._2),
          dim.map(d => e._4 - d._3)))
      }
    }.toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_asofmb_").toString
    events.groupBy(_ => rnd.nextInt(7)).toSeq.foreach { case (b, evs) =>
      evs.toDF("event_id", "user_id", "event_type", "us", "value")
        .withColumn("ts", timestamp_micros(col("us")))
        .coalesce(1).write.parquet(s"$dir/b=$b")
    }
    // sentinel far enough out to finalize everything past the delay
    Seq((9999L, 0L, "__sentinel", base + 259200L * 1000000L, 0.0))
      .toDF("event_id", "user_id", "event_type", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .coalesce(1).write.parquet(s"$dir/b=9")
    val schema = spark.read.parquet(s"$dir/b=9").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/b=*")
      // delay covers the fuzz's full 2 h event-time spread
      .withWatermark("ts", "3 hours")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("us").as("ts_us"), col("ts"))
      .as[Ev]
    val out = graft.streaming.StreamingQueries.asofEnrichTransform(src)
    val q = out.toDF().writeStream.format("memory")
      .queryName("graft_asofmb_sink").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 5,
        "expected a genuinely multi-batch run")
    } finally q.stop()
    val got = spark.table("graft_asofmb_sink").collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))
    }.toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("closed streams read a directory-shaped events table") {
    import graft.streaming.StreamingQueries.streamPattern
    // a multi-part write stages as its part files; linking the
    // directory itself would feed the stream only the sentinel
    val single = streamPattern(spark, sf).collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_partdir_").toString
    spark.read.parquet(s"$sf/events.parquet").repartition(4)
      .write.parquet(s"$dir/events.parquet")
    val parts = new java.io.File(s"$dir/events.parquet").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 4, s"expected 4 part files, got $parts")
    val parted = streamPattern(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(single.nonEmpty, "the single-file run found no sequence")
    assert(parted == single,
      s"missing=${single.diff(parted).take(3)} extra=${parted.diff(single).take(3)}")
  }

  // The as-of fixture as a table over the other buffered folds: 120
  // events over 5 users, signups every 7th and purchases every 3rd id,
  // one minute apart; values and the 7-way file split drawn from the
  // same seeded generator. Each fold's output over the split delivery
  // must equal its output over one file holding every event.
  private val fuzzBase = 1704067200L * 1000000L
  private type FuzzEv = (Long, Long, String, Long, Double)
  private type Fold = org.apache.spark.sql.Dataset[graft.streaming.PatternStream.Ev] =>
    org.apache.spark.sql.DataFrame

  private def fuzzEvents(rnd: scala.util.Random): Seq[FuzzEv] =
    (1 to 120).map { i =>
      val et =
        if (i % 7 == 0) "signup" else if (i % 3 == 0) "purchase" else "click"
      (i.toLong, (i % 5).toLong + 1, et, fuzzBase + i * 60000000L,
        rnd.nextInt(1000) / 10.0)
    }

  /** Runs `transform` over `files` (plus a closing sentinel file),
    * delivered one file per trigger, and returns its rows as sorted
    * strings with the count of micro-batches that carried input.
    */
  private def runFuzz(name: String, files: Seq[Seq[FuzzEv]], transform: Fold)
      : (Seq[String], Int) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_splitfuzz_").toString
    val sentinel = (9999L, 0L, "__sentinel", fuzzBase + 259200L * 1000000L, 0.0)
    (files :+ Seq(sentinel)).zipWithIndex.foreach { case (evs, b) =>
      evs.toDF("event_id", "user_id", "event_type", "us", "value")
        .withColumn("ts", timestamp_micros(col("us")))
        .coalesce(1).write.parquet(f"$dir/b=$b%02d")
    }
    val src = spark.readStream.schema(spark.read.parquet(s"$dir/b=00").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/b=*")
      .withWatermark("ts", "3 hours")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("us").as("ts_us"), col("ts"))
      .as[graft.streaming.PatternStream.Ev]
    val q = transform(src).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    val batches =
      try { q.processAllAvailable(); q.recentProgress.count(_.numInputRows > 0) }
      finally q.stop()
    (spark.table(name).collect().map(_.toString).toSeq.sorted, batches)
  }

  {
    import graft.streaming.StreamingQueries._
    Seq[(String, String, Fold)](
      ("s9", "EMA", src => emaTransform(src).toDF()),
      ("s32", "Hawkes intensity",
        src => hawkesTransform(src, 0.001, 0.002, 0.0005).toDF()),
      ("s10", "count windows", src => countWindowTransform(src).toDF()),
      ("s11", "anomaly scores", src => anomalyTransform(src).toDF()),
      ("s21", "rate limit", src => rateLimitTransform(src).toDF()),
      ("s22", "circuit breaker", src => breakerTransform(src).toDF()),
      ("s2", "generic NFA sequence", src => sequenceTransform(src.toDF()))
    ).foreach { case (id, what, transform) =>
      test(s"$id streaming $what is micro-batch-split invariant (fuzz)") {
        val rnd = new scala.util.Random(7)
        val events = fuzzEvents(rnd)
        val split = events.groupBy(_ => rnd.nextInt(7)).toSeq.sortBy(_._1).map(_._2)
        val (one, _) = runFuzz(s"graft_fuzz_${id}_one", Seq(events), transform)
        val (got, batches) = runFuzz(s"graft_fuzz_${id}_split", split, transform)
        assert(one.nonEmpty, s"$id emitted nothing on the single-file run")
        assert(batches >= 5, "expected a genuinely multi-batch run")
        assert(got == one,
          s"missing=${one.diff(got).take(3)} extra=${got.diff(one).take(3)}")
      }
    }
  }

  test("streaming NFA evicts state for quiet keys once watermark passes") {
    import spark.implicits._
    import graft.streaming.PatternStream._
    // two micro-batches: batch a opens runs (signups, never completed),
    // batch b only advances the watermark far past every deadline. If
    // eviction works, the final state-store row count is 0 even though
    // the quiet keys never see another event.
    val dir = java.nio.file.Files.createTempDirectory("graft_evict_").toString
    def ts(sec: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sec))
    Seq((1L, 1L, "signup", 0.0, ts(1000)),
        (2L, 2L, "signup", 0.0, ts(1001)),
        (3L, 3L, "signup", 0.0, ts(1002)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(s"$dir/b=a")
    Seq((4L, 99L, "noise", 0.0, ts(100000)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.parquet(s"$dir/b=b")
    val schema = spark.read.parquet(s"$dir/b=a").schema
    val src = spark.readStream.schema(schema).parquet(s"$dir/b=*")
      .withWatermark("ts", "1 second")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[Ev]
    val matches = detect(src,
      Seq(StepSpec("signup"), StepSpec("purchase")),
      withinUs = 1800L * 1000000L)(spark)
    val q = matches.toDF().writeStream.format("memory")
      .queryName("graft_evict_sink").outputMode("append")
      .option("maxFilesPerTrigger", "1").start()
    try {
      q.processAllAvailable()
      val sq = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
      val prog = sq.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      assert(prog.isDefined, "no state operator progress recorded")
      val rows = prog.get.stateOperators.map(_.numRowsTotal).sum
      assert(rows == 0L,
        s"state store still holds $rows rows for quiet keys")
    } finally q.stop()
    assert(spark.table("graft_evict_sink").count() == 0)
  }

  test("session windows respect the gap") {
    // no two sessions of the same user may be closer than the gap
    val s = SparkEntry.all("w3_session").build(spark, sf)
      .select(col("user_id"), col("sess_start_us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("sess_start_us")
    val gaps = s.withColumn("prev", lag("sess_start_us", 1).over(w))
      .filter(col("prev").isNotNull)
      .select((col("sess_start_us") - col("prev")).as("d"))
      .collect()
    gaps.foreach(r => assert(r.getLong(0) >= 600000000L))
  }

  test("streaming packing equals batch across ordered micro-batches") {
    // docs split into 4 id-ordered files, one micro-batch each
    // (the op's contract: the feed delivers in id order ACROSS
    // batches; within-batch reorder is sorted away). Per-shard
    // (bin, used) state must survive batch boundaries for the fold
    // to equal batch t10 row for row.
    val docs = Tables(spark, sf).documents
      .select("doc_id", "text").orderBy("doc_id").collect()
    val quartile = (docs.length + 3) / 4
    val dir = java.nio.file.Files.createTempDirectory("graft_pack_split_")
    import spark.implicits._
    docs.grouped(quartile).zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_pack_tmp_")
      rows.map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = dir.resolve(f"batch_$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val out = graft.streaming.StreamingQueries
      .packStream(spark, src, nShards = 8, budget = 256L)
    val q = out.writeStream.format("memory").queryName("pack_split")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("pack_split")
      .select("shard", "doc_id", "bin", "bin_used").collect()
      .map(_.toString).sorted
    val want = graft.text.TextAnalysis.packSequences(
        Tables(spark, sf).documents, col("doc_id"), col("text"),
        nShards = 8, budgetTokens = 256L)
      .select("shard", "doc_id", "bin", "bin_used").collect()
      .map(_.toString).sorted
    assert(got.length == want.length)
    assert(got.sameElements(want))
  }

  test("pre-fit ingest scoring is micro-batch-split invariant (DSIR)") {
    // the ingest-twin contract: the model is fitted ONCE on the
    // static corpus, scoring is row-local — so HOWEVER the stream is
    // chopped into micro-batches, the union of outputs equals the
    // batch pipeline bit for bit
    val docs = Tables(spark, sf).documents
      .select("doc_id", "text", "source").collect().toSeq
    val quartile = (docs.length + 3) / 4
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir_split_")
    import spark.implicits._
    docs.grouped(quartile).zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_dsir_tmp_")
      rows.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        .toDF("doc_id", "text", "source")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = dir.resolve(f"batch_$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val isTgt = regexp_extract(col("source"), "[0-9]+", 0).cast("int") < 5
    val fitted = graft.text.TextAnalysis.dsirFit(
      Tables(spark, sf).documents, col("text"), isTgt)
    val src = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val out = graft.text.TextAnalysis.dsirScoreLocal(
      src, col("text"), col("doc_id"), fitted)
    val q = out.writeStream.format("memory").queryName("dsir_split")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dsir_split").collect().map(_.toString).sorted
    val want = graft.text.TextAnalysis.dsirWeights(
        Tables(spark, sf).documents, col("text"), col("doc_id"), isTgt)
      .collect().map(_.toString).sorted
    assert(got.length == want.length && got.sameElements(want))
  }

  test("ingest decontamination refuses an over-cap benchmark gram set") {
    // the driver-side broadcast probe is only valid while the eval
    // set is small; over the cap it must fail loudly and point at the
    // distributed d6 join instead of OOMing the driver
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamingQueries.streamDecontamCapped(spark, sf, 10))
    assert(e.getMessage.contains("exceeds 10 distinct"))
    assert(e.getMessage.contains("d6"))
  }

  test("ingest-time BPE tokenization equals the batch encode row for row") {
    // s34: merge table pre-fit on the static corpus, stateless
    // row-local encode on the stream — results must be identical to
    // t15's batch path over the same corpus (same trainer, same
    // native walk)
    val got = graft.streaming.StreamingQueries
      .streamBpeEncode(spark, sf)
      .collect().map(_.toString).sorted
    val merges = graft.text.TextAnalysis
      .trainedMerges(Tables(spark, sf).documents, col("text"), 8)
    val want = graft.text.TextAnalysis
      .bpeEncode(Tables(spark, sf).documents, col("text"), merges)
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        col("n_chars"), array_join(col("tokens"), " ").as("tokens_joined"))
      .collect().map(_.toString).sorted
    assert(got.length == want.length && got.sameElements(want))
  }

  test("TtlLookup caches within the TTL and refetches after it") {
    import graft.sources.HttpEnrichment
    var fetches = 0
    val lk = new HttpEnrichment.TtlLookup(() => {
      fetches += 1
      spark.range(1).toDF("k")
    }, ttlMs = 60000L)
    val first = lk.current()
    assert((lk.current() eq first) && fetches == 1 && lk.refreshes == 1L,
      "second call within the TTL must reuse the cached frame")
    val short = new HttpEnrichment.TtlLookup(() => {
      fetches += 1; spark.range(1).toDF("k")
    }, ttlMs = 100L)
    short.current(); Thread.sleep(250); short.current()
    assert(short.refreshes == 2L, "an expired lookup must refetch")
  }

  test("streaming enrich sees a dim update after the TTL (HTTP provider)") {
    import org.apache.spark.sql.functions.broadcast
    import graft.sources.HttpEnrichment

    // loopback dim service whose answer we mutate mid-stream —
    // cache.rs expiry re-expressed as per-micro-batch re-broadcast
    @volatile var dimName = "alpha"
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/dim", (x: com.sun.net.httpserver.HttpExchange) => {
      val body = s"""{"name":"$dimName"}""".getBytes("UTF-8")
      x.sendResponseHeaders(200, body.length.toLong)
      x.getResponseBody.write(body); x.close()
    })
    srv.start()
    val url = s"http://127.0.0.1:${srv.getAddress.getPort}/dim"
    val lookup = new HttpEnrichment.TtlLookup(
      () => HttpEnrichment.lookup(spark, url, "k", Seq("1"), Seq("name")),
      ttlMs = 1500L)

    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_").toString
    import spark.implicits._
    Seq(("1", 10L)).toDF("k", "v").coalesce(1).write.parquet(s"$dir/b=0")
    val schema = spark.read.parquet(s"$dir/b=0").schema
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/b=*")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // join each micro-batch against the CURRENT dim — the TTL
        // decides when "current" re-resolves from the provider
        batch.join(broadcast(lookup.current()), "k")
          .select("name").collect()
          .foreach(r => out.add(id -> r.getString(0)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(out.asScalaSeq.map(_._2) == Seq("alpha"), out)
      dimName = "beta" // dim updated at the source
      Thread.sleep(2000) // let the TTL lapse
      Seq(("1", 20L)).toDF("k", "v").coalesce(1).write
        .parquet(s"$dir/b=1")
      q.processAllAvailable()
      assert(out.asScalaSeq.map(_._2).sorted == Seq("alpha", "beta"),
        s"post-TTL micro-batch must see the refreshed dim: $out")
      assert(lookup.refreshes >= 2L)
    } finally { q.stop(); srv.stop(0) }
  }

  private implicit class QueueOps[A](
      q: java.util.concurrent.ConcurrentLinkedQueue[A]) {
    def asScalaSeq: Seq[A] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }
}
