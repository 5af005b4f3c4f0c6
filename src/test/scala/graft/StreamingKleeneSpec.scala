package graft

import org.apache.spark.sql.functions._
import graft.vpl._
import graft.cep.{Pattern, Step}
import graft.streaming.PatternStream
import graft.streaming.PatternStream.{GEv, GStepSpec}

/** Streaming-NFA generality: Kleene `+`/`*`, cross-step predicates
  * and per-transition `within` on live streams, each cross-checked
  * against its BATCH compiler twin on the same data (sase.rs
  * KleenePlus/KleeneStar + per-edge predicate semantics).
  */
class StreamingKleeneSpec extends SparkSpec {

  private def sc = ReferenceCorpus.path("tests/scenarios")

  /** A reference-style Kleene scenario (04_kleene.vpl shape):
    * pattern-sourced stream, `B+`/`B*` between two anchors. Events
    * mirror the .evt line order (event_id = line_no, ts = BATCH ms).
    */
  private val kleeneEvt: String =
    """A { k: 1, v: 0.5 }
      |BATCH 1000
      |B { k: 1, v: 2.0 }
      |BATCH 2000
      |C { k: 1, v: 0.5 }
      |BATCH 3000
      |B { k: 1, v: 3.0 }
      |BATCH 4000
      |B { k: 1, v: 5.0 }
      |BATCH 5000
      |C { k: 1, v: 0.5 }
      |A { k: 2, v: 0.5 }
      |BATCH 6000
      |C { k: 2, v: 0.5 }
      |BATCH 7000
      |B { k: 2, v: 1.0 }
      |BATCH 8000
      |C { k: 2, v: 0.5 }
      |""".stripMargin

  /** same events as a batch frame: event_id = .evt line order,
    * ts = the BATCH timestamp in force when the event line ran
    */
  private def kleeneBatchDf = {
    val rows = Seq(
      // (event_id, ms, type, k, v) — event_id = the .evt 0-based line
      // number (BATCH lines count), mirroring EventReplay staging
      (0L, 0L, "A", 1L, 0.5), (2L, 1000L, "B", 1L, 2.0),
      (4L, 2000L, "C", 1L, 0.5), (6L, 3000L, "B", 1L, 3.0),
      (8L, 4000L, "B", 1L, 5.0), (10L, 5000L, "C", 1L, 0.5),
      (11L, 5000L, "A", 2L, 0.5), (13L, 6000L, "C", 2L, 0.5),
      (15L, 7000L, "B", 2L, 1.0), (17L, 8000L, "C", 2L, 0.5))
    import spark.implicits._
    rows.toDF("event_id", "ms", "event_type", "k", "v")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
  }

  private def vplProgram(kleene: String): String =
    s"""event A:
       |    k: int
       |    v: float
       |event B:
       |    k: int
       |    v: float
       |event C:
       |    k: int
       |    v: float
       |
       |pattern Burst = SEQ(
       |    A as a,
       |    B$kleene as bs,
       |    C as c
       |) within 10m partition by k
       |
       |stream Out = Burst
       |    .watermark(out_of_order: 1s)
       |    .emit(a_id: a.event_id, c_id: c.event_id, n_b: len(bs),
       |          first_b: bs.first_event_id, last_b: bs.event_id,
       |          sum_b: sum(bs.v))
       |""".stripMargin

  private def writeEvt(text: String): String = {
    val f = java.nio.file.Files.createTempFile("graft_kleene", ".evt")
    java.nio.file.Files.writeString(f, text)
    f.toString
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.select("a_id", "c_id", "n_b", "first_b", "last_b", "sum_b")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -999.0 else r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("streaming VPL Kleene+ pattern stream matches batch kleeneBetween") {
    val evt = writeEvt(kleeneEvt)
    val streamed = Vpl.runEvtStreaming(spark, vplProgram("+"), evt, "Out")
    val batch = Pattern.kleeneBetween(
      kleeneBatchDf,
      Step("a", col("event_type") === "A"),
      Step("b", col("event_type") === "B"),
      Step("c", col("event_type") === "C"),
      withinSec = 600, partitionKeys = Seq("k"), bValueCol = "v")
    val b = batch.select(col("a_id"), col("c_id"), col("n_b"),
      col("first_b"), col("last_b"), col("sum_b"))
    assert(collectRows(streamed) == collectRows(b),
      s"streaming=${collectRows(streamed)} batch=${collectRows(b)}")
    // sanity against the hand-derived expectation
    assert(collectRows(streamed) == Seq(
      (0L, 4L, 1L, 2L, 2L, 2.0),
      (0L, 10L, 3L, 2L, 8L, 10.0),
      (11L, 17L, 1L, 15L, 15L, 1.0)))
  }

  test("streaming VPL Kleene* pattern stream matches batch kleeneStarBetween") {
    val evt = writeEvt(kleeneEvt)
    val streamed = Vpl.runEvtStreaming(spark, vplProgram("*"), evt, "Out")
    val batch = Pattern.kleeneStarBetween(
      kleeneBatchDf,
      Step("a", col("event_type") === "A"),
      Step("b", col("event_type") === "B"),
      Step("c", col("event_type") === "C"),
      withinSec = 600, partitionKeys = Seq("k"), bValueCol = "v")
    val b = batch.select(col("a_id"), col("c_id"), col("n_b"),
      col("first_b"), col("last_b"), col("sum_b"))
    assert(collectRows(streamed) == collectRows(b),
      s"streaming=${collectRows(streamed)} batch=${collectRows(b)}")
    // the star-only extra rows: zero-B anchor pairs with NULL aggregates
    assert(collectRows(streamed).contains((11L, 13L, 0L, -1L, -1L, -999.0)))
  }

  test("streaming cross-step predicate (rising prices) prunes runs like the reference") {
    // 04_kleene.vpl RisingSequence shape: every B must exceed first's
    // price, the closer must exceed the last B's price
    val vpl =
      s"""event Tick:
         |    sym: str
         |    price: float
         |
         |pattern Rising = SEQ(
         |    Tick as first,
         |    Tick+ where price > first.price as rising,
         |    Tick where price > rising.price as last
         |) within 10m partition by sym
         |
         |stream Spikes = Rising
         |    .watermark(out_of_order: 1s)
         |    .emit(sym: first.sym, start_price: first.price,
         |          end_price: last.price, spike_count: len(rising))
         |""".stripMargin
    val evt = writeEvt(
      """Tick { sym: "UP", price: 10.0 }
        |BATCH 1000
        |Tick { sym: "UP", price: 11.0 }
        |BATCH 2000
        |Tick { sym: "UP", price: 12.0 }
        |BATCH 3000
        |Tick { sym: "DN", price: 20.0 }
        |BATCH 4000
        |Tick { sym: "DN", price: 15.0 }
        |BATCH 5000
        |Tick { sym: "DN", price: 14.0 }
        |""".stripMargin)
    val rows = Vpl.runEvtStreaming(spark, vpl, evt, "Spikes")
      .select("sym", "start_price", "end_price", "spike_count").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // UP: first=10, rising={11}, last=12 fires; DN never rises.
    // (12 also extends the rising run, but no later closer arrives.)
    assert(rows == Set(("UP", 10.0, 12.0, 1L)), rows.toString)
  }

  test("streaming electrical ConsumptionSpike (post-seq cross-step arithmetic) matches batch") {
    val vplText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sc/electrical_consumption.vpl")))
    val evt = s"$sc/electrical_consumption.evt"
    val batch = Vpl.runEvt(spark, vplText, Seq(evt))("ConsumptionSpike").get
      .select("floor_id", "previous", "spike").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    val streamed = Vpl.runEvtStreaming(spark, vplText, evt, "ConsumptionSpike")
      .select("floor_id", "previous", "spike").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed batch=$batch")
    assert(streamed.nonEmpty &&
      streamed.forall { case (_, prev, spike) => spike > prev * 2.0 })
  }

  test("batch pattern-sourced stream executes the declared pattern (not an empty type filter)") {
    val vpl =
      s"""event A:
         |    k: int
         |    v: float
         |event B:
         |    k: int
         |    v: float
         |event C:
         |    k: int
         |    v: float
         |
         |pattern AC = SEQ(A as a, C as c) within 10m partition by k
         |
         |stream Out = AC
         |    .emit(k: a.k, a_id: a.event_id, c_id: c.event_id)
         |""".stripMargin
    val evt = writeEvt(kleeneEvt)
    val rows = Vpl.runEvt(spark, vpl, Seq(evt))("Out").get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._3)).toSeq
    // skip-till-any (a, c) pairs per key within the window
    assert(rows == Seq((1L, 0L, 4L), (1L, 0L, 10L), (2L, 11L, 13L),
      (2L, 11L, 17L)), rows.toString)
  }

  test("streaming OR pattern source runs as a filtered union matching batch") {
    val vpl =
      s"""event A:
         |    k: int
         |    v: float
         |event B:
         |    k: int
         |    v: float
         |event C:
         |    k: int
         |    v: float
         |
         |pattern Either = A OR B where v > 2.5
         |
         |stream Out = Either
         |    .emit(id: event_id, t: event_type)
         |""".stripMargin
    val evt = writeEvt(kleeneEvt)
    val streamed = Vpl.runEvtStreaming(spark, vpl, evt, "Out")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val batch = Vpl.runEvt(spark, vpl, Seq(evt))("Out").get
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed batch=$batch")
    // all A's (0, 11) + B's with v > 2.5 (6: 3.0, 8: 5.0)
    assert(streamed == Seq((0L, "A"), (6L, "B"), (8L, "B"), (11L, "A")),
      streamed.toString)
  }

  test("streaming .forecast matches the batch annotation end-to-end") {
    val vpl =
      """stream F = A as a
        |    -> B where k == a.k as b
        |    -> C where k == a.k as c
        |    .within(1h)
        |    .forecast(horizon: 10m)
        |    .watermark(out_of_order: 1s)
        |    .emit(k: a.k, b_id: b.event_id, p: forecast_probability,
        |          n: forecast_count, conf: forecast_confidence,
        |          state: forecast_state, ghost: c.x)
        |""".stripMargin
    // key 1: A->B->C twice (C always follows A>B); key 2: A->B, no C
    val evt = writeEvt(
      """A { k: 1 }
        |BATCH 1000
        |B { k: 1 }
        |BATCH 2000
        |C { k: 1 }
        |BATCH 3000
        |A { k: 1 }
        |BATCH 4000
        |B { k: 1 }
        |BATCH 5000
        |C { k: 1 }
        |BATCH 6000
        |A { k: 2 }
        |BATCH 7000
        |B { k: 2 }
        |""".stripMargin)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "b_id", "p", "n", "conf", "state").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
          math.round(r.getDouble(4) * 1e9), r.getString(5)))
        .sortBy(t => (t._1, t._2)).toSeq
    val batch = Vpl.runEvt(spark, vpl.replace("    .watermark(out_of_order: 1s)\n", ""),
      Seq(evt))("F").get
    val streamed = Vpl.runEvtStreaming(spark, vpl, evt, "F")
    assert(shape(streamed) == shape(batch),
      s"streaming=${shape(streamed)} batch=${shape(batch)}")
    // the truncated step's refs are NULL on both paths
    assert(streamed.select("ghost").collect().forall(_.isNullAt(0)))
    assert(shape(streamed).nonEmpty &&
      shape(streamed).forall { case (_, _, p, n, _, st) =>
        p == 1.0 && n == 2L && st == "A>B" })
  }

  test("generic NFA is micro-batch-split invariant (B arrives in an earlier batch than A)") {
    import spark.implicits._
    val base = 1700000000L * 1000000L
    def g(id: Long, offUs: Long, mask: Long) =
      GEv(id, "u", base + offUs,
        new java.sql.Timestamp((base + offUs) / 1000L), mask, Map.empty)
    // event-time order is A(1) then B(2); ARRIVAL order is B first.
    // The watermark-buffered NFA must still find the A->B match.
    val batches = Seq(
      Seq(g(2, 2000000, 2L)),              // B arrives first
      Seq(g(1, 1000000, 1L)),              // A arrives second, earlier ts
      Seq(g(99, 7200L * 1000000L, 0L)))    // sentinel flushes
    val dir = java.nio.file.Files.createTempDirectory("graft_split_")
    batches.zipWithIndex.foreach { case (evs, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_split_tmp_")
      evs.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = dir.resolve(f"batch_$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = Seq(g(0, 0, 0L)).toDF().schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .withWatermark("ts", "10 seconds").as[GEv]
    val out = PatternStream.detectGeneric(src,
      IndexedSeq(GStepSpec(), GStepSpec()), withinUs = 3600L * 1000000L)(spark)
    val q = out.toDF().writeStream.format("memory").queryName("split_inv")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val matches = spark.table("split_inv")
      .select("ids").collect().map(_.getSeq[Long](0).toList).toSet
    assert(matches == Set(List(1L, 2L)),
      s"out-of-order arrival must still match: $matches")
  }

  test("pre-shuffle mask filter stays ABOVE the watermark node (plan pin)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Filter}
    // the `ts IS NULL` disjunct is what keeps the mask filter from
    // being pushed below EventTimeWatermark (which would starve the
    // watermark of dropped rows and freeze state eviction); pin the
    // optimized streaming plan shape so an optimizer or nullability
    // change can't silently regress it
    val base = 1700000000L * 1000000L
    val gevs = Seq(
      GEv(1, "u", base, new java.sql.Timestamp(base / 1000L), 1L, Map.empty),
      GEv(2, "u", base + 1000000L,
        new java.sql.Timestamp((base + 1000000L) / 1000L), 2L, Map.empty))
    val dir = java.nio.file.Files.createTempDirectory("graft_pin_").toString
    gevs.toDF().write.mode("overwrite").parquet(dir)
    val src = spark.readStream.schema(gevs.toDF().schema).parquet(dir)
      .withWatermark("ts", "1 second").as[GEv]
    val out = PatternStream.detectGeneric(src,
      IndexedSeq(GStepSpec(), GStepSpec()), withinUs = 3600L * 1000000L)(spark)
    val q = out.toDF().writeStream.format("memory").queryName("plan_pin")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      val plan = exec.optimizedPlan
      def isMaskFilter(f: Filter) = f.condition.toString.contains("mask")
      val wms = plan.collect { case w: EventTimeWatermark => w }
      assert(wms.nonEmpty, "no EventTimeWatermark node in:\n" + plan)
      // no mask filter below the watermark node...
      val below = wms.flatMap(_.children).flatMap(_.collect {
        case f: Filter if isMaskFilter(f) => f
      })
      assert(below.isEmpty, "mask filter pushed below watermark:\n" + plan)
      // ...and one above it
      val anywhere = plan.collect { case f: Filter if isMaskFilter(f) => f }
      assert(anywhere.nonEmpty, "mask filter missing entirely:\n" + plan)
    } finally q.stop()
  }

  test("non-nullable ts is rejected fast (watermark-pin precondition)") {
    import spark.implicits._
    val base = 1700000000L * 1000000L
    val gevs = Seq(
      GEv(1, "u", base, new java.sql.Timestamp(base / 1000L), 1L, Map.empty))
    // hand-build a schema whose ts is NOT nullable: the `ts IS NULL`
    // pin would fold away, so the call must fail fast instead
    val df = gevs.toDF()
    val forced = spark.createDataFrame(df.rdd,
      org.apache.spark.sql.types.StructType(df.schema.map(f =>
        if (f.name == "ts") f.copy(nullable = false) else f))).as[GEv]
    val e = intercept[IllegalArgumentException] {
      PatternStream.detectGeneric(forced,
        IndexedSeq(GStepSpec(), GStepSpec()), withinUs = 1000000L)(spark)
    }
    assert(e.getMessage.contains("nullable"))
  }

  test("per-transition within in the streaming NFA matches batch SeqPattern (p9 shape)") {
    import spark.implicits._
    // A -> B (within 2s of A) -> C (within 3s of B), global within 10m.
    // base is a modern epoch: a ts at/below the initial watermark (0)
    // would be dropped as late before reaching the operator.
    val base = 1700000000L * 1000000L
    val evs = Seq(
      // key "x": B comes 1s after A (ok), C 2s after B (ok) → match
      (1L, "x", base, "A"), (2L, "x", base + 1000000L, "B"),
      (3L, "x", base + 3000000L, "C"),
      // key "y": B comes 5s after A → transition bound kills it
      (4L, "y", base, "A"), (5L, "y", base + 5000000L, "B"),
      (6L, "y", base + 6000000L, "C"),
      // key "z": B ok, C 8s after B → second bound kills it
      (7L, "z", base, "A"), (8L, "z", base + 1000000L, "B"),
      (9L, "z", base + 9000000L, "C"))
    val gevs = evs.map { case (id, k, us, t) =>
      GEv(id, k, us, new java.sql.Timestamp(us / 1000L),
        mask = t match { case "A" => 1L; case "B" => 2L; case _ => 4L },
        payload = Map("type" -> t))
    } :+ GEv(999L, "zz", base + 7200L * 1000000L,
      new java.sql.Timestamp((base + 7200L * 1000000L) / 1000L),
      mask = 0L, payload = Map.empty) // sentinel flushes the buffer
    val specs = IndexedSeq(
      GStepSpec(),
      GStepSpec(withinPrevUs = Some(2000000L)),
      GStepSpec(withinPrevUs = Some(3000000L)))
    val dir = java.nio.file.Files.createTempDirectory("graft_p9s_").toString
    gevs.toDF().write.mode("overwrite").parquet(dir)
    val src = spark.readStream
      .schema(gevs.toDF().schema).parquet(dir)
      .withWatermark("ts", "1 second").as[GEv]
    val out = PatternStream.detectGeneric(src, specs, 600000000L)(spark)
    val q = out.toDF().writeStream.format("memory").queryName("p9_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // debug aid on failure
    val srcRows = spark.read.parquet(dir).count()
    info(s"source rows staged: $srcRows")
    val streamed = spark.table("p9_stream").select("key")
      .collect().map(_.getString(0)).sorted.toSeq
    // batch twin
    val df = evs.toDF("event_id", "key", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val batch = cep.SeqPattern(Seq(
      Step("a", col("event_type") === "A"),
      Step("b", col("event_type") === "B", withinPrevSec = Some(2L)),
      Step("c", col("event_type") === "C", withinPrevSec = Some(3L))),
      withinSec = 600, partitionKeys = Seq("key")).compile(df)
      .select(col("a_key")).collect().map(_.getString(0)).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed batch=$batch")
    assert(streamed == Seq("x"))
  }
}
