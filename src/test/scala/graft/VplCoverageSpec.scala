package graft

import graft.vpl._

/** Breadth coverage of the reference's own VPL corpus: every .vpl in
  * examples/ + tests/scenarios parses (except the documented
  * imperative-fn exclusion), and the three hardest files — stream
  * joins, EMA/compound aggregates, implicit windowed aggregates,
  * sequences over derived streams, heterogeneous merges — compile
  * and run end-to-end.
  */
class VplCoverageSpec extends SparkSpec {

  private def ex = ReferenceCorpus.path("examples")
  private def sc = ReferenceCorpus.path("tests/scenarios")

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  test("every reference .vpl parses") {
    // RECURSIVE over examples/ and tests/: picks up the mandelbrot
    // family (examples/mandelbrot/**, imperative fn + .process grids,
    // server/worker/web variants) and the hvac-e2e integration
    // pipeline that the old top-level listing missed
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap {
        case f if f.isDirectory => walk(f)
        case f if f.getName.endsWith(".vpl") => Seq(f)
        case _ => Nil
      }
    val files = (walk(new java.io.File(ex)) ++
      walk(new java.io.File(ReferenceCorpus.path("tests"))))
      .sortBy(_.getPath)
    assert(files.length >= 39, s"expected the full corpus, got ${files.length}")
    val failures = files.flatMap { f =>
      try { VplParser.parse(read(f.getPath)); None }
      catch { case e: Throwable => Some(f.getName -> e.getMessage) }
    }
    assert(failures.isEmpty, s"parse failures: ${failures.toSeq}")
  }

  test("fuzzed program text fails as VplParseError — never a hang, overflow or foreign exception") {
    val good = read(s"$ex/sase_patterns.vpl")
    val rnd = new scala.util.Random(19)
    for (_ <- 0 until 300) {
      val b = good.toCharArray
      for (_ <- 0 to rnd.nextInt(4))
        b(rnd.nextInt(b.length)) = (32 + rnd.nextInt(95)).toChar
      try { VplParser.parse(new String(b)); () }
      catch { case _: VplParser.VplParseError => () }
    }
    // adversarial nesting must be a pointed error, not a stack overflow
    val deep = "stream S = E\n    .where(" + "(" * 5000 + "1" + ")" * 5000 + " > 0)\n"
    val e = intercept[VplParser.VplParseError](VplParser.parse(deep))
    assert(e.getMessage.contains("nesting"))
  }

  test("every demo and benchmark .vpl parses too") {
    // the full .vpl surface of the reference REPO, beyond the
    // examples/scenarios corpus: live demos and the connector/Apama
    // comparison benchmark programs
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap {
        case f if f.isDirectory => walk(f)
        case f if f.getName.endsWith(".vpl") => Seq(f)
        case _ => Nil
      }
    val files = (walk(new java.io.File(ReferenceCorpus.path("demos"))) ++
      walk(new java.io.File(ReferenceCorpus.path("benchmarks"))))
      .sortBy(_.getPath)
    assert(files.length >= 25, s"expected the demo/bench corpus, got ${files.length}")
    val failures = files.flatMap { f =>
      try { VplParser.parse(read(f.getPath)); None }
      catch { case e: Throwable => Some(f.getPath -> e.getMessage) }
    }
    assert(failures.isEmpty, s"parse failures: ${failures.toSeq}")
  }

  test("emit_process: .process unrolls for/emit fns into generated events") {
    val counts = runAll(s"$sc/emit_process.vpl", s"$sc/emit_process.evt")
    assert(counts("Pixels") == 6) // one Trigger -> 3x2 pixel grid
    val px = Vpl.runEvt(spark, read(s"$sc/emit_process.vpl"),
      Seq(s"$sc/emit_process.evt"))("Pixels").get
      .select("x", "y", "color").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(px == Set((0L, 0L, 0L), (1L, 0L, 1L), (2L, 0L, 2L),
      (0L, 1L, 3L), (1L, 1L, 4L), (2L, 1L, 5L)))
  }

  private def runAll(vpl: String, evt: String): Map[String, Long] =
    Vpl.runEvt(spark, read(vpl), Seq(evt)).map {
      case (n, scala.util.Success(df)) => n -> df.count()
      case (n, scala.util.Failure(e))  => fail(s"$vpl stream $n: $e")
    }

  test("financial_markets: joins, ema aggregates, compound and implicit aggs all run") {
    val counts = runAll(s"$ex/financial_markets.vpl",
      s"$sc/financial_markets.evt")
    assert(counts.size >= 25)
    assert(counts("Ticks") == 10)
    // stream-stream join + windowed bucket: EMA12 x EMA26 correlate
    assert(counts.contains("MACD") && counts.contains("TechnicalAnalysis"))
    // implicit windowed aggregate (first/last inside .where)
    assert(counts.contains("GoldenCross") && counts.contains("DeathCross"))
  }

  test("hvac_demo: sequences over derived streams and heterogeneous merge run") {
    val counts = runAll(s"$ex/hvac_demo.vpl", s"$sc/hvac_test.evt")
    assert(counts.size >= 20)
    assert(counts("Temperatures") > 0)
    assert(counts.contains("CascadeFailure"))
    assert(counts.contains("AllAlerts"))
  }

  test("functions.vpl: let-bound fn bodies and keyword field names run") {
    val counts = runAll(s"$ex/functions.vpl", s"$sc/order_payment_sequence.evt")
    assert(counts("OrderStream") == 3)
    assert(counts.contains("ValidatedOrders"))
  }

  test("streaming VPL: watermark_windowed runs as a true stream and matches batch") {
    val vpl = read(s"$sc/watermark_windowed.vpl")
    val batch = Vpl.runEvt(spark, vpl, Seq(s"$sc/watermark_windowed.evt"))("Windowed")
      .get.collect().map(_.getLong(0)).sorted.toSeq
    val streamed = Vpl.runEvtStreaming(spark, vpl,
      s"$sc/watermark_windowed.evt", "Windowed")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed batch=$batch")
    assert(batch == Seq(1L, 3L)) // [0,5)=3 events, [5,10)=1 event
  }

  test("streaming VPL: electrical per-building windowed aggregates match batch") {
    val vpl = read(s"$sc/electrical_consumption.vpl")
    val name = "BuildingConsumption"
    val batchDf = Vpl.runEvt(spark, vpl,
      Seq(s"$sc/electrical_consumption.evt"))(name).get
    val streamDf = Vpl.runEvtStreaming(spark, vpl,
      s"$sc/electrical_consumption.evt", name)
    assert(streamDf.columns.sorted.toSeq == batchDf.columns.sorted.toSeq)
    assert(streamDf.count() == batchDf.count(),
      s"stream=${streamDf.count()} batch=${batchDf.count()}")
    assert(streamDf.except(batchDf).count() == 0)
    assert(batchDf.except(streamDf).count() == 0)
  }

  test("every stream of every reference .vpl compiles and runs") {
    val empty = java.nio.file.Files.createTempFile("graft_empty", ".evt")
    java.nio.file.Files.writeString(empty, "# empty\n")
    val files = (new java.io.File(ex).listFiles ++ new java.io.File(sc).listFiles)
      .filter(_.getName.endsWith(".vpl")).sortBy(_.getName)
    var streams = 0
    val failures = files.flatMap { f =>
      Vpl.runEvt(spark, read(f.getPath), Seq(empty.toString)).flatMap {
        case (n, scala.util.Success(df)) => streams += 1; df.count(); None
        case (n, scala.util.Failure(e)) => Some(s"${f.getName}/$n: ${e.getMessage.take(80)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(streams >= 200, s"only $streams streams compiled")
  }

  test("every demo and benchmark stream compiles and runs too") {
    // beyond parsing: the Apama/Flink-comparison benchmark programs,
    // connector-comparison pipelines and live demos all compile to
    // runnable plans (unbound broker connectors degrade to no-ops by
    // design — the binding table supplies real ones at deploy time)
    val empty = java.nio.file.Files.createTempFile("graft_empty2", ".evt")
    java.nio.file.Files.writeString(empty, "# empty\n")
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap {
        case f if f.isDirectory => walk(f)
        case f if f.getName.endsWith(".vpl") => Seq(f)
        case _ => Nil
      }
    val files = (walk(new java.io.File(ReferenceCorpus.path("demos"))) ++
      walk(new java.io.File(ReferenceCorpus.path("benchmarks"))))
      .sortBy(_.getPath)
    var streams = 0
    val failures = files.flatMap { f =>
      scala.util.Try(Vpl.runEvt(spark, read(f.getPath), Seq(empty.toString)))
        .fold(e => Seq(s"${f.getPath}: PROGRAM ${e.getMessage.take(80)}"),
          _.flatMap {
            case (_, scala.util.Success(df)) => streams += 1; df.count(); None
            case (n, scala.util.Failure(e)) =>
              Some(s"${f.getPath}/$n: ${e.getMessage.take(80)}")
          })
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(streams >= 40, s"only $streams demo/bench streams compiled")
  }

  test("enrich joins a bound lookup broadcast, degrades to fallback unbound") {
    import spark.implicits._
    val vpl = read(s"$ex/enrich_weather.vpl")
    val evt = java.nio.file.Files.createTempFile("graft_weather", ".evt")
    java.nio.file.Files.writeString(evt,
      """Temperature { sensor_id: "s1", city: "Oslo", temperature: 31.0, humidity: 0.2 }
        |Temperature { sensor_id: "s2", city: "Nowhere", temperature: 35.0, humidity: 0.1 }
        |""".stripMargin)
    val weather = Seq(("Oslo", "rain", 12.0, 1.0))
      .toDF("city", "forecast", "wind_speed", "uv_index")
    val bound = Vpl.runEvt(spark, vpl, Seq(evt.toString),
      lookups = Map("WeatherAPI" -> weather))
    val alerts = bound("WeatherAlerts").get.collect()
    assert(alerts.length == 1) // Oslo: rain + >30°; Nowhere: no data
    assert(alerts.head.getAs[String]("city") == "Oslo")
    assert(alerts.head.getAs[String]("status") == "ok")
    // unbound connector → fallback literal + "fallback" status
    val unbound = Vpl.runEvt(spark, vpl, Seq(evt.toString))
    val temps = unbound("AllTemps").get.collect()
    assert(temps.length == 2)
    assert(temps.forall(_.getAs[String]("forecast") == "unavailable"))
  }

  test("forecast annotates partial matches with transition-model probability") {
    import spark.implicits._
    val vplText =
      """stream F = A as a
        |    -> B where k == a.k as b
        |    -> C where k == a.k as c
        |    .within(1h)
        |    .forecast(horizon: 10m)
        |    .emit(k: a.k, p: forecast_probability, n: forecast_count,
        |          conf: forecast_confidence, ghost: c.x,
        |          lo: forecast_lower, hi: forecast_upper,
        |          depth: forecast_context_depth)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_fc", ".evt")
    // key 1: A->B->C twice (C always follows B); key 2: A->B, no C yet
    java.nio.file.Files.writeString(evt,
      """A { k: 1 }
        |BATCH 1000
        |B { k: 1 }
        |BATCH 2000
        |C { k: 1, x: 7 }
        |BATCH 3000
        |A { k: 1 }
        |BATCH 4000
        |B { k: 1 }
        |BATCH 5000
        |C { k: 1, x: 8 }
        |BATCH 6000
        |A { k: 2 }
        |BATCH 7000
        |B { k: 2 }
        |""".stripMargin)
    val rows = Vpl.runEvt(spark, vplText, Seq(evt.toString))("F").get.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // every B observed is followed by C → P(C | B) = 1.0, 2 observations
      assert(r.getAs[Double]("p") == 1.0, r)
      assert(r.getAs[Long]("n") == 2L, r)
      assert(math.abs(r.getAs[Double]("conf") - 2.0 / 3.0) < 1e-9, r)
      assert(r.isNullAt(r.fieldIndex("ghost")), "truncated step must be NULL")
      // p = 1.0 -> two-point residual mass is all at 0: q90 = 0,
      // interval collapses to [1, 1]; depth = matched context depth
      assert(r.getAs[Double]("lo") == 1.0, r)
      assert(r.getAs[Double]("hi") == 1.0, r)
      assert(r.getAs[Int]("depth") >= 1, r)
    }
  }

  test(".forecast modes and params: fast/accurate, conformal/hawkes/confidence") {
    // key 1 completes A->B->C nine times, then one A->B followed by D:
    // P(C | A>B) = 0.9 — in the two-point-residual regime where the
    // conformal interval genuinely narrows ([0.8, 1.0]) AND below 1.0
    // so the confidence threshold and Hawkes boost are observable
    val evt = java.nio.file.Files.createTempFile("graft_fc_modes", ".evt")
    val runs = (0 until 9).map { i =>
      val t = i * 3000
      s"""A { k: 1 }
         |BATCH ${t + 1000}
         |B { k: 1 }
         |BATCH ${t + 2000}
         |C { k: 1, x: $i }
         |BATCH ${t + 3000}""".stripMargin
    }.mkString("\n")
    java.nio.file.Files.writeString(evt,
      runs + "\nA { k: 1 }\nBATCH 28000\nB { k: 1 }\nBATCH 29000\nD { k: 1 }\n")
    def run(params: String): Seq[org.apache.spark.sql.Row] = {
      val vplText =
        s"""stream F = A as a
           |    -> B where k == a.k as b
           |    -> C where k == a.k as c
           |    .within(1h)
           |    .forecast($params)
           |    .emit(k: a.k, p: forecast_probability,
           |          lo: forecast_lower, hi: forecast_upper,
           |          depth: forecast_context_depth)
           |""".stripMargin
      Vpl.runEvt(spark, vplText, Seq(evt.toString))("F").get.collect().toSeq
    }
    val plain = run("horizon: 10m")
    assert(plain.nonEmpty)
    val p0 = plain.head.getAs[Double]("p")
    assert(p0 > 0.0 && p0 < 1.0, s"threshold-observable probability: $p0")
    // fast mode: conformal off -> maximal-uncertainty interval
    val fast = run("mode: \"fast\"")
    assert(fast.nonEmpty)
    assert(fast.forall(r => r.getAs[Double]("lo") == 0.0 &&
      r.getAs[Double]("hi") == 1.0), "fast mode disables conformal")
    // fast but conformal kept: interval narrows again
    val fastC = run("mode: \"fast\", conformal: true")
    assert(fastC.forall(r => r.getAs[Double]("hi") < 1.0 ||
      r.getAs[Double]("lo") > 0.0), "explicit conformal overrides the mode")
    // confidence threshold: emits at/above, suppresses below
    assert(run(s"confidence: ${p0 - 0.1}").nonEmpty)
    assert(run(s"confidence: ${math.min(p0 + 0.1, 0.99)}").isEmpty,
      "below-threshold forecasts are not emitted")
    // hawkes modulation only ever boosts (clamped to [1,5]x, <=1.0)
    val hawkes = run("hawkes: true")
    assert(hawkes.nonEmpty)
    assert(hawkes.forall(r => r.getAs[Double]("p") >= p0 &&
      r.getAs[Double]("p") <= 1.0))
    // accurate mode runs (depth cap 5, hawkes+conformal on)
    val acc = run("mode: \"accurate\"")
    assert(acc.nonEmpty)
    assert(acc.forall(r => r.getAs[Int]("depth") <= 5))
    // unknown mode is a compile error
    assert(Vpl.runEvt(spark,
      """stream F = A as a -> B where k == a.k as b -> C where k == a.k as c
        |    .within(1h) .forecast(mode: "warp") .emit(k: a.k)
        |""".stripMargin, Seq(evt.toString))("F").isFailure)
    // non-numeric confidence must not silently compile as "no
    // threshold", and out-of-range values are rejected too
    for (bad <- Seq("confidence: \"high\"", "confidence: 1.5"))
      assert(Vpl.runEvt(spark,
        s"""stream F = A as a -> B where k == a.k as b -> C where k == a.k as c
           |    .within(1h) .forecast($bad) .emit(k: a.k)
           |""".stripMargin, Seq(evt.toString))("F").isFailure,
        s"$bad must be a compile error")
  }

  test(".to(Conn) writes through a bound sink connector, no-ops unbound") {
    val vpl =
      """stream Out = Ping
        |    .where(v > 1.0)
        |    .emit(k: k, v: v)
        |    .to(Archive)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_sink", ".evt")
    java.nio.file.Files.writeString(evt,
      """Ping { k: 1, v: 2.0 }
        |Ping { k: 2, v: 0.5 }
        |""".stripMargin)
    val outDir = java.nio.file.Files.createTempDirectory("graft_sink_out_").toString
    val prog = VplParser.parse(vpl)
    val decls = prog.events.map(e => e.name -> e).toMap
    // bound: the emit result lands in the sink
    new VplCompiler(prog, new EvtSource(spark, Seq(evt.toString), decls),
      sinks = Map("Archive" -> graft.sources.FileConnector(
        "Archive", s"$outDir/archive", "parquet"))).compileAllStrict()
    val written = spark.read.parquet(s"$outDir/archive").collect()
    assert(written.length == 1)
    assert(written.head.getAs[Long]("k") == 1L)
    // unbound: compiles and runs with no side effects
    val res = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out")
    assert(res.get.count() == 1)
  }

  test("streaming VPL sequence: generic NFA matches the batch compiler") {
    val vpl =
      """stream Chain = A as a
        |    -> B where id == a.id as b
        |    -> C where id == a.id as c
        |    .within(10m)
        |    .watermark(out_of_order: 1s)
        |    .emit(id: a.id, b_id: b.event_id, c_ts: c.ts)
        |""".stripMargin
    val evt = s"$sc/three_step_sequence.evt"
    val batch = Vpl.runEvt(spark, vpl, Seq(evt))("Chain").get
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val streamed = Vpl.runEvtStreaming(spark, vpl, evt, "Chain")
    assert(streamed.columns.toSeq == Seq("id", "b_id", "c_ts"))
    val ids = streamed.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == batch, s"streaming=$ids batch=$batch")
    assert(ids == Seq(1L, 4L)) // complete in-order chains only
    // payload carry: c_ts is the real event time of the final step
    val cts = streamed
      .filter(org.apache.spark.sql.functions.col("id") === 1L)
      .select("c_ts").head.getTimestamp(0)
    assert(cts != null)
  }

  test("streaming VPL sequence: cxo_fraud CardTesting matches its batch result") {
    // the reference scenario's own Kleene card-testing chain, run as
    // a true stream (all steps correlate on card_id — NFA-eligible)
    val vpl =
      """stream CardTesting = SmallPurchase as first
        |    -> all SmallPurchase where card_id == first.card_id as tests
        |    -> LargePurchase where card_id == first.card_id as large
        |    .within(60m)
        |    .watermark(out_of_order: 1s)
        |    .emit(card_id: first.card_id, large_amount: large.amount)
        |""".stripMargin
    val evt = s"$sc/cxo_fraud_detection.evt"
    val batch = Vpl.runEvt(spark, vpl, Seq(evt))("CardTesting").get
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val streamed = Vpl.runEvtStreaming(spark, vpl, evt, "CardTesting")
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed batch=$batch")
    assert(streamed.nonEmpty &&
      streamed.forall(_._1 == "stolen_card_42"))
  }

  test("streaming VPL sequence with .not: AccountTakeover matches batch, negation retracts") {
    val vpl =
      """stream AccountTakeover = Login as login
        |    -> PasswordChange where user_id == login.user_id as pwd
        |    -> Purchase where user_id == login.user_id as purchase
        |    .within(30m)
        |    .not(Logout where user_id == login.user_id)
        |    .watermark(out_of_order: 1s)
        |    .emit(user_id: login.user_id, amount: purchase.amount)
        |""".stripMargin
    val evt = s"$sc/cxo_fraud_detection.evt"
    val batch = Vpl.runEvt(spark, vpl, Seq(evt))("AccountTakeover").get
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val streamed = Vpl.runEvtStreaming(spark, vpl, evt, "AccountTakeover")
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed batch=$batch")
    assert(streamed.nonEmpty && streamed.forall(_._1 == "attacker1"),
      s"only the attacker's takeover chain should fire: $streamed")
  }

  test("EVERY scenario .vpl+.evt pair runs as a true stream and matches batch") {
    // full-corpus streaming coverage: each stream of each scenario
    // that ships a paired .evt runs end-to-end in Structured
    // Streaming mode and reproduces the batch compiler's rows
    val pairs = new java.io.File(sc).listFiles
      .filter(_.getName.endsWith(".vpl")).sortBy(_.getName)
      .filter(f => new java.io.File(
        f.getPath.stripSuffix(".vpl") + ".evt").exists)
    assert(pairs.length >= 10)
    val failures = scala.collection.mutable.Buffer.empty[String]
    var checked = 0
    for (f <- pairs) {
      val evt = f.getPath.stripSuffix(".vpl") + ".evt"
      val text = read(f.getPath)
      val prog = VplParser.parse(text)
      val batch = Vpl.runEvt(spark, text, Seq(evt))
      for (s <- prog.streams) {
        // raw carried `ts` columns are excluded: .evt times are
        // relative, and the two paths stage them on different base
        // epochs (values derived FROM ts — spans, windows — are
        // computed fields and stay compared)
        def rows(df: org.apache.spark.sql.DataFrame) = {
          val cols = df.columns.filterNot(_ == "ts")
          df.select(cols.head, cols.tail: _*)
            .collect().map(_.toString).sorted.toSeq
        }
        val b = batch(s.name).map(rows)
        val r = scala.util.Try(
          rows(Vpl.runEvtStreaming(spark, text, evt, s.name)))
        (b, r) match {
          case (scala.util.Success(bc), scala.util.Success(rc)) =>
            checked += 1
            if (bc != rc) failures +=
              s"${f.getName}/${s.name}: batch=${bc.size} rows, stream=${rc.size} rows (or value diff)"
          case (scala.util.Success(_), scala.util.Failure(e)) =>
            failures += s"${f.getName}/${s.name}: streaming failed: ${e.getMessage.take(100)}"
          case _ => () // batch itself failing is covered elsewhere
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(checked >= 22, s"expected >= 22 streaming-checked streams, got $checked")
  }

  test("stream join rejects a cartesian (.on must link every input)") {
    val bad =
      """stream A = X .window(1m) .aggregate(n: count())
        |stream B = Y .window(1m) .aggregate(n: count())
        |stream J = join(A, B) .on(1 == 1) .emit(n: 1)
        |""".stripMargin
    val res = Vpl.runEvt(spark, bad,
      Seq(s"$sc/order_payment_sequence.evt"))("J")
    assert(res.isFailure)
    assert(res.failed.get.getMessage.contains("cartesian"))
  }
}
