package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources._
import graft.vpl._

/** ALL SEVEN reference kafka benchmark programs
  * (benchmarks/connector-comparison/varpulis/kafka/01-07) run VERBATIM
  * end-to-end over the loopback wire-protocol broker — produce →
  * poller spool → VPL compile (aggregation, count windows, EMA,
  * stream joins, Kleene pattern, SASE sequence) → produce to the
  * output topic. Inputs replicate run_benchmark.py's generate_events
  * at small counts; expectations are recomputed independently in the
  * test from the same inputs (01 lives in VplConnectorBindSpec).
  */
class VplKafkaBenchSpec extends SparkSpec {

  private def benchDir =
    ReferenceCorpus.path("benchmarks/connector-comparison/varpulis/kafka")

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  private def emptyEvtSource: EvtSource = {
    val f = java.nio.file.Files.createTempFile("graft_kb_empty", ".evt")
    new EvtSource(spark, Seq(f.toString), Map.empty)
  }

  /** Run one program verbatim: produce `inputs` (topic → JSON lines,
    * each topic in ONE batch so spool order is produce order), spool
    * through real pollers, compile `streamName` (which also produces
    * to the program's output topic), and return (result rows,
    * output-topic payloads).
    */
  private def run(file: String, inputs: Seq[(String, Seq[String])],
      streamName: String, outTopic: String)
      : (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val srv = new MiniKafkaBroker(numPartitions = 1)
    try {
      val vpl = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$benchDir/$file")), UTF_8)
        .replace("localhost:9092", s"127.0.0.1:${srv.port}")
      val prog = VplParser.parse(vpl)
      val conns = ConnectorBinder.bind(prog)
      val kc = conns("Broker").asInstanceOf[KafkaConnector]
      val pre = new KafkaClient("127.0.0.1", srv.port)
      inputs.foreach { case (topic, lines) =>
        pre.partitions(topic)
        pre.produce(topic, 0, lines.map(l => (None, l)))
      }
      pre.close()
      inputs.foreach { case (topic, lines) =>
        val p = KafkaPoller.start(
          () => new KafkaClient("127.0.0.1", srv.port), topic,
          s"${kc.spoolDir}/$topic", startAt = "earliest",
          pollIntervalMs = 20L)
        try assert(awaitTrue(5000)(p.recordCount == lines.size),
          s"$topic spooled ${p.recordCount}/${lines.size}")
        finally p.stop()
      }
      val c = new VplCompiler(prog, emptyEvtSource,
        sinks = conns, sourceConns = conns)
      val out = c.stream(streamName)
      out.collect() // materialize before reading the topic back
      val check = new KafkaClient("127.0.0.1", srv.port)
      val payloads =
        try check.partitions(outTopic).flatMap { p =>
          check.fetch(outTopic, p, 0L)._1
        }.map(r => new String(r.value, UTF_8))
        finally check.close()
      (out, payloads)
    } finally srv.stop()
  }

  private def approx(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("02_aggregation: per-symbol VWAP over count windows of 100") {
    val n = 250
    val price = (i: Int) => 100.0 + (i % 50) * 0.1
    val volume = (i: Int) => 100.0 + (i % 900)
    val lines = (0 until n).map(i =>
      s"""{"symbol":"ACME","price":${price(i)},"volume":${volume(i)}}""")
    val (out, wire) = run("02_aggregation.vpl",
      Seq("bench-02-input" -> lines), "VWAP", "bench-02-output")
    // expectation: two FULL windows (0-99, 100-199); the partial 200-249
    // never fires (reference CountWindow semantics)
    val expected = (0 until 2).map { w =>
      val is = (w * 100) until ((w + 1) * 100)
      val pv = is.map(i => price(i) * volume(i)).sum
      val vol = is.map(volume).sum
      (pv / vol, vol, 100L)
    }
    val got = out.select("symbol", "vwap", "total_volume", "trade_count")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._3)
    assert(got.length == 2, s"got ${got.length} windows")
    got.zip(expected.sortBy(_._2)).foreach { case (g, e) =>
      assert(g._1 == "ACME")
      assert(approx(g._2, e._1), s"vwap ${g._2} vs ${e._1}")
      assert(approx(g._3, e._2))
      assert(g._4 == e._3)
    }
    assert(wire.size == 2 &&
      wire.forall(_.contains(""""event_type":"VWAPUpdate"""")))
  }

  test("03_temporal: fraud join of Transactions against latest Logins") {
    val n = 30
    val logins = (0 until n).filter(_ % 3 == 0).map(i =>
      s"""{"user_id":"user_$i","ip":"192.168.1.$i","device":"mobile"}""")
    val txIdx = (0 until n).filterNot(_ % 3 == 0)
    val txs = txIdx.map(i =>
      s"""{"user_id":"user_${(i / 3) * 3}","amount":${6000.0 + i},"ip":"10.0.0.$i","merchant":"Store"}""")
    val (out, wire) = run("03_temporal.vpl",
      Seq("bench-03-Login" -> logins, "bench-03-Transaction" -> txs),
      "FraudDetection", "bench-03-output")
    // every generated transaction is >5000 from a different IP than its
    // user's single login → one alert per transaction
    val expected = txIdx.map { i =>
      (s"user_${(i / 3) * 3}", s"192.168.1.${(i / 3) * 3}", s"10.0.0.$i",
        6000.0 + i)
    }.toSet
    val got = out.select("user_id", "login_ip", "tx_ip", "amount")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(got == expected, s"got ${got.size} alerts vs ${expected.size}")
    assert(wire.size == expected.size &&
      wire.forall(_.contains(""""event_type":"FraudAlert"""")))
  }

  test("04_kleene: rising-sequence pattern equals the evt-path compile") {
    val n = 20
    def gen(i: Int): (String, Double) = {
      val symbol = Seq("AAPL", "GOOG")(i % 2)
      val seqPos = (i / 2) % 5
      val base = 100.0 + ((i / 10) % 100) * 10
      val p = if (seqPos < 4) base + seqPos * 2.0 else base - 5.0
      (symbol, p)
    }
    val lines = (0 until n).map { i =>
      val (s, p) = gen(i)
      s"""{"symbol":"$s","price":$p,"volume":1000}"""
    }
    val (out, wire) = run("04_kleene.vpl",
      Seq("bench-04-input" -> lines), "PriceSpikes", "bench-04-output")
    val got = out.select("symbol", "start_price", "end_price", "spike_count")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toSet
    // independent expectation: the SAME events through the .evt route
    // (pattern semantics are oracle-pinned by p7/p12; this pins the
    // connector route to them)
    val evt = java.nio.file.Files.createTempFile("graft_kb04", ".evt")
    java.nio.file.Files.write(evt, (0 until n).map { i =>
      val (s, p) = gen(i)
      s"""StockTick { symbol: "$s", price: $p, volume: 1000 }"""
    }.mkString("\n").getBytes(UTF_8))
    val vpl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$benchDir/04_kleene.vpl")), UTF_8)
    val exp = Vpl.runEvt(spark, vpl, Seq(evt.toString))("PriceSpikes").get
      .select("symbol", "start_price", "end_price", "spike_count")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got == exp, s"connector route $got vs evt route $exp")
    assert(got.nonEmpty, "rising sequences must fire")
    assert(got.forall { case (_, s, e, k) => e > s && k >= 1 })
    assert(got.map(_._1) == Set("AAPL", "GOOG"))
    assert(wire.size == got.size &&
      wire.forall(_.contains(""""event_type":"PriceSpike"""")))
  }

  test("05_ema_crossover: fast/slow EMA windows joined per symbol") {
    val n = 120
    val price = (i: Int) =>
      100.0 + math.sin(i / 50.0) * 20 + (i % 5) * 0.1
    val lines = (0 until n).map(i =>
      s"""{"symbol":"AAPL","price":${price(i)},"volume":1000}""")
    val (out, wire) = run("05_ema_crossover.vpl",
      Seq("bench-05-input" -> lines), "Crossover", "bench-05-output")
    def ema(vals: Seq[Double], p: Int): Double = {
      val a = 2.0 / (p + 1)
      vals.reduceLeft((acc, v) => a * v + (1 - a) * acc)
    }
    val fast = (0 until n / 12).map(w =>
      ema((w * 12 until (w + 1) * 12).map(price), 12))
    val slow = (0 until n / 26).map(w =>
      ema((w * 26 until (w + 1) * 26).map(price), 26))
    val expected = (for {
      f <- fast; s <- slow
      if math.abs(f - s) > 0.5
    } yield (f, s, if (f > s) "buy" else "sell")).toSet
    val got = out.select("fast_ema", "slow_ema", "signal", "strength")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getString(2),
        r.getDouble(3)))
    assert(got.length == expected.size,
      s"${got.length} crossover rows vs ${expected.size}")
    // match each row to an expected pair within fp tolerance
    got.foreach { case (f, s, sig, st) =>
      assert(expected.exists { case (ef, es, esig) =>
        approx(f, ef) && approx(s, es) && sig == esig
      }, s"unexpected row ($f, $s, $sig)")
      assert(approx(st, math.abs(f - s)))
    }
    assert(wire.size == got.length &&
      wire.forall(_.contains(""""event_type":"CrossoverSignal"""")))
  }

  test("06_multi_sensor: correlated anomalies across two sensor streams") {
    val n = 2000
    // generator: even i → temperature, odd i → pressure
    case class R(zone: String, value: Double)
    val temps = (0 until n).filter(_ % 2 == 0).map { i =>
      val spike = if (i % 20 == 0) 25.0 else 0.0
      R(s"zone_${i % 5}", 20.0 + (i % 10) + spike)
    }
    val pressures = (0 until n).filter(_ % 2 == 1).map { i =>
      val spike = if (i % 20 == 1) 50.0 else 0.0
      R(s"zone_${i % 5}", 1000.0 + (i % 50) + spike)
    }
    def fmt(r: R, sensor: String) =
      s"""{"sensor_id":"$sensor","location":"${r.zone}","value":${r.value}}"""
    val (out, wire) = run("06_multi_sensor.vpl",
      Seq("bench-06-TemperatureReading" -> temps.map(fmt(_, "t")),
        "bench-06-PressureReading" -> pressures.map(fmt(_, "p"))),
      "CorrelatedAnomalies", "bench-06-output")
    def stats(rs: Seq[R], minStd: Double): Map[String, Seq[(Double, Double)]] =
      rs.groupBy(_.zone).view.mapValues { zrs =>
        zrs.grouped(100).filter(_.size == 100).map { w =>
          val vals = w.map(_.value)
          val avg = vals.sum / vals.size
          val varS = vals.map(v => (v - avg) * (v - avg)).sum / (vals.size - 1)
          (avg, math.sqrt(varS))
        }.filter(_._2 > minStd).toSeq
      }.toMap
    val ts = stats(temps, 5.0)
    val ps = stats(pressures, 10.0)
    val expected = (for {
      zone <- (ts.keySet ++ ps.keySet).toSeq
      (ta, tstd) <- ts.getOrElse(zone, Nil)
      (pa, pstd) <- ps.getOrElse(zone, Nil)
      score = (tstd / 10.0) * (pstd / 20.0)
      if score > 0.5
    } yield (zone, ta, tstd, pa, pstd, score))
    val got = out.select("location", "temp_avg", "temp_std",
      "pressure_avg", "pressure_std", "correlation_score")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length == expected.size,
      s"${got.length} anomalies vs ${expected.size}")
    assert(got.nonEmpty, "the generator injects variance spikes on purpose")
    got.foreach { case (z, ta, tstd, pa, pstd, sc) =>
      assert(expected.exists { case (ez, eta, etstd, epa, epstd, esc) =>
        z == ez && approx(ta, eta) && approx(tstd, etstd) &&
          approx(pa, epa) && approx(pstd, epstd) && approx(sc, esc)
      }, s"unexpected anomaly ($z, $ta, $tstd, $pa, $pstd, $sc)")
    }
    assert(wire.size == got.length &&
      wire.forall(_.contains(""""event_type":"CorrelatedAnomaly"""")))
  }

  test("07_sequence: A->B matching across two topics by payload event time") {
    val n = 20
    // the reference engine sequences on kafka arrival order; the
    // deterministic equivalent here is payload-carried event time —
    // A_i strictly before B_i
    def ts(ms: Int) = f"2026-01-01T00:00:${ms / 1000}%02d.${ms % 1000}%03d"
    val as = (0 until n).map(i =>
      s"""{"id":$i,"ts":"${ts(2 * i)}"}""")
    val bs = (0 until n).map(i =>
      s"""{"id":$i,"ts":"${ts(2 * i + 1)}"}""")
    val (out, wire) = run("07_sequence.vpl",
      Seq("bench-07-A" -> as, "bench-07-B" -> bs),
      "Matches", "bench-07-output")
    val got = out.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 until n).map(i => (i.toLong, i.toLong)).toSet,
      s"got ${got.size} matches")
    assert(wire.size == n &&
      wire.forall(_.contains(""""event_type":"Match"""")))
  }
}
