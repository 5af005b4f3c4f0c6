package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources._
import graft.vpl._

/** ALL SEVEN reference MQTT benchmark programs
  * (benchmarks/connector-comparison/varpulis/mqtt/01-07) run VERBATIM
  * end-to-end over the loopback MQTT broker — publish → subscriber
  * spool → VPL compile → publish to the program's output topic —
  * completing the connector-comparison family (kafka landed r12).
  * Unlike the flink scenarios these declare their own `.from`/`.to`
  * wiring, including slash-y topics (`bench/01/input`) that exercise
  * the spool-dir sanitization.
  *
  * Expectation strategy: each program's events run through BOTH the
  * MQTT route and the .evt route (the same program text compiles
  * against the EvtSource when no connector binding is supplied — the
  * VplCoverageSpec degradation), and the row sets must be IDENTICAL;
  * the .evt route's semantics are pinned by the kafka twin's
  * hand-computed expectations (VplKafkaBenchSpec runs byte-identical
  * pipelines) and the p7/p12/w4 oracles. 01's filter is additionally
  * hand-asserted. The output topic must deliver exactly the result
  * rows (a live subscriber captures the sink's QoS-0 publishes).
  */
class VplMqttBenchSpec extends SparkSpec {

  private def benchDir =
    ReferenceCorpus.path("benchmarks/connector-comparison/varpulis/mqtt")

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  private def emptyEvtSource: EvtSource = {
    val f = java.nio.file.Files.createTempFile("graft_mb_empty", ".evt")
    new EvtSource(spark, Seq(f.toString), Map.empty)
  }

  /** Run one program over the MQTT loopback AND over .evt with the
    * same events; returns (mqtt rows, evt rows, out-topic payloads).
    * `inputs` maps the program's input topic to (eventType, JSON
    * line, evt line) triples.
    */
  private def run(file: String,
      inputs: Seq[(String, Seq[(String, String)])],
      streamName: String, outTopic: String)
      : (Seq[Seq[Any]], Seq[Seq[Any]], Seq[String]) = {
    val broker = new MiniMqttBroker()
    try {
      val vpl = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$benchDir/$file")), UTF_8)
        .replace("\"localhost\"", "\"127.0.0.1\"")
        .replace("port: 1884", s"port: ${broker.port}")
      val prog = VplParser.parse(vpl)
      val conns = ConnectorBinder.bind(prog)
      val mc = conns("Broker").asInstanceOf[MqttConnector]
      // capture the sink's publishes: subscribe BEFORE compiling
      // (MQTT has no replay)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_mb_out").toString
      val outSub = MqttSubscriber.start("127.0.0.1", broker.port,
        outTopic, outDir, clientId = "graft-mb-out")
      try {
        inputs.zipWithIndex.foreach { case ((topic, lines), i) =>
          val landing = mc.withTarget(topic)
            .asInstanceOf[MqttConnector].spoolDir
          val sub = MqttSubscriber.start("127.0.0.1", broker.port, topic,
            landing, clientId = s"graft-mb-sub-$i")
          val pub = new MqttClient("127.0.0.1", broker.port, s"graft-mb-pub-$i")
          try {
            pub.publishAll(topic, lines.map(_._2), qos = 1)
            assert(awaitTrue(5000)(sub.messageCount == lines.size),
              s"$topic spooled ${sub.messageCount}/${lines.size}")
          } finally { pub.close(); sub.stop() }
        }
        val c = new VplCompiler(prog, emptyEvtSource,
          sinks = conns, sourceConns = conns)
        val mqttDf = c.stream(streamName)
        val mqttRows = mqttDf.collect().map(_.toSeq).toSeq

        // the same events through the .evt route (no bindings)
        val evt = java.nio.file.Files.createTempFile("graft_mb", ".evt")
        java.nio.file.Files.write(evt,
          inputs.flatMap(_._2).map(_._1).mkString("", "\n", "\n")
            .getBytes(UTF_8))
        val evtDf = Vpl.runEvt(spark, vpl, Seq(evt.toString))(streamName).get
          .select(mqttDf.columns.map(org.apache.spark.sql.functions.col): _*)
        val evtRows = evtDf.collect().map(_.toSeq).toSeq

        assert(awaitTrue(5000)(outSub.messageCount == mqttRows.size),
          s"$outTopic delivered ${outSub.messageCount}/${mqttRows.size}")
        val payloads =
          if (mqttRows.isEmpty) Seq.empty
          else spark.read.text(outDir).collect().map(_.getString(0)).toSeq
        (mqttRows, evtRows, payloads)
      } finally outSub.stop()
    } finally broker.stop()
  }

  private def jsonAndEvt(tpe: String, fields: Seq[(String, Any)])
      : (String, String) = {
    def js(v: Any) = v match {
      case s: String => s""""$s""""
      case o         => o.toString
    }
    val json = fields.map { case (k, v) => s""""$k":${js(v)}""" }
      .mkString("{", ",", "}")
    val evtF = fields.map { case (k, v) => s"$k: ${js(v)}" }
      .mkString(s"$tpe { ", ", ", " }")
    (evtF, json)
  }

  test("01_filter: mqtt route == evt route == hand expectation; sink delivers") {
    val n = 40
    val lines = (0 until n).map { i =>
      jsonAndEvt("StockTick", Seq(
        "symbol" -> Seq("AAA", "BBB", "CCC")(i % 3),
        "price" -> (40.0 + i * 2), "volume" -> (100 + i)))
    }
    val (mqtt, evtR, wire) = run("01_filter.vpl",
      Seq("bench/01/input" -> lines), "Filtered", "bench/01/output")
    assert(mqtt.toSet == evtR.toSet, "routes differ")
    // hand expectation: price 40+2i > 50 ⟺ i >= 6
    assert(mqtt.size == n - 6, s"${mqtt.size} filtered rows")
    assert(wire.size == mqtt.size &&
      wire.forall(_.contains(""""event_type":"FilteredTick"""")))
  }

  test("02_aggregation: per-symbol VWAP count windows over mqtt") {
    val n = 250
    val lines = (0 until n).map(i => jsonAndEvt("Trade", Seq(
      "symbol" -> "ACME", "price" -> (100.0 + (i % 50) * 0.1),
      "volume" -> (100.0 + (i % 900)))))
    val (mqtt, evtR, wire) = run("02_aggregation.vpl",
      Seq("bench/02/input" -> lines), "VWAP", "bench/02/output")
    assert(mqtt.toSet == evtR.toSet, "routes differ")
    assert(mqtt.size == 2, s"two full 100-count windows, got ${mqtt.size}")
    assert(wire.size == 2)
  }

  test("03_temporal: fraud join across two mqtt topics") {
    val n = 30
    val logins = (0 until n).filter(_ % 3 == 0).map(i => jsonAndEvt("Login",
      Seq("user_id" -> s"user_$i", "ip" -> s"192.168.1.$i",
        "device" -> "mobile")))
    val txs = (0 until n).filterNot(_ % 3 == 0).map(i =>
      jsonAndEvt("Transaction", Seq("user_id" -> s"user_${(i / 3) * 3}",
        "amount" -> (6000.0 + i), "ip" -> s"10.0.0.$i",
        "merchant" -> "Store")))
    val (mqtt, _, wire) = run("03_temporal.vpl",
      Seq("bench/03/Login" -> logins, "bench/03/Transaction" -> txs),
      "FraudDetection", "bench/03/output")
    // one alert per transaction (every tx > 5000 from a foreign IP,
    // one login per user) — the kafka twin's hand expectation
    assert(mqtt.size == txs.size, s"${mqtt.size} alerts vs ${txs.size}")
    assert(wire.size == mqtt.size &&
      wire.forall(_.contains(""""event_type":"FraudAlert"""")))
  }

  test("05_ema_crossover: fast/slow EMA join over mqtt") {
    val n = 120
    val lines = (0 until n).map(i => jsonAndEvt("StockTick", Seq(
      "symbol" -> "AAPL",
      "price" -> (100.0 + math.sin(i / 50.0) * 20 + (i % 5) * 0.1),
      "volume" -> 1000)))
    val (mqtt, evtR, wire) = run("05_ema_crossover.vpl",
      Seq("bench/05/input" -> lines), "Crossover", "bench/05/output")
    assert(mqtt.toSet == evtR.toSet, "routes differ")
    assert(mqtt.nonEmpty, "the ±20 swing must produce crossover signals")
    assert(wire.size == mqtt.size &&
      wire.forall(_.contains(""""event_type":"CrossoverSignal"""")))
  }

  test("06_multi_sensor: correlated anomalies across two mqtt topics") {
    val n = 2000
    val temps = (0 until n).filter(_ % 2 == 0).map { i =>
      jsonAndEvt("TemperatureReading", Seq("sensor_id" -> "t",
        "location" -> s"zone_${i % 5}",
        "value" -> (20.0 + (i % 10) + (if (i % 20 == 0) 25.0 else 0.0))))
    }
    val pressures = (0 until n).filter(_ % 2 == 1).map { i =>
      jsonAndEvt("PressureReading", Seq("sensor_id" -> "p",
        "location" -> s"zone_${i % 5}",
        "value" -> (1000.0 + (i % 50) + (if (i % 20 == 1) 50.0 else 0.0))))
    }
    val (mqtt, _, wire) = run("06_multi_sensor.vpl",
      Seq("bench/06/TemperatureReading" -> temps,
        "bench/06/PressureReading" -> pressures),
      "CorrelatedAnomalies", "bench/06/output")
    assert(mqtt.nonEmpty, "the injected variance spikes must correlate")
    assert(wire.size == mqtt.size &&
      wire.forall(_.contains(""""event_type":"CorrelatedAnomaly"""")))
  }

  test("04_kleene: rising-sequence pattern over mqtt") {
    val n = 20
    def gen(i: Int): (String, Double) = {
      val symbol = Seq("AAPL", "GOOG")(i % 2)
      val seqPos = (i / 2) % 5
      val base = 100.0 + ((i / 10) % 100) * 10
      (symbol, if (seqPos < 4) base + seqPos * 2.0 else base - 5.0)
    }
    val lines = (0 until n).map { i =>
      val (s, p) = gen(i)
      jsonAndEvt("StockTick", Seq("symbol" -> s, "price" -> p,
        "volume" -> 1000))
    }
    val (mqtt, evtR, wire) = run("04_kleene.vpl",
      Seq("bench/04/input" -> lines), "PriceSpikes", "bench/04/output")
    assert(mqtt.toSet == evtR.toSet, "routes differ")
    assert(mqtt.nonEmpty, "rising sequences must fire")
    assert(wire.size == mqtt.size &&
      wire.forall(_.contains(""""event_type":"PriceSpike"""")))
  }

  test("07_sequence: A->B across two mqtt topics by payload event time") {
    val n = 20
    def ts(ms: Int) = f"2026-01-01T00:00:${ms / 1000}%02d.${ms % 1000}%03d"
    val as = (0 until n).map(i => jsonAndEvt("A", Seq(
      "id" -> i, "ts" -> ts(2 * i))))
    val bs = (0 until n).map(i => jsonAndEvt("B", Seq(
      "id" -> i, "ts" -> ts(2 * i + 1))))
    val (mqtt, _, wire) = run("07_sequence.vpl",
      Seq("bench/07/A" -> as, "bench/07/B" -> bs),
      "Matches", "bench/07/output")
    // evt-route interleaving differs (single file vs two topics), so
    // 07 pins the hand expectation directly: one match per id pair
    // (columns: event_type, a_id, b_id)
    val got = mqtt.map(r => (r(1), r(2))).toSet
    assert(got == (0 until n).map(i => (i.toLong, i.toLong)).toSet,
      s"got $got")
    assert(wire.size == n &&
      wire.forall(_.contains(""""event_type":"Match"""")))
  }
}
