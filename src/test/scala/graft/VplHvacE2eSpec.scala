package graft

import graft.sources._
import graft.vpl._

/** The reference's hvac-e2e INTEGRATION test
  * (tests/integration/hvac-e2e/: docker-compose with mosquitto +
  * kafka, producer.py publishing a deterministic reading sequence,
  * consumer.py validating the alert topic) runs VERBATIM over the
  * loopback fixtures — the one reference pipeline that crosses
  * transports: MQTT source in, KAFKA sink out. Pinned to consumer.py's
  * documented contract: exactly 5 alerts — 3 HIGH_TEMPERATURE
  * (30/33/35 > 28) + 2 LOW_TEMPERATURE (12/14 < 16) — with the exact
  * zone/sensor/temperature fields, fetched back off the broker the
  * way the real consumer does.
  */
class VplHvacE2eSpec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  test("hvac-e2e: MQTT readings in, Kafka alerts out, consumer.py's exact contract") {
    val mqtt = new MiniMqttBroker()
    val kafka = new MiniKafkaBroker(numPartitions = 1)
    try {
      val vpl = ReferenceCorpus
        .read("tests/integration/hvac-e2e/hvac_pipeline.vpl")
        .replace("\"mosquitto\"", "\"127.0.0.1\"")
        .replace("port: 1883", s"port: ${mqtt.port}")
        .replace("\"kafka:29092\"", s"\"127.0.0.1:${kafka.port}\"")
      val prog = VplParser.parse(vpl)
      val conns = ConnectorBinder.bind(prog)
      val mc = conns("MqttSensors").asInstanceOf[MqttConnector]

      // producer.py's EVENTS list, verbatim values and order
      val events = Seq(
        ("S1", "A", 22.0), ("S2", "B", 21.5), ("S1", "A", 23.0),
        ("S3", "C", 20.0), ("S2", "B", 25.0),
        ("S1", "A", 30.0), ("S2", "B", 33.0), ("S3", "C", 35.0),
        ("S1", "A", 12.0), ("S2", "B", 14.0))
      val topic = "varpulis/events/TemperatureReading"
      val landing = mc.withTarget(topic).asInstanceOf[MqttConnector].spoolDir
      val sub = MqttSubscriber.start("127.0.0.1", mqtt.port, topic, landing,
        clientId = "hvac-sub")
      val pub = new MqttClient("127.0.0.1", mqtt.port, "hvac-pub")
      try {
        pub.publishAll(topic, events.map { case (s, z, v) =>
          s"""{"sensor_id":"$s","zone":"$z","value":$v}""" }, qos = 1)
        assert(awaitTrue(5000)(sub.messageCount == events.size),
          s"spooled ${sub.messageCount}/${events.size}")
      } finally { pub.close(); sub.stop() }

      // the sink auto-creates the topic on produce; pre-create like
      // the compose stack's kafka does so partitions exist up front
      val pre = new KafkaClient("127.0.0.1", kafka.port)
      pre.partitions("hvac-alerts"); pre.close()

      val emptyEvt = java.nio.file.Files.createTempFile("graft_hvac", ".evt")
      val c = new VplCompiler(prog,
        new EvtSource(spark, Seq(emptyEvt.toString), Map.empty),
        sinks = conns, sourceConns = conns)
      val high = c.stream("HighTempAlert").collect()
      val low = c.stream("LowTempAlert").collect()
      assert(high.length == 3, s"HIGH alerts: ${high.length}")
      assert(low.length == 2, s"LOW alerts: ${low.length}")

      // consumer.py's validation, against the BROKER's copy: fetch
      // hvac-alerts back and check every field of every alert
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_hvac_out").toString
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", kafka.port), "hvac-alerts",
        outDir, startAt = "earliest", pollIntervalMs = 20L)
      try assert(awaitTrue(10000)(poller.recordCount == 5),
        s"alert topic delivered ${poller.recordCount}/5")
      finally poller.stop()
      val alerts = spark.read.json(outDir)
        .select("alert_type", "zone", "sensor", "temperature")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
        .toSet
      assert(alerts == Set(
        ("HIGH_TEMPERATURE", "A", "S1", 30.0),
        ("HIGH_TEMPERATURE", "B", "S2", 33.0),
        ("HIGH_TEMPERATURE", "C", "S3", 35.0),
        ("LOW_TEMPERATURE", "A", "S1", 12.0),
        ("LOW_TEMPERATURE", "B", "S2", 14.0)), alerts)
    } finally { kafka.stop(); mqtt.stop() }
  }
}
