package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.server.PipelineServer
import graft.sources.MqttClient

/** Drives the pipeline-management HTTP surface end-to-end over real
  * HTTP on loopback: deploy a VPL program → inject events (single +
  * batch) → read the output events each inject produced → poll
  * status/metrics → undeploy. Mirrors the reference CLI's server mode
  * (varpulis-cli/src/api.rs, openapi.yaml /api/v1/pipelines*).
  */
class PipelineApiSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private def reqFull(port: Int, method: String, path: String,
      body: String = "", key: Option[String] = None,
      https: Option[HttpClient] = None,
      admin: Option[String] = None): HttpResponse[String] = {
    val scheme = if (https.isDefined) "https" else "http"
    val b = HttpRequest.newBuilder(
      URI.create(s"$scheme://127.0.0.1:$port$path"))
    key.foreach(k => b.header("x-api-key", k))
    admin.foreach(k => b.header("x-admin-key", k))
    val r = method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }
    https.getOrElse(client)
      .send(r.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def req(port: Int, method: String, path: String,
      body: String = "", key: Option[String] = None,
      https: Option[HttpClient] = None,
      admin: Option[String] = None)
      : (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val resp = reqFull(port, method, path, body, key, https, admin)
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private val alertsVpl =
    """event Tick:
      |    symbol: str
      |    price: float
      |
      |stream Alerts = Tick
      |    .where(price > 100.0)
      |    .emit(symbol: symbol, price: price)
      |""".stripMargin

  private def deployBody(name: String, source: String): String = {
    val o = mapper.createObjectNode()
    o.put("name", name); o.put("source", source)
    mapper.writeValueAsString(o)
  }

  private def tick(symbol: String, price: Double): String =
    s"""{"event_type":"Tick","fields":{"symbol":"$symbol","price":$price}}"""

  test("deploy → inject → output events → metrics → undeploy over real HTTP") {
    val srv = PipelineServer.start(spark)
    try {
      val port = srv.port

      // health/ready before anything is deployed
      val (hc, h) = req(port, "GET", "/health")
      assert(hc == 200 && h.get("status").asText() == "healthy", h)
      val (rc0, r0) = req(port, "GET", "/ready")
      assert(rc0 == 200 && r0.get("status").asText() == "ready", r0)

      // deploy
      val (dc, d) = req(port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      assert(dc == 201, d)
      val id = d.get("id").asText()
      assert(d.get("status").asText() == "running", d)

      // list + info
      val (lc, l) = req(port, "GET", "/api/v1/pipelines")
      assert(lc == 200 && l.get("total").asInt() == 1, l)
      val (ic, i) = req(port, "GET", s"/api/v1/pipelines/$id")
      assert(ic == 200 && i.get("name").asText() == "alerts", i)
      assert(i.get("source").asText() == alertsVpl, i)
      assert(i.get("streams").size() == 1 &&
        i.get("streams").get(0).asText() == "Alerts", i)

      // inject below threshold: accepted, no output events
      val (c1, o1) = req(port, "POST", s"/api/v1/pipelines/$id/events",
        tick("AAPL", 50.0))
      assert(c1 == 200 && o1.get("accepted").asBoolean(), o1)
      assert(o1.get("output_events").size() == 0, o1)

      // inject above threshold: the output event comes back
      val (c2, o2) = req(port, "POST", s"/api/v1/pipelines/$id/events",
        tick("MSFT", 150.5))
      assert(c2 == 200 && o2.get("output_events").size() == 1, o2)
      val ev = o2.get("output_events").get(0)
      assert(ev.get("symbol").asText() == "MSFT", ev)
      assert(ev.get("price").asDouble() == 150.5, ev)
      assert(ev.get("stream").asText() == "Alerts", ev)

      // batch inject: 3 events, 2 over threshold
      val batch =
        s"""{"events":[${tick("A", 10.0)},${tick("B", 200.0)},${tick("C", 300.0)}]}"""
      val (c3, o3) = req(port, "POST",
        s"/api/v1/pipelines/$id/events-batch", batch)
      assert(c3 == 200 && o3.get("accepted").asInt() == 3, o3)
      assert(o3.get("output_events").size() == 2, o3)
      assert(o3.get("processing_time_us").asLong() > 0L, o3)

      // metrics: 5 processed, 3 emitted
      val (mc, m) = req(port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(mc == 200, m)
      assert(m.get("pipeline_id").asText() == id, m)
      assert(m.get("events_processed").asLong() == 5L, m)
      assert(m.get("output_events_emitted").asLong() == 3L, m)

      // undeploy: gone afterwards
      val (uc, u) = req(port, "DELETE", s"/api/v1/pipelines/$id")
      assert(uc == 200 && u.get("deleted").asBoolean(), u)
      val (gc, g) = req(port, "GET", s"/api/v1/pipelines/$id")
      assert(gc == 404 && g.get("code").asText() == "pipeline_not_found", g)
    } finally srv.stop()
  }

  test("invalid VPL rejects with 400 parse_error; unknown id 404s") {
    val srv = PipelineServer.start(spark)
    try {
      val (bc, b) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("bad", "stream = ???"))
      assert(bc == 400 && b.get("code").asText() == "parse_error", b)
      assert(b.get("error").asText().nonEmpty, b)

      val (nc, n) = req(srv.port, "POST", "/api/v1/pipelines/p-99/events",
        tick("X", 1.0))
      assert(nc == 404 && n.get("code").asText() == "pipeline_not_found", n)

      val (jc, j) = req(srv.port, "POST", "/api/v1/pipelines",
        "{not json")
      assert(jc == 400 && j.get("code").asText() == "parse_error", j)
    } finally srv.stop()
  }

  test("x-api-key is enforced when configured (reference ApiKeyAuth)") {
    val srv = PipelineServer.start(spark, apiKey = Some("sekrit"))
    try {
      val (ac, a) = req(srv.port, "GET", "/api/v1/pipelines")
      assert(ac == 401 && a.get("code").asText() == "invalid_api_key", a)
      val (okc, ok) = req(srv.port, "GET", "/api/v1/pipelines",
        key = Some("sekrit"))
      assert(okc == 200 && ok.get("total").asInt() == 0, ok)
      // health probes stay open (k8s liveness, no auth — openapi.yaml)
      val (hc, _) = req(srv.port, "GET", "/health")
      assert(hc == 200)
    } finally srv.stop()
  }

  test("malformed inject events reject loudly instead of corrupting the spool") {
    val srv = PipelineServer.start(spark)
    try {
      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      // bad field name
      val (c1, e1) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        """{"event_type":"Tick","fields":{"bad name":1}}""")
      assert(c1 == 400 && e1.get("code").asText() == "parse_error", e1)
      // embedded quote in a string value
      val (c2, e2) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        """{"event_type":"Tick","fields":{"symbol":"A\"B","price":1.0}}""")
      assert(c2 == 400, e2)
      // bad event type
      val (c3, e3) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        """{"event_type":"No Type","fields":{}}""")
      assert(c3 == 400, e3)
      // a pipeline that rejected injects still counts nothing
      val (_, m) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(m.get("events_processed").asLong() == 0L, m)
    } finally srv.stop()
  }

  test("string values with commas and colons inject intact (/events and /events-batch)") {
    val srv = PipelineServer.start(spark)
    try {
      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      def outputs(o: com.fasterxml.jackson.databind.JsonNode) =
        (0 until o.get("output_events").size()).map { i =>
          val e = o.get("output_events").get(i)
          e.get("symbol").asText() -> e.get("price").asDouble()
        }.sorted
      val (c1, o1) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("A, B", 150.0))
      assert(c1 == 200 && outputs(o1) == Seq("A, B" -> 150.0), o1)
      // a value that reads like a second `price` field on its own
      val (c2, o2) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("x, price: 5", 160.0))
      assert(c2 == 200 && outputs(o2) == Seq("x, price: 5" -> 160.0), o2)
      val batch =
        s"""{"events":[${tick("A, B", 170.0)},${tick("x, price: 5", 180.0)}]}"""
      val (c3, o3) = req(srv.port, "POST",
        s"/api/v1/pipelines/$id/events-batch", batch)
      assert(c3 == 200 && o3.get("accepted").asInt() == 2, o3)
      assert(outputs(o3) == Seq("A, B" -> 170.0, "x, price: 5" -> 180.0), o3)
    } finally srv.stop()
  }

  test("reload swaps the program over the standing event log") {
    val srv = PipelineServer.start(spark)
    try {
      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      val (_, o1) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("MSFT", 150.0))
      assert(o1.get("output_events").size() == 1, o1)

      // raise the threshold to 200
      val v2 = alertsVpl.replace("price > 100.0", "price > 200.0")
      val body = mapper.createObjectNode(); body.put("source", v2)
      val (rc, r) = req(srv.port, "POST", s"/api/v1/pipelines/$id/reload",
        mapper.writeValueAsString(body))
      assert(rc == 200 && r.get("reloaded").asBoolean(), r)
      val (_, i) = req(srv.port, "GET", s"/api/v1/pipelines/$id")
      assert(i.get("source").asText() == v2, i)

      // 150 no longer alerts; 250 does — and the replayed MSFT row is
      // absorbed, not re-reported
      val (_, o2) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("ABC", 150.0))
      assert(o2.get("output_events").size() == 0, o2)
      val (_, o3) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("XYZ", 250.0))
      assert(o3.get("output_events").size() == 1, o3)
      assert(o3.get("output_events").get(0).get("symbol").asText() == "XYZ")

      // bad reload source → 400, pipeline keeps running
      val bad = mapper.createObjectNode(); bad.put("source", "stream = ???")
      val (bc, b) = req(srv.port, "POST", s"/api/v1/pipelines/$id/reload",
        mapper.writeValueAsString(bad))
      assert(bc == 400 && b.get("code").asText() == "parse_error", b)
      val (_, m) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(m.get("events_processed").asLong() == 3L, m)
    } finally srv.stop()
  }

  test("/logs streams output events as SSE LogEvents (replay + live follow)") {
    val srv = PipelineServer.start(spark)
    try {
      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      // one event BEFORE attaching (replayed from the ring)
      val (_, _) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("PRE", 150.0))
      val r = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/api/v1/pipelines/$id/logs"))
        .GET().build()
      val resp = client.send(r, HttpResponse.BodyHandlers.ofInputStream())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/event-stream"))
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(resp.body(), "UTF-8"))
      // one event AFTER attaching (followed live) — inject from
      // another thread so the blocking read below can't deadlock
      val injector = new Thread(() => {
        Thread.sleep(300)
        req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
          tick("LIVE", 250.0))
        ()
      })
      injector.setDaemon(true); injector.start()
      def nextData(): com.fasterxml.jackson.databind.JsonNode = {
        var line = reader.readLine()
        while (line != null && !line.startsWith("data: ")) line = reader.readLine()
        assert(line != null, "SSE stream ended early")
        mapper.readTree(line.drop(6))
      }
      val first = nextData()
      assert(first.get("event_type").asText() == "output", first)
      assert(first.get("data").get("symbol").asText() == "PRE", first)
      val second = nextData()
      assert(second.get("data").get("symbol").asText() == "LIVE", second)
      injector.join(5000)
      reader.close()
    } finally srv.stop()
  }

  test("deploy with a bound MQTT source consumes live broker traffic (server mode)") {
    val mqtt = new MiniMqttBroker()
    val srv = PipelineServer.start(spark)
    try {
      val vpl =
        s"""event TemperatureReading:
           |    sensor_id: str
           |    zone: str
           |    value: float
           |
           |connector MqttSensors = mqtt(
           |    host: "127.0.0.1",
           |    port: ${mqtt.port},
           |    topic: "graft/api/readings"
           |)
           |
           |stream Hot = TemperatureReading
           |    .from(MqttSensors)
           |    .where(value > 25.0)
           |    .emit(sensor: sensor_id, zone: zone, value: value)
           |""".stripMargin
      val (dc, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("live-mqtt", vpl))
      assert(dc == 201, d)
      val id = d.get("id").asText()

      // publish straight at the broker — no HTTP inject anywhere
      val pub = new MqttClient("127.0.0.1", mqtt.port, "api-pub")
      try pub.publishAll("graft/api/readings", Seq(
        """{"sensor_id":"S1","zone":"A","value":20.0}""",
        """{"sensor_id":"S9","zone":"B","value":30.0}""",
        """{"sensor_id":"S2","zone":"A","value":21.5}"""), qos = 1)
      finally pub.close()

      // the subscriber lands them, the stream tails the landing dir,
      // the drainer sweeps the sink: metrics show the one hot reading
      val deadline = System.nanoTime() + 30L * 1000000000L
      var emitted = 0L
      while (emitted < 1L && System.nanoTime() < deadline) {
        Thread.sleep(250)
        val (_, m) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
        emitted = m.get("output_events_emitted").asLong()
      }
      assert(emitted == 1L, s"expected the hot reading to surface, got $emitted")

      // and /logs replays it as a LogEvent
      val r = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/api/v1/pipelines/$id/logs"))
        .GET().build()
      val resp = client.send(r, HttpResponse.BodyHandlers.ofInputStream())
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(resp.body(), "UTF-8"))
      var line = reader.readLine()
      while (line != null && !line.startsWith("data: ")) line = reader.readLine()
      assert(line != null, "no LogEvent on /logs")
      val ev = mapper.readTree(line.drop(6))
      assert(ev.get("data").get("sensor").asText() == "S9", ev)
      assert(ev.get("data").get("value").asDouble() == 30.0, ev)
      reader.close()

      val (uc, _) = req(srv.port, "DELETE", s"/api/v1/pipelines/$id")
      assert(uc == 200)
    } finally { srv.stop(); mqtt.stop() }
  }

  test("checkpoint/restore rewinds the pipeline to the recorded spool extent") {
    val srv = PipelineServer.start(spark)
    try {
      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      val (_, o1) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("MSFT", 150.0))
      assert(o1.get("output_events").size() == 1)

      // checkpoint after the first inject
      val (cc, c) = req(srv.port, "POST", s"/api/v1/pipelines/$id/checkpoint")
      assert(cc == 200 && c.get("pipeline_id").asText() == id, c)
      val blob = c.get("checkpoint")
      assert(blob.get("spool_phases").asInt() == 1, blob)
      assert(c.get("events_processed").asLong() == 1L, c)

      // a post-checkpoint inject that restore must discard
      val (_, o2) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("XYZ", 250.0))
      assert(o2.get("output_events").size() == 1)
      val (_, m1) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(m1.get("events_processed").asLong() == 2L)

      // restore: counters rewind, the XYZ event is gone from the log
      val rbody = mapper.createObjectNode()
      rbody.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "checkpoint", blob.deepCopy())
      val (rc, r) = req(srv.port, "POST", s"/api/v1/pipelines/$id/restore",
        mapper.writeValueAsString(rbody))
      assert(rc == 200 && r.get("restored").asBoolean(), r)
      assert(r.get("events_restored").asLong() == 1L, r)
      val (_, m2) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(m2.get("events_processed").asLong() == 1L, m2)
      assert(m2.get("output_events_emitted").asLong() == 1L, m2)

      // the pipeline continues from the checkpoint: a new inject
      // reports only ITS events (the rewound XYZ does not reappear)
      val (_, o3) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("ABC", 300.0))
      assert(o3.get("output_events").size() == 1, o3)
      assert(o3.get("output_events").get(0).get("symbol").asText() == "ABC")
      val (_, m3) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(m3.get("events_processed").asLong() == 2L, m3)

      // a checkpoint beyond the (rewound) log rejects pointedly
      val bad = mapper.createObjectNode()
      val badCp = mapper.createObjectNode(); badCp.put("spool_phases", 99)
      bad.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "checkpoint", badCp)
      val (bc, b) = req(srv.port, "POST", s"/api/v1/pipelines/$id/restore",
        mapper.writeValueAsString(bad))
      assert(bc == 400 && b.get("code").asText() == "parse_error", b)
    } finally srv.stop()
  }

  test("the reference hvac-e2e pipeline deploys over HTTP: MQTT in, Kafka alerts out") {
    val mqtt = new MiniMqttBroker()
    val kafka = new MiniKafkaBroker(numPartitions = 1)
    val srv = PipelineServer.start(spark)
    try {
      // the compose stack's own pipeline, hosts/ports patched to the
      // loopback brokers. The reference engine types the payload
      // dynamically; a streaming file source needs the declared
      // schema, so the event block is prepended (the VplFlinkBench
      // external-wiring precedent).
      val vpl =
        "event TemperatureReading:\n" +
          "    sensor_id: str\n    zone: str\n    value: float\n\n" +
          ReferenceCorpus.read("tests/integration/hvac-e2e/hvac_pipeline.vpl")
            .replace("\"mosquitto\"", "\"127.0.0.1\"")
            .replace("port: 1883", s"port: ${mqtt.port}")
            .replace("\"kafka:29092\"", s"\"127.0.0.1:${kafka.port}\"")
      // pre-create the alert topic like the compose stack's kafka does
      val pre = new graft.sources.KafkaClient("127.0.0.1", kafka.port)
      pre.partitions("hvac-alerts"); pre.close()

      val (dc, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("hvac", vpl))
      assert(dc == 201, d)
      val id = d.get("id").asText()
      val (_, i) = req(srv.port, "GET", s"/api/v1/pipelines/$id")
      assert(i.get("streams").size() == 3, i) // Temperatures + 2 alerts

      // producer.py's EVENTS list, verbatim values and order
      val events = Seq(
        ("S1", "A", 22.0), ("S2", "B", 21.5), ("S1", "A", 23.0),
        ("S3", "C", 20.0), ("S2", "B", 25.0),
        ("S1", "A", 30.0), ("S2", "B", 33.0), ("S3", "C", 35.0),
        ("S1", "A", 12.0), ("S2", "B", 14.0))
      val pub = new MqttClient("127.0.0.1", mqtt.port, "hvac-api-pub")
      try pub.publishAll("varpulis/events/TemperatureReading",
        events.map { case (s, z, v) =>
          s"""{"sensor_id":"$s","zone":"$z","value":$v}""" }, qos = 1)
      finally pub.close()

      // 10 pass-through rows + 3 HIGH + 2 LOW = 15 outputs
      val deadline = System.nanoTime() + 40L * 1000000000L
      var emitted = 0L
      while (emitted < 15L && System.nanoTime() < deadline) {
        Thread.sleep(250)
        val (_, m) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
        emitted = m.get("output_events_emitted").asLong()
      }
      assert(emitted == 15L, s"expected 15 outputs, got $emitted")

      // consumer.py's validation against the BROKER's copy: the .to
      // sink produced the alerts to Kafka from the deployed pipeline
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_api_hvac_out").toString
      val poller = graft.sources.KafkaPoller.start(
        () => new graft.sources.KafkaClient("127.0.0.1", kafka.port),
        "hvac-alerts", outDir, startAt = "earliest", pollIntervalMs = 20L)
      try {
        val d2 = System.nanoTime() + 15L * 1000000000L
        while (poller.recordCount < 5 && System.nanoTime() < d2)
          Thread.sleep(100)
        assert(poller.recordCount == 5,
          s"alert topic delivered ${poller.recordCount}/5")
      } finally poller.stop()
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
    } finally { srv.stop(); kafka.stop(); mqtt.stop() }
  }

  test("per-stream output buffer stays bounded across drainer sweeps (live feed soak)") {
    // VERDICT r14 #1: a live-connector pipeline used to accumulate
    // every output row ever emitted in StreamRun.buffer; drained rows
    // must now be trimmed, so the buffer holds at most one sweep's
    // production while inject responses and /logs stay intact
    val mqtt = new MiniMqttBroker()
    val srv = PipelineServer.start(spark)
    try {
      val vpl =
        s"""event Reading:
           |    n: int
           |
           |connector Feed = mqtt(
           |    host: "127.0.0.1",
           |    port: ${mqtt.port},
           |    topic: "graft/soak"
           |)
           |
           |stream All = Reading
           |    .from(Feed)
           |    .emit(n: n)
           |""".stripMargin
      val (dc, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("soak", vpl))
      assert(dc == 201, d)
      val id = d.get("id").asText()

      // three publish waves with a pause between them, so the drainer
      // sweeps (250 ms cadence) interleave with production
      val pub = new MqttClient("127.0.0.1", mqtt.port, "soak-pub")
      var expected = 0L
      try (1 to 3).foreach { wave =>
        pub.publishAll("graft/soak",
          (1 to 20).map(k => s"""{"n":${wave * 100 + k}}"""), qos = 1)
        expected += 20
        val deadline = System.nanoTime() + 30L * 1000000000L
        var emitted = 0L
        while (emitted < expected && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val (_, m) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
          emitted = m.get("output_events_emitted").asLong()
        }
        assert(emitted == expected, s"wave $wave: $emitted/$expected")
        // every emitted row has been swept: the buffer must be empty,
        // not holding the $expected rows the unbounded version kept
        assert(srv.bufferedRows(id) == 0,
          s"wave $wave: buffer holds ${srv.bufferedRows(id)} drained rows")
      } finally pub.close()

      // /logs still replays the full retained history after trimming
      val r = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}/api/v1/pipelines/$id/logs"))
        .GET().build()
      val resp = client.send(r, HttpResponse.BodyHandlers.ofInputStream())
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(resp.body(), "UTF-8"))
      val seen = scala.collection.mutable.Set.empty[Int]
      val deadline = System.nanoTime() + 15L * 1000000000L
      while (seen.size < 60 && System.nanoTime() < deadline) {
        val line = reader.readLine()
        if (line == null) { assert(false, "SSE ended early") }
        else if (line.startsWith("data: ")) {
          seen += mapper.readTree(line.drop(6)).get("data").get("n").asInt()
          ()
        }
      }
      reader.close()
      assert(seen.size == 60, s"/logs replayed ${seen.size}/60 events")
    } finally { srv.stop(); mqtt.stop() }
  }

  test("inject-driven pipelines hold an empty buffer after each synchronous drain") {
    val srv = PipelineServer.start(spark)
    try {
      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      (1 to 10).foreach { k =>
        val (_, o) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
          tick(s"T$k", 100.0 + k))
        assert(o.get("output_events").size() == 1, o)
        assert(srv.bufferedRows(id) == 0,
          s"inject $k left ${srv.bufferedRows(id)} rows buffered")
      }
      val (_, m) = req(srv.port, "GET", s"/api/v1/pipelines/$id/metrics")
      assert(m.get("output_events_emitted").asLong() == 10L, m)
    } finally srv.stop()
  }

  test("token-bucket throttle: burst 429s with Retry-After, key-rotation immune, refill") {
    // reference rate_limit.rs: burst = 2× rate, 429 rate_limited when
    // the bucket is empty, Retry-After >= 1, refill restores service
    val srv = PipelineServer.start(spark, requestsPerSecond = Some(2),
      apiKey = Some("tenant"))
    try {
      // ROTATING invalid keys must share the CLIENT bucket, not mint a
      // fresh full bucket per request (self-review r15 #1: keying on
      // the presented header let a flooder bypass the throttle and
      // LRU-evict honest buckets)
      val rs = (1 to 12).map(k =>
        reqFull(srv.port, "GET", "/api/v1/pipelines", key = Some(s"rot-$k")))
      val limited = rs.filter(_.statusCode() == 429)
      assert(limited.nonEmpty,
        "rotating-key burst of 12 at 2 rps must still throttle")
      // the ones that passed the throttle were 401s (invalid key),
      // never 200 — throttle runs BEFORE auth, auth still holds
      assert(rs.forall(r => r.statusCode() == 429 || r.statusCode() == 401),
        rs.map(_.statusCode()).mkString(","))
      val l = limited.head
      assert(mapper.readTree(l.body()).get("code").asText() == "rate_limited")
      assert(l.headers().firstValue("Retry-After").orElse("0").toLong >= 1L)

      // the VALID key has its own bucket: the keyless/bad-key flood
      // above exhausted the IP bucket, the tenant is still served
      val ok = reqFull(srv.port, "GET", "/api/v1/pipelines",
        key = Some("tenant"))
      assert(ok.statusCode() == 200, ok.body())
      assert(ok.headers().firstValue("X-RateLimit-Remaining").isPresent)

      // and the tenant's own burst throttles too
      val ts = (1 to 12).map(_ =>
        reqFull(srv.port, "GET", "/api/v1/pipelines", key = Some("tenant")))
      assert(ts.count(_.statusCode() == 200) >= 3,
        s"burst capacity: ${ts.map(_.statusCode()).mkString(",")}")
      assert(ts.exists(_.statusCode() == 429),
        "valid-key burst of 12 at 2 rps must throttle")

      // refill: after ~1.1 s at 2 tokens/s the tenant is served again
      Thread.sleep(1100)
      val again = reqFull(srv.port, "GET", "/api/v1/pipelines",
        key = Some("tenant"))
      assert(again.statusCode() == 200, again.body())

      // health probes are never throttled (k8s liveness)
      (1 to 10).foreach { _ =>
        val (hc, _) = req(srv.port, "GET", "/health"); assert(hc == 200)
      }
    } finally srv.stop()
  }

  test("/api/v1/usage reports tenant counters and the default quota") {
    val srv = PipelineServer.start(spark)
    try {
      val (uc0, u0) = req(srv.port, "GET", "/api/v1/usage")
      assert(uc0 == 200 && u0.get("active_pipelines").asInt() == 0, u0)

      val (_, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl))
      val id = d.get("id").asText()
      req(srv.port, "POST", s"/api/v1/pipelines/$id/events", tick("A", 150.0))
      req(srv.port, "POST", s"/api/v1/pipelines/$id/events", tick("B", 50.0))

      val (uc, u) = req(srv.port, "GET", "/api/v1/usage")
      assert(uc == 200, u)
      assert(u.get("tenant_id").asText() == "default", u)
      assert(u.get("events_processed").asLong() == 2L, u)
      assert(u.get("output_events_emitted").asLong() == 1L, u)
      assert(u.get("active_pipelines").asInt() == 1, u)
      val q = u.get("quota")
      assert(q.get("max_pipelines").asInt() == 10, q)
      assert(q.get("max_events_per_second").asLong() == 10000L, q)
      assert(q.get("max_streams_per_pipeline").asInt() == 50, q)

      // method + auth contracts match the other /api/v1 routes
      val (mc, _) = req(srv.port, "POST", "/api/v1/usage")
      assert(mc == 405)

      // lifetime semantics: undeploying must NOT subtract the
      // pipeline's history from the tenant counters (ADVICE r15 #4)
      val (dc, _) = req(srv.port, "DELETE", s"/api/v1/pipelines/$id")
      assert(dc == 200)
      val (uc2, u2) = req(srv.port, "GET", "/api/v1/usage")
      assert(uc2 == 200, u2)
      assert(u2.get("active_pipelines").asInt() == 0, u2)
      assert(u2.get("events_processed").asLong() == 2L, u2)
      assert(u2.get("output_events_emitted").asLong() == 1L, u2)
    } finally srv.stop()
    val keyed = PipelineServer.start(spark, apiKey = Some("sekrit"))
    try {
      val (ac, a) = req(keyed.port, "GET", "/api/v1/usage")
      assert(ac == 401 && a.get("code").asText() == "invalid_api_key", a)
      val (okc, _) = req(keyed.port, "GET", "/api/v1/usage",
        key = Some("sekrit"))
      assert(okc == 200)
    } finally keyed.stop()
  }

  test("path segment boundaries 404 instead of prefix-matching (ADVICE r14 #3)") {
    val srv = PipelineServer.start(spark)
    try {
      // /api/v1/pipelinesfoo used to dispatch as list/deploy via the
      // JDK server's longest-string-prefix context match
      val (c1, b1) = req(srv.port, "GET", "/api/v1/pipelinesfoo")
      assert(c1 == 404 && b1.get("code").asText() == "not_found", b1)
      val (c2, _) = req(srv.port, "POST", "/api/v1/pipelinesfoo",
        deployBody("x", alertsVpl))
      assert(c2 == 404)
      val (c3, _) = req(srv.port, "GET", "/api/v1/usagefoo")
      assert(c3 == 404)
      val (c4, _) = req(srv.port, "GET", "/api/v1/usage/extra")
      assert(c4 == 404)
      val (c5, _) = req(srv.port, "GET", "/api/v1")
      assert(c5 == 404)
    } finally srv.stop()
  }

  test("windowed stream emits on watermark close, not before (streaming semantics)") {
    val vpl =
      """event Load:
        |    val: float
        |
        |stream Windowed = Load
        |    .watermark(out_of_order: 100ms)
        |    .window(5s)
        |    .aggregate(n: count())
        |    .emit(n: n)
        |""".stripMargin
    val srv = PipelineServer.start(spark)
    try {
      val (dc, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("win", vpl))
      assert(dc == 201, d)
      val id = d.get("id").asText()
      def load(v: Double): String =
        s"""{"event_type":"Load","fields":{"val":$v}}"""
      // injects land 1s apart in event time: the first window [0,5s)
      // closes once the watermark passes 5s + out_of_order
      var emitted = 0
      (1 to 9).foreach { k =>
        val (_, o) = req(srv.port, "POST",
          s"/api/v1/pipelines/$id/events", load(k.toDouble))
        emitted += o.get("output_events").size()
      }
      assert(emitted >= 1,
        "first tumbling window should have closed and emitted over HTTP")
    } finally srv.stop()
  }

  test("tenant lifecycle: create, scoped deploy/inject, quotas, delete revokes") {
    val srv = PipelineServer.start(spark, apiKey = Some("admin-secret"))
    val adm = Some("admin-secret")
    try {
      // admin auth: wrong key 401, data-plane key in the wrong header
      // doesn't help
      val (nc, nb) = req(srv.port, "GET", "/api/v1/tenants",
        admin = Some("wrong"))
      assert(nc == 401 && nb.get("code").asText() == "invalid_admin_key", nb)

      // create a free-tier tenant (max 2 pipelines, 100 ev/s, 5 streams)
      val (cc, c) = req(srv.port, "POST", "/api/v1/tenants",
        """{"name":"acme","quota_tier":"free"}""", admin = adm)
      assert(cc == 201, c)
      val tid = c.get("id").asText()
      val tkey = c.get("api_key").asText()
      assert(c.get("name").asText() == "acme", c)
      assert(c.get("quota").get("max_pipelines").asInt() == 2, c)
      assert(c.get("quota").get("max_events_per_second").asLong() == 100L, c)

      // the tenant's key authenticates the data plane, scoped to it
      val (dc, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl), key = Some(tkey))
      assert(dc == 201, d)
      val pid = d.get("id").asText()
      val (ic, _) = req(srv.port, "POST", s"/api/v1/pipelines/$pid/events",
        tick("MSFT", 150.5), key = Some(tkey))
      assert(ic == 200)

      // isolation both ways: the server (default-tenant) key can't
      // see the tenant's pipeline, and vice versa
      val (xc, xb) = req(srv.port, "GET", s"/api/v1/pipelines/$pid",
        key = adm)
      assert(xc == 404 && xb.get("code").asText() == "pipeline_not_found", xb)
      val (lc, l) = req(srv.port, "GET", "/api/v1/pipelines", key = adm)
      assert(lc == 200 && l.get("total").asInt() == 0, l)
      val (ltc, lt) = req(srv.port, "GET", "/api/v1/pipelines",
        key = Some(tkey))
      assert(ltc == 200 && lt.get("total").asInt() == 1, lt)

      // event-rate quota: a 150-event batch exceeds free's 100/s
      val batch = (1 to 150).map(i => tick(s"S$i", 1.0)).mkString(",")
      val (rc, rb) = req(srv.port, "POST",
        s"/api/v1/pipelines/$pid/events-batch", s"""{"events":[$batch]}""",
        key = Some(tkey))
      assert(rc == 429 && rb.get("code").asText() == "rate_limited", rb)

      // pipeline-count quota: free allows 2 — the 3rd deploy 429s
      val (d2c, _) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts2", alertsVpl), key = Some(tkey))
      assert(d2c == 201)
      val (d3c, d3) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts3", alertsVpl), key = Some(tkey))
      assert(d3c == 429 && d3.get("code").asText() == "quota_exceeded", d3)

      // per-tenant usage: only acme's counters, acme's quota block
      val (uc, u) = req(srv.port, "GET", "/api/v1/usage", key = Some(tkey))
      assert(uc == 200 && u.get("tenant_id").asText() == tid, u)
      assert(u.get("events_processed").asLong() == 1L, u)
      assert(u.get("active_pipelines").asInt() == 2, u)
      assert(u.get("quota").get("max_pipelines").asInt() == 2, u)

      // detail + list via admin
      val (gc, g) = req(srv.port, "GET", s"/api/v1/tenants/$tid",
        admin = adm)
      assert(gc == 200 && g.get("pipeline_count").asInt() == 2, g)
      assert(g.get("usage").get("events_processed").asLong() == 1L, g)
      val (tc, tl) = req(srv.port, "GET", "/api/v1/tenants", admin = adm)
      assert(tc == 200 && tl.get("total").asInt() == 1, tl)
      assert(tl.get("pagination").get("has_more").asBoolean() == false, tl)
      val (bc, bb) = req(srv.port, "GET", "/api/v1/tenants?limit=2000",
        admin = adm)
      assert(bc == 400 && bb.get("code").asText() == "invalid_limit", bb)
      // negatives are malformed (usize params in the reference), not
      // silently clamped into self-inconsistent pagination
      val (b2c, _) = req(srv.port, "GET", "/api/v1/tenants?offset=-5",
        admin = adm)
      assert(b2c == 400)

      // delete revokes: the key stops authenticating, pipelines die
      val (zc, z) = req(srv.port, "DELETE", s"/api/v1/tenants/$tid",
        admin = adm)
      assert(zc == 200 && z.get("deleted").asBoolean(), z)
      val (ac2, a2) = req(srv.port, "GET", "/api/v1/pipelines",
        key = Some(tkey))
      assert(ac2 == 401 && a2.get("code").asText() == "invalid_api_key", a2)
      val (g2c, _) = req(srv.port, "GET", s"/api/v1/tenants/$tid",
        admin = adm)
      assert(g2c == 404)
    } finally srv.stop()

    // no configured server key ⇒ the admin surface is disabled
    val open = PipelineServer.start(spark)
    try {
      val (fc, f) = req(open.port, "POST", "/api/v1/tenants",
        """{"name":"x"}""", admin = Some("anything"))
      assert(fc == 403 && f.get("code").asText() == "admin_disabled", f)
    } finally open.stop()
  }

  test("free-tier stream quota rejects an over-wide program") {
    val srv = PipelineServer.start(spark, apiKey = Some("adm"))
    try {
      val (_, c) = req(srv.port, "POST", "/api/v1/tenants",
        """{"name":"t","quota_tier":"free"}""", admin = Some("adm"))
      val tkey = c.get("api_key").asText()
      val six = (1 to 6).map(i =>
        s"""stream S$i = Tick
           |    .where(price > ${i}.0)
           |    .emit(symbol: symbol)
           |""".stripMargin).mkString("\n")
      val wide = s"event Tick:\n    symbol: str\n    price: float\n\n$six"
      val (qc, q) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("wide", wide), key = Some(tkey))
      assert(qc == 429 && q.get("code").asText() == "quota_exceeded", q)
      assert(q.get("error").asText().contains("stream quota"), q)
    } finally srv.stop()
  }

  test("the full contract runs over HTTPS; plaintext is rejected (TLS)") {
    val cert = "src/test/resources/tls/cert.pem"
    val key = "src/test/resources/tls/key_pkcs8.pem"
    val srv = PipelineServer.start(spark, apiKey = Some("sekrit"),
      tlsCertKey = Some((cert, key)))
    assert(srv.scheme == "https")
    // client trusts exactly the committed self-signed fixture
    val tlsClient = HttpClient.newBuilder()
      .sslContext(graft.server.Tls.clientContext(cert)).build()
    val https = Some(tlsClient)
    try {
      // deploy → inject → output → usage → undeploy, all over TLS,
      // with the x-api-key auth layer active underneath it
      val (hc, h) = req(srv.port, "GET", "/health", https = https)
      assert(hc == 200 && h.get("status").asText() == "healthy", h)
      val (ac, a) = req(srv.port, "GET", "/api/v1/pipelines", https = https)
      assert(ac == 401 && a.get("code").asText() == "invalid_api_key", a)
      val (dc, d) = req(srv.port, "POST", "/api/v1/pipelines",
        deployBody("alerts", alertsVpl), key = Some("sekrit"), https = https)
      assert(dc == 201, d)
      val id = d.get("id").asText()
      val (c2, o2) = req(srv.port, "POST", s"/api/v1/pipelines/$id/events",
        tick("MSFT", 150.5), key = Some("sekrit"), https = https)
      assert(c2 == 200 && o2.get("output_events").size() == 1, o2)
      assert(o2.get("output_events").get(0).get("symbol").asText() == "MSFT")
      val (uc, u) = req(srv.port, "GET", "/api/v1/usage",
        key = Some("sekrit"), https = https)
      assert(uc == 200 && u.get("events_processed").asLong() == 1L, u)
      val (xc, x) = req(srv.port, "DELETE", s"/api/v1/pipelines/$id",
        key = Some("sekrit"), https = https)
      assert(xc == 200 && x.get("deleted").asBoolean(), x)

      // a plaintext client fails — TLS-configured means TLS-only
      intercept[java.io.IOException] {
        reqFull(srv.port, "GET", "/health")
      }
      // and a client that does NOT trust the fixture fails the
      // handshake (no silent downgrade to trust-everything)
      intercept[java.io.IOException] {
        HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(
            URI.create(s"https://127.0.0.1:${srv.port}/health"))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString())
      }
    } finally srv.stop()
  }

  test("the PKCS#1 fixture key loads too (OpenSSL traditional PEM)") {
    val srv = PipelineServer.start(spark, tlsCertKey = Some((
      "src/test/resources/tls/cert.pem",
      "src/test/resources/tls/key_pkcs1.pem")))
    val tlsClient = HttpClient.newBuilder()
      .sslContext(graft.server.Tls.clientContext(
        "src/test/resources/tls/cert.pem")).build()
    try {
      val (hc, h) = req(srv.port, "GET", "/health", https = Some(tlsClient))
      assert(hc == 200 && h.get("status").asText() == "healthy", h)
    } finally srv.stop()
  }
}
