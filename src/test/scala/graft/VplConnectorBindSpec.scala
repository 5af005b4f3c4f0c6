package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources._
import graft.vpl._

/** VPL `connector X = kafka(...)` declarations bind to the REAL
  * bundled transports (ConnectorBinder), `.from(Conn, topic:)` head
  * streams read the connector's landing dir under the declared event
  * schema, and `.to(Conn, topic:)` re-aims the sink per op. The
  * flagship case runs the reference's OWN kafka benchmark program
  * (benchmarks/connector-comparison/varpulis/kafka/01_filter.vpl)
  * end-to-end over the loopback wire-protocol broker: produce →
  * poller spool → VPL filter → produce to the output topic → fetch
  * back.
  */
class VplConnectorBindSpec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  private def emptyEvtSource: EvtSource = {
    val f = java.nio.file.Files.createTempFile("graft_bind_empty", ".evt")
    new EvtSource(spark, Seq(f.toString), Map.empty)
  }

  test("binder maps every bundled transport's declaration") {
    val prog = VplParser.parse(
      """connector K = kafka(brokers: "h1:19092,h2:19092", group_id: "g", topic: "t")
        |connector M = mqtt(broker: "mhost:1884", topic: "mt", client_id: "c1", qos: 1)
        |connector N = nats(server: "nhost", port: 4333, subject: "sub", token: "tok")
        |connector R = redis(host: "rhost", channel: "ch", key_prefix: "kp")
        |connector E = elasticsearch(url: "http://es:9200", index: "ix", api_key: "ak")
        |connector D = database(url: "jdbc:derby:memory:x", table: "tb")
        |connector F = file(path: "/tmp/x", format: "parquet")
        |connector C = console()
        |
        |event X:
        |    a: int
        |
        |stream S = X
        |    .emit(a: a)
        |""".stripMargin)
    val b = ConnectorBinder.bind(prog)
    val k = b("K").asInstanceOf[KafkaConnector]
    assert(k.host == "h1" && k.port == 19092 && k.topic == "t")
    val m = b("M").asInstanceOf[MqttConnector]
    assert(m.host == "mhost" && m.port == 1884 && m.topic == "mt" &&
      m.clientId.contains("c1") && m.qos == 1)
    val n = b("N").asInstanceOf[NatsConnector]
    assert(n.host == "nhost" && n.port == 4333 && n.subject == "sub" &&
      n.token.contains("tok"))
    val r = b("R").asInstanceOf[RedisConnector]
    assert(r.host == "rhost" && r.port == 6379 && r.channel == "ch" &&
      r.keyPrefix.contains("kp"))
    val e = b("E").asInstanceOf[EsConnector]
    assert(e.baseUrl == "http://es:9200" && e.index == "ix" &&
      e.apiKey.contains("ak"))
    val d = b("D").asInstanceOf[JdbcConnector]
    assert(d.url == "jdbc:derby:memory:x" && d.table == "tb")
    val f = b("F").asInstanceOf[FileConnector]
    assert(f.path == "/tmp/x" && f.format == "parquet")
    assert(!b.contains("C")) // console has no source/sink binding
  }

  test("the reference's kafka benchmark VPL runs end-to-end over loopback") {
    val srv = new MiniKafkaBroker(numPartitions = 2)
    try {
      // the ACTUAL reference program, brokers re-aimed at the fixture
      val vpl = ReferenceCorpus
        .read("benchmarks/connector-comparison/varpulis/kafka/01_filter.vpl")
        .replace("localhost:9092", s"127.0.0.1:${srv.port}")
      val prog = VplParser.parse(vpl)
      val conns = ConnectorBinder.bind(prog)
      val kc = conns("Broker").asInstanceOf[KafkaConnector]
      assert(kc.host == "127.0.0.1" && kc.port == srv.port)

      // feed the input topic over the real wire protocol
      val pre = new KafkaClient("127.0.0.1", srv.port)
      pre.partitions("bench-01-input")
      pre.produce("bench-01-input", 0, Seq(
        (None, """{"symbol":"AAA","price":10.0,"volume":100}"""),
        (None, """{"symbol":"BBB","price":75.5,"volume":200}""")))
      pre.produce("bench-01-input", 1, Seq(
        (None, """{"symbol":"CCC","price":50.0,"volume":300}"""),
        (None, """{"symbol":"DDD","price":99.0,"volume":400}"""),
        (None, """{"symbol":"EEE","price":51.0,"volume":500}""")))
      pre.close()

      // the driver-side consumer loop lands NDJSON where the bound
      // connector reads
      // landing dir = the per-topic subdir (withTarget re-aims reads)
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "bench-01-input",
        s"${kc.spoolDir}/bench-01-input", startAt = "earliest",
        pollIntervalMs = 20L)
      try assert(awaitTrue(5000)(poller.recordCount == 5))
      finally poller.stop()

      // compile: `.from(Broker, topic:)` reads the landing dir under
      // the StockTick declaration; `.to(Broker, topic:)` produces the
      // filtered frame to the OUTPUT topic at compile time
      val c = new VplCompiler(prog, emptyEvtSource,
        sinks = conns, sourceConns = conns)
      val out = c.stream("Filtered")
      val rows = out.select("symbol", "price").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(rows == Set(("BBB", 75.5), ("DDD", 99.0), ("EEE", 51.0)),
        s"got $rows")

      // and the output topic holds exactly the filtered events,
      // fetched back over the wire
      val check = new KafkaClient("127.0.0.1", srv.port)
      try {
        val got = check.partitions("bench-01-output").flatMap { p =>
          check.fetch("bench-01-output", p, 0L)._1
        }.map(r => new String(r.value, UTF_8))
        assert(got.size == 3, s"output topic holds ${got.size}")
        assert(got.forall(_.contains(""""event_type":"FilteredTick"""")))
        val syms = got.flatMap(j =>
          sources.HttpJson.stringValuesOf(j, "symbol")).toSet
        assert(syms == Set("BBB", "DDD", "EEE"))
      } finally check.close()
    } finally srv.stop()
  }

  test("streaming .from(kafka): the bound landing dir tails as a stream") {
    val srv = new MiniKafkaBroker(numPartitions = 1)
    try {
      val vpl =
        s"""connector B = kafka(brokers: "127.0.0.1:${srv.port}")
           |
           |event Tick:
           |    sym: str
           |    v: float
           |
           |stream S = Tick
           |    .from(B, topic: "st-in")
           |    .where(v > 1.0)
           |    .emit(sym: sym, v: v)
           |""".stripMargin
      val prog = VplParser.parse(vpl)
      val conns = ConnectorBinder.bind(prog)
      val kc = conns("B").asInstanceOf[KafkaConnector]
      val pre = new KafkaClient("127.0.0.1", srv.port)
      pre.partitions("st-in")
      pre.produce("st-in", 0, Seq(
        (None, """{"sym":"a","v":0.5}"""),
        (None, """{"sym":"b","v":2.5}"""),
        (None, """{"sym":"c","v":3.5}""")))
      pre.close()
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "st-in",
        s"${kc.spoolDir}/st-in", startAt = "earliest", pollIntervalMs = 20L)
      try assert(awaitTrue(5000)(poller.recordCount == 3))
      finally poller.stop()
      val c = new VplCompiler(prog, emptyEvtSource,
        sourceConns = conns, streaming = true)
      spark.sql("DROP VIEW IF EXISTS graft_bind_stream")
      val q = c.stream("S").writeStream.format("memory")
        .queryName("graft_bind_stream").outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("graft_bind_stream")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(got == Set(("b", 2.5), ("c", 3.5)), s"got $got")
    } finally srv.stop()
  }

  test("batch .from: same-payload-ts A→B pairs still sequence (unique event_id)") {
    // payload timestamps are often coarse (second resolution); bare
    // unix_micros event_ids collide and strict >/< sequence joins
    // silently drop same-ts pairs — the tiebreaker spreads ties at
    // 1 µs spacing in arrival order, so A-then-B at the same second
    // matches while B-then-A (arrival order) does not
    val vpl =
      s"""connector B = kafka(brokers: "127.0.0.1:19092")
         |
         |event Tick:
         |    sym: str
         |    kind: str
         |    ts: timestamp
         |
         |stream In = Tick
         |    .from(B, topic: "ties")
         |    .emit(sym: sym, kind: kind)
         |
         |stream Pairs = Tick as a
         |    -> Tick where kind == "B" and sym == a.sym and a.kind == "A" as b
         |    .within(10s)
         |    .emit(sym: a.sym)
         |""".stripMargin
    val prog = VplParser.parse(vpl)
    val conns = ConnectorBinder.bind(prog)
    val kc = conns("B").asInstanceOf[KafkaConnector]
    val dir = java.nio.file.Paths.get(s"${kc.spoolDir}/ties")
    java.nio.file.Files.createDirectories(dir)
    // arrival order within the file IS the spool order; all four
    // events share one second-resolution timestamp. sym=x arrives
    // A then B (must match); sym=y arrives B then A (must not).
    java.nio.file.Files.write(dir.resolve("part-0.json"), Seq(
      """{"sym":"x","kind":"A","ts":"2024-01-01T00:00:00"}""",
      """{"sym":"y","kind":"B","ts":"2024-01-01T00:00:00"}""",
      """{"sym":"x","kind":"B","ts":"2024-01-01T00:00:00"}""",
      """{"sym":"y","kind":"A","ts":"2024-01-01T00:00:00"}""")
      .mkString("", "\n", "\n").getBytes(UTF_8))
    val c = new VplCompiler(prog, emptyEvtSource, sourceConns = conns)
    val got = c.stream("Pairs").select("sym").collect().map(_.getString(0)).toSeq
    assert(got == Seq("x"), s"got $got")
  }

  test("per-op sink target: one connector, two .to topics") {
    val srv = new MiniKafkaBroker(numPartitions = 1)
    try {
      val vpl =
        s"""connector B = kafka(brokers: "127.0.0.1:${srv.port}")
           |
           |event Tick:
           |    v: int
           |
           |stream Hi = Tick
           |    .where(v >= 5)
           |    .emit(v: v)
           |    .to(B, topic: "hi")
           |
           |stream Lo = Tick
           |    .where(v < 5)
           |    .emit(v: v)
           |    .to(B, topic: "lo")
           |""".stripMargin
      val prog = VplParser.parse(vpl)
      val conns = ConnectorBinder.bind(prog)
      val evt = java.nio.file.Files.createTempFile("graft_bind_two", ".evt")
      java.nio.file.Files.write(evt,
        (1 to 9).map(i => s"Tick { v: $i }").mkString("\n").getBytes(UTF_8))
      val decls = prog.events.map(e => e.name -> e).toMap
      val c = new VplCompiler(prog,
        new EvtSource(spark, Seq(evt.toString), decls), sinks = conns)
      c.stream("Hi"); c.stream("Lo")
      val check = new KafkaClient("127.0.0.1", srv.port)
      try {
        assert(check.fetch("hi", 0, 0L)._1.size == 5)
        assert(check.fetch("lo", 0, 0L)._1.size == 4)
      } finally check.close()
    } finally srv.stop()
  }
}
