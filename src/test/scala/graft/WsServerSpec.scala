package graft

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.server.WsServer

/** Drives the WebSocket transport end-to-end with a raw RFC 6455
  * client over loopback: handshake (including the Sec-WebSocket-Accept
  * arithmetic), the full WsMessage vocabulary (load_file /
  * inject_event / get_streams / get_metrics → load_result /
  * event_injected / streams / metrics / error), output_event
  * BROADCAST to a second connected client, ping/pong, auth, and the
  * load_file workdir jail. Mirrors varpulis-cli/src/websocket.rs.
  */
class WsServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  /** Minimal RFC 6455 client: masked text frames out, server frames in. */
  private final class WsClient(port: Int, key: Option[String] = None,
      path: String = "/ws",
      ssl: Option[javax.net.ssl.SSLContext] = None) {
    val sock: Socket = ssl match {
      case Some(ctx) => ctx.getSocketFactory.createSocket("127.0.0.1", port)
      case None      => new Socket("127.0.0.1", port)
    }
    private val in = new BufferedInputStream(sock.getInputStream)
    private val out = new BufferedOutputStream(sock.getOutputStream)
    val wsKey = java.util.Base64.getEncoder.encodeToString(
      (1 to 16).map(_.toByte).toArray)

    /** Send the upgrade request; returns the HTTP status line. */
    def handshake(): String = {
      val hdr = new StringBuilder
      hdr ++= s"GET $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n"
      hdr ++= "Upgrade: websocket\r\nConnection: Upgrade\r\n"
      hdr ++= s"Sec-WebSocket-Key: $wsKey\r\nSec-WebSocket-Version: 13\r\n"
      key.foreach(k => hdr ++= s"x-api-key: $k\r\n")
      hdr ++= "\r\n"
      out.write(hdr.toString.getBytes("UTF-8")); out.flush()
      val status = readLine()
      var line = readLine()
      while (line != null && line.nonEmpty) {
        val i = line.indexOf(':')
        if (i > 0) headers(line.substring(0, i).trim.toLowerCase) =
          line.substring(i + 1).trim
        line = readLine()
      }
      status
    }
    val headers = scala.collection.mutable.Map.empty[String, String]

    private def readLine(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != -1 && c != '\n') {
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      if (c == -1 && sb.isEmpty) null else sb.toString
    }

    def sendFrame(opcode: Int, payload: Array[Byte]): Unit = {
      out.write(0x80 | opcode)
      val mask = Array[Byte](0x11, 0x22, 0x33, 0x44)
      val n = payload.length
      if (n < 126) out.write(0x80 | n)
      else { out.write(0x80 | 126); out.write((n >> 8) & 0xff); out.write(n & 0xff) }
      out.write(mask)
      val masked = payload.zipWithIndex.map { case (b, i) =>
        (b ^ mask(i % 4)).toByte
      }
      out.write(masked); out.flush()
    }

    def sendText(s: String): Unit = sendFrame(0x1, s.getBytes("UTF-8"))

    /** Protocol-violating frame (mask bit clear) — RFC 6455 §5.1 says
      * the server must fail the connection on it.
      */
    def sendUnmaskedFrame(opcode: Int, payload: Array[Byte]): Unit = {
      out.write(0x80 | opcode)
      require(payload.length < 126)
      out.write(payload.length)
      out.write(payload); out.flush()
    }

    /** Masked control frame with an oversized (>125) payload, sent as
      * a 126-length extended frame — forbidden by RFC 6455 §5.5.
      */
    def sendOversizedControl(): Unit = {
      val payload = new Array[Byte](200)
      out.write(0x80 | 0x9)
      out.write(0x80 | 126); out.write(0); out.write(200)
      val mask = Array[Byte](0x11, 0x22, 0x33, 0x44)
      out.write(mask)
      out.write(payload.zipWithIndex.map { case (b, i) =>
        (b ^ mask(i % 4)).toByte
      }); out.flush()
    }

    /** Read one server frame → (opcode, payload). */
    def readFrame(): (Int, Array[Byte]) = {
      val b0 = in.read(); require(b0 != -1, "ws closed")
      val b1 = in.read()
      var len = b1 & 0x7F
      if (len == 126) len = (in.read() << 8) | in.read()
      else if (len == 127) {
        var l = 0L
        (1 to 8).foreach(_ => l = (l << 8) | in.read())
        len = l.toInt
      }
      val payload = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val n = in.read(payload, off, len - off)
        require(n >= 0, "ws truncated")
        off += n
      }
      (b0 & 0x0F, payload)
    }

    def readJson(): JsonNode = {
      val (op, payload) = readFrame()
      require(op == 0x1, s"expected text frame, got opcode $op")
      mapper.readTree(new String(payload, "UTF-8"))
    }

    def close(): Unit = { scala.util.Try(sock.close()); () }
  }

  private def writeVpl(dir: java.io.File, name: String,
      body: String): java.io.File = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    f
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

  test("full vocabulary over a real ws connection: load, streams, inject, metrics") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "alerts.vpl", alertsVpl)
    val srv = WsServer.start(spark, workdir = wd)
    val c = new WsClient(srv.port)
    try {
      val status = c.handshake()
      assert(status.contains("101"), status)
      // RFC 6455 §1.3: accept = base64(sha1(key + GUID))
      val sha = java.security.MessageDigest.getInstance("SHA-1")
      val want = java.util.Base64.getEncoder.encodeToString(sha.digest(
        (c.wsKey + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes("UTF-8")))
      assert(c.headers.get("sec-websocket-accept").contains(want), c.headers)

      // inject before load → the reference's pointed error
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"A","price":1.0}}""")
      val e0 = c.readJson()
      assert(e0.get("type").asText() == "error", e0)
      assert(e0.get("message").asText().contains("No engine loaded"), e0)

      // load_file (relative path against the workdir)
      c.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      val lr = c.readJson()
      assert(lr.get("type").asText() == "load_result", lr)
      assert(lr.get("success").asBoolean(), lr)
      assert(lr.get("streams_loaded").asInt() == 1, lr)

      // get_streams
      c.sendText("""{"type":"get_streams"}""")
      val st = c.readJson()
      assert(st.get("type").asText() == "streams", st)
      assert(st.get("data").size() == 1, st)
      assert(st.get("data").get(0).get("name").asText() == "Alerts", st)
      assert(st.get("data").get(0).get("status").asText() == "active", st)

      // inject below threshold: event_injected, no output_event
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"A","price":50.0}}""")
      val i1 = c.readJson()
      assert(i1.get("type").asText() == "event_injected" &&
        i1.get("success").asBoolean(), i1)

      // inject above threshold: the output_event push arrives too
      // (order: broadcast happens before the response is written, so
      // read both and sort by type)
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"MSFT","price":150.5}}""")
      val got = Seq(c.readJson(), c.readJson())
        .map(n => n.get("type").asText() -> n).toMap
      assert(got.contains("event_injected") && got.contains("output_event"), got)
      val oe = got("output_event")
      assert(oe.get("data").get("symbol").asText() == "MSFT", oe)
      assert(oe.get("data").get("price").asDouble() == 150.5, oe)
      assert(oe.hasNonNull("timestamp"), oe)

      // get_metrics
      c.sendText("""{"type":"get_metrics"}""")
      val m = c.readJson()
      assert(m.get("type").asText() == "metrics", m)
      assert(m.get("events_processed").asLong() == 2L, m)
      assert(m.get("output_events_emitted").asLong() == 1L, m)
      assert(m.get("active_streams").asInt() == 1, m)
      assert(m.get("uptime").asDouble() > 0.0, m)
      assert(m.get("memory_usage").asLong() > 0L, m)

      // unsupported type → error
      c.sendText("""{"type":"frobnicate"}""")
      assert(c.readJson().get("type").asText() == "error")

      // ping → pong with the payload echoed
      c.sendFrame(0x9, "hello".getBytes("UTF-8"))
      val (op, payload) = c.readFrame()
      assert(op == 0xA && new String(payload, "UTF-8") == "hello")
    } finally { c.close(); srv.stop() }
  }

  test("output events broadcast to every connected client (the VS Code live view)") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "alerts.vpl", alertsVpl)
    val srv = WsServer.start(spark, workdir = wd)
    val injector = new WsClient(srv.port)
    val watcher = new WsClient(srv.port)
    try {
      assert(injector.handshake().contains("101"))
      assert(watcher.handshake().contains("101"))
      injector.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      assert(injector.readJson().get("success").asBoolean())
      injector.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"X","price":500.0}}""")
      // the watcher never sent anything — it still receives the push
      val pushed = watcher.readJson()
      assert(pushed.get("type").asText() == "output_event", pushed)
      assert(pushed.get("data").get("symbol").asText() == "X", pushed)
    } finally { injector.close(); watcher.close(); srv.stop() }
  }

  test("inject_event keeps a comma-bearing string value intact") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "alerts.vpl", alertsVpl)
    val srv = WsServer.start(spark, workdir = wd)
    val c = new WsClient(srv.port)
    try {
      assert(c.handshake().contains("101"))
      c.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      assert(c.readJson().get("success").asBoolean())
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"A, B","price":150.5}}""")
      val got = Seq(c.readJson(), c.readJson())
        .map(n => n.get("type").asText() -> n).toMap
      assert(got.get("event_injected").exists(_.get("success").asBoolean()), got)
      val oe = got("output_event")
      assert(oe.get("data").get("symbol").asText() == "A, B", oe)
      assert(oe.get("data").get("price").asDouble() == 150.5, oe)
    } finally { c.close(); srv.stop() }
  }

  test("load_file is jailed to the workdir; read/parse failures answer load_result") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    val outside = java.nio.file.Files.createTempDirectory("graft_ws_out_").toFile
    writeVpl(outside, "evil.vpl", alertsVpl)
    writeVpl(wd, "bad.vpl", "stream = ???")
    val srv = WsServer.start(spark, workdir = wd)
    val c = new WsClient(srv.port)
    try {
      c.handshake()
      // escape attempts: absolute path outside + .. traversal
      c.sendText(s"""{"type":"load_file","path":"${outside.getAbsolutePath}/evil.vpl"}""")
      val r1 = c.readJson()
      assert(!r1.get("success").asBoolean(), r1)
      assert(r1.get("error").asText().contains("escapes"), r1)
      c.sendText(s"""{"type":"load_file","path":"../${outside.getName}/evil.vpl"}""")
      assert(!c.readJson().get("success").asBoolean())
      // missing file: the reference's deliberately generic message
      c.sendText("""{"type":"load_file","path":"nope.vpl"}""")
      val r3 = c.readJson()
      assert(!r3.get("success").asBoolean(), r3)
      assert(r3.get("error").asText() == "Failed to read file", r3)
      // parse failure
      c.sendText("""{"type":"load_file","path":"bad.vpl"}""")
      val r4 = c.readJson()
      assert(!r4.get("success").asBoolean(), r4)
      assert(r4.get("error").asText().nonEmpty, r4)
    } finally { c.close(); srv.stop() }
  }

  test("x-api-key guards the upgrade; wrong path 404s before any ws traffic") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    val srv = WsServer.start(spark, apiKey = Some("sekrit"), workdir = wd)
    try {
      val noKey = new WsClient(srv.port)
      assert(noKey.handshake().contains("401"))
      noKey.close()
      val wrong = new WsClient(srv.port, key = Some("wrong"))
      assert(wrong.handshake().contains("401"))
      wrong.close()
      val ok = new WsClient(srv.port, key = Some("sekrit"))
      assert(ok.handshake().contains("101"))
      ok.close()
    } finally srv.stop()
    val open = WsServer.start(spark, workdir = wd)
    try {
      val badPath = new WsClient(open.port, path = "/nope")
      assert(badPath.handshake().contains("404"))
      badPath.close()
    } finally open.stop()
  }

  test("a failed load after a successful one keeps the old engine running") {
    // self-review r15 #2: tearing the old engine down BEFORE the new
    // compile left stopped queries whose injects falsely succeeded
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "alerts.vpl", alertsVpl)
    // parses fine, compiles to zero streams (unknown function)
    writeVpl(wd, "nocompile.vpl",
      """event Tick:
        |    price: float
        |
        |stream Bad = Tick
        |    .emit(p: frobnicate(price))
        |""".stripMargin)
    val srv = WsServer.start(spark, workdir = wd)
    val c = new WsClient(srv.port)
    try {
      c.handshake()
      c.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      assert(c.readJson().get("success").asBoolean())
      c.sendText("""{"type":"load_file","path":"nocompile.vpl"}""")
      val bad = c.readJson()
      assert(bad.get("type").asText() == "load_result" &&
        !bad.get("success").asBoolean(), bad)
      // the OLD program still runs: an above-threshold inject both
      // answers event_injected AND pushes the output_event
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"Z","price":400.0}}""")
      val got = Seq(c.readJson(), c.readJson())
        .map(n => n.get("type").asText() -> n).toMap
      assert(got.contains("output_event"),
        s"old engine dead after failed load: ${got.keys}")
      assert(got("output_event").get("data").get("symbol").asText() == "Z")
    } finally { c.close(); srv.stop() }
  }

  test("a runtime failure inside a handler answers error and keeps the connection") {
    // self-review r15 #3: exceptions beyond VplParseError (here a
    // malformed broker port exploding in ConnectorBinder) used to
    // kill the client thread with no response
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "badconn.vpl",
      """event Tick:
        |    price: float
        |
        |connector K = kafka(brokers: "127.0.0.1:notaport", topic: "t")
        |
        |stream S = Tick
        |    .from(K)
        |    .emit(p: price)
        |""".stripMargin)
    writeVpl(wd, "alerts.vpl", alertsVpl)
    val srv = WsServer.start(spark, workdir = wd)
    val c = new WsClient(srv.port)
    try {
      c.handshake()
      c.sendText("""{"type":"load_file","path":"badconn.vpl"}""")
      val err = c.readJson()
      assert(err.get("type").asText() == "error", err)
      assert(err.get("message").asText().contains("engine error"), err)
      // the connection survived and still works
      c.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      assert(c.readJson().get("success").asBoolean())
    } finally { c.close(); srv.stop() }
  }

  test("a second load replaces the engine and resets counters") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "alerts.vpl", alertsVpl)
    writeVpl(wd, "high.vpl", alertsVpl.replace("price > 100.0", "price > 1000.0"))
    val srv = WsServer.start(spark, workdir = wd)
    val c = new WsClient(srv.port)
    try {
      c.handshake()
      c.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      assert(c.readJson().get("success").asBoolean())
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"A","price":150.0}}""")
      Seq(c.readJson(), c.readJson()) // event_injected + output_event
      c.sendText("""{"type":"load_file","path":"high.vpl"}""")
      assert(c.readJson().get("success").asBoolean())
      c.sendText("""{"type":"get_metrics"}""")
      val m = c.readJson()
      assert(m.get("events_processed").asLong() == 0L, m)
      // 150 no longer alerts under the new program
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"B","price":150.0}}""")
      val i = c.readJson()
      assert(i.get("type").asText() == "event_injected", i)
      c.sendText("""{"type":"get_metrics"}""")
      val m2 = c.readJson()
      assert(m2.get("events_processed").asLong() == 1L &&
        m2.get("output_events_emitted").asLong() == 0L, m2)
    } finally { c.close(); srv.stop() }
  }

  test("protocol violations fail the connection with close 1002") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    val srv = WsServer.start(spark, workdir = wd)
    // unmasked client frame — RFC 6455 §5.1
    val c1 = new WsClient(srv.port)
    try {
      c1.handshake()
      c1.sendUnmaskedFrame(0x1, """{"type":"get_streams"}""".getBytes("UTF-8"))
      val (op, payload) = c1.readFrame()
      assert(op == 0x8, s"expected close frame, got opcode $op")
      val code = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
      assert(code == 1002, s"expected close code 1002, got $code")
    } finally c1.close()
    // masked but oversized (200-byte) ping — RFC 6455 §5.5
    val c2 = new WsClient(srv.port)
    try {
      c2.handshake()
      c2.sendOversizedControl()
      val (op, payload) = c2.readFrame()
      assert(op == 0x8, s"expected close frame, got opcode $op")
      val code = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
      assert(code == 1002, s"expected close code 1002, got $code")
      srv.stop()
    } finally c2.close()
  }

  test("the ws vocabulary runs over WSS; plaintext is rejected (TLS)") {
    val cert = "src/test/resources/tls/cert.pem"
    val wd = java.nio.file.Files.createTempDirectory("graft_ws_wd_").toFile
    writeVpl(wd, "alerts.vpl", alertsVpl)
    val srv = WsServer.start(spark, workdir = wd,
      tlsCertKey = Some((cert, "src/test/resources/tls/key_pkcs8.pem")))
    assert(srv.scheme == "wss")
    val ctx = graft.server.Tls.clientContext(cert)
    val c = new WsClient(srv.port, ssl = Some(ctx))
    try {
      assert(c.handshake().contains("101"))
      c.sendText("""{"type":"load_file","path":"alerts.vpl"}""")
      assert(c.readJson().get("success").asBoolean())
      c.sendText("""{"type":"inject_event","event_type":"Tick","data":{"symbol":"MSFT","price":150.5}}""")
      val got = Seq(c.readJson(), c.readJson())
        .map(n => n.get("type").asText() -> n).toMap
      assert(got.contains("event_injected") && got.contains("output_event"),
        got)

      // a plaintext client can't speak to the TLS listener: the
      // handshake bytes aren't a ClientHello, so the read fails or
      // EOFs — never a 101
      val plain = new WsClient(srv.port)
      try {
        val status =
          try plain.handshake()
          catch { case _: java.io.IOException => null }
        assert(status == null || !status.contains("101"), status)
      } finally plain.close()
    } finally { c.close(); srv.stop() }
  }
}
