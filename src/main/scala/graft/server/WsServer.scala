package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.EventReplay
import graft.vpl.{VplCompiler, VplParser}
import graft.vpl.VplParser.VplParseError

/** WebSocket live event push — the reference CLI's `/ws` endpoint
  * (varpulis-cli/src/websocket.rs:1-981, the VS Code extension's
  * transport): a client sends `load_file` / `inject_event` /
  * `get_streams` / `get_metrics` messages (the WsMessage vocabulary,
  * snake_case `type` tag) and receives `load_result` / `streams` /
  * `metrics` / `event_injected` / `error` responses plus asynchronous
  * `output_event` pushes BROADCAST to every connected client
  * (websocket.rs forward_output_events_to_websocket).
  *
  * Transport is a hand-rolled RFC 6455 server over a raw
  * ServerSocket — the JDK HttpServer the REST surface uses cannot
  * hijack a connection for the upgrade, so graft serves `ws://` on
  * its own port next to the REST port (the reference co-hosts both
  * on one warp listener; the split is a documented divergence, the
  * message vocabulary is identical). Zero new dependencies: SHA-1 +
  * Base64 for the handshake come from the JDK, JSON from Spark's
  * bundled Jackson.
  *
  * Engine semantics mirror [[PipelineServer]]'s Spark-first shape:
  * `load_file` compiles the program's streams in STREAMING mode over
  * a fresh spool (each load replaces the engine, the reference's
  * Engine::new-per-load), `inject_event` stages one spool phase,
  * drives the queries, and broadcasts each fresh output row as an
  * `output_event`. The file path resolves against an allowed working
  * directory and must stay inside it (security.rs validate_path);
  * read failures report the reference's deliberately generic
  * "Failed to read file". `apiKey` enforces x-api-key on the upgrade
  * request (401 before the handshake) — the reference runs the same
  * auth filter ahead of its ws route.
  */
final class WsServer private (
    spark: SparkSession,
    bindPort: Int,
    apiKey: Option[String],
    workdir: java.io.File,
    tls: Option[javax.net.ssl.SSLContext]) {

  import PipelineServer.{ensureSpools, injectedEvent, rowToJson}
  import WsServer._

  private val mapper = new ObjectMapper()
  private val startNanos = System.nanoTime()
  // with TLS the listener is an SSLServerSocket — accept() hands back
  // SSLSockets whose streams handshake transparently on first IO, so
  // the rest of the server (handshake/frame loop/503 path) is
  // transport-agnostic
  private val server: ServerSocket = tls match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket()
    case None      => new ServerSocket()
  }
  server.bind(new InetSocketAddress("127.0.0.1", bindPort))

  /** "wss" when a TLS context is configured. */
  def scheme: String = if (tls.isDefined) "wss" else "ws"
  @volatile private var live = true

  // engine state — one engine per server like the reference's
  // ServerState, replaced wholesale on each load_file; all mutation
  // under this lock (the RwLock twin). Runs are [[PipelineServer
  // .StreamRun]]s started through the SHARED startRun, so buffer
  // semantics (the r14 #1 trim fix) exist exactly once.
  private object engine {
    var staged: EventReplay.Staged = null
    var runs: Vector[PipelineServer.StreamRun] = Vector.empty
    var nextPhase: Int = 1
    var eventsProcessed: Long = 0L
    var outputEmitted: Long = 0L
    // the loaded binding's binder-created landing dirs — deleted on
    // engine replacement and server stop
    var connSpools: Seq[String] = Vector.empty
  }

  private val clients = new CopyOnWriteArrayList[ClientConn]()

  private final class ClientConn(val sock: Socket, val out: OutputStream) {
    /** Serializes response writes with broadcast pushes. */
    val writeLock = new Object
  }

  def port: Int = server.getLocalPort

  def stop(): Unit = {
    live = false
    Try(server.close())
    clients.asScala.foreach(c => Try(c.sock.close()))
    engine.synchronized {
      engine.runs.foreach(r => Try(r.query.stop()))
      if (engine.staged != null)
        Try(deleteRecursively(new java.io.File(engine.staged.dir)))
      engine.connSpools
        .foreach(d => Try(deleteRecursively(new java.io.File(d))))
    }
  }

  // one thread per connection (blocking IO): the cap is enforced AT
  // ACCEPT on a counter covering in-handshake sockets too, so a burst
  // of half-open upgrades can't spawn unbounded threads before any of
  // them registers as a client
  private val active = new java.util.concurrent.atomic.AtomicInteger(0)

  private val acceptThread = new Thread(() => {
    while (live) {
      val sock =
        try server.accept()
        catch { case _: Exception => null } // closed on stop
      if (sock != null) {
        if (active.get() >= MaxConnections) {
          Try {
            sock.getOutputStream.write(
              ("HTTP/1.1 503 Service Unavailable\r\nContent-Length: 0\r\n" +
                "Connection: close\r\n\r\n").getBytes("UTF-8"))
            sock.getOutputStream.flush()
            // drain whatever request bytes are already in the receive
            // buffer: close() with unread input RSTs the connection
            // and can discard the in-flight 503. The drain runs on the
            // single accept thread, so it is hard-bounded — 8 KiB
            // total / 1 s wall-clock — or a client trickling one byte
            // per SoTimeout window would pin accept indefinitely
            // (worst case the trickler sees an RST instead of the 503)
            // own Try: SSLSocket throws UnsupportedOperationException
            // on half-close — the drain below must still run for TLS
            // clients or close() RSTs away the in-flight 503
            Try(sock.shutdownOutput())
            sock.setSoTimeout(250)
            val sink = new Array[Byte](512)
            val deadline = System.nanoTime() + 1000000000L
            var drained = 0
            var n = 0
            while (n != -1 && drained < 8192 &&
                System.nanoTime() < deadline) {
              n = sock.getInputStream.read(sink)
              if (n > 0) drained += n
            }
          }
          Try(sock.close())
          ()
        } else {
          active.incrementAndGet()
          // live pushes are small frames: Nagle+delayed-ACK would add
          // ~40 ms to each — disable it
          Try(sock.setTcpNoDelay(true))
          val t = new Thread(() =>
            try serveClient(sock)
            finally { active.decrementAndGet(); () }, s"graft-ws-client")
          t.setDaemon(true)
          t.start()
        }
      }
    }
  }, "graft-ws-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  // ------------------------------------------------------------------
  // connection lifecycle
  // ------------------------------------------------------------------

  private def serveClient(sock: Socket): Unit = {
    val in = new BufferedInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      // a half-open or trickle-fed handshake must not pin this thread:
      // a 15 s deadline checked per BYTE (cheap) with the soTimeout
      // re-armed to the remaining budget per header LINE (one syscall
      // per line, not per byte) plus an 8 KiB header cap — worst-case
      // occupancy is bounded by twice the deadline (a read armed just
      // before the deadline can block one more remaining-budget span).
      // After the upgrade the timeout comes off — an idle ESTABLISHED
      // ws connection is legitimate (the VS Code client sits quiet).
      handshake(sock, in, out) match {
        case Left(httpError) =>
          out.write(httpError.getBytes("UTF-8")); out.flush()
          return
        case Right(()) => ()
      }
      sock.setSoTimeout(0)
      val conn = new ClientConn(sock, out)
      clients.add(conn)
      try frameLoop(in, conn)
      finally { clients.remove(conn); () }
    } catch {
      case _: java.io.IOException => () // client went away / timed out
    } finally Try(sock.close())
  }

  /** Read the HTTP upgrade request and answer 101, or Left(an HTTP
    * error response) — 401 on a bad api key, 400 on a malformed
    * upgrade (wrong path, missing key header). Bounded: 15 s deadline
    * checked per byte (socket timeout re-armed per line), 8 KiB total
    * header budget.
    */
  private def handshake(sock: Socket, in: InputStream,
      out: OutputStream): Either[String, Unit] = {
    val deadline = System.nanoTime() + 15L * 1000000000L
    var budget = 8192
    def readLine(): String = {
      val remainMs = (deadline - System.nanoTime()) / 1000000L
      if (remainMs <= 0)
        throw new java.io.IOException("ws handshake deadline exceeded")
      sock.setSoTimeout(math.max(1L, remainMs).toInt)
      val sb = new StringBuilder
      var c = 0
      while (c != -1 && c != '\n') {
        if (System.nanoTime() > deadline || budget <= 0)
          throw new java.io.IOException("ws handshake deadline/size exceeded")
        c = in.read()
        budget -= 1
        if (c != -1 && c != '\n' && c != '\r') sb.append(c.toChar)
      }
      if (c == -1 && sb.isEmpty) null else sb.toString
    }
    val headers = scala.collection.mutable.Map.empty[String, String]
    val requestLine: String = readLine()
    var line = readLine()
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0)
        headers(line.substring(0, i).trim.toLowerCase) =
          line.substring(i + 1).trim
      line = readLine()
    }
    def httpErr(code: Int, label: String, body: String): Left[String, Unit] =
      Left(s"HTTP/1.1 $code $label\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n$body")
    // split BEFORE indexing: a bare "GET " line passes startsWith but
    // has no second token
    val reqParts =
      Option(requestLine).map(_.split(" ").filter(_.nonEmpty)).getOrElse(Array.empty)
    if (reqParts.length < 2 || reqParts(0) != "GET")
      return httpErr(400, "Bad Request", """{"error":"ws needs GET"}""")
    val path = reqParts(1).takeWhile(_ != '?')
    if (path != "/ws")
      return httpErr(404, "Not Found", """{"error":"unknown route"}""")
    if (apiKey.exists(k => !headers.get("x-api-key")
        .exists(p => PipelineServer.ctEq(p, k))))
      return httpErr(401, "Unauthorized",
        """{"error":"Invalid API key","code":"invalid_api_key"}""")
    if (!headers.get("upgrade").exists(_.equalsIgnoreCase("websocket")))
      return httpErr(400, "Bad Request", """{"error":"not a ws upgrade"}""")
    headers.get("sec-websocket-key") match {
      case None =>
        httpErr(400, "Bad Request", """{"error":"missing ws key"}""")
      case Some(key) =>
        out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: ${acceptKeyOf(key)}\r\n\r\n")
          .getBytes("UTF-8"))
        out.flush()
        Right(())
    }
  }

  /** Frames in, responses out, until close/EOF. Text messages may be
    * fragmented (continuation frames accumulate); ping answers pong;
    * close answers close.
    */
  private def frameLoop(in: InputStream, conn: ClientConn): Unit = {
    val msgBuf = new java.io.ByteArrayOutputStream()
    var msgOpcode = -1
    var open = true
    while (open) {
      val frame =
        try readFrame(in)
        catch {
          case e: WsProtocolError =>
            // fail the connection per RFC 6455 §7.1.7: close 1002
            // with the reason, then stop reading
            val reason = e.getMessage.getBytes("UTF-8")
            val body = new Array[Byte](2 + math.min(reason.length, 123))
            body(0) = 0x03; body(1) = 0xEA.toByte // 1002
            System.arraycopy(reason, 0, body, 2, body.length - 2)
            conn.writeLock.synchronized { writeFrame(conn.out, 0x8, body) }
            None
        }
      frame match {
        case None => open = false // EOF or failed connection
        case Some(Frame(fin, opcode, payload)) =>
          opcode match {
            case 0x9 => // ping → pong with the same payload
              conn.writeLock.synchronized {
                writeFrame(conn.out, 0xA, payload)
              }
            case 0xA => () // unsolicited pong
            case 0x8 =>
              conn.writeLock.synchronized { writeFrame(conn.out, 0x8, payload) }
              open = false
            case 0x1 | 0x2 | 0x0 =>
              if (opcode != 0x0) { msgBuf.reset(); msgOpcode = opcode }
              msgBuf.write(payload)
              if (msgBuf.size > MaxMessageBytes) {
                // the reference caps messages at 1 MiB; oversized →
                // close 1009 (message too big)
                conn.writeLock.synchronized {
                  writeFrame(conn.out, 0x8, Array[Byte](0x03, 0xF1.toByte))
                }
                open = false
              } else if (fin && msgOpcode == 0x1) {
                val text = new String(msgBuf.toByteArray, "UTF-8")
                msgBuf.reset()
                // exception barrier (the route() try/catch twin): a
                // runtime failure inside a handler must answer an
                // error message, not kill the connection silently.
                // NonFatal only — an OOM/VM error must propagate and
                // kill the thread, not keep serving on a broken heap
                val resp =
                  try handleMessage(text)
                  catch {
                    case scala.util.control.NonFatal(e) => errorMsg(
                      s"engine error: ${e.getClass.getSimpleName}: " +
                        s"${Option(e.getMessage).getOrElse("(no message)")}")
                  }
                conn.writeLock.synchronized {
                  writeFrame(conn.out, 0x1, resp.getBytes("UTF-8"))
                }
              } else if (fin) msgBuf.reset() // binary: vocabulary is text-only
            case _ => open = false // reserved opcode: drop the client
          }
      }
    }
  }

  // ------------------------------------------------------------------
  // WsMessage vocabulary
  // ------------------------------------------------------------------

  private def handleMessage(text: String): String = {
    val node = Try(mapper.readTree(text)) match {
      case Success(n) if n != null && n.hasNonNull("type") => n
      case _ => return errorMsg("malformed message: need {type, ...}")
    }
    node.get("type").asText() match {
      case "load_file"    => loadFile(node)
      case "inject_event" => injectEvent(node)
      case "get_streams"  => getStreams()
      case "get_metrics"  => getMetrics()
      case other          => errorMsg(s"unsupported message type '$other'")
    }
  }

  private def errorMsg(message: String): String = {
    val o = mapper.createObjectNode()
    o.put("type", "error"); o.put("message", message)
    mapper.writeValueAsString(o)
  }

  private def loadResult(success: Boolean, loaded: Int,
      error: Option[String]): String = {
    val o = mapper.createObjectNode()
    o.put("type", "load_result")
    o.put("success", success)
    o.put("streams_loaded", loaded)
    error match {
      case Some(e) => o.put("error", e)
      case None    => o.putNull("error")
    }
    mapper.writeValueAsString(o)
  }

  /** load_file {path}: resolve against the workdir (absolute paths
    * allowed but the CANONICAL result must stay inside it —
    * security.rs validate_path), read, parse, compile streaming over
    * a fresh spool, replace the engine.
    */
  private def loadFile(node: JsonNode): String = {
    if (!node.hasNonNull("path")) return errorMsg("load_file needs {path}")
    val raw = node.get("path").asText()
    val requested = new java.io.File(raw)
    val absolute =
      if (requested.isAbsolute) requested else new java.io.File(workdir, raw)
    val wd = workdir.getCanonicalFile
    val canonical = Try(absolute.getCanonicalFile) match {
      case Success(c) => c
      case Failure(_) =>
        return loadResult(success = false, 0, Some("Failed to read file"))
    }
    if (canonical != wd &&
        !canonical.getPath.startsWith(wd.getPath + java.io.File.separator))
      return loadResult(success = false, 0,
        Some(s"path escapes the working directory"))
    val source = Try(new String(
      java.nio.file.Files.readAllBytes(canonical.toPath), "UTF-8")) match {
      case Success(s) => s
      case Failure(_) =>
        // generic on purpose: no fs-layout disclosure (websocket.rs)
        return loadResult(success = false, 0, Some("Failed to read file"))
    }
    val prog =
      try VplParser.parse(source)
      catch {
        case e: VplParseError =>
          return loadResult(success = false, 0,
            Some(s"Parse error: ${e.getMessage}"))
      }
    engine.synchronized {
      // the NEW engine compiles and starts COMPLETELY before the old
      // one is touched: a load that fails after a successful one must
      // leave the working engine running (tearing down first left a
      // half-dead engine whose injects falsely succeeded on stopped
      // queries — r15 self-review #2)
      val spool = java.nio.file.Files
        .createTempDirectory("graft_ws_").toString
      // anything that throws between here and a successful swap must
      // not orphan the fresh spool (a bad connector decl exploding in
      // bind used to leak one temp dir per attempt)
      def failing[A](body: => A): A =
        try body
        catch {
          case e: Throwable =>
            Try(deleteRecursively(new java.io.File(spool)))
            throw e
        }
      val staged = failing(EventReplay.stageEmpty(spark, spool))
      val decls = prog.events.map(e => e.name -> e).toMap
      val conns = failing(graft.vpl.ConnectorBinder.bind(prog))
      // once bound, failure cleanup also covers the binding's own
      // binder-created landing dirs (graft_vpl_*)
      def dropBinding(): Unit =
        PipelineServer.binderTempSpools(conns.values)
          .foreach(d => Try(deleteRecursively(new java.io.File(d))))
      def failingB[A](body: => A): A =
        try body
        catch {
          case e: Throwable =>
            Try(deleteRecursively(new java.io.File(spool)))
            dropBinding()
            throw e
        }
      // landing dirs for `.from`-bound streams so they compile; live
      // ingest drivers are the REST server's deploy concern — the ws
      // surface is the interactive load+inject tooling transport
      failingB(ensureSpools(prog, conns))
      val compiled = failingB(new VplCompiler(prog,
        new graft.vpl.StreamingEvtSource(spark, staged, decls),
        streaming = true, sourceConns = conns).compileAll())
      if (!compiled.values.exists(_.isSuccess)) {
        Try(deleteRecursively(new java.io.File(spool)))
        dropBinding()
        val why = compiled.collectFirst { case (_, Failure(e)) => e.getMessage }
          .getOrElse("program has no streams")
        loadResult(success = false, 0, Some(why))
      } else {
        // start the new runs; a failure mid-start stops the ones
        // already running and drops the spool (no leaked queries),
        // then the barrier in frameLoop answers the error — the old
        // engine is still intact either way
        val started = scala.collection.mutable.ArrayBuffer
          .empty[PipelineServer.StreamRun]
        val runs =
          try {
            compiled.toSeq.foreach { case (sn, r) =>
              r.foreach { df =>
                started += PipelineServer.startRun(
                  s"graft_ws_${sn.toLowerCase}_${System.nanoTime()}",
                  sn, df, sinkConns = Nil)
              }
            }
            started.toVector
          } catch {
            case e: Throwable =>
              started.foreach(r => Try(r.query.stop()))
              Try(deleteRecursively(new java.io.File(spool)))
              dropBinding()
              throw e
          }
        val oldSpool = Option(engine.staged).map(_.dir)
        val oldConnSpools = engine.connSpools
        engine.runs.foreach(r => Try(r.query.stop()))
        engine.staged = staged
        engine.runs = runs
        engine.nextPhase = 1
        engine.eventsProcessed = 0L
        engine.outputEmitted = 0L
        engine.connSpools = PipelineServer.binderTempSpools(conns.values)
        oldSpool.foreach(d => Try(deleteRecursively(new java.io.File(d))))
        oldConnSpools.foreach(d => Try(deleteRecursively(new java.io.File(d))))
        loadResult(success = true, runs.size, None)
      }
    }
  }

  /** inject_event {event_type, data}: stage one spool phase, drive the
    * queries, broadcast each fresh output row as an output_event to
    * EVERY connected client, answer event_injected.
    */
  private def injectEvent(node: JsonNode): String = {
    if (!node.hasNonNull("event_type"))
      return errorMsg("inject_event needs {event_type, data}")
    val eventType = node.get("event_type").asText()
    val data = Option(node.get("data")).filter(_.isObject)
      .getOrElse(mapper.createObjectNode())
    if (data.size() > MaxEventFields)
      return errorMsg(
        s"Event exceeds maximum field count (${data.size()} > $MaxEventFields)")
    val row = injectedEvent(eventType, data) match {
      case Right(r)  => r
      case Left(why) => return errorMsg(s"Failed to process event: $why")
    }
    val fresh: Seq[(String, Row)] = engine.synchronized {
      if (engine.staged == null)
        return errorMsg("No engine loaded. Load a .vpl file first.")
      val phase = engine.nextPhase
      engine.nextPhase += 1
      engine.staged = EventReplay.stageEvents(spark, engine.staged, phase,
        Seq(row))
      engine.eventsProcessed += 1
      engine.runs.foreach(_.query.processAllAvailable())
      val out = engine.runs.flatMap(r => r.drainFresh().map(r.name -> _))
      engine.outputEmitted += out.size
      out
    }
    fresh.foreach { case (_, row) => broadcastOutput(row) }
    val o = mapper.createObjectNode()
    o.put("type", "event_injected")
    o.put("event_type", eventType)
    o.put("success", true)
    mapper.writeValueAsString(o)
  }

  /** Push one output row to every connected client (websocket.rs
    * broadcast channel). A client whose socket fails is dropped.
    */
  private def broadcastOutput(row: Row): Unit = {
    val o = mapper.createObjectNode()
    o.put("type", "output_event")
    o.put("event_type", "output")
    o.set[ObjectNode]("data", rowToJson(mapper, row))
    o.put("timestamp", java.time.Instant.now().toString)
    val bytes = mapper.writeValueAsString(o).getBytes("UTF-8")
    clients.asScala.foreach { c =>
      try c.writeLock.synchronized { writeFrame(c.out, 0x1, bytes) }
      catch { case _: java.io.IOException =>
        clients.remove(c); Try(c.sock.close()); ()
      }
    }
  }

  private def getStreams(): String = {
    val o = mapper.createObjectNode()
    o.put("type", "streams")
    val arr = o.putArray("data")
    engine.synchronized {
      engine.runs.foreach { r =>
        val s = arr.addObject()
        s.put("name", r.name)
        // the reference fills these placeholders the same way
        // (websocket.rs handle_load_file StreamInfo construction)
        s.put("source", "")
        s.putArray("operations")
        s.put("events_per_second", 0.0)
        s.put("status", "active")
      }
    }
    mapper.writeValueAsString(o)
  }

  private def getMetrics(): String = {
    val o = mapper.createObjectNode()
    o.put("type", "metrics")
    engine.synchronized {
      o.put("events_processed", engine.eventsProcessed)
      o.put("output_events_emitted", engine.outputEmitted)
      o.put("active_streams", engine.runs.size)
    }
    o.put("uptime", (System.nanoTime() - startNanos) / 1e9)
    o.put("memory_usage", rssBytes())
    // CPU needs sampling over time; the reference snapshots 0.0 too
    o.put("cpu_usage", 0.0)
    mapper.writeValueAsString(o)
  }

  /** Process RSS from /proc/self/statm (websocket.rs
    * process_rss_bytes); 0 where unreadable.
    */
  private def rssBytes(): Long =
    Try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/statm")), "UTF-8")
        .trim.split("\\s+")(1).toLong * 4096L
    }.getOrElse(0L)

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}

object WsServer {

  /** Serve ws://127.0.0.1:`port`/ws (0 = ephemeral — tests). `apiKey`
    * guards the upgrade request; `workdir` bounds load_file paths;
    * `tlsCertKey` (PEM cert path, PEM key path) switches the listener
    * to wss:// (main.rs --tls-cert/--tls-key — TLS-only once
    * configured; a plaintext client fails the handshake).
    */
  def start(spark: SparkSession, port: Int = 0,
      apiKey: Option[String] = None,
      workdir: java.io.File = new java.io.File("."),
      tlsCertKey: Option[(String, String)] = None): WsServer =
    new WsServer(spark, port, apiKey, workdir,
      tlsCertKey.map { case (c, k) => Tls.sslContext(c, k) })

  /** The reference caps ws frames and messages at 1 MiB
    * (main.rs max_frame_size/max_message_size).
    */
  private val MaxMessageBytes: Int = 1024 * 1024
  /** websocket.rs MAX_EVENT_FIELDS. */
  private val MaxEventFields: Int = 256
  /** One thread is pinned per connection (blocking IO), so the
    * connection count is capped — excess connects answer 503 and
    * close instead of exhausting threads.
    */
  private val MaxConnections: Int = 256

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  /** RFC 6455 §1.3 accept key: Base64(SHA-1(key + GUID)). */
  private[server] def acceptKeyOf(key: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-1")
    java.util.Base64.getEncoder.encodeToString(
      sha.digest((key + WsGuid).getBytes("UTF-8")))
  }

  private[server] final case class Frame(fin: Boolean, opcode: Int,
      payload: Array[Byte])

  /** A frame that violates RFC 6455 framing rules: the connection
    * must be failed with close code 1002 (protocol error), not served.
    */
  private[server] final class WsProtocolError(reason: String)
      extends java.io.IOException(reason)

  /** Read one frame; None on EOF. Throws [[WsProtocolError]] on
    * RFC 6455 violations the server must fail the connection for:
    * unmasked client frames (§5.1) and fragmented or >125-byte
    * control frames (§5.5).
    */
  private[server] def readFrame(in: InputStream): Option[Frame] = {
    val b0 = in.read()
    if (b0 == -1) return None
    val b1 = in.read()
    if (b1 == -1) return None
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0F
    val masked = (b1 & 0x80) != 0
    var len: Long = (b1 & 0x7F).toLong
    if (len == 126) {
      len = (readByte(in) << 8 | readByte(in)).toLong
    } else if (len == 127) {
      len = 0L
      var i = 0
      while (i < 8) { len = (len << 8) | readByte(in); i += 1 }
    }
    if (!masked)
      throw new WsProtocolError("unmasked client frame (RFC 6455 §5.1)")
    if (opcode >= 0x8 && (len > 125 || !fin))
      throw new WsProtocolError(
        "fragmented or oversized control frame (RFC 6455 §5.5)")
    if (len < 0 || len > MaxMessageBytes)
      throw new java.io.IOException(s"ws frame too large: $len")
    val mask = if (masked) Array.fill(4)(readByte(in).toByte) else null
    val payload = new Array[Byte](len.toInt)
    var off = 0
    while (off < len) {
      val n = in.read(payload, off, len.toInt - off)
      if (n < 0) throw new java.io.IOException("ws frame truncated")
      off += n
    }
    if (masked) {
      var i = 0
      while (i < payload.length) {
        payload(i) = (payload(i) ^ mask(i % 4)).toByte
        i += 1
      }
    }
    Some(Frame(fin, opcode, payload))
  }

  private def readByte(in: InputStream): Int = {
    val b = in.read()
    if (b == -1) throw new java.io.IOException("ws frame truncated")
    b
  }

  /** Write one unmasked (server-side) frame. Callers hold the
    * connection's write lock.
    */
  private[server] def writeFrame(out: OutputStream, opcode: Int,
      payload: Array[Byte]): Unit = {
    out.write(0x80 | opcode)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) {
      out.write(126); out.write((n >> 8) & 0xff); out.write(n & 0xff)
    } else {
      out.write(127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xff).toInt); i -= 1 }
    }
    out.write(payload)
    out.flush()
  }
}
