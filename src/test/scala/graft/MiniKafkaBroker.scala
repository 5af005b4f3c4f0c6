package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.KafkaProto
import graft.sources.KafkaProto.{Cursor, Wire}

/** Loopback Kafka broker FIXTURE for KafkaConnectorSpec — implements
  * the wire-protocol subset the product client speaks (ApiVersions
  * v0, Metadata v4 with auto-create, Produce v3, Fetch v4,
  * ListOffsets v1, SaslHandshake v1 + SaslAuthenticate v0 PLAIN) far
  * enough that client, poller and sink run over real TCP with real
  * framing. Crucially it RE-VALIDATES each produced record batch's
  * CRC32C and re-ENCODES fetched batches from its own log, so both
  * codec directions are exercised against an independent
  * recomputation, not echoed bytes. Test scope only.
  */
final class MiniKafkaBroker(
    numPartitions: Int = 2,
    requireUser: Option[(String, String)] = None,
    bindPort: Int = 0,
    nodeId: Int = 0,
    cluster: MiniKafkaBroker.Cluster = null) {

  import MiniKafkaBroker.Rec

  private val server = new ServerSocket()
  server.setReuseAddress(true) // restart-on-same-port (reconnect tests)
  // a fixed-port restart can race the previous instance's FIN
  // exchange (half-open peers hold the port outside TIME_WAIT);
  // retry briefly, like a real broker restart script would
  locally {
    val deadline = System.nanoTime() + 5000000000L
    var bound = false
    while (!bound) {
      try { server.bind(new InetSocketAddress("127.0.0.1", bindPort)); bound = true }
      catch {
        case e: java.net.BindException =>
          if (bindPort == 0 || System.nanoTime() > deadline) throw e
          Thread.sleep(100)
      }
    }
  }
  def port: Int = server.getLocalPort
  private val conns = new java.util.concurrent.CopyOnWriteArrayList[Socket]()

  // (topic, partition) -> append log (the cluster's SHARED store in
  // cluster mode — the stand-in for replicated partitions)
  private val logs =
    if (cluster != null) cluster.logs
    else scala.collection.mutable.Map
      .empty[(String, Int), scala.collection.mutable.ArrayBuffer[Rec]]
  @volatile private var running = true
  // AtomicInteger, not a @volatile var: executor tasks produce over
  // CONCURRENT connections and `x += 1` on a volatile loses updates
  private val producesSeen0 = new java.util.concurrent.atomic.AtomicInteger(0)
  private val corruptBatches0 = new java.util.concurrent.atomic.AtomicInteger(0)
  def producesSeen: Int = producesSeen0.get
  def corruptBatches: Int = corruptBatches0.get
  /** Fetch responses carry gzip-compressed batches (attributes=1) —
    * proves the client decodes producer-compressed topics.
    */
  @volatile var gzipFetch = false
  /** Fetch responses carry lz4-frame-compressed batches
    * (attributes=3), encoded by the INDEPENDENT test-side compressor
    * (Lz4Fixture) — proves the product decoder against a second
    * implementation.
    */
  @volatile var lz4Fetch = false
  /** Fetch responses carry xerial-framed snappy batches
    * (attributes=2), encoded by the independent test-side compressor
    * (SnappyFixture).
    */
  @volatile var snappyFetch = false
  /** Fetch responses carry zstd-compressed batches (attributes=4),
    * product-encoder framed — decode-side INDEPENDENCE for this codec
    * lives in ZstdSpec's real-zstd-CLI fixture vectors; this flag
    * exercises the poller's compressed-fetch path end to end.
    */
  @volatile var zstdFetch = false
  /** Flip one CRC-covered byte in the NEXT fetched batch — the
    * corrupt-frame fault MalformedFrameSpec drives through the
    * poller (decode must route to reconnect, never die silently).
    */
  @volatile var corruptNextFetch = false

  private def log(topic: String, p: Int) = logs.synchronized {
    logs.getOrElseUpdate((topic, p),
      scala.collection.mutable.ArrayBuffer.empty[Rec])
  }
  private def topicExists(topic: String): Boolean =
    logs.synchronized(logs.keys.exists(_._1 == topic))
  private def createTopic(topic: String): Unit =
    (0 until numPartitions).foreach(p => log(topic, p))
  /** Does this node lead the partition? (single-node: always) */
  private def leads(p: Int): Boolean =
    cluster == null || cluster.leaderOf(p) == nodeId

  def logSize(topic: String, p: Int): Int = log(topic, p).synchronized {
    log(topic, p).length
  }
  def logTimestamps(topic: String, p: Int): Seq[Long] =
    log(topic, p).synchronized(log(topic, p).map(_.timestamp).toSeq)

  /** Parse one magic-2 record batch, RECOMPUTING the CRC; None on
    * corruption (the produce path then answers CORRUPT_MESSAGE).
    */
  private[graft] def parseBatch(set: Array[Byte]): Option[Seq[Rec]] = {
    val bb = ByteBuffer.wrap(set)
    val c = new Cursor(bb)
    val _baseOffset = c.i64
    val batchLength = c.i32
    if (bb.remaining() < batchLength) return None
    c.i32 // leader epoch
    val magic = c.i8
    if (magic != 2) return None
    val crc = c.i32
    val tailLen = batchLength - 9
    val got = KafkaProto.crc32c(set, bb.position(), tailLen)
    if (got != crc) return None
    val attributes = c.i16
    val codec = attributes & 0x07
    if (codec > 4) return None // reserved codec bits: CORRUPT_MESSAGE
    c.i32 // lastOffsetDelta
    val baseTs = c.i64
    c.i64; c.i64; c.i16; c.i32 // maxTs, producerId, producerEpoch, baseSeq
    val n = c.i32
    // decompression of the records block (sink-side compression
    // lands here: gzip via java.util.zip stays an independent
    // decoder; lz4/snappy/zstd go through the product codec wrappers
    // over the bundled libraries — encoder/decoder independence lives
    // in Lz4Spec/SnappySpec, whose fixtures implement their OWN
    // compressors, and ZstdSpec's real-CLI fixtures)
    val recordsLen = 12 + batchLength - bb.position()
    val rc: Cursor = codec match {
      case 0 => c
      case 1 =>
        val gz = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(set, bb.position(), recordsLen))
        new Cursor(ByteBuffer.wrap(gz.readAllBytes()))
      case 2 => new Cursor(ByteBuffer.wrap(
        graft.sources.Snappy.decode(set, bb.position(), recordsLen)))
      case 3 => new Cursor(ByteBuffer.wrap(
        graft.sources.Lz4.decodeFrame(set, bb.position(), recordsLen)))
      case _ => new Cursor(ByteBuffer.wrap( // 4 = zstd; independence
        // evidence for this codec is ZstdSpec's real-CLI fixtures
        graft.sources.Zstd.decode(set, bb.position(), recordsLen)))
    }
    val out = Seq.newBuilder[Rec]
    var i = 0
    while (i < n) {
      val len = rc.vInt
      val end = rc.bb.position() + len
      rc.i8
      val tsDelta = rc.vLong
      rc.vInt // offsetDelta
      val kLen = rc.vInt
      val key = if (kLen < 0) None else Some(rc.bytes(kLen))
      val vLen = rc.vInt
      val value = if (vLen < 0) Array.empty[Byte] else rc.bytes(vLen)
      out += Rec(key, value, baseTs + tsDelta)
      rc.bb.position(end)
      i += 1
    }
    Some(out.result())
  }

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new BufferedOutputStream(sock.getOutputStream)
    var authed = requireUser.isEmpty

    def reply(correlation: Int, body: Array[Byte]): Unit = {
      val w = new Wire
      w.i32(4 + body.length).i32(correlation).raw(body)
      out.write(w.result()); out.flush()
    }

    try {
      while (running) {
        val szb = new Array[Byte](4)
        in.readFully(szb)
        val sz = ByteBuffer.wrap(szb).getInt
        val req = new Array[Byte](sz)
        in.readFully(req)
        val c = new Cursor(ByteBuffer.wrap(req))
        val apiKey = c.i16
        val apiVersion = c.i16
        val correlation = c.i32
        c.nullableStr // client id

        apiKey match {
          case 18 => // ApiVersions v0
            val w = new Wire
            w.i16(0).array(Seq(
              (18, 0, 3), (17, 0, 1), (36, 0, 2), (3, 0, 9),
              (0, 3, 9), (1, 4, 13), (2, 1, 7))) { (ww, k) =>
              ww.i16(k._1).i16(k._2).i16(k._3)
            }
            reply(correlation, w.result())

          case 17 => // SaslHandshake v1
            val mech = c.str
            val w = new Wire
            if (mech != "PLAIN")
              w.i16(33).array(Seq("PLAIN"))((ww, m) => { ww.str(m); () })
            else w.i16(0).array(Seq("PLAIN"))((ww, m) => { ww.str(m); () })
            reply(correlation, w.result())

          case 36 => // SaslAuthenticate v0
            val token = new String(c.bytes(c.i32), UTF_8)
            val parts = token.split("\u0000", -1)
            val ok = requireUser.exists { case (u, p) =>
              parts.length == 3 && parts(1) == u && parts(2) == p
            }
            val w = new Wire
            if (ok) {
              authed = true
              w.i16(0).nullableStr(None).bytes(Array.empty[Byte])
            } else {
              w.i16(58) // SASL_AUTHENTICATION_FAILED
                .nullableStr(Some("Authentication failed: bad credentials"))
                .bytes(Array.empty[Byte])
            }
            reply(correlation, w.result())
            if (!ok) return // real brokers close after failed auth

          case _ if !authed =>
            return // unauthenticated data request: drop the connection

          case 3 => // Metadata v4
            val nt = c.i32
            val topics = (0 until math.max(nt, 0)).map(_ => c.str)
            val allowCreate = if (c.remaining > 0) c.bool else false
            topics.foreach(t => if (allowCreate && !topicExists(t)) createTopic(t))
            // cluster mode advertises EVERY node and each
            // partition's real leader; single-node stays (0, self)
            val brokerList =
              if (cluster != null) cluster.brokers
              else Seq((nodeId, "127.0.0.1", port))
            val w = new Wire
            w.i32(0) // throttle
              .array(brokerList) { (ww, b) =>
                ww.i32(b._1).str(b._2).i32(b._3).nullableStr(None)
              }
              .nullableStr(Some("mini-kafka")).i32(0)
              .array(topics) { (ww, t) =>
                if (!topicExists(t)) {
                  ww.i16(3).str(t).bool(false).array(Seq.empty[Int])((_, _) => ())
                } else {
                  ww.i16(0).str(t).bool(false)
                    .array(0 until numPartitions) { (w2, p) =>
                      val leader =
                        if (cluster != null) cluster.leaderOf(p) else nodeId
                      w2.i16(0).i32(p).i32(leader)
                        .array(Seq(leader))((w3, r) => { w3.i32(r); () })
                        .array(Seq(leader))((w3, r) => { w3.i32(r); () })
                    }
                }
              }
            reply(correlation, w.result())

          case 0 => // Produce v3
            c.nullableStr // transactional id
            c.i16         // acks
            c.i32         // timeout
            val ntop = c.i32
            val responses = (0 until ntop).map { _ =>
              val topic = c.str
              val np = c.i32
              val parts = (0 until np).map { _ =>
                val p = c.i32
                val set = c.nullableBytes.getOrElse(Array.empty[Byte])
                producesSeen0.incrementAndGet()
                if (!topicExists(topic)) (p, 3, -1L)
                else if (!leads(p)) (p, 6, -1L) // NOT_LEADER_OR_FOLLOWER
                else parseBatch(set) match {
                  case None =>
                    corruptBatches0.incrementAndGet()
                    (p, 2, -1L) // CORRUPT_MESSAGE
                  case Some(recs) =>
                    val l = log(topic, p)
                    val base = l.synchronized {
                      val b = l.length.toLong; l ++= recs; b
                    }
                    (p, 0, base)
                }
              }
              (topic, parts)
            }
            val w = new Wire
            w.array(responses) { (ww, tr) =>
              ww.str(tr._1).array(tr._2) { (w2, pr) =>
                w2.i32(pr._1).i16(pr._2).i64(pr._3).i64(-1L)
              }
            }
            w.i32(0) // throttle
            reply(correlation, w.result())

          case 2 => // ListOffsets v1
            c.i32 // replica
            val ntop = c.i32
            val responses = (0 until ntop).map { _ =>
              val topic = c.str
              val np = c.i32
              val parts = (0 until np).map { _ =>
                val p = c.i32
                val ts = c.i64
                if (!topicExists(topic)) (p, 3, -1L)
                else if (!leads(p)) (p, 6, -1L) // NOT_LEADER_OR_FOLLOWER
                else {
                  val l = log(topic, p)
                  val off = l.synchronized {
                    if (ts == -2L) 0L else l.length.toLong
                  }
                  (p, 0, off)
                }
              }
              (topic, parts)
            }
            val w = new Wire
            w.array(responses) { (ww, tr) =>
              ww.str(tr._1).array(tr._2) { (w2, pr) =>
                w2.i32(pr._1).i16(pr._2).i64(-1L).i64(pr._3)
              }
            }
            reply(correlation, w.result())

          case 1 => // Fetch v4
            c.i32; c.i32; c.i32; c.i32; c.i8 // replica, wait, min, max, isolation
            val ntop = c.i32
            val responses = (0 until ntop).map { _ =>
              val topic = c.str
              val np = c.i32
              val parts = (0 until np).map { _ =>
                val p = c.i32
                val off = c.i64
                c.i32 // partition max bytes
                if (!topicExists(topic)) (p, 3, 0L, None: Option[Array[Byte]])
                else if (!leads(p)) // NOT_LEADER_OR_FOLLOWER
                  (p, 6, 0L, None: Option[Array[Byte]])
                else {
                  val l = log(topic, p)
                  l.synchronized {
                    val hw = l.length.toLong
                    if (off > hw) (p, 1, hw, None) // OFFSET_OUT_OF_RANGE
                    else if (off == hw) (p, 0, hw, None)
                    else {
                      // re-ENCODE from the log: the client's decoder
                      // then validates a CRC this fixture computed
                      val recs = l.drop(off.toInt).map(r =>
                        (r.key, r.value, r.timestamp)).toSeq
                      val batch =
                        if (lz4Fetch) KafkaProto.encodeBatchWith(off, recs,
                          codec = 3, Lz4Fixture.encodeFrame)
                        else if (snappyFetch) KafkaProto.encodeBatchWith(off,
                          recs, codec = 2, SnappyFixture.encodeXerial(_))
                        else if (zstdFetch)
                          KafkaProto.encodeBatch(off, recs, "zstd")
                        else if (gzipFetch)
                          KafkaProto.encodeBatch(off, recs, "gzip")
                        else KafkaProto.encodeBatch(off, recs)
                      if (corruptNextFetch) {
                        corruptNextFetch = false
                        batch(batch.length - 1) =
                          (batch(batch.length - 1) ^ 0x01).toByte
                      }
                      (p, 0, hw, Some(batch))
                    }
                  }
                }
              }
              (topic, parts)
            }
            val w = new Wire
            w.i32(0) // throttle
            w.array(responses) { (ww, tr) =>
              ww.str(tr._1).array(tr._2) { (w2, pr) =>
                w2.i32(pr._1).i16(pr._2).i64(pr._3).i64(pr._3)
                w2.i32(0) // aborted transactions: empty array
                w2.nullableBytes(pr._4)
              }
            }
            reply(correlation, w.result())

          case other =>
            // UNSUPPORTED_VERSION-style error isn't expressible
            // generically pre-flexible; drop the connection
            System.err.println(s"mini-kafka: unsupported api $other")
            return
        }
      }
    } catch {
      case _: EOFException | _: java.io.IOException => // client closed
    } finally sock.close()
  }

  private val acceptor = new Thread(() => {
    try while (running) {
      val sock = server.accept()
      conns.add(sock)
      val t = new Thread(() => handle(sock), "mini-kafka-conn")
      t.setDaemon(true); t.start()
    } catch { case _: java.io.IOException => /* server closed */ }
  }, "mini-kafka-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = {
    running = false; server.close()
    conns.forEach(s => try s.close() catch { case _: Exception => () })
  }
}

object MiniKafkaBroker {
  final case class Rec(key: Option[Array[Byte]],
      value: Array[Byte], timestamp: Long)

  /** Shared state of a multi-node loopback cluster: ONE log store
    * (the stand-in for replicated partitions) plus the leadership
    * assignment, reassignable mid-test to exercise the router's
    * NOT_LEADER refresh path.
    */
  final class Cluster {
    private[graft] val logs = scala.collection.mutable.Map
      .empty[(String, Int), scala.collection.mutable.ArrayBuffer[Rec]]
    @volatile private[graft] var brokers: Seq[(Int, String, Int)] = Nil
    /** partition -> leader node id */
    @volatile var leaderOf: Int => Int = _ => 0
  }

  /** An n-node cluster on loopback: partition p led by node p % n.
    * Every node serves Metadata with the full broker list; data
    * requests for partitions it does not lead answer
    * NOT_LEADER_OR_FOLLOWER, like a real broker.
    */
  def cluster(numPartitions: Int, nodes: Int,
      requireUser: Option[(String, String)] = None)
      : (Cluster, Seq[MiniKafkaBroker]) = {
    val c = new Cluster
    c.leaderOf = p => p % nodes
    val bs = (0 until nodes).map(i =>
      new MiniKafkaBroker(numPartitions, requireUser, bindPort = 0,
        nodeId = i, cluster = c))
    c.brokers = bs.zipWithIndex.map { case (b, i) => (i, "127.0.0.1", b.port) }
    (c, bs)
  }
}
