package graft

import graft.sources._

/** Decode-fault resilience of every driver-side ingestion loop: the
  * fixture injects ONE malformed frame whose decode throws a NON-IO
  * exception (CRC mismatch → IllegalArgumentException, truncated MQTT
  * PUBLISH → IndexOutOfBounds, non-numeric NATS MSG size / RESP bulk
  * length → NumberFormatException). The spool thread must route it
  * through the same reconnect-then-terminal path as connection loss —
  * `isDead || reconnectCount > 0`, never a silently dead thread that
  * still reports healthy — and then resume spooling fresh messages.
  */
class MalformedFrameSpec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  test("MQTT: a truncated PUBLISH frame reconnects, never dies silently") {
    val srv = new MiniMqttBroker()
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_mqtt_")
    val sub = MqttSubscriber.start("127.0.0.1", srv.port, "mf", dir.toString,
      timeoutMs = 500)
    try {
      val pub = new MqttClient("127.0.0.1", srv.port, "mf-pub")
      pub.publish("mf", """{"id":1}""", qos = 0); pub.ping()
      assert(awaitTrue(3000)(sub.messageCount == 1))
      // PUBLISH whose body claims a 127-byte topic but carries none:
      // parsePublish throws IndexOutOfBounds (non-IO) mid-decode
      srv.injectRaw(Array(0x30, 0x02, 0x00, 0x7F).map(_.toByte))
      assert(awaitTrue(10000)(sub.isDead || sub.reconnectCount > 0),
        s"silently dead thread: dead=${sub.isDead} " +
          s"reconnects=${sub.reconnectCount}")
      pub.publish("mf", """{"id":2}""", qos = 0); pub.ping()
      pub.close()
      assert(awaitTrue(5000)(sub.messageCount == 2),
        s"messages=${sub.messageCount}")
      assert(!sub.isDead)
    } finally { sub.stop(); srv.stop() }
  }

  test("NATS: a non-numeric MSG size reconnects, never dies silently") {
    val srv = new MiniNatsServer()
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_nats_")
    val sub = NatsSubscriber.start("127.0.0.1", srv.port, "mf", dir.toString,
      timeoutMs = 500)
    try {
      val pub = new NatsClient("127.0.0.1", srv.port)
      pub.publish("mf", """{"id":1}"""); pub.ping()
      assert(awaitTrue(3000)(sub.messageCount == 1))
      // MSG header whose payload size is not a number: toInt throws
      // NumberFormatException (non-IO) mid-decode
      srv.injectRaw("MSG mf 1 bogus\r\n".getBytes("UTF-8"))
      assert(awaitTrue(10000)(sub.isDead || sub.reconnectCount > 0),
        s"silently dead thread: dead=${sub.isDead} " +
          s"reconnects=${sub.reconnectCount}")
      pub.publish("mf", """{"id":2}"""); pub.ping()
      pub.close()
      assert(awaitTrue(5000)(sub.messageCount == 2),
        s"messages=${sub.messageCount}")
      assert(!sub.isDead)
    } finally { sub.stop(); srv.stop() }
  }

  test("Redis: a non-numeric RESP bulk length reconnects, never dies silently") {
    val srv = new MiniRedisServer()
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_redis_")
    val sub = RedisSubscriber.start("127.0.0.1", srv.port, "mf", dir.toString,
      timeoutMs = 500)
    try {
      val pub = new RedisClient("127.0.0.1", srv.port)
      pub.publish("mf", """{"id":1}""")
      assert(awaitTrue(3000)(sub.messageCount == 1))
      // RESP bulk header with a non-numeric length: toInt throws
      // NumberFormatException (non-IO) mid-decode
      srv.injectRaw("mf", "$abc\r\n".getBytes("UTF-8"))
      assert(awaitTrue(10000)(sub.isDead || sub.reconnectCount > 0),
        s"silently dead thread: dead=${sub.isDead} " +
          s"reconnects=${sub.reconnectCount}")
      pub.publish("mf", """{"id":2}""")
      pub.close()
      assert(awaitTrue(5000)(sub.messageCount == 2),
        s"messages=${sub.messageCount}")
      assert(!sub.isDead)
    } finally { sub.stop(); srv.stop() }
  }

  test("Kafka: a CRC-corrupted batch through the POLLER reconnects and resumes") {
    val srv = new MiniKafkaBroker(numPartitions = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_kafka_")
    val pre = new KafkaClient("127.0.0.1", srv.port)
    pre.partitions("mf")
    pre.produce("mf", 0, Seq((None, """{"id":1}""")))
    val poller = KafkaPoller.start(
      () => new KafkaClient("127.0.0.1", srv.port), "mf", dir.toString,
      startAt = "earliest", pollIntervalMs = 20L)
    try {
      assert(awaitTrue(3000)(poller.recordCount == 1))
      // corrupt the NEXT fetched batch: the client's CRC32C check
      // throws IllegalArgumentException (non-IO) mid-decode; the flag
      // self-resets so the post-reconnect refetch is clean
      srv.corruptNextFetch = true
      pre.produce("mf", 0, Seq((None, """{"id":2}""")))
      pre.close()
      assert(awaitTrue(10000)(poller.isDead || poller.reconnectCount > 0),
        s"silently dead thread: dead=${poller.isDead} " +
          s"reconnects=${poller.reconnectCount}")
      assert(awaitTrue(5000)(poller.recordCount == 2),
        s"records=${poller.recordCount}")
      assert(!poller.isDead)
    } finally { poller.stop(); srv.stop() }
  }

  test("Kinesis: an invalid-Base64 record restarts the poller, never dies silently") {
    val kin = new MiniKinesis("AK", "sec")
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_kin_")
    try {
      val client = new KinesisClient(kin.url, "us-east-1", "AK", "sec")
      client.putRecords("ev", Seq(("k", """{"id":1}""")))
      val poller = KinesisPoller.start(client, "ev", dir.toString,
        iteratorType = "TRIM_HORIZON", pollIntervalMs = 20L)
      try {
        assert(awaitTrue(3000)(poller.recordCount == 1))
        // ONE malformed GetRecords response: Base64 decode throws a
        // NON-IO IllegalArgumentException mid-decode; the poller must
        // restart (re-bootstrapping shard iterators), never die with
        // isDead == false
        kin.corruptNextGetRecords = true
        client.putRecords("ev", Seq(("k", """{"id":2}""")))
        assert(awaitTrue(10000)(poller.isDead || poller.restartCount > 0),
          s"silently dead thread: dead=${poller.isDead} " +
            s"restarts=${poller.restartCount}")
        assert(awaitTrue(5000)(poller.recordCount >= 2),
          s"records=${poller.recordCount}")
        assert(!poller.isDead)
      } finally poller.stop()
    } finally kin.stop()
  }

  test("REST: a persistent spool fault exhausts into terminalError") {
    // endpoint is healthy; the landing path is a FILE, so every spool
    // throws a non-IO-loop fault — consecutive faults must exhaust
    // into terminalError instead of killing the thread silently
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feed", (x: com.sun.net.httpserver.HttpExchange) => {
      val b = """{"id":1,"kind":"a"}""".getBytes("UTF-8")
      x.sendResponseHeaders(200, b.length.toLong)
      val os = x.getResponseBody
      try os.write(b) finally os.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    val f = java.nio.file.Files.createTempFile("graft_mf_rest_", ".notadir")
    try {
      val p = RestPoller.start(url, "/feed", f.toString, intervalMs = 20L)
      try {
        assert(awaitTrue(15000)(p.isDead),
          s"dead=${p.isDead} failures=${p.failureCount}")
        assert(p.terminalError.isDefined)
        assert(p.failureCount >= 8)
      } finally p.stop()
    } finally server.stop(0)
  }

  test("Kafka: an unsupported-codec batch exhausts retries into terminalError") {
    // a PERSISTENT decode failure (every refetch returns the same
    // reserved-codec or mislabeled batch) must not loop forever:
    // retries exhaust into terminalError naming the fault
    val srv = new MiniKafkaBroker(numPartitions = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_mf_kcodec_")
    val pre = new KafkaClient("127.0.0.1", srv.port)
    pre.partitions("mf")
    pre.produce("mf", 0, Seq((None, """{"id":1}""")))
    pre.close()
    // drive the codec rejection through decodeBatches directly: mark
    // the batch with reserved codec 5 and fix up the CRC so ONLY the
    // codec rejection fires
    val records = Seq((None: Option[Array[Byte]],
      """{"id":1}""".getBytes("UTF-8"), 5L))
    def reCodec(codec: Byte): Array[Byte] = {
      val batch = KafkaProto.encodeBatch(0L, records)
      val attrOff = 8 + 4 + 4 + 1 + 4 // baseOffset+len+epoch+magic+crc
      batch(attrOff + 1) = codec
      val tailLen = batch.length - attrOff
      val crc = KafkaProto.crc32c(batch, attrOff, tailLen)
      val crcOff = 8 + 4 + 4 + 1
      batch(crcOff) = ((crc >> 24) & 0xff).toByte
      batch(crcOff + 1) = ((crc >> 16) & 0xff).toByte
      batch(crcOff + 2) = ((crc >> 8) & 0xff).toByte
      batch(crcOff + 3) = (crc & 0xff).toByte
      batch
    }
    val e = intercept[IllegalArgumentException] {
      KafkaProto.decodeBatches(reCodec(5))
    }
    assert(e.getMessage.contains("codec 5"))
    // a batch MISLABELED lz4 or zstd (records block is not a valid
    // frame) fails loudly too — bad frame magic, never silent garbage
    val e2 = intercept[IllegalArgumentException] {
      KafkaProto.decodeBatches(reCodec(3))
    }
    assert(e2.getMessage.contains("lz4"))
    val e3 = intercept[IllegalArgumentException] {
      KafkaProto.decodeBatches(reCodec(4))
    }
    assert(e3.getMessage.contains("zstd") && e3.getMessage.contains("magic"))
    // exhaustion path: a poller whose broker vanishes goes terminal
    // (decode failures share the same reconnect machinery, so a
    // PERSISTENT codec rejection exhausts identically)
    val p2 = KafkaPoller.start(
      () => new KafkaClient("127.0.0.1", srv.port), "mf", dir.toString,
      startAt = "earliest", pollIntervalMs = 20L, maxReconnects = 1)
    try {
      assert(awaitTrue(3000)(p2.recordCount == 1))
      srv.stop() // and never comes back
      assert(awaitTrue(15000)(p2.isDead), "retries must exhaust into dead")
      assert(p2.terminalError.isDefined)
    } finally p2.stop()
  }

  test("Kafka: a batch that decodes past the size cap fails typed, never OOM") {
    // each records block below is a few bytes to a few KiB that
    // claims or decodes to more than the decoded-size cap
    val records = Seq((None: Option[Array[Byte]], "{}".getBytes("UTF-8"), 5L))
    def batch(codec: Int, block: Array[Byte]): Array[Byte] =
      KafkaProto.encodeBatchWith(0L, records, codec, _ => block)
    // snappy, default 1 GiB cap: a 5-byte raw block whose preamble
    // claims 2^31-9 bytes is refused before anything is allocated
    val e1 = intercept[Snappy.SnappyError](KafkaProto.decodeBatches(
      batch(2, Array(0xF7, 0xFF, 0xFF, 0xFF, 0x07).map(_.toByte))))
    assert(e1.getMessage.startsWith("snappy: ") && e1.getMessage.contains("cap"), e1.getMessage)
    // zstd and lz4 against a 1 MiB cap, so the test holds at most that
    // much: what decodes past it fails as the typed error
    val cap = 1 << 20
    // zstd: no content size, 128 KiB window, then RLE blocks of 128 KiB
    // (4 bytes each) until the output passes the cap
    val zstd = new java.io.ByteArrayOutputStream()
    zstd.write(Array(0x28, 0xB5, 0x2F, 0xFD, 0x00, 0x38).map(_.toByte))
    val nBlocks = cap / (128 * 1024) + 1
    for (i <- 1 to nBlocks) // header: size << 3 | RLE << 1 | last
      zstd.write(Array(0x02 | (if (i == nBlocks) 1 else 0), 0x00, 0x10, 'z').map(_.toByte))
    val e2 = intercept[Zstd.ZstdError](
      KafkaProto.decodeBatches(batch(4, zstd.toByteArray), maxDecoded = cap))
    assert(e2.getMessage.startsWith("zstd: ") && e2.getMessage.contains("cap"), e2.getMessage)
    // the frame itself is well formed: under a cap it fits in, it
    // decodes to every RLE byte
    val z = zstd.toByteArray
    assert(Zstd.decode(z, 0, z.length, cap = 2 * cap).length == nBlocks * 128 * 1024)
    val lz4 = Lz4.compressFrame(new Array[Byte](2 * cap))
    val e3 = intercept[Lz4.Lz4Error](
      KafkaProto.decodeBatches(batch(3, lz4), maxDecoded = cap))
    assert(e3.getMessage.startsWith("lz4: ") && e3.getMessage.contains("cap"), e3.getMessage)
  }
}
