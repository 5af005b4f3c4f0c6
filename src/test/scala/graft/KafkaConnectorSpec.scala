package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.{KafkaClient, KafkaConnector, KafkaPoller, KafkaProto}
import org.apache.spark.sql.types._

/** REAL networked Kafka connector over loopback TCP: the wire
  * handshake (ApiVersions), SASL/PLAIN auth isolation, magic-2
  * record-batch codec with CRC32C verified independently on both
  * sides (the fixture recomputes on produce, the client recomputes on
  * fetch), produce/listOffsets/fetch against the fixture's log, the
  * driver-side poller spool, and the chunked sink → broker → poller →
  * stream round trip.
  */
class KafkaConnectorSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("value", DoubleType)))

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  test("record batch codec: encode/decode round trip, CRC rejects corruption") {
    val recs = Seq(
      (Some("k1".getBytes(UTF_8)), """{"id":1}""".getBytes(UTF_8), 1000L),
      (None, """{"id":2}""".getBytes(UTF_8), 1500L),
      (Some("k3".getBytes(UTF_8)), Array.empty[Byte], 900L))
    val batch = KafkaProto.encodeBatch(42L, recs)
    val got = KafkaProto.decodeBatches(batch)
    assert(got.map(_.offset) == Seq(42L, 43L, 44L))
    assert(got.map(_.timestamp) == Seq(1000L, 1500L, 900L))
    assert(got.head.key.map(new String(_, UTF_8)) == Some("k1"))
    assert(got(1).key.isEmpty)
    assert(new String(got(1).value, UTF_8) == """{"id":2}""")
    assert(got(2).value.isEmpty)
    // flip one payload byte: the CRC32C check must reject the batch
    val corrupt = batch.clone()
    corrupt(corrupt.length - 3) = (corrupt(corrupt.length - 3) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](
      KafkaProto.decodeBatches(corrupt))
    assert(e.getMessage.contains("CRC"))
  }

  test("client: metadata auto-create, produce, listOffsets, ordered fetch") {
    val srv = new MiniKafkaBroker(numPartitions = 2)
    try {
      val c = new KafkaClient("127.0.0.1", srv.port)
      try {
        assert(c.apiVersions().contains(0)) // Produce advertised
        assert(c.partitions("events").sorted == Seq(0, 1))
        val base = c.produce("events", 0,
          Seq((Some("a"), """{"id":1}"""), (None, """{"id":2}""")))
        assert(base == 0L)
        val base2 = c.produce("events", 0, Seq((None, """{"id":3}""")))
        assert(base2 == 2L)
        assert(c.listOffset("events", 0, -2L) == 0L) // earliest
        assert(c.listOffset("events", 0, -1L) == 3L) // latest
        val (recs, hw) = c.fetch("events", 0, 0L)
        assert(hw == 3L)
        assert(recs.map(_.offset) == Seq(0L, 1L, 2L))
        assert(recs.map(r => new String(r.value, UTF_8)) ==
          Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""))
        assert(recs.head.key.map(new String(_, UTF_8)) == Some("a"))
        // fetch from a mid offset, and from the log end (caught up)
        assert(c.fetch("events", 0, 2L)._1.map(_.offset) == Seq(2L))
        assert(c.fetch("events", 0, 3L)._1.isEmpty)
        // the other partition is independent
        assert(c.listOffset("events", 1, -1L) == 0L)
      } finally c.close()
    } finally srv.stop()
  }

  test("broker-side CRC: a corrupted produce is rejected, not stored") {
    val srv = new MiniKafkaBroker()
    try {
      val good = new KafkaClient("127.0.0.1", srv.port)
      try {
        good.partitions("t") // auto-create
        // hand-roll a Produce v3 frame whose batch has one bit flipped
        // AFTER CRC computation — the fixture must answer
        // CORRUPT_MESSAGE and keep its log empty
        val batch = KafkaProto.encodeBatch(0L,
          Seq((None, """{"id":1}""".getBytes(UTF_8), 0L)))
        batch(batch.length - 2) = (batch(batch.length - 2) ^ 0x01).toByte
        val sock = new java.net.Socket("127.0.0.1", srv.port)
        try {
          sock.setSoTimeout(3000)
          val body = new KafkaProto.Wire
          body.i16(0).i16(3).i32(1).nullableStr(Some("corrupter"))
            .nullableStr(None).i16(-1).i32(30000)
            .array(Seq("t")) { (w, t) =>
              w.str(t).array(Seq(0)) { (w2, p) =>
                w2.i32(p).nullableBytes(Some(batch))
              }
            }
          val payload = body.result()
          val frame = new KafkaProto.Wire
          frame.i32(payload.length).raw(payload)
          sock.getOutputStream.write(frame.result())
          sock.getOutputStream.flush()
          val in = new java.io.DataInputStream(sock.getInputStream)
          val sz = in.readInt()
          val resp = new Array[Byte](sz)
          in.readFully(resp)
          // correlation(4) topics(4) name(2+1) partitions(4) index(4) error(2)
          val err = ((resp(19) & 0xff) << 8) | (resp(20) & 0xff)
          assert(err == 2, s"expected CORRUPT_MESSAGE(2), got $err")
        } finally sock.close()
        assert(srv.corruptBatches == 1)
        assert(good.listOffset("t", 0, -1L) == 0L) // nothing stored
        // and the well-formed path still works on the same broker
        assert(good.produce("t", 0, Seq((None, """{"id":9}"""))) == 0L)
      } finally good.close()
    } finally srv.stop()
  }

  test("SASL/PLAIN: good creds produce; bad creds and no creds are isolated") {
    val srv = new MiniKafkaBroker(requireUser = Some(("svc", "hunter2")))
    try {
      val ok = new KafkaClient("127.0.0.1", srv.port,
        username = Some("svc"), password = Some("hunter2"))
      try {
        ok.partitions("sec")
        assert(ok.produce("sec", 0, Seq((None, """{"id":1}"""))) == 0L)
      } finally ok.close()
      // wrong password: SaslAuthenticate error surfaces by name
      val bad = intercept[java.io.IOException](
        new KafkaClient("127.0.0.1", srv.port,
          username = Some("svc"), password = Some("wrong")))
      assert(bad.getMessage.contains("SASL_AUTHENTICATION_FAILED"),
        bad.getMessage)
      // no credentials at all: data requests are dropped pre-auth
      val anon = new KafkaClient("127.0.0.1", srv.port)
      try intercept[java.io.IOException](anon.partitions("sec"))
      finally anon.close()
      // the authenticated write was isolated from both failures
      val ok2 = new KafkaClient("127.0.0.1", srv.port,
        username = Some("svc"), password = Some("hunter2"))
      try assert(ok2.listOffset("sec", 0, -1L) == 1L) finally ok2.close()
    } finally srv.stop()
  }

  test("poller: earliest replays the log, then follows new produces") {
    val srv = new MiniKafkaBroker(numPartitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_src_")
    try {
      val pre = new KafkaClient("127.0.0.1", srv.port)
      pre.partitions("ev")
      pre.produce("ev", 0, Seq((None, """{"id":1,"kind":"a","value":0.5}""")))
      pre.produce("ev", 1, Seq((None, "not json")))
      pre.close()
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "ev", dir.toString,
        startAt = "earliest", pollIntervalMs = 20L)
      try {
        assert(awaitTrue(3000)(
          poller.recordCount == 1 && poller.failureCount == 1),
          s"records=${poller.recordCount} failures=${poller.failureCount}")
        val live = new KafkaClient("127.0.0.1", srv.port)
        live.produce("ev", 1, Seq((None, """{"id":2,"kind":"b","value":1.5}""")))
        live.close()
        assert(awaitTrue(3000)(poller.recordCount == 2),
          s"records=${poller.recordCount}")
        assert(!poller.isDead)
      } finally poller.stop()
      val got = spark.read.schema(schema).json(dir.toString)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got == Set((1L, "a", 0.5), (2L, "b", 1.5)))
    } finally srv.stop()
  }

  test("gzip codec: encode/decode round trip, fixture decodes independently") {
    val recs = Seq(
      (Some("k1".getBytes(UTF_8)), """{"id":1}""".getBytes(UTF_8), 1000L),
      (None, """{"id":2}""".getBytes(UTF_8), 1500L))
    val batch = KafkaProto.encodeBatch(7L, recs, "gzip")
    // attributes bits 0-2 must mark gzip (codec 1)
    val attrOff = 8 + 4 + 4 + 1 + 4
    assert((((batch(attrOff) & 0xff) << 8) | (batch(attrOff + 1) & 0xff)) == 1)
    val got = KafkaProto.decodeBatches(batch)
    assert(got.map(_.offset) == Seq(7L, 8L))
    assert(got.map(_.timestamp) == Seq(1000L, 1500L))
    assert(got.map(r => new String(r.value, UTF_8)) ==
      Seq("""{"id":1}""", """{"id":2}"""))
    // CRC covers the COMPRESSED bytes: flipping one still rejects
    val corrupt = batch.clone()
    corrupt(corrupt.length - 3) = (corrupt(corrupt.length - 3) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](
      KafkaProto.decodeBatches(corrupt))
    assert(e.getMessage.contains("CRC"))
  }

  test("poller spools gzip-compressed fetches (producer-compressed topics)") {
    val srv = new MiniKafkaBroker(numPartitions = 1)
    srv.gzipFetch = true // every fetched batch arrives gzip-compressed
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_gz_")
    try {
      val pre = new KafkaClient("127.0.0.1", srv.port)
      pre.partitions("gz")
      // gzip produce proves the fixture's independent decompression
      // accepts the client's compressed encoding too
      val gzBatch = KafkaProto.encodeBatch(0L,
        Seq((None, """{"id":1,"kind":"a","value":0.5}""".getBytes(UTF_8), 10L)),
        "gzip")
      assert(srv.parseBatch(gzBatch).exists(_.length == 1),
        "fixture must decode a gzip produce")
      pre.produce("gz", 0, Seq(
        (None, """{"id":1,"kind":"a","value":0.5}"""),
        (None, """{"id":2,"kind":"b","value":1.5}""")))
      pre.close()
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "gz", dir.toString,
        startAt = "earliest", pollIntervalMs = 20L)
      try {
        assert(awaitTrue(3000)(poller.recordCount == 2),
          s"records=${poller.recordCount} dead=${poller.isDead}")
        assert(!poller.isDead)
      } finally poller.stop()
      val got = spark.read.schema(schema).json(dir.toString)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got == Set((1L, "a", 0.5), (2L, "b", 1.5)))
    } finally srv.stop()
  }

  test("sink -> broker -> poller -> stream round trip, chunked produce") {
    val srv = new MiniKafkaBroker(numPartitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_rt_")
    try {
      val conn = KafkaConnector("loop", "127.0.0.1", srv.port, "loop",
        dir.toString, batchSize = 2) // 2-row chunks force several batches
      import spark.implicits._
      val in = (1 to 7).map(i => (i.toLong, s"k$i", i * 0.5))
        .toDF("id", "kind", "value").repartition(2)
      conn.write(in) // executor-side acks=-1 produces
      val total = srv.logSize("loop", 0) + srv.logSize("loop", 1)
      assert(total == 7, s"broker holds $total records")
      // the sink stamps real CreateTime, never epoch 0 (epoch-0
      // segments are instantly past any time-based retention)
      val before = System.currentTimeMillis() - 60000L
      assert((srv.logTimestamps("loop", 0) ++ srv.logTimestamps("loop", 1))
        .forall(_ > before), "sink must stamp real produce time")
      // chunks of 2 from two Spark partitions = at least 4 produces,
      // rotated across topic partitions
      assert(srv.producesSeen >= 4)
      assert(srv.logSize("loop", 0) > 0 && srv.logSize("loop", 1) > 0,
        "chunk rotation must spread load over topic partitions")
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "loop", dir.toString,
        startAt = "earliest", pollIntervalMs = 20L)
      try assert(awaitTrue(3000)(poller.recordCount == 7))
      finally poller.stop()
      spark.sql("DROP VIEW IF EXISTS graft_kafka_sink")
      val q = conn.readStream(spark, schema)
        .writeStream.format("memory").queryName("graft_kafka_sink")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("graft_kafka_sink")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got == (1 to 7).map(i => (i.toLong, s"k$i", i * 0.5)).toSet)
    } finally srv.stop()
  }
}
