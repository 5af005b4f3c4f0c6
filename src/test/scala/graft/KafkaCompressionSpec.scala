package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources._

/** Sink-side compression (r13): the producer's codec matrix now
  * matches the consumer's — `compression: none|gzip|lz4|snappy|zstd`
  * on the connector compresses each produced record batch (rdkafka
  * `compression.type` parity, reference kafka.rs:19-56). Pins:
  *   - wire attributes bits name the codec and the records block
  *     actually shrinks on compressible payloads;
  *   - the lz4/snappy ENCODERS round-trip through the decoders across
  *     stored/compressed/multi-block shapes, raw snappy blocks from
  *     the INDEPENDENT test-side compressor decode through the
  *     unframed path, and lz4's header-checksum byte cross-checks
  *     against the test fixture's INDEPENDENT xxHash32 (zstd's
  *     cross-implementation evidence is ZstdSpec's real-zstd-CLI
  *     fixture vectors);
  *   - end-to-end per codec: sink write → loopback broker (which
  *     recomputes the CRC32C over the compressed bytes) → poller
  *     spool → rows identical;
  *   - unknown codec names stay loud rejections at construction.
  */
class KafkaCompressionSpec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  private val records: Seq[(Option[Array[Byte]], Array[Byte], Long)] =
    (0 until 50).map(i => (None,
      s"""{"id":$i,"k":"the quick brown fox jumps over the lazy dog $i"}"""
        .getBytes(UTF_8), 1700000000000L + i))

  test("encodeBatch stamps the codec in attributes and round-trips") {
    val uncompressed = KafkaProto.encodeBatch(0L, records, "none")
    for ((codec, id) <- Seq("none" -> 0, "gzip" -> 1, "snappy" -> 2,
        "lz4" -> 3, "zstd" -> 4)) {
      val batch = KafkaProto.encodeBatch(0L, records, codec)
      // attributes: baseOffset(8)+len(4)+epoch(4)+magic(1)+crc(4)
      val attrs = ((batch(21) & 0xff) << 8) | (batch(22) & 0xff)
      assert((attrs & 0x7) == id, s"$codec attributes $attrs")
      val got = KafkaProto.decodeBatches(batch)
      assert(got.map(r => new String(r.value, UTF_8)) ==
        records.map(r => new String(r._2, UTF_8)), s"$codec round trip")
      assert(got.map(_.timestamp) == records.map(_._3))
      if (codec != "none")
        assert(batch.length < uncompressed.length,
          s"$codec batch ${batch.length} vs plain ${uncompressed.length}")
    }
  }

  test("unknown codec names rejected loudly at construction") {
    val e2 = intercept[IllegalArgumentException](
      KafkaProto.encodeBatch(0L, records, "lzo"))
    assert(e2.getMessage.contains("lzo"))
    // connector misconfiguration fails at CONSTRUCTION
    val e3 = intercept[IllegalArgumentException](
      KafkaConnector("k", "127.0.0.1", 19092, "t", "/tmp/x",
        compression = "lzo"))
    assert(e3.getMessage.contains("lzo"))
  }

  test("lz4 encoder: frame shapes round-trip; HC byte is real xxHash32") {
    val shapes = Seq[Array[Byte]](
      Array.emptyByteArray,
      "tiny".getBytes(UTF_8), // < MFLIMIT → stored block
      ("abc" * 200000).getBytes(UTF_8), // highly repetitive
      Array.tabulate(100000)(i => // LCG noise → incompressible/stored
        (((i * 1103515245 + 12345) >>> 16) & 0xff).toByte),
      Array.tabulate(5 * 1024 * 1024)(i => (i % 251).toByte)) // many blocks
    shapes.foreach { data =>
      val framed = Lz4.compressFrame(data)
      val back = Lz4.decodeFrame(framed, 0, framed.length)
      assert(java.util.Arrays.equals(back, data),
        s"lz4 round trip failed at ${data.length} bytes")
      // header checksum byte: (xxh32(descriptor) >> 8) & 0xff, per
      // spec — verified against the fixture's INDEPENDENT xxHash32
      // (frame layout: magic 4, FLG+BD 2, content size 8, HC 1)
      val expectHc = (Lz4Fixture.xxh32(framed, 4, 10, 0) >>> 8) & 0xff
      assert((framed(14) & 0xff) == expectHc, "header checksum byte")
    }
    val rep = ("abc" * 200000).getBytes(UTF_8)
    assert(Lz4.compressFrame(rep).length < rep.length / 10,
      "repetitive input must actually compress")
  }

  test("snappy encoder: raw and xerial-framed shapes round-trip") {
    val shapes = Seq[Array[Byte]](
      Array.emptyByteArray,
      "tiny".getBytes(UTF_8),
      ("xyz" * 100000).getBytes(UTF_8),
      Array.tabulate(100000)(i =>
        (((i * 1103515245 + 12345) >>> 16) & 0xff).toByte),
      Array.tabulate(200000)(i => (i % 7).toByte)) // > 1 xerial block
    shapes.foreach { data =>
      val raw = SnappyFixture.compressRaw(data)
      assert(java.util.Arrays.equals(
        Snappy.decode(raw, 0, raw.length), data),
        s"raw round trip failed at ${data.length} bytes")
      val framed = Snappy.compress(data)
      assert(java.util.Arrays.equals(
        Snappy.decode(framed, 0, framed.length), data),
        s"framed round trip failed at ${data.length} bytes")
    }
    val rep = ("xyz" * 100000).getBytes(UTF_8)
    assert(Snappy.compress(rep).length < rep.length / 10,
      "repetitive input must actually compress")
  }

  test("end-to-end per codec: sink produce -> broker CRC -> poller spool") {
    import spark.implicits._
    for (codec <- Seq("none", "gzip", "lz4", "snappy", "zstd")) {
      val srv = new MiniKafkaBroker(numPartitions = 1)
      try {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_comp_$codec").toString
        val conn = KafkaConnector(s"sink-$codec", "127.0.0.1", srv.port,
          topic = s"comp-$codec", spoolDir = dir, compression = codec)
        val rows = (0 until 200)
          .map(i => (i.toLong, s"payload $codec $i", i * 0.5))
          .toDF("id", "label", "v")
        // pre-create the topic so the sink sees partitions
        val pre = new KafkaClient("127.0.0.1", srv.port)
        pre.partitions(s"comp-$codec"); pre.close()
        conn.write(rows)
        val poller = KafkaPoller.start(
          () => new KafkaClient("127.0.0.1", srv.port), s"comp-$codec",
          dir, startAt = "earliest", pollIntervalMs = 20L)
        try assert(awaitTrue(5000)(poller.recordCount == 200),
          s"$codec spooled ${poller.recordCount}/200")
        finally poller.stop()
        val got = spark.read.json(dir).select("id", "label", "v")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
          .toSet
        assert(got == rows.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2))).toSet,
          s"$codec round trip differs")
      } finally srv.stop()
    }
  }
}
