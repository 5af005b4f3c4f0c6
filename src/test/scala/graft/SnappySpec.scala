package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.{KafkaClient, KafkaPoller, KafkaProto, Snappy}
import org.apache.spark.sql.types._

/** The snappy codec (snappy-java plus the xerial framing walk)
  * against (a) byte-level raw-block vectors derived by hand from the
  * public format description — literal tags, all three copy-offset
  * widths, the overlapping-copy RLE idiom, extended literal lengths —
  * which `Snappy.decode` takes as unframed raw input, (b) round trips
  * through the INDEPENDENT test-side compressor in both raw and
  * xerial-framed forms, and (c) the full Kafka path: a
  * snappy-compressed fetch spooled by the poller.
  */
class SnappySpec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  test("raw block: hand-crafted spec vectors decode exactly") {
    // preamble 5, one literal element of 5 ("hello"):
    // tag = (5-1)<<2 | 00
    assert(Snappy.decode(
      Array[Byte](5, 0x10, 'h', 'e', 'l', 'l', 'o'), 0, 7).toSeq ==
      "hello".getBytes(UTF_8).toSeq)
    // tag-01 copy (1-byte offset): 4 literals "abcd" then copy
    // offset 4 len 4 => "abcdabcd". tag 01: len=((tag>>2)&7)+4,
    // offset = (tag>>5)<<8 | next. len 4 -> bits 0; offset 4 -> 0x04
    assert(Snappy.decode(
      Array[Byte](8, 0x0C, 'a', 'b', 'c', 'd', 0x01, 0x04), 0, 8).toSeq ==
      "abcdabcd".getBytes(UTF_8).toSeq)
    // tag-10 copy (2-byte offset), OVERLAPPING (RLE): 1 literal 'x'
    // then copy offset 1 len 7 => "x"*8. tag 10: len=(tag>>2)+1=7 ->
    // tag = 6<<2|2 = 0x1A
    assert(Snappy.decode(
      Array[Byte](8, 0x00, 'x', 0x1A, 0x01, 0x00), 0, 6).toSeq ==
      ("x" * 8).getBytes(UTF_8).toSeq)
    // tag-11 copy (4-byte offset): same as above with a wide offset
    assert(Snappy.decode(
      Array[Byte](8, 0x00, 'y', 0x1B, 0x01, 0x00, 0x00, 0x00), 0, 8).toSeq ==
      ("y" * 8).getBytes(UTF_8).toSeq)
    // extended literal length: tag 60<<2 (=0xF0), next byte len-1=84
    // => 85 literals
    val lits = Array.fill[Byte](85)('q')
    val pre = Array[Byte](85, 0xF0.toByte, 84)
    assert(Snappy.decode(pre ++ lits, 0, pre.length + 85).toSeq ==
      lits.toSeq)
  }

  test("raw block: malformed inputs are loud SnappyErrors") {
    // preamble says 9 but only 5 bytes decode
    intercept[Snappy.SnappyError](Snappy.decode(
      Array[Byte](9, 0x10, 'h', 'e', 'l', 'l', 'o'), 0, 7))
    // copy before output start
    intercept[Snappy.SnappyError](Snappy.decode(
      Array[Byte](8, 0x00, 'x', 0x1A, 0x05, 0x00), 0, 6))
    // literal running past block end
    intercept[Snappy.SnappyError](Snappy.decode(
      Array[Byte](9, 0x20, 'a'), 0, 3))
  }

  test("fuzzed and truncated frames fail as SnappyError — never hang or leak another exception") {
    val good = Snappy.compress(
      ("snappy fuzz corpus " * 3000).getBytes("UTF-8"))
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 300) {
      val b = good.clone()
      for (_ <- 0 to rnd.nextInt(4))
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      try { Snappy.decode(b, 0, b.length); () }
      catch { case _: Snappy.SnappyError => () }
    }
    val small = Snappy.compress("hello snappy world, hello again".getBytes)
    for (n <- 0 until small.length)
      try { Snappy.decode(small, 0, n); () }
      catch { case _: Snappy.SnappyError => () }
  }

  test("round trips through the independent compressor, raw and xerial") {
    val texts = Seq(
      "snappy snappy snappy compression round trip " * 200,
      "z",
      (0 until 8000).map(i => s"k$i=v${i % 13}").mkString("&"))
    texts.foreach { t =>
      val raw = t.getBytes(UTF_8)
      val block = SnappyFixture.compressRaw(raw)
      assert(Snappy.decode(block, 0, block.length).toSeq == raw.toSeq)
      val framed = SnappyFixture.encodeXerial(raw)
      assert(Snappy.decode(framed, 0, framed.length).toSeq == raw.toSeq)
      if (raw.length > 1000) assert(framed.length < raw.length,
        "compressible input must actually compress (the copy path ran)")
    }
    // unframed raw input through the Kafka-facing decode() entry
    val raw = ("plain " * 50).getBytes(UTF_8)
    val block = SnappyFixture.compressRaw(raw)
    assert(Snappy.decode(block, 0, block.length).toSeq == raw.toSeq)
    // multi-block xerial framing (> blockSize input)
    val big = ("0123456789abcdef" * 8192).getBytes(UTF_8) // 128 KB
    val framed = SnappyFixture.encodeXerial(big, blockSize = 16 * 1024)
    assert(Snappy.decode(framed, 0, framed.length).toSeq == big.toSeq)
  }

  test("kafka: snappy record batches decode; poller spools them") {
    val recs = Seq(
      (None: Option[Array[Byte]],
        ("""{"id":1,"pad":"""" + "s" * 300 + "\"}").getBytes(UTF_8), 100L),
      (None: Option[Array[Byte]], """{"id":2}""".getBytes(UTF_8), 200L))
    val batch = KafkaProto.encodeBatchWith(3L, recs, codec = 2,
      SnappyFixture.encodeXerial(_))
    val got = KafkaProto.decodeBatches(batch)
    assert(got.map(_.offset) == Seq(3L, 4L))
    assert(new String(got(1).value, UTF_8) == """{"id":2}""")

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("value", DoubleType)))
    val srv = new MiniKafkaBroker(numPartitions = 1)
    srv.snappyFetch = true
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_snappy_")
    try {
      val pre = new KafkaClient("127.0.0.1", srv.port)
      pre.partitions("sn")
      pre.produce("sn", 0, Seq(
        (None, """{"id":1,"kind":"a","value":0.5}"""),
        (None, """{"id":2,"kind":"b","value":1.5}""")))
      pre.close()
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "sn", dir.toString,
        startAt = "earliest", pollIntervalMs = 20L)
      try {
        assert(awaitTrue(3000)(poller.recordCount == 2),
          s"records=${poller.recordCount} dead=${poller.isDead}")
        assert(!poller.isDead)
      } finally poller.stop()
      val got2 = spark.read.schema(schema).json(dir.toString)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
      assert(got2 == Set((1L, "a", 0.5), (2L, "b", 1.5)))
    } finally srv.stop()
  }
}
