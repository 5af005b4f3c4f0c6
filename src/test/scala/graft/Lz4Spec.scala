package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.{KafkaClient, KafkaPoller, KafkaProto, Lz4}
import org.apache.spark.sql.types._

/** The LZ4 frame codec (lz4-java) against (a) BYTE-LEVEL block
  * vectors derived by hand from the public block-format spec —
  * literals-only, match copy, the overlapping-match RLE idiom, 15/255
  * length extensions — each wrapped in a minimal spec-valid frame,
  * (b) frame-level variants (stored blocks, content size, verified
  * header and block checksums, multi-block, dependent blocks),
  * (c) round trips through the INDEPENDENT test-side compressor and
  * the lz4 CLI, and (d) the full Kafka path: an lz4-compressed fetch
  * spooled by the poller.
  */
class Lz4Spec extends SparkSpec {

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var ok = cond
    while (!ok && System.nanoTime() < deadline) { Thread.sleep(20); ok = cond }
    ok
  }

  /** One frame: FLG `flg` (C.Size adds the 8-byte `declared` size),
    * BD 64 KB, real header checksum, then `blocks` as given, EndMark.
    */
  private def frame(flg: Int, declared: Long, blocks: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff) }
    u32(0x184D2204)
    val desc = java.nio.ByteBuffer.allocate(if ((flg & 0x08) != 0) 10 else 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).put(flg.toByte).put(0x40.toByte)
    if ((flg & 0x08) != 0) desc.putLong(declared)
    out.write(desc.array())
    out.write((Lz4Fixture.xxh32(desc.array(), 0, desc.capacity(), 0) >>> 8) & 0xff)
    blocks.foreach(b => out.write(b))
    u32(0) // EndMark
    out.toByteArray
  }

  /** A compressed block with its 4-byte size header. */
  private def sized(block: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(4 + block.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(block.length).put(block).array()

  /** Decode one raw block through a v01 + B.Indep frame. */
  private def decodeBlockAll(block: Array[Byte]): Array[Byte] = {
    val f = frame(0x60, 0L, sized(block))
    Lz4.decodeFrame(f, 0, f.length)
  }

  // Every vector keeps the block format's end rules: the last match
  // starts at least 12 bytes before the block end, and the last 5
  // bytes are literals. The reference decoder rejects blocks that
  // break them.
  test("block: hand-crafted spec vectors decode exactly") {
    // literals only: token 0x50 = 5 literals, no match (final sequence)
    assert(decodeBlockAll(
      Array[Byte](0x50, 'h', 'e', 'l', 'l', 'o')).toSeq ==
      "hello".getBytes(UTF_8).toSeq)
    // one match: 4 literals "abcd", then match offset 4 length 4+0
    // => "abcdabcd", then 8 final literals "x"
    assert(decodeBlockAll(Array[Byte](
      0x40, 'a', 'b', 'c', 'd', 0x04, 0x00, // token(4 lit, 4 match), lits, offset LE
      0x80.toByte) ++ "xxxxxxxx".getBytes(UTF_8)).toSeq ==
      "abcdabcdxxxxxxxx".getBytes(UTF_8).toSeq)
    // OVERLAPPING match (the RLE idiom): 1 literal 'a', offset 1,
    // match length 4+11=15 => "a" * 16, then 5 final literals 'b'
    assert(decodeBlockAll(Array[Byte](
      0x1B, 'a', 0x01, 0x00,
      0x50, 'b', 'b', 'b', 'b', 'b')).toSeq ==
      ("a" * 16 + "bbbbb").getBytes(UTF_8).toSeq)
    // 15/255 extensions: 15+255+3 = 273 literals
    val lits = Array.fill[Byte](273)('z')
    val block = Array[Byte](0xF0.toByte, 0xFF.toByte, 0x03) ++ lits
    assert(decodeBlockAll(block).toSeq == lits.toSeq)
    // extended MATCH length: 4 literals, offset 4, 19+255+1 = 275
    // match bytes => 279 bytes of repeating "wxyz", then "qqqqq"
    val b2 = Array[Byte](0x4F, 'w', 'x', 'y', 'z', 0x04, 0x00,
      0xFF.toByte, 0x01, 0x50, 'q', 'q', 'q', 'q', 'q')
    assert(decodeBlockAll(b2).toSeq ==
      (("wxyz" * 70).take(279) + "qqqqq").getBytes(UTF_8).toSeq)
  }

  test("block: malformed inputs are loud Lz4Errors, never silent garbage") {
    // truncated literal length: token says 15+ literals, no length byte
    intercept[Lz4.Lz4Error](decodeBlockAll(Array[Byte](0xF0.toByte)))
    // offset before output start
    intercept[Lz4.Lz4Error](decodeBlockAll(
      Array[Byte](0x10, 'a', 0x05, 0x00, 0x50, 'b', 'b', 'b', 'b', 'b')))
    // literals running past the block end
    intercept[Lz4.Lz4Error](decodeBlockAll(Array[Byte](0x70, 'a')))
  }

  test("fuzzed and truncated frames fail as Lz4Error — never hang or leak another exception") {
    val good = Lz4.compressFrame(
      ("lz4 fuzz corpus " * 4000).getBytes("UTF-8"))
    val rnd = new scala.util.Random(13)
    for (_ <- 0 until 300) {
      val b = good.clone()
      for (_ <- 0 to rnd.nextInt(4))
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      // compressFrame writes no block or content checksum (the Kafka
      // batch CRC covers the bytes), so a content-region flip can
      // decode to different bytes — the contract here is the ERROR
      // TYPE, not detection
      try { Lz4.decodeFrame(b, 0, b.length); () }
      catch { case _: Lz4.Lz4Error => () }
    }
    val small = Lz4.compressFrame("hello lz4 world, hello again".getBytes)
    for (n <- 4 until small.length)
      try { Lz4.decodeFrame(small, 0, n); () }
      catch { case _: Lz4.Lz4Error => () }
  }

  test("frame: fixture-encoded frames round-trip (compressible, random, empty-ish)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog " * 100,
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "x",
      (0 until 5000).map(i => s"row-$i,value-${i % 7}").mkString("\n"))
    texts.foreach { t =>
      val raw = t.getBytes(UTF_8)
      val frame = Lz4Fixture.encodeFrame(raw)
      val got = Lz4.decodeFrame(frame, 0, frame.length)
      assert(got.toSeq == raw.toSeq, s"round trip failed for ${t.take(30)}…")
      // compressible inputs actually compress (the decoder's match
      // path ran, not just stored blocks)
      if (raw.length > 1000) assert(frame.length < raw.length / 2)
    }
    // incompressible bytes fall back to stored blocks and round-trip
    val rnd = Array.tabulate[Byte](70000)(i =>
      (i * 31 + (i >> 3) * 17 + (i >> 7) * 253).toByte)
    val f = Lz4Fixture.encodeFrame(rnd)
    assert(Lz4.decodeFrame(f, 0, f.length).toSeq == rnd.toSeq)
  }

  test("frame: content-size, block-checksum and multi-block variants decode") {
    val raw = ("payload " * 20000).getBytes(UTF_8) // > 64 KB: several blocks
    val base = Lz4Fixture.encodeFrame(raw)
    assert(Lz4.decodeFrame(base, 0, base.length).toSeq == raw.toSeq)
    // a frame with C.Size + B.Checksum set (one stored block), real
    // header and block checksums
    val small = "twelve bytes".getBytes(UTF_8)
    val sum = Lz4Fixture.xxh32(small, 0, small.length, 0)
    def stored(blockSum: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(8 + small.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(small.length | 0x80000000).put(small).putInt(blockSum).array()
    val flg = 0x60 | 0x10 | 0x08 // v01 + B.Indep + B.Checksum + C.Size
    val f2 = frame(flg, small.length, stored(sum))
    assert(Lz4.decodeFrame(f2, 0, f2.length).toSeq == small.toSeq)
    // a wrong block checksum is rejected
    val badSum = frame(flg, small.length, stored(sum ^ 0x100))
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(badSum, 0, badSum.length))
    // a wrong header checksum is rejected
    val badHc = f2.clone(); badHc(14) = (badHc(14) ^ 1).toByte
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(badHc, 0, badHc.length))
    // declared content size that does not match is rejected
    val f3 = frame(flg, 99L, stored(sum))
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(f3, 0, f3.length))
    // an implausible DECLARED content size (2 GiB, or negative as a
    // long) is an Lz4Error, never an allocation of that size
    val huge = frame(flg, 1L << 31, stored(sum))
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(huge, 0, huge.length))
    val wrap = frame(flg, Long.MinValue, stored(sum))
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(wrap, 0, wrap.length))
    // dependent blocks (B.Indep=0) are rejected: Kafka clients write
    // independent blocks
    val dep = frame(0x40, 0L, sized(Array[Byte](0x50, 'h', 'e', 'l', 'l', 'o')))
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(dep, 0, dep.length))
    // bad magic, reserved version and truncation are loud
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(Array[Byte](1, 2, 3, 4, 5, 6, 7), 0, 7))
    val badVer = f2.clone(); badVer(4) = 0x20
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(badVer, 0, badVer.length))
    intercept[Lz4.Lz4Error](Lz4.decodeFrame(f2, 0, 10))
  }

  test("lz4 CLI decodes graft frames and graft decodes CLI frames when present") {
    val cli = sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .map(d => new java.io.File(d, "lz4")).find(_.canExecute)
    assume(cli.isDefined, "no lz4 CLI on the PATH")
    def run(args: String*): (Int, Array[Byte]) = {
      val p = new ProcessBuilder((cli.get.getPath +: args): _*).start()
      val got = p.getInputStream.readAllBytes()
      (p.waitFor(), got)
    }
    val inputs = Seq(Array.emptyByteArray, "x".getBytes(UTF_8),
      ("the quick brown fox " * 20000).getBytes(UTF_8), // several 64 KiB blocks
      Array.tabulate[Byte](100000)(i => (((i * 1103515245 + 12345) >>> 16) & 0xff).toByte))
    val f = java.io.File.createTempFile("graft_lz4", ".bin")
    try inputs.foreach { raw =>
      // graft -> CLI
      java.nio.file.Files.write(f.toPath, Lz4.compressFrame(raw))
      val (rc, back) = run("-d", "-q", "-c", f.getAbsolutePath)
      assert(rc == 0 && back.sameElements(raw), s"lz4 -d of a ${raw.length}-byte frame")
      // CLI -> graft: default, checksummed blocks with content size,
      // and high compression
      java.nio.file.Files.write(f.toPath, raw)
      for (opts <- Seq(Seq(), Seq("-BX", "--content-size", "-B4"), Seq("-9"))) {
        val (rc2, z) = run(opts ++ Seq("-q", "-c", f.getAbsolutePath): _*)
        assert(rc2 == 0)
        assert(Lz4.decodeFrame(z, 0, z.length).sameElements(raw),
          s"decode of lz4 ${opts.mkString(" ")} output, ${raw.length} bytes")
      }
      // CLI dependent-block frames fail typed
      if (raw.length > 70000) {
        val (_, dep) = run("-BD", "-B4", "-q", "-c", f.getAbsolutePath)
        intercept[Lz4.Lz4Error](Lz4.decodeFrame(dep, 0, dep.length))
      }
    } finally f.delete()
  }

  test("kafka: lz4 record batches decode; CRC covers the compressed bytes") {
    val recs = Seq(
      (Some("k1".getBytes(UTF_8)), ("""{"id":1,"pad":"""" + "p" * 200 + "\"}")
        .getBytes(UTF_8), 1000L),
      (None, """{"id":2}""".getBytes(UTF_8), 1500L))
    val batch = KafkaProto.encodeBatchWith(7L, recs, codec = 3,
      Lz4Fixture.encodeFrame)
    val got = KafkaProto.decodeBatches(batch)
    assert(got.map(_.offset) == Seq(7L, 8L))
    assert(got.map(_.timestamp) == Seq(1000L, 1500L))
    assert(new String(got(1).value, UTF_8) == """{"id":2}""")
    // flip one compressed byte: the batch CRC rejects BEFORE the lz4
    // decoder ever runs — integrity is checked upstream
    val corrupt = batch.clone()
    corrupt(corrupt.length - 3) = (corrupt(corrupt.length - 3) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](
      KafkaProto.decodeBatches(corrupt))
    assert(e.getMessage.contains("CRC"))
  }

  test("poller spools lz4-compressed fetches (producer-compressed topics)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("value", DoubleType)))
    val srv = new MiniKafkaBroker(numPartitions = 1)
    srv.lz4Fetch = true // every fetched batch arrives lz4-compressed
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_lz4_")
    try {
      val pre = new KafkaClient("127.0.0.1", srv.port)
      pre.partitions("lz")
      pre.produce("lz", 0, Seq(
        (None, """{"id":1,"kind":"a","value":0.5}"""),
        (None, """{"id":2,"kind":"b","value":1.5}""")))
      pre.close()
      val poller = KafkaPoller.start(
        () => new KafkaClient("127.0.0.1", srv.port), "lz", dir.toString,
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
}
