package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.Locale

import scala.util.Using
import scala.util.control.NonFatal

import com.github.luben.zstd.{ZstdCompressCtx, ZstdDictCompress, ZstdDictDecompress, ZstdInputStreamNoFinalizer}
import net.jpountz.lz4.{LZ4FrameInputStream, LZ4FrameOutputStream}
import org.xerial.snappy.SnappyOutputStream

/** The Kafka record-batch codecs over the libraries Spark ships and
  * Kafka's own clients use: zstd-jni, snappy-java and lz4-java. Kept
  * here is only what they do not do: one bound on decoded size (a
  * frame header or snappy preamble may claim any size), the xerial
  * walk around raw snappy blocks, the zstd frame-magic check, and
  * typed errors with a lower-case codec prefix, which the spool
  * threads route through reconnect-then-terminal.
  */
private[graft] object Codecs {
  /** Largest decoded records block any codec returns (1 GiB). */
  val MaxDecoded: Int = 1 << 30

  class CodecError(msg: String) extends IllegalArgumentException(msg)

  /** One codec's typed failure, exception mapping and bounded output. */
  final class Guard(name: String, error: String => CodecError) {
    def fail(msg: String): Nothing = throw error(s"$name: $msg")

    def apply[T](body: => T): T =
      try body
      catch {
        case e: CodecError => throw e
        case NonFatal(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
          throw error(s"$name: ${msg.toLowerCase(Locale.ROOT)}").initCause(e)
      }

    /** Decoded output that fails once it would pass `cap` bytes. */
    final class Sink(cap: Int, hint: Long)
        extends ByteArrayOutputStream(math.min(math.max(hint, 64L), cap.toLong).toInt) {
      def room: Int = cap - count
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (len > room) fail(s"decoded size passes the $cap-byte cap")
        super.write(b, off, len)
      }
    }

    def drain(in: InputStream, cap: Int, hint: Long): Array[Byte] = {
      val out = new Sink(cap, hint); in.transferTo(out); out.toByteArray
    }
  }

  def u32le(b: Array[Byte], i: Int): Int =
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt(i)
}

import Codecs.{CodecError, Guard, MaxDecoded, u32le}

/** zstd (RFC 8878): multi-frame and skippable input, the content
  * checksum verified when present, and dictionary frames. Encode
  * writes level-3 frames with a content checksum.
  */
private[graft] object Zstd {
  final class ZstdError(msg: String) extends CodecError(msg)
  private val guard = new Guard("zstd", new ZstdError(_))
  private val Level = 3

  /** Structured (`zstd --train`: magic, id, tables, content) or raw (id 0). */
  final class ZstdDict private[Zstd] (bytes: Array[Byte]) {
    val structured: Boolean = bytes.length >= 8 && u32le(bytes, 0) == 0xEC30A437
    val id: Long = if (structured) u32le(bytes, 4) & 0xffffffffL else 0L
    private[Zstd] val forDecode = new ZstdDictDecompress(bytes)
    private[Zstd] lazy val forEncode = new ZstdDictCompress(bytes, Level)
  }

  def parseDictionary(bytes: Array[Byte]): ZstdDict = guard(new ZstdDict(bytes))

  /** All frames in `src[off, off+len)`; a declared Dictionary_ID needs `dict`. */
  def decode(src: Array[Byte], off: Int, len: Int, dict: ZstdDict = null,
      cap: Int = MaxDecoded): Array[Byte] = guard {
    if (len < 4) guard.fail("truncated frame magic")
    val magic = u32le(src, off)
    if (magic != 0xFD2FB528 && (magic & 0xfffffff0) != 0x184D2A50)
      guard.fail(f"bad frame magic 0x$magic%08x")
    val in = new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(src, off, len))
    try guard.drain(if (dict == null) in else in.setDict(dict.forDecode), cap, 4L * len)
    finally in.close()
  }

  def compressFrame(data: Array[Byte]): Array[Byte] = compressFrame(data, null)

  /** `dict`'s content is match history; a structured one's id is declared. */
  def compressFrame(data: Array[Byte], dict: ZstdDict): Array[Byte] = guard {
    Using.resource(new ZstdCompressCtx()) { ctx =>
      ctx.setLevel(Level).setChecksum(true)
      if (dict != null) ctx.loadDict(dict.forEncode)
      ctx.compress(data)
    }
  }
}

/** Snappy as Kafka producers ship it: xerial framing (magic, two
  * int32 versions, then `[int32 BE length][raw block]`), or one raw
  * block without the magic (old clients).
  */
private[graft] object Snappy {
  final class SnappyError(msg: String) extends CodecError(msg)
  private val guard = new Guard("snappy", new SnappyError(_))
  private val XerialMagic = Array[Byte](0x82.toByte, 'S', 'N', 'A', 'P', 'P', 'Y', 0)

  def decode(src: Array[Byte], off: Int, len: Int,
      cap: Int = MaxDecoded): Array[Byte] = guard {
    val out = new guard.Sink(cap, 3L * len)
    def block(s: Int, n: Int): Unit = { // size checked before allocation
      val size = org.xerial.snappy.Snappy.uncompressedLength(src, s, n)
      if (size < 0 || size > out.room) guard.fail(s"block of $size bytes passes the $cap-byte cap")
      val plain = new Array[Byte](size)
      out.write(plain, 0, org.xerial.snappy.Snappy.uncompress(src, s, n, plain, 0))
    }
    if (len < 16 || !java.util.Arrays.equals(src, off, off + 8, XerialMagic, 0, 8)) block(off, len)
    else {
      var s = off + 16 // magic, version, compatible version
      val end = off + len
      while (s < end) {
        if (s + 4 > end) guard.fail("truncated frame block")
        val n = ByteBuffer.wrap(src).getInt(s)
        if (n < 0 || n > end - s - 4) guard.fail(s"frame block length $n past end")
        block(s + 4, n)
        s += 4 + n
      }
    }
    out.toByteArray
  }

  /** xerial-framed 32 KiB blocks, as Kafka's Java producer writes. */
  def compress(data: Array[Byte]): Array[Byte] = guard {
    val bytes = new ByteArrayOutputStream(data.length / 2 + 32)
    Using.resource(new SnappyOutputStream(bytes))(_.write(data))
    bytes.toByteArray
  }
}

/** LZ4 frames, as strict as Kafka's own consumer: header, block and
  * content checksums are verified when present, and a wrong declared
  * content size fails. Frames with dependent blocks (B.Indep=0) fail
  * as [[Lz4Error]]: lz4-java's frame reader rejects them, and
  * librdkafka and Kafka's Java client both write independent blocks.
  * Encode writes independent 64 KiB blocks and the content size.
  */
private[graft] object Lz4 {
  final class Lz4Error(msg: String) extends CodecError(msg)
  private val guard = new Guard("lz4", new Lz4Error(_))

  def decodeFrame(src: Array[Byte], off: Int, len: Int,
      cap: Int = MaxDecoded): Array[Byte] =
    guard(guard.drain(new LZ4FrameInputStream(new ByteArrayInputStream(src, off, len)), cap, 4L * len))

  def compressFrame(data: Array[Byte]): Array[Byte] = guard {
    import LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    val bytes = new ByteArrayOutputStream(data.length / 2 + 32)
    Using.resource(new LZ4FrameOutputStream(bytes, BLOCKSIZE.SIZE_64KB, data.length.toLong,
      FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_SIZE))(_.write(data))
    bytes.toByteArray
  }
}
