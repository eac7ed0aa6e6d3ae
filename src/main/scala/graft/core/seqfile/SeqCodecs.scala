package graft.core.seqfile

import java.io.ByteArrayInputStream
import java.util.zip.{Deflater, DeflaterOutputStream, GZIPInputStream, GZIPOutputStream, InflaterInputStream}

/** Compression codec abstraction for SequenceFiles. The reference supports
  * exactly one codec (Snappy, rejected otherwise at Parser.hs:62-65); real
  * Hadoop files in the wild also use the deflate-based codecs, which are
  * one `java.util.zip` call away — so the reader accepts them and the
  * registry stays open for more.
  *
  * Framing differences mirror Hadoop's writer classes:
  *  - Snappy uses `BlockCompressorStream` chunk framing
  *    ([BE32 raw size][BE32 chunk size][chunk]...; see SnappyBlockCodec).
  *  - Gzip/Default(zlib) use `CompressorStream`: each compressed buffer is
  *    one complete gzip member / zlib stream, no extra framing.
  */
trait SeqBlockCodec {
  def javaClass: String
  /** Decompress `buf[off, off + len)` into `out`, growing it as needed, and
    * return the decompressed length. `out.array` holds the block from 0 to
    * that length; the bytes past it are left from earlier calls. A caller
    * that reuses `out` for the next buffer overwrites this one, so what a
    * decoded block slices from it is valid until the reader's next
    * `next()`: copy what you keep. */
  def decompress(buf: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int
  /** Allocating form: a fresh array of exactly the decompressed bytes. */
  final def decompress(buf: Array[Byte]): Array[Byte] = {
    val out = new GrowableBytes
    val n = decompress(buf, 0, buf.length, out)
    if (out.array.length == n) out.array else java.util.Arrays.copyOf(out.array, n)
  }
  def compress(raw: Array[Byte], rawLen: Int): Array[Byte]
}

/** A byte array that a reader reuses for one kind of buffer across blocks,
  * grown on demand. Its contents are valid only up to the length the last
  * writer returned. */
final class GrowableBytes {
  private var buf: Array[Byte] = Array.emptyByteArray

  def array: Array[Byte] = buf

  /** The array, at least `n` bytes long. When it has to grow, the first
    * `keep` bytes are carried over; it at least doubles, so a growing
    * stream of writes costs amortised constant copies per byte. */
  def ensure(n: Int, keep: Int = 0): Array[Byte] = {
    if (buf.length < n) {
      val grown = new Array[Byte](math.max(n, math.min(buf.length * 2L, Int.MaxValue - 8).toInt))
      System.arraycopy(buf, 0, grown, 0, keep)
      buf = grown
    }
    buf
  }
}

object SeqCodecs {
  val SnappyClass = "org.apache.hadoop.io.compress.SnappyCodec"
  val GzipClass = "org.apache.hadoop.io.compress.GzipCodec"
  val DefaultClass = "org.apache.hadoop.io.compress.DefaultCodec"
  val DeflateClass = "org.apache.hadoop.io.compress.DeflateCodec" // alias of Default

  object SnappyCodec extends SeqBlockCodec {
    val javaClass: String = SnappyClass
    def decompress(buf: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int =
      SnappyBlockCodec.decompress(buf, off, len, out)
    def compress(raw: Array[Byte], rawLen: Int): Array[Byte] =
      SnappyBlockCodec.compress(raw, rawLen)
  }

  /** Read `in` to its end into `out`; returns the number of bytes read. */
  private def drain(in: java.io.InputStream, out: GrowableBytes): Int =
    try {
      var dst = out.ensure(1 << 16)
      var n = 0
      var r = in.read(dst, 0, dst.length)
      while (r >= 0) {
        n += r
        if (n == dst.length) dst = out.ensure(n + 1, keep = n)
        r = in.read(dst, n, dst.length - n)
      }
      n
    } finally in.close()

  object GzipCodec extends SeqBlockCodec {
    val javaClass: String = GzipClass
    def decompress(buf: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int =
      try drain(new GZIPInputStream(new ByteArrayInputStream(buf, off, len)), out)
      catch { case e: java.util.zip.ZipException =>
        throw new SeqFileFormatException(s"corrupt gzip buffer: ${e.getMessage}") }
    def compress(raw: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(rawLen / 2 + 64)
      val gz = new GZIPOutputStream(out)
      gz.write(raw, 0, rawLen)
      gz.close()
      out.toByteArray
    }
  }

  /** Hadoop DefaultCodec: zlib-wrapped deflate. */
  object DeflateCodec extends SeqBlockCodec {
    val javaClass: String = DefaultClass
    def decompress(buf: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int =
      try drain(new InflaterInputStream(new ByteArrayInputStream(buf, off, len)), out)
      catch { case e: java.util.zip.ZipException =>
        throw new SeqFileFormatException(s"corrupt deflate buffer: ${e.getMessage}") }
    def compress(raw: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(rawLen / 2 + 64)
      val d = new DeflaterOutputStream(out, new Deflater(Deflater.DEFAULT_COMPRESSION))
      d.write(raw, 0, rawLen)
      d.close()
      out.toByteArray
    }
  }

  val ZstdClass = "org.apache.hadoop.io.compress.ZStandardCodec"

  /** Hadoop ZStandardCodec: each compressed buffer is one standard zstd
    * frame (CompressorStream family, like gzip — no extra chunk framing).
    * Implemented over zstd-jni (ships with Spark). Streaming API on both
    * sides: Hadoop's compressor emits frames without the content-size
    * header field, so decompression must not rely on it. Round-trip is
    * spec-verified against our own reader; Hadoop-native interop can't be
    * exercised in this container (its ZStandardCodec needs libhadoop), but
    * the bytes are plain zstd frames in the standard SequenceFile layout. */
  object ZstdCodec extends SeqBlockCodec {
    val javaClass: String = ZstdClass
    def decompress(buf: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int =
      try drain(new com.github.luben.zstd.ZstdInputStream(
        new ByteArrayInputStream(buf, off, len)), out)
      catch { case e: java.io.IOException =>
        throw new SeqFileFormatException(s"corrupt zstd buffer: ${e.getMessage}") }
    def compress(raw: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(rawLen / 3 + 64)
      val z = new com.github.luben.zstd.ZstdOutputStream(out)
      // zstd's default leaves the optional frame checksum off, which lets
      // mid-frame corruption in literal sections decompress "cleanly" into
      // garbage. The checksum bit is part of the standard frame format (any
      // decoder, incl. Hadoop's, handles it) and makes corruption an error.
      z.setChecksum(true)
      z.write(raw, 0, rawLen)
      z.close()
      out.toByteArray
    }
  }

  val Lz4Class = "org.apache.hadoop.io.compress.Lz4Codec"

  /** Hadoop Lz4Codec: snappy-style BlockCompressorStream framing with lz4
    * BLOCK chunks (pure-Java in Hadoop 3.3+, so real-Hadoop interop holds —
    * see Lz4BlockCodec). */
  object Lz4Codec extends SeqBlockCodec {
    val javaClass: String = Lz4Class
    def decompress(buf: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int =
      Lz4BlockCodec.decompress(buf, off, len, out)
    def compress(raw: Array[Byte], rawLen: Int): Array[Byte] =
      Lz4BlockCodec.compress(raw, rawLen)
  }

  private val byClass: Map[String, SeqBlockCodec] = Map(
    SnappyClass -> SnappyCodec,
    GzipClass -> GzipCodec,
    DefaultClass -> DeflateCodec,
    DeflateClass -> DeflateCodec,
    ZstdClass -> ZstdCodec,
    Lz4Class -> Lz4Codec)

  def forClass(name: String): Option[SeqBlockCodec] = byClass.get(name)

  def forClassOrThrow(name: String): SeqBlockCodec =
    byClass.getOrElse(name, throw new SeqFileFormatException(
      s"unsupported codec: $name (supported: ${byClass.keys.toSeq.sorted.mkString(", ")})"))
}
