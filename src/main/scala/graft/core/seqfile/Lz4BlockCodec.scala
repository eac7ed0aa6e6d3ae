package graft.core.seqfile

import net.jpountz.lz4.LZ4Factory

/** Hadoop `Lz4Codec` framing: identical `BlockCompressorStream` layout to
  * snappy (see SnappyBlockCodec — [BE32 raw total][BE32 chunk size][chunk]…)
  * with lz4 BLOCK-format chunks. Since HADOOP-17292 (3.3.1) Hadoop's own
  * Lz4Codec is pure-Java over lz4-java — the exact library Spark ships — so
  * unlike zstd this codec interops with real Hadoop in this container. */
object Lz4BlockCodec {

  private val factory = LZ4Factory.fastestInstance()

  private def readBE32(buf: Array[Byte], pos: Int): Int =
    ((buf(pos) & 0xff) << 24) | ((buf(pos + 1) & 0xff) << 16) |
      ((buf(pos + 2) & 0xff) << 8) | (buf(pos + 3) & 0xff)

  private def writeBE32(buf: Array[Byte], pos: Int, v: Int): Unit = {
    buf(pos) = (v >>> 24).toByte
    buf(pos + 1) = (v >>> 16).toByte
    buf(pos + 2) = (v >>> 8).toByte
    buf(pos + 3) = v.toByte
  }

  /** Decompress one framed buffer into `out` (see SeqBlockCodec); returns
    * the declared total. Each chunk may fill at most the room left under
    * that total, so a chunk that expands past it fails however large `out`
    * already is. */
  def decompress(compressed: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int = {
    if (len < 4)
      throw new SeqFileFormatException(s"lz4 block truncated: $len bytes, need >= 4")
    val total = readBE32(compressed, off)
    if (total < 0)
      throw new SeqFileFormatException(s"lz4 block claims negative size $total")
    val dst = out.ensure(total)
    val dec = factory.safeDecompressor()
    var inPos = off + 4
    val inEnd = off + len
    var outPos = 0
    while (outPos < total) {
      if (inPos + 4 > inEnd)
        throw new SeqFileFormatException("lz4 block truncated reading chunk size")
      val chunkLen = readBE32(compressed, inPos)
      inPos += 4
      if (chunkLen < 0 || inPos + chunkLen > inEnd)
        throw new SeqFileFormatException(
          s"lz4 chunk overruns buffer: chunk=$chunkLen remaining=${inEnd - inPos}")
      if (chunkLen > 0) {
        val wrote =
          try dec.decompress(compressed, inPos, chunkLen, dst, outPos, total - outPos)
          catch { case e: net.jpountz.lz4.LZ4Exception =>
            throw new SeqFileFormatException(
              s"corrupt lz4 chunk (or one that overruns the declared size $total): ${e.getMessage}") }
        outPos += wrote
      }
      inPos += chunkLen
    }
    total
  }

  /** Compress with Hadoop's default lz4 buffer size (256 KiB chunks). */
  def compress(raw: Array[Byte], rawLen: Int, chunkSize: Int = 256 * 1024): Array[Byte] = {
    val comp = factory.fastCompressor()
    val nChunks = if (rawLen == 0) 0 else (rawLen + chunkSize - 1) / chunkSize
    val out = new java.io.ByteArrayOutputStream(rawLen / 2 + 64)
    val hdr = new Array[Byte](4)
    writeBE32(hdr, 0, rawLen)
    out.write(hdr, 0, 4)
    var i = 0
    while (i < nChunks) {
      val start = i * chunkSize
      val len = math.min(chunkSize, rawLen - start)
      val dst = new Array[Byte](comp.maxCompressedLength(len))
      val compLen = comp.compress(raw, start, len, dst, 0)
      val chdr = new Array[Byte](4)
      writeBE32(chdr, 0, compLen)
      out.write(chdr, 0, 4)
      out.write(dst, 0, compLen)
      i += 1
    }
    out.toByteArray
  }
}
