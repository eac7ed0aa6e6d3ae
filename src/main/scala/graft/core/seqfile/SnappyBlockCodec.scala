package graft.core.seqfile

import org.xerial.snappy.Snappy

/** Hadoop `BlockCompressorStream` framing, exactly as the reference's native
  * kernel decodes it (reference: cbits/decode.c:76-118 `decompress_block`):
  *
  *   [4-byte BE total uncompressed size]
  *   repeat until total reached:
  *     [4-byte BE compressed chunk size][chunk (raw snappy block)]
  *
  * Decompression loops chunks into one contiguous output buffer with strict
  * size accounting (any overrun or truncation fails the block, matching
  * decode.c:110-117). Compression is the inverse — the write support the
  * reference's README promises but never implements (reference: README.md:3-5).
  */
object SnappyBlockCodec {

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
    * the declared total. Every chunk's decoded size is checked against the
    * room left under that total before it is written, so a chunk that
    * expands past it fails here however large `out` already is. */
  def decompress(compressed: Array[Byte], off: Int, len: Int, out: GrowableBytes): Int = {
    if (len < 4)
      throw new SeqFileFormatException(s"snappy block truncated: $len bytes, need >= 4")
    val total = readBE32(compressed, off)
    if (total < 0)
      throw new SeqFileFormatException(s"snappy block claims negative size $total")
    val dst = out.ensure(total)
    var inPos = off + 4
    val inEnd = off + len
    var outPos = 0
    while (outPos < total) {
      if (inPos + 4 > inEnd)
        throw new SeqFileFormatException("snappy block truncated reading chunk size")
      val chunkLen = readBE32(compressed, inPos)
      inPos += 4
      if (chunkLen < 0 || inPos + chunkLen > inEnd)
        throw new SeqFileFormatException(
          s"snappy chunk overruns buffer: chunk=$chunkLen remaining=${inEnd - inPos}")
      // Zero-length chunks are skipped, not decompressed: snappy rejects a
      // 0-byte input, but the reference kernel explicitly tolerates these
      // frames (reference: cbits/decode.c:94 `if (compressed_size == 0)
      // continue;`) — a file it accepts must not fail here.
      if (chunkLen > 0) {
        val chunkOut = Snappy.uncompressedLength(compressed, inPos, chunkLen)
        if (chunkOut > total - outPos)
          throw new SeqFileFormatException(
            s"snappy decompression overran declared size: ${outPos.toLong + chunkOut} > $total")
        outPos += Snappy.uncompress(compressed, inPos, chunkLen, dst, outPos)
      }
      inPos += chunkLen
    }
    // Trailing unread chunks would mean corrupt framing (decode.c is equally
    // strict: it stops exactly at `total`).
    total
  }

  def decompress(compressed: Array[Byte]): Array[Byte] =
    SeqCodecs.SnappyCodec.decompress(compressed)

  /** Compress `raw[0, rawLen)` into Hadoop block framing. `chunkSize` matches
    * Hadoop's io.compression.codec.snappy.buffersize default (256 KiB). */
  def compress(raw: Array[Byte], rawLen: Int, chunkSize: Int = 256 * 1024): Array[Byte] = {
    val nChunks = if (rawLen == 0) 0 else (rawLen + chunkSize - 1) / chunkSize
    val out = new java.io.ByteArrayOutputStream(rawLen / 2 + 64)
    val hdr = new Array[Byte](4)
    writeBE32(hdr, 0, rawLen)
    out.write(hdr, 0, 4)
    var i = 0
    while (i < nChunks) {
      val start = i * chunkSize
      val len = math.min(chunkSize, rawLen - start)
      val comp = new Array[Byte](Snappy.maxCompressedLength(len))
      val compLen = Snappy.compress(raw, start, len, comp, 0)
      val chdr = new Array[Byte](4)
      writeBE32(chdr, 0, compLen)
      out.write(chdr, 0, 4)
      out.write(comp, 0, compLen)
      i += 1
    }
    out.toByteArray
  }
}
