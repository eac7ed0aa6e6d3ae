package graft.core.seqfile

import java.io.{Closeable, EOFException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Path, StandardOpenOption}

/** Minimal positioned-read abstraction so the core codec stays free of both
  * Spark and Hadoop dependencies (mirroring the reference's pure-codec split:
  * Haskell parser over a lazy ByteString, reference:
  * src/Data/Hadoop/SequenceFile.hs:80-84). Implementations: local NIO file
  * (here) and Hadoop `FSDataInputStream` (in the Spark connector layer, for
  * HDFS/S3 paths on a real cluster).
  */
trait SeekableInput extends Closeable {
  def length: Long
  /** Read up to len bytes at absolute position pos; -1 at EOF. */
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int
}

final class LocalSeekableInput(path: Path) extends SeekableInput {
  private val ch = FileChannel.open(path, StandardOpenOption.READ)
  val length: Long = ch.size()
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    ch.read(ByteBuffer.wrap(buf, off, len), pos)
  def close(): Unit = ch.close()
}

/** Buffered cursor over a SeekableInput with the primitive readers the
  * SequenceFile grammar needs. Tracks the absolute stream position.
  *
  * Reads go forward and fetch each byte once: `readByte`/`readVLong` refill
  * the buffer from the cursor, and `readFully` first copies whatever of its
  * range the buffer already holds, then reads only the rest straight into
  * the destination. So a block's vint-prefixed buffers cost one pass over
  * the file, not a re-read of each vint's read-ahead.
  *
  * It is itself a SeekableInput (positioned reads and `close` go to the
  * wrapped input), so a split parses its header and reads its blocks
  * through one SeqInput: hand the one `SeqHeader.parse` used to
  * `SeqStream.openRange`, and the blocks start from the header's
  * read-ahead instead of reading those bytes again. */
final class SeqInput(in: SeekableInput, bufSize: Int = 1 << 16) extends SeekableInput {
  private val buf = new Array[Byte](bufSize)
  private var bufStart = 0L // absolute position of buf(0)
  private var bufLen = 0    // valid bytes in buf
  private var cursor = 0L   // absolute read position

  def pos: Long = cursor
  def length: Long = in.length
  def seek(p: Long): Unit = cursor = p
  def readAt(pos: Long, dst: Array[Byte], off: Int, len: Int): Int = in.readAt(pos, dst, off, len)
  def close(): Unit = in.close()

  private def ensure(n: Int): Boolean = {
    if (cursor >= bufStart && cursor + n <= bufStart + bufLen) return true
    // refill from cursor
    bufStart = cursor
    bufLen = 0
    while (bufLen < n) {
      val r = in.readAt(bufStart + bufLen, buf, bufLen, buf.length - bufLen)
      if (r < 0) return false
      bufLen += r
    }
    true
  }

  def atEof: Boolean = cursor >= in.length

  def readByte(): Int = {
    if (!ensure(1)) return -1
    val b = buf((cursor - bufStart).toInt) & 0xff
    cursor += 1
    b
  }

  def readFully(dst: Array[Byte], off: Int, len: Int): Unit = {
    var done = 0
    if (cursor >= bufStart && cursor < bufStart + bufLen) {
      done = math.min(len.toLong, bufStart + bufLen - cursor).toInt
      System.arraycopy(buf, (cursor - bufStart).toInt, dst, off, done)
    }
    while (done < len) {
      val r = in.readAt(cursor + done, dst, off + done, len - done)
      if (r < 0) throw new EOFException(s"unexpected EOF at ${cursor + done}")
      done += r
    }
    cursor += len
  }

  def readFully(len: Int): Array[Byte] = {
    val a = new Array[Byte](len)
    readFully(a, 0, len)
    a
  }

  /** Hadoop vlong at the cursor (wire format per VInt). */
  def readVLong(): Long = {
    val first = readByte()
    if (first < 0) throw new EOFException(s"unexpected EOF reading vint at $cursor")
    val fb = first.toByte
    val sz = VInt.decodeSize(fb)
    if (sz == 1) return fb.toLong
    var i = 0L
    var idx = 0
    while (idx < sz - 1) {
      val b = readByte()
      if (b < 0) throw new EOFException(s"unexpected EOF inside vint at $cursor")
      i = (i << 8) | (b & 0xffL)
      idx += 1
    }
    if (VInt.isNegative(fb)) i ^ -1L else i
  }

  def readVInt(): Int = {
    val v = readVLong()
    if (v > Int.MaxValue || v < Int.MinValue)
      throw new SeqFileFormatException(s"vint out of int range: $v")
    v.toInt
  }

  /** 4-byte big-endian word — used for the header's metadata count (see
    * SeqHeader.parse for why this diverges from the reference's LE read). */
  def readBE32(): Long = {
    val a = readFully(4)
    ((a(0) & 0xffL) << 24) | ((a(1) & 0xffL) << 16) | ((a(2) & 0xffL) << 8) | (a(3) & 0xffL)
  }
}

object SeqInput {
  /** `input` itself when it already is a SeqInput, else a new one over it. */
  def over(input: SeekableInput): SeqInput = input match {
    case s: SeqInput => s
    case _ => new SeqInput(input)
  }
}
