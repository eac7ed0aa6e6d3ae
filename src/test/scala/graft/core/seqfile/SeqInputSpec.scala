package graft.core.seqfile

import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of the buffered positioned reader the whole codec sits on. */
class SeqInputSpec extends AnyFunSuite {

  private class MemInput(data: Array[Byte]) extends SeekableInput {
    var reads = 0
    val length: Long = data.length
    def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      reads += 1
      if (pos >= data.length) return -1
      val n = math.min(len, (data.length - pos).toInt)
      System.arraycopy(data, pos.toInt, buf, off, n)
      n
    }
    def close(): Unit = ()
  }

  test("readByte across buffer refills with a tiny buffer") {
    val data = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val in = new SeqInput(new MemInput(data), bufSize = 7)
    for (i <- 0 until 1000)
      assert(in.readByte() === (data(i) & 0xff), s"at $i")
    assert(in.readByte() === -1, "EOF")
  }

  test("seek backwards and re-read") {
    val data = Array.tabulate[Byte](100)(_.toByte)
    val in = new SeqInput(new MemInput(data), bufSize = 16)
    in.seek(50)
    assert(in.readByte() === 50)
    in.seek(10)
    assert(in.readByte() === 10)
    in.seek(99)
    assert(in.readByte() === 99)
    assert(in.readByte() === -1)
  }

  test("vint spanning a buffer refill boundary decodes correctly") {
    // place a 3-byte vint right at a 8-byte buffer boundary
    val prefix = new Array[Byte](7)
    val v = new Array[Byte](9)
    val n = VInt.write(v, 0, 76924L) // 4-byte encoding
    val data = prefix ++ v.take(n)
    val in = new SeqInput(new MemInput(data), bufSize = 8)
    in.seek(7)
    assert(in.readVLong() === 76924L)
  }

  test("readFully straddling EOF throws EOFException with position") {
    val data = new Array[Byte](10)
    val in = new SeqInput(new MemInput(data))
    in.seek(5)
    val ex = intercept[java.io.EOFException](in.readFully(20))
    assert(ex.getMessage.contains("EOF"))
  }

  test("readVLong sees partial reads (1-byte-at-a-time input)") {
    val v = new Array[Byte](9)
    val n = VInt.write(v, 0, Long.MinValue)
    val drip = new SeekableInput {
      val length: Long = n
      def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= n) return -1
        buf(off) = v(pos.toInt); 1 // always one byte per call
      }
      def close(): Unit = ()
    }
    val in = new SeqInput(drip)
    assert(in.readVLong() === Long.MinValue)
  }

  test("a block's escape, sync, count and four vint-prefixed buffers read each byte once") {
    // the block grammar SeqBlockReader replays, with buffers both smaller
    // and larger than SeqInput's 64 KiB buffer
    val lens = Seq(300, 70000, 90, 200000)
    val out = new java.io.ByteArrayOutputStream
    val vint = new Array[Byte](9)
    def putVInt(v: Long): Unit = out.write(vint, 0, VInt.write(vint, 0, v))
    out.write(Array.fill[Byte](4)(-1))
    out.write(Array.tabulate[Byte](16)(i => (i * 7).toByte))
    putVInt(1234)
    for ((n, b) <- lens.zipWithIndex) {
      putVInt(n)
      out.write(Array.tabulate[Byte](n)(i => (i * 31 + b).toByte))
    }
    val data = out.toByteArray

    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val recording = new MemInput(data) {
      override def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
        val n = super.readAt(pos, buf, off, len)
        if (n > 0) ranges += (pos -> (pos + n))
        n
      }
    }
    val in = new SeqInput(recording)
    in.readFully(4)
    in.readFully(16)
    assert(in.readVInt() === 1234)
    for ((n, b) <- lens.zipWithIndex) {
      assert(in.readVInt() === n)
      val got = in.readFully(n)
      assert(got.indices.forall(i => got(i) == (i * 31 + b).toByte), s"buffer $b")
    }
    assert(in.pos === data.length)

    val sorted = ranges.sortBy(_._1)
    sorted.zip(sorted.drop(1)).foreach { case ((_, end), (start, _)) =>
      assert(start >= end, s"reads overlap: $sorted")
    }
    assert(ranges.map { case (s, e) => e - s }.sum === data.length.toLong,
      s"bytes read vs consumed: $sorted")
  }
}
