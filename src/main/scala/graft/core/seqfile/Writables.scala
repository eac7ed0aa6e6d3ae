package graft.core.seqfile

import java.nio.{ByteBuffer, ByteOrder}

/** The 8 Hadoop Writable types the reference supports, keyed by Java class
  * name (reference: src/Data/Hadoop/Writable.hs:73-106).
  *
  * `fixedWidth`: > 0 for fixed-width big-endian types, 0 for NullWritable,
  * -1 for variable-width (Text / BytesWritable).
  */
sealed abstract class WritableType(val javaClass: String, val fixedWidth: Int) {
  def isVariable: Boolean = fixedWidth < 0
}

object WritableType {
  case object NullW   extends WritableType("org.apache.hadoop.io.NullWritable", 0)
  case object ShortW  extends WritableType("org.apache.hadoop.io.ShortWritable", 2)
  case object IntW    extends WritableType("org.apache.hadoop.io.IntWritable", 4)
  case object LongW   extends WritableType("org.apache.hadoop.io.LongWritable", 8)
  case object FloatW  extends WritableType("org.apache.hadoop.io.FloatWritable", 4)
  case object DoubleW extends WritableType("org.apache.hadoop.io.DoubleWritable", 8)
  case object BytesW  extends WritableType("org.apache.hadoop.io.BytesWritable", -1)
  case object TextW   extends WritableType("org.apache.hadoop.io.Text", -1)

  val all: Seq[WritableType] =
    Seq(NullW, ShortW, IntW, LongW, FloatW, DoubleW, BytesW, TextW)

  private val byClass: Map[String, WritableType] =
    all.map(w => w.javaClass -> w).toMap

  /** Open registry analog of the reference's `Writable` typeclass
    * (reference: src/Data/Hadoop/Writable.hs:38-47): class name → codec. */
  def forClass(name: String): Option[WritableType] = byClass.get(name)

  def forClassOrThrow(name: String): WritableType =
    byClass.getOrElse(
      name,
      throw new SeqFileFormatException(s"unsupported writable class: $name"))
}

class SeqFileFormatException(msg: String) extends java.io.IOException(msg)

/** One decoded column of a record block — the analog of the reference's
  * `Collection a` type family (reference: src/Data/Hadoop/Writable.hs:61-69):
  * primitive arrays for fixed-width types, a single backing buffer plus
  * offset/length slices for variable-width types (no per-record byte copies,
  * mirroring `split`/`unsafeSlice`, reference: Writable.hs:115-138).
  */
sealed trait ColumnData { def size: Int }

final case class NullColumn(size: Int) extends ColumnData
final case class ShortColumn(values: Array[Short]) extends ColumnData { def size: Int = values.length }
final case class IntColumn(values: Array[Int]) extends ColumnData { def size: Int = values.length }
final case class LongColumn(values: Array[Long]) extends ColumnData { def size: Int = values.length }
final case class FloatColumn(values: Array[Float]) extends ColumnData { def size: Int = values.length }
final case class DoubleColumn(values: Array[Double]) extends ColumnData { def size: Int = values.length }

/** Variable-width column: record i is bytes[starts(i) until starts(i)+lens(i)].
  * For Text the leading payload-length vint has been skipped
  * (reference: Writable.hs:101-106); for BytesWritable the 4-byte length
  * prefix has been skipped (reference: Writable.hs:97-99).
  *
  * `bytes` is the reader's decompression buffer for this column, reused
  * for the next block: it may be longer than the slices, and a column from
  * a block reader is valid until that reader's next `next()`. Copy what you
  * keep (`slice`, `sliceString`). `starts` and `lens` are the column's own. */
final case class BinaryColumn(bytes: Array[Byte], starts: Array[Int], lens: Array[Int]) extends ColumnData {
  def size: Int = starts.length
  def slice(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(bytes, starts(i), starts(i) + lens(i))
  def sliceString(i: Int): String =
    new String(bytes, starts(i), lens(i), java.nio.charset.StandardCharsets.UTF_8)
}

object ColumnDecoder {

  /** Decode a whole block's column at once, the analog of the reference's
    * bulk decoders (`bytesToVector` reference: Writable.hs:110-113 for fixed
    * width; `split` reference: Writable.hs:115-138 for variable width).
    *
    * @param recLens serialized per-record lengths (vint-decoded from the
    *                lengths buffer); only consulted for variable-width types,
    *                matching the reference kernel (cbits/decode.c:137-168).
    *                It may be longer than n.
    * @param data    the decompressed data buffer for the column; only
    *                `data[0, dataLen)` is the column's, and every size check
    *                is against `dataLen`.
    */
  def decode(t: WritableType, n: Int, recLens: Array[Int], data: Array[Byte], dataLen: Int): ColumnData = t match {
    case WritableType.NullW =>
      NullColumn(n)
    case WritableType.ShortW =>
      checkFixed(n, 2, dataLen)
      val out = new Array[Short](n)
      ByteBuffer.wrap(data, 0, dataLen).order(ByteOrder.BIG_ENDIAN).asShortBuffer().get(out)
      ShortColumn(out)
    case WritableType.IntW =>
      checkFixed(n, 4, dataLen)
      val out = new Array[Int](n)
      ByteBuffer.wrap(data, 0, dataLen).order(ByteOrder.BIG_ENDIAN).asIntBuffer().get(out)
      IntColumn(out)
    case WritableType.LongW =>
      checkFixed(n, 8, dataLen)
      val out = new Array[Long](n)
      ByteBuffer.wrap(data, 0, dataLen).order(ByteOrder.BIG_ENDIAN).asLongBuffer().get(out)
      LongColumn(out)
    case WritableType.FloatW =>
      checkFixed(n, 4, dataLen)
      val out = new Array[Float](n)
      ByteBuffer.wrap(data, 0, dataLen).order(ByteOrder.BIG_ENDIAN).asFloatBuffer().get(out)
      FloatColumn(out)
    case WritableType.DoubleW =>
      checkFixed(n, 8, dataLen)
      val out = new Array[Double](n)
      ByteBuffer.wrap(data, 0, dataLen).order(ByteOrder.BIG_ENDIAN).asDoubleBuffer().get(out)
      DoubleColumn(out)
    case WritableType.TextW =>
      // Each serialized record is [vint payloadLen][payload]; drop the vint
      // (reference: Writable.hs:106 "B.drop (vintSize b)").
      val starts = new Array[Int](n)
      val lens = new Array[Int](n)
      var off = 0
      var i = 0
      while (i < n) {
        if (off >= dataLen)
          throw new SeqFileFormatException(
            s"variable-width column ($t) record $i: invalid slice start=$off " +
            s"for buffer of $dataLen bytes (corrupt lengths block)")
        val vsz = VInt.decodeSize(data(off))
        starts(i) = off + vsz
        lens(i) = recLens(i) - vsz
        checkSlice(starts(i), lens(i), dataLen, t, i)
        off += recLens(i)
        i += 1
      }
      checkConsumed(off, dataLen, t)
      BinaryColumn(data, starts, lens)
    case WritableType.BytesW =>
      // Each serialized record is [4-byte BE len][payload]; drop the prefix
      // (reference: Writable.hs:99 "B.drop 4").
      val starts = new Array[Int](n)
      val lens = new Array[Int](n)
      var off = 0
      var i = 0
      while (i < n) {
        starts(i) = off + 4
        lens(i) = recLens(i) - 4
        checkSlice(starts(i), lens(i), dataLen, t, i)
        off += recLens(i)
        i += 1
      }
      checkConsumed(off, dataLen, t)
      BinaryColumn(data, starts, lens)
  }

  /** Allocating form for a buffer that holds exactly the column's bytes. */
  def decode(t: WritableType, n: Int, recLens: Array[Int], data: Array[Byte]): ColumnData =
    decode(t, n, recLens, data, data.length)

  /** Strict size accounting for fixed-width columns, matching the reference
    * kernel's check (reference: cbits/decode.c:175-177). */
  private def checkFixed(n: Int, width: Int, dataLen: Int): Unit =
    if (dataLen != n.toLong * width)
      throw new SeqFileFormatException(
        s"fixed-width column size mismatch: expected ${n.toLong * width} bytes for $n records of width $width, got $dataLen")

  /** A corrupt lengths buffer can yield a record length SMALLER than the
    * vint/4-byte prefix (negative payload length) or slices past the buffer
    * end; both must fail HERE as SeqFileFormatException so PERMISSIVE /
    * DROPMALFORMED readers can catch them at decode time — surfacing later at
    * row access (UTF8String.fromBytes with negative length) would crash a
    * query those modes promise to keep alive. */
  private def checkSlice(start: Int, len: Int, dataLen: Int,
                         t: WritableType, i: Int): Unit =
    if (len < 0 || start.toLong + len > dataLen)
      throw new SeqFileFormatException(
        s"variable-width column ($t) record $i: invalid slice start=$start " +
        s"len=$len for buffer of $dataLen bytes (corrupt lengths block)")

  private def checkConsumed(off: Int, dataLen: Int, t: WritableType): Unit =
    if (off != dataLen)
      throw new SeqFileFormatException(
        s"variable-width column ($t) size mismatch: lengths sum to $off but buffer has $dataLen bytes")
}
