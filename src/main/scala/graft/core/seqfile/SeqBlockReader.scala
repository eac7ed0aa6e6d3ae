package graft.core.seqfile

/** One decompressed, column-decoded record block — the analog of the
  * reference's `RecordBlock` with its two parallel columnar vectors
  * (reference: src/Data/Hadoop/SequenceFile/Types.hs:32-38). Keys or values
  * are None when the consumer pruned them — an optimization the reference
  * cannot do (it always decodes both, reference: Parser.hs:109-110). */
final case class DecodedBlock(count: Int, keys: Option[ColumnData], values: Option[ColumnData])

/** Streaming block reader over a byte range of one file — the analog of the
  * reference's lazy `Stream (RecordBlock k v)` pull model (reference:
  * SequenceFile.hs:63-67, 86-89), extended with what a distributed engine
  * needs and the single-threaded reference never did: byte-range splits
  * aligned by scanning forward to the next sync marker (the mechanism
  * Hadoop's own input format uses; the sync-check semantics are the
  * reference's, Parser.hs:93-101).
  *
  * Split contract: this reader owns every block whose escape word starts in
  * [start, end); the final owned block is read past `end` if needed. With
  * splits covering a file disjointly, every block is read exactly once.
  *
  * @param decodeKey/decodeValue column pruning: skip snappy decompression and
  *   decode of the unwanted column entirely (only the 4 buffer lengths are
  *   read to advance the cursor).
  */
final class SeqBlockReader(
    input: SeekableInput,
    header: SeqHeader,
    start: Long,
    end: Long,
    decodeKey: Boolean = true,
    decodeValue: Boolean = true,
    blockOffsets: Option[Array[Long]] = None)
  extends SeqStream {

  private val in = new SeqInput(input)
  private val sync = header.sync
  private val codec = header.codec
  // Zone-map path: exact block offsets were planned ahead (sidecar), so no
  // sync scanning and non-qualifying blocks are never read. Offsets remain
  // verified by the sync-marker check at each seek.
  private val planned: Array[Long] = blockOffsets.orNull
  private var plannedIdx = 0
  private var nextPos: Long = {
    if (planned != null) { if (planned.isEmpty) -1L else planned(0) }
    else if (start <= header.dataStart) header.dataStart
    else SyncScanner.nextBlockStart(input, sync, start, end)
  }
  private var finished = nextPos < 0 || nextPos >= end

  override def hasNext: Boolean = {
    if (finished) return false
    if (nextPos >= end || nextPos >= in.length) { finished = true; return false }
    true
  }

  override def next(): DecodedBlock = {
    if (!hasNext) throw new NoSuchElementException
    in.seek(nextPos)
    val block = readBlock()
    nextPos =
      if (planned != null) {
        plannedIdx += 1
        if (plannedIdx < planned.length) planned(plannedIdx) else end
      } else in.pos
    block
  }

  /** Recovery for DROPMALFORMED consumers: after next() threw, scan forward
    * from just past the failed block's start for the next sync marker within
    * this split; position there. Returns false when no further block exists
    * (reader is then exhausted). With planned offsets, recovery advances to
    * the next planned block instead of byte-scanning. */
  def skipToNextSync(): Boolean = {
    if (planned != null) {
      plannedIdx += 1
      if (plannedIdx >= planned.length) { finished = true; return false }
      nextPos = planned(plannedIdx)
      return true
    }
    val p = SyncScanner.nextBlockStart(input, sync, nextPos + 1, end)
    if (p < 0 || p >= end) { finished = true; false }
    else { nextPos = p; true }
  }

  /** Parse one block at the cursor: sync escape + sync verification
    * (reference: Parser.hs:93-101), vint record count (Parser.hs:103), then
    * the 4 vint-length-prefixed compressed buffers keyLengths / keys /
    * valueLengths / values (Parser.hs:104-107). */
  private def readBlock(): DecodedBlock = {
    val escape = in.readFully(4)
    if (!(escape(0) == -1 && escape(1) == -1 && escape(2) == -1 && escape(3) == -1))
      throw new SeqFileFormatException(
        s"file corrupt: expected sync escape 0xffffffff at ${in.pos - 4}")
    val syncGot = in.readFully(SeqHeader.SyncSize)
    if (!java.util.Arrays.equals(syncGot, sync))
      throw new SeqFileFormatException(
        s"file corrupt: sync marker mismatch at ${in.pos - SeqHeader.SyncSize}")
    val n = in.readVInt()
    if (n < 0)
      throw new SeqFileFormatException(s"negative record count $n")

    val keyType = header.keyType
    val valueType = header.valueType

    val keyLensBuf = readBuffer(decodeKey && keyType.isVariable)
    val keysBuf = readBuffer(decodeKey)
    val valLensBuf = readBuffer(decodeValue && valueType.isVariable)
    val valsBuf = readBuffer(decodeValue)

    val keys =
      if (!decodeKey) None
      else Some(decodeColumn(keyType, n, keyLensBuf, keysBuf))
    val values =
      if (!decodeValue) None
      else Some(decodeColumn(valueType, n, valLensBuf, valsBuf))
    DecodedBlock(n, keys, values)
  }

  /** Read one vint-length-prefixed compressed buffer; when `wanted` is false
    * just skip over it (no read, no decompression). */
  private def readBuffer(wanted: Boolean): Array[Byte] = {
    val len = in.readVInt()
    if (len < 0) throw new SeqFileFormatException(s"negative buffer length $len")
    if (wanted) in.readFully(len)
    else { in.seek(in.pos + len); null }
  }

  private def decodeColumn(t: WritableType, n: Int, lensBuf: Array[Byte], dataBuf: Array[Byte]): ColumnData = {
    // Fixed-width types never consult the lengths buffer, matching the
    // reference kernel (reference: cbits/decode.c:137-168 variable-only).
    val recLens: Array[Int] =
      if (!t.isVariable) null
      else {
        val raw = codec.decompress(lensBuf)
        vintDecodeLengths(raw, n)
      }
    val data = codec.decompress(dataBuf)
    ColumnDecoder.decode(t, n, recLens, data)
  }

  /** Bulk vint-decode the n per-record lengths (reference: decode.c:148-161). */
  private def vintDecodeLengths(raw: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var pos = 0
    var i = 0
    while (i < n) {
      if (pos >= raw.length)
        throw new SeqFileFormatException(s"lengths buffer truncated at record $i of $n")
      val v = VInt.readLong(raw, pos)
      pos += VInt.decodeSize(raw(pos))
      if (v < 0 || v > Int.MaxValue)
        throw new SeqFileFormatException(s"invalid record length $v")
      out(i) = v.toInt
      i += 1
    }
    if (pos != raw.length)
      throw new SeqFileFormatException(
        s"lengths buffer has ${raw.length - pos} trailing bytes after $n records")
    out
  }

  def close(): Unit = input.close()
}

object SyncScanner {
  /** Find the first position p in [from, end) where the 20-byte sequence
    * [0xffffffff][sync] begins; -1 if none. This is how a split that starts
    * mid-block aligns itself to the next record-block boundary. The 16
    * random sync bytes make data false-positives vanishingly unlikely (same
    * trade Hadoop's input format makes). */
  def nextBlockStart(in: SeekableInput, sync: Array[Byte], from: Long, end: Long): Long = {
    val pattern = new Array[Byte](4 + sync.length)
    pattern(0) = -1; pattern(1) = -1; pattern(2) = -1; pattern(3) = -1
    System.arraycopy(sync, 0, pattern, 4, sync.length)
    val plen = pattern.length
    val buf = new Array[Byte]((1 << 16) + plen - 1)
    var winStart = from // absolute position of buf(0)
    var winLen = 0      // valid bytes currently in buf
    var readPos = from  // next absolute position to read from the input
    while (winStart < end) {
      var eof = false
      while (winLen < buf.length && !eof) {
        val r = in.readAt(readPos, buf, winLen, buf.length - winLen)
        if (r < 0) eof = true
        else { winLen += r; readPos += r }
      }
      val idx = indexOf(buf, winLen, pattern)
      if (idx >= 0) {
        val p = winStart + idx
        return if (p < end) p else -1L
      }
      if (eof) return -1L
      // slide the window, keeping a pattern-sized tail for straddling matches
      val keep = plen - 1
      System.arraycopy(buf, winLen - keep, buf, 0, keep)
      winStart += winLen - keep
      winLen = keep
    }
    -1L
  }

  private def indexOf(hay: Array[Byte], hayLen: Int, needle: Array[Byte]): Int = {
    var i = 0
    val last = hayLen - needle.length
    while (i <= last) {
      if (hay(i) == -1) {
        var j = 1
        while (j < needle.length && hay(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
      }
      i += 1
    }
    -1
  }
}
