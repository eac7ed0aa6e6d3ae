package graft.core.seqfile

/** One decompressed, column-decoded record block — the analog of the
  * reference's `RecordBlock` with its two parallel columnar vectors
  * (reference: src/Data/Hadoop/SequenceFile/Types.hs:32-38). Keys or values
  * are None when the consumer pruned them — an optimization the reference
  * cannot do (it always decodes both, reference: Parser.hs:109-110).
  *
  * Lifetime: a block and its columns are valid until the next `next()` of
  * the stream that returned it, which reuses the variable-width columns'
  * buffers (see BinaryColumn). Copy what you keep. */
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
  * Buffers: the reader holds one set of growable buffers and decodes every
  * block into them — the compressed bytes, the decompressed lengths and
  * fixed-width data, the record lengths, and one variable-width data buffer
  * per column slot, which a BinaryColumn slices. A block allocates only the
  * arrays whose length defines a column (fixed-width values, `starts` and
  * `lens`) and their wrappers; so it is valid until the next `next()`.
  *
  * @param input the file; a SeqInput that already parsed the header is used
  *   as is, so its read-ahead serves the first block.
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

  private val in = SeqInput.over(input)
  private val sync = header.sync
  private val codec = header.codec
  private val keyType = header.keyType
  private val valueType = header.valueType
  // Per-reader buffers (see the class doc). `marker` holds a block's sync
  // escape and marker, `compressed` each buffer as read, `scratch` the
  // decompressed bytes a column does not keep (lengths, fixed-width data).
  private val marker = new Array[Byte](4 + SeqHeader.SyncSize)
  private val compressed = new GrowableBytes
  private val scratch = new GrowableBytes
  private var recLens = new Array[Int](0)
  private val keyData = new GrowableBytes
  private val valueData = new GrowableBytes
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
    * valueLengths / values (Parser.hs:104-107), each column decoded right
    * after its two buffers. */
  private def readBlock(): DecodedBlock = {
    in.readFully(marker, 0, 4)
    if (!(marker(0) == -1 && marker(1) == -1 && marker(2) == -1 && marker(3) == -1))
      throw new SeqFileFormatException(
        s"file corrupt: expected sync escape 0xffffffff at ${in.pos - 4}")
    in.readFully(marker, 4, SeqHeader.SyncSize)
    if (!java.util.Arrays.equals(marker, 4, marker.length, sync, 0, sync.length))
      throw new SeqFileFormatException(
        s"file corrupt: sync marker mismatch at ${in.pos - SeqHeader.SyncSize}")
    val n = in.readVInt()
    if (n < 0)
      throw new SeqFileFormatException(s"negative record count $n")
    val keys = readColumn(keyType, n, decodeKey, keyData)
    val values = readColumn(valueType, n, decodeValue, valueData)
    DecodedBlock(n, keys, values)
  }

  /** Read one column's lengths and data buffers. When `wanted` is false just
    * skip over both (no read, no decompression). Fixed-width types never
    * consult the lengths buffer, matching the reference kernel (reference:
    * cbits/decode.c:137-168 variable-only); their data goes to `scratch`,
    * since decode copies it into the column's own array. */
  private def readColumn(t: WritableType, n: Int, wanted: Boolean,
                         varData: GrowableBytes): Option[ColumnData] = {
    if (!wanted) { skipBuffer(); skipBuffer(); return None }
    val lens =
      if (!t.isVariable) { skipBuffer(); null }
      else vintDecodeLengths(decompressNext(scratch), n)
    val data = if (t.isVariable) varData else scratch
    val dataLen = decompressNext(data)
    Some(ColumnDecoder.decode(t, n, lens, data.array, dataLen))
  }

  private def bufferLength(): Int = {
    val len = in.readVInt()
    if (len < 0) throw new SeqFileFormatException(s"negative buffer length $len")
    len
  }

  private def skipBuffer(): Unit = {
    val len = bufferLength()
    in.seek(in.pos + len)
  }

  /** Read the next vint-length-prefixed compressed buffer and decompress it
    * into `out`; returns the decompressed length. */
  private def decompressNext(out: GrowableBytes): Int = {
    val len = bufferLength()
    if (len > in.length - in.pos)
      throw new java.io.EOFException(
        s"buffer of $len bytes at ${in.pos} runs past the end of the file (${in.length} bytes)")
    val buf = compressed.ensure(len)
    in.readFully(buf, 0, len)
    codec.decompress(buf, 0, len, out)
  }

  /** Bulk vint-decode the n per-record lengths from `scratch[0, rawLen)`
    * into `recLens` (reference: decode.c:148-161). */
  private def vintDecodeLengths(rawLen: Int, n: Int): Array[Int] = {
    if (recLens.length < n) recLens = new Array[Int](math.max(n, recLens.length * 2))
    val raw = scratch.array
    val out = recLens
    var pos = 0
    var i = 0
    while (i < n) {
      val size = if (pos < rawLen) VInt.decodeSize(raw(pos)) else 1
      if (pos + size > rawLen)
        throw new SeqFileFormatException(s"lengths buffer truncated at record $i of $n")
      val v = VInt.readLong(raw, pos)
      pos += size
      if (v < 0 || v > Int.MaxValue)
        throw new SeqFileFormatException(s"invalid record length $v")
      out(i) = v.toInt
      i += 1
    }
    if (pos != rawLen)
      throw new SeqFileFormatException(
        s"lengths buffer has ${rawLen - pos} trailing bytes after $n records")
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
