package graft.core.seqfile

/** Common shape of the two SequenceFile stream readers (block-compressed
  * vs record-oriented): a pull iterator of columnar DecodedBlocks with
  * corrupt-block resync support.
  *
  * Lifetime: a block returned by `next()` is valid until the next `next()`.
  * The block reader decodes every block into the same buffers, the way
  * Spark's `PartitionReader` hands out a batch, so a consumer that keeps
  * rows or byte slices past that point must copy them. */
trait SeqStream extends Iterator[DecodedBlock] with java.io.Closeable {
  /** After next() threw, scan forward for the next sync marker within this
    * split; returns false when the reader is exhausted. */
  def skipToNextSync(): Boolean
}

object SeqStream {
  /** Reader for a byte range of any supported layout. `blockOffsets`
    * (zone-map pruning; BLOCK layout only) bypasses sync scanning and reads
    * exactly the given block offsets. Pass the SeqInput the header was
    * parsed from as `input`, so the split reads through one buffer. */
  def openRange(input: SeekableInput, header: SeqHeader, start: Long, end: Long,
                decodeKey: Boolean = true, decodeValue: Boolean = true,
                blockOffsets: Option[Array[Long]] = None): SeqStream =
    header.compression match {
      case SeqCompression.Block =>
        new SeqBlockReader(input, header, start, end, decodeKey, decodeValue,
          blockOffsets)
      case _ =>
        new SeqRecordReader(input, header, start, end, decodeKey, decodeValue)
    }
}

/** Streaming reader for UNCOMPRESSED and RECORD-compressed SequenceFiles —
  * the layouts real Hadoop writes by default and the reference hard-rejects
  * (reference: Parser.hs:56-60). Wire layout per record:
  *
  *   [BE32 recordLen][BE32 keyLen][key bytes][value bytes]
  *
  * where recordLen = keyLen + valueLen (valueLen counts the COMPRESSED
  * value bytes under RECORD compression, each record an independent codec
  * stream). A recordLen of -1 escapes a 16-byte sync marker instead.
  *
  * Records are batched into the same columnar `DecodedBlock` the
  * block-compressed reader emits (~`targetBatch` records per batch), so
  * every consumer — the columnar reader, a pruned count — is layout
  * agnostic. Column pruning skips the pruned column's bytes entirely (and
  * under RECORD compression skips its decompression).
  *
  * Split contract (Hadoop's own for these layouts): a split owns the
  * records from the first sync at/after `start` (or from dataStart when
  * `start` falls inside the header) up to the first sync whose escape sits
  * at/after `end`; a split that contains no sync reads nothing. Disjoint
  * splits therefore read every record exactly once.
  */
final class SeqRecordReader(
    input: SeekableInput,
    header: SeqHeader,
    start: Long,
    end: Long,
    decodeKey: Boolean = true,
    decodeValue: Boolean = true,
    targetBatch: Int = 4096)
  extends SeqStream {

  private val in = SeqInput.over(input)
  private val sync = header.sync
  private val keyType = header.keyType
  private val valueType = header.valueType
  private val codec: SeqBlockCodec =
    if (header.compression == SeqCompression.Record) header.codec else null

  private var cursor: Long = {
    if (start <= header.dataStart) header.dataStart
    else SyncScanner.nextBlockStart(input, sync, start, end)
  }
  private var finished = cursor < 0 || cursor >= end ||
    (start <= header.dataStart && header.dataStart >= end)
  private var pending: DecodedBlock = null

  override def hasNext: Boolean = {
    if (finished && pending == null) return false
    if (pending == null) {
      pending = readBatch()
      if (pending == null) return false
    }
    true
  }

  override def next(): DecodedBlock = {
    if (!hasNext) throw new NoSuchElementException
    val b = pending
    pending = null
    b
  }

  def skipToNextSync(): Boolean = {
    pending = null
    val p = SyncScanner.nextBlockStart(input, sync, cursor + 1, end)
    if (p < 0 || p >= end) { finished = true; false }
    else { cursor = p; finished = false; true }
  }

  private var pendingError: Throwable = null

  /** Accumulate up to targetBatch records into one columnar block. Returns
    * null at end of split/file. Throws SeqFileFormatException on corrupt
    * bytes (same contract as SeqBlockReader — PERMISSIVE/DROPMALFORMED
    * consumers catch and optionally resync).
    *
    * Corruption mid-batch must not discard the good records already read:
    * the partial batch is returned FIRST and the error re-thrown on the
    * following call. The cursor advances per consumed record (not per
    * batch), so a consumer's skipToNextSync scans from the corrupt byte —
    * losing at most one sync interval, like the block reader — instead of
    * re-scanning from the batch start (which both amplified the loss to a
    * whole batch and made retries quadratic). */
  private def readBatch(): DecodedBlock = {
    if (pendingError != null) {
      val e = pendingError
      pendingError = null
      throw e
    }
    if (finished) return null
    in.seek(cursor)
    val fileLen = in.length
    val keyBytes = if (decodeKey) new java.io.ByteArrayOutputStream(64 * 1024) else null
    val valBytes = if (decodeValue) new java.io.ByteArrayOutputStream(64 * 1024) else null
    val keyLens = new java.util.ArrayList[Integer](256)
    val valLens = new java.util.ArrayList[Integer](256)
    var n = 0
    var stop = false
    try {
      while (!stop && n < targetBatch) {
        val recStart = in.pos
        if (recStart >= fileLen) { finished = true; stop = true }
        else {
          val recordLen = in.readBE32().toInt
          if (recordLen == -1) {
            // sync escape: verify marker; a sync at/after `end` ends the split
            val syncGot = in.readFully(SeqHeader.SyncSize)
            if (!java.util.Arrays.equals(syncGot, sync))
              throw new SeqFileFormatException(
                s"file corrupt: sync marker mismatch at ${in.pos - SeqHeader.SyncSize}")
            if (recStart >= end) { finished = true; stop = true }
          } else {
            if (recordLen < 0)
              throw new SeqFileFormatException(s"negative record length $recordLen at $recStart")
            val keyLen = in.readBE32().toInt
            if (keyLen < 0 || keyLen > recordLen)
              throw new SeqFileFormatException(
                s"invalid key length $keyLen for record of $recordLen bytes at $recStart")
            if (keyType.fixedWidth >= 0 && keyLen != keyType.fixedWidth)
              throw new SeqFileFormatException(
                s"key length $keyLen does not match fixed width ${keyType.fixedWidth} of ${header.keyClass}")
            if (decodeKey) {
              val kb = in.readFully(keyLen)
              keyBytes.write(kb, 0, keyLen)
              keyLens.add(keyLen)
            } else in.seek(in.pos + keyLen)
            val rawValLen = recordLen - keyLen
            if (decodeValue) {
              val vb = in.readFully(rawValLen)
              val v = if (codec != null) codec.decompress(vb) else vb
              if (valueType.fixedWidth >= 0 && v.length != valueType.fixedWidth)
                throw new SeqFileFormatException(
                  s"value length ${v.length} does not match fixed width ${valueType.fixedWidth} of ${header.valueClass}")
              valBytes.write(v, 0, v.length)
              valLens.add(v.length)
            } else in.seek(in.pos + rawValLen)
            n += 1
          }
        }
        // this record/sync was fully consumed; the cursor never points
        // inside a partially-read record
        if (!stop) cursor = in.pos
      }
    } catch {
      case scala.util.control.NonFatal(e) if n > 0 =>
        pendingError = e // surface AFTER the good records already batched
    }
    if (n == 0) { finished = true; return null }

    def column(t: WritableType, want: Boolean, bytes: java.io.ByteArrayOutputStream,
               lens: java.util.ArrayList[Integer]): Option[ColumnData] =
      if (!want) None
      else {
        val recLens: Array[Int] =
          if (!t.isVariable) null
          else { val a = new Array[Int](n); var i = 0; while (i < n) { a(i) = lens.get(i); i += 1 }; a }
        Some(ColumnDecoder.decode(t, n, recLens, bytes.toByteArray))
      }

    DecodedBlock(n,
      column(keyType, decodeKey, keyBytes, keyLens),
      column(valueType, decodeValue, valBytes, valLens))
  }

  def close(): Unit = input.close()
}
