package graft.sources.seqfile

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.seqfile._

/** Zero-copy ColumnVector over one decoded block column — the Spark-native
  * form of the reference's `Collection` vectors (reference:
  * src/Data/Hadoop/Writable.hs:61-69): fixed-width types read straight from
  * the primitive array produced by the bulk decoder; strings wrap the
  * block's backing buffer via UTF8String.fromBytes without copying
  * (reference's `unsafeSlice` model, Writable.hs:115-138).
  *
  * The format has no null-within-column representation (only whole-column
  * NullWritable, reference: Writable.hs:73-75), so hasNull is false except
  * for NullColumn. */
final class SeqFileColumnVector(dataType: DataType, data: ColumnData)
  extends ColumnVector(dataType) {

  override def close(): Unit = ()
  override def hasNull: Boolean = data.isInstanceOf[NullColumn]
  override def numNulls: Int = data match {
    case NullColumn(n) => n
    case _ => 0
  }
  override def isNullAt(rowId: Int): Boolean = data.isInstanceOf[NullColumn]

  override def getBoolean(rowId: Int): Boolean =
    throw new UnsupportedOperationException
  override def getByte(rowId: Int): Byte =
    throw new UnsupportedOperationException
  override def getShort(rowId: Int): Short =
    data.asInstanceOf[ShortColumn].values(rowId)
  override def getInt(rowId: Int): Int =
    data.asInstanceOf[IntColumn].values(rowId)
  override def getLong(rowId: Int): Long =
    data.asInstanceOf[LongColumn].values(rowId)
  override def getFloat(rowId: Int): Float =
    data.asInstanceOf[FloatColumn].values(rowId)
  override def getDouble(rowId: Int): Double =
    data.asInstanceOf[DoubleColumn].values(rowId)
  override def getUTF8String(rowId: Int): UTF8String = {
    val c = data.asInstanceOf[BinaryColumn]
    UTF8String.fromBytes(c.bytes, c.starts(rowId), c.lens(rowId))
  }
  override def getBinary(rowId: Int): Array[Byte] =
    data.asInstanceOf[BinaryColumn].slice(rowId)
  override def getArray(rowId: Int): ColumnarArray =
    throw new UnsupportedOperationException
  override def getMap(rowId: Int): ColumnarMap =
    throw new UnsupportedOperationException
  override def getDecimal(rowId: Int, precision: Int, scale: Int) =
    throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException
}

/** Constant string vector for hive-partition columns in the columnar path:
  * every row of a split shares the split's partition value, so the "vector"
  * is one UTF8String. (Spark's own ConstantColumnVector is the same idea;
  * a local 20-line class avoids depending on an execution-internal.) */
final class SeqFileConstantStringVector(value: UTF8String)
  extends ColumnVector(StringType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(rowId: Int): Boolean = false
  override def getUTF8String(rowId: Int): UTF8String = value
  override def getBoolean(rowId: Int): Boolean = throw new UnsupportedOperationException
  override def getByte(rowId: Int): Byte = throw new UnsupportedOperationException
  override def getShort(rowId: Int): Short = throw new UnsupportedOperationException
  override def getInt(rowId: Int): Int = throw new UnsupportedOperationException
  override def getLong(rowId: Int): Long = throw new UnsupportedOperationException
  override def getFloat(rowId: Int): Float = throw new UnsupportedOperationException
  override def getDouble(rowId: Int): Double = throw new UnsupportedOperationException
  override def getBinary(rowId: Int): Array[Byte] = throw new UnsupportedOperationException
  override def getArray(rowId: Int): ColumnarArray = throw new UnsupportedOperationException
  override def getMap(rowId: Int): ColumnarMap = throw new UnsupportedOperationException
  override def getDecimal(rowId: Int, precision: Int, scale: Int) =
    throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector = throw new UnsupportedOperationException
}

/** Executor-side partition reader, the connector's one decode path: one
  * ColumnarBatch per record block (the reference's `Stream (RecordBlock k
  * v)` pull model, batch-at-a-time). It parses the file's header (one small
  * read), validates it against the query schema (reference: Parser.hs:84-91
  * fail-fast), then decodes the blocks the driver planned for the split
  * (`SeqFilePartition.fixedOffsets`), or every block in its byte range when
  * none were planned, under the malformed-record mode (see ReadMode),
  * counting what PERMISSIVE and DROPMALFORMED drop. The scan's exact key
  * filters (KeyFilters) select each block's rows, so the key is decoded
  * whenever there are some, projected or not. Hive-partition columns ride
  * along as constant vectors.
  *
  * The header and the blocks are read through one SeqInput, and the block
  * reader reuses its buffers, so a batch from `get()` is valid until the
  * next `next()` — Spark's `PartitionReader` contract, which its own
  * vectorized Parquet reader relies on too. Spark copies before it keeps
  * rows (`ColumnarToRow` and the row path's `UnsafeProjection` both do); any
  * other consumer must copy what it keeps as well. */
class SeqFileColumnarPartitionReader(part: SeqFilePartition, tableSchema: StructType,
                                     required: StructType, mode: String,
                                     conf: org.apache.hadoop.conf.Configuration =
                                       SeqFileHadoopConf.current(),
                                     keyFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
  extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  // One vector per output field for each block: key and value wrap the
  // decoded columns; a partition column is the split's constant. Resolved
  // before the file is opened, so an unknown column leaks no stream.
  private val vectorsOf: Array[DecodedBlock => ColumnVector] = required.fields.map { f =>
    if (f.name.equalsIgnoreCase("key"))
      (b: DecodedBlock) => new SeqFileColumnVector(f.dataType, b.keys.get): ColumnVector
    else if (f.name.equalsIgnoreCase("value"))
      (b: DecodedBlock) => new SeqFileColumnVector(f.dataType, b.values.get): ColumnVector
    else part.partValues.collectFirst {
      case (k, v) if k.equalsIgnoreCase(f.name) =>
        val const: ColumnVector = new SeqFileConstantStringVector(UTF8String.fromString(v))
        (_: DecodedBlock) => const
    }.getOrElse(throw new SeqFileFormatException(
      s"unknown column '${f.name}' (expect key/value or a partition column)"))
  }

  private val input = new SeqInput(new HadoopSeekableInput(new Path(part.path), conf))
  private var malformedBlocks = 0L
  private var unreadableFiles = 0L
  // Header parse + FULL-schema validation (the reference fails the whole
  // stream on a type mismatch even if the consumer never touches the
  // column, reference: Parser.hs:84-91; a bare count() prunes everything).
  // Under PERMISSIVE/DROPMALFORMED a file with an unreadable header (e.g. a
  // zero-byte part from a killed writer) yields an empty partition instead
  // of failing the query; the input is closed either way on failure.
  private val blocks: SeqStream =
    try {
      val header = SeqHeader.parse(input)
      SeqFileSchema.validate(tableSchema, header, part.path)
      val needKey = keyFilters.nonEmpty || required.fieldNames.exists(_.equalsIgnoreCase("key"))
      val needValue = required.fieldNames.exists(_.equalsIgnoreCase("value"))
      SeqStream.openRange(input, header, part.start, part.end,
        decodeKey = needKey, decodeValue = needValue,
        blockOffsets = part.fixedOffsets.map(_.toArray))
    } catch {
      case scala.util.control.NonFatal(e) =>
        input.close()
        if (mode == ReadMode.FailFast) throw e
        SeqFileScan.log.warn(s"seqfile $mode: skipping unreadable file ${part.path}: $e")
        unreadableFiles = 1
        null // exhausted reader
    }
  private var done = blocks == null

  private var batch: ColumnarBatch = null
  private val keyType = KeyFilters.keyType(tableSchema)

  /** The next block; with key filters, its matching rows, and a block
    * without any is skipped. */
  override def next(): Boolean = {
    var b = nextBlock()
    if (keyFilters.nonEmpty)
      while (b != null && { b = KeyFilters.select(b, keyFilters, keyType); b.count == 0 })
        b = nextBlock()
    if (b == null) return false
    batch = new ColumnarBatch(vectorsOf.map(_(b)), b.count)
    true
  }

  /** The next decodable block, or null at the end of the split. Corrupt
    * bytes can surface as runtime exceptions beyond IOException
    * (index/negative-size errors in the decoders), so the recovery path
    * catches all non-fatal throwables. PERMISSIVE stops at the first bad
    * block (the reference's error tail); DROPMALFORMED skips it. */
  private def nextBlock(): DecodedBlock = {
    while (!done) {
      try {
        if (blocks.hasNext) return blocks.next()
        done = true
      } catch {
        case scala.util.control.NonFatal(e) if mode != ReadMode.FailFast =>
          SeqFileScan.log.warn(
            s"seqfile $mode: dropping block in ${part.path}: ${e}")
          malformedBlocks += 1
          done = mode == ReadMode.Permissive || !blocks.skipToNextSync()
      }
    }
    null
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    SeqScanMetrics.taskValues(malformedBlocks, unreadableFiles)

  override def close(): Unit = if (blocks != null) blocks.close()
}
