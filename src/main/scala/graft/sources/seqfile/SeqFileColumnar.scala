package graft.sources.seqfile

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

/** Columnar partition reader: one ColumnarBatch per record block (the
  * reference's `Stream (RecordBlock k v)` pull model, batch-at-a-time).
  * Honors the malformed-record mode like the row reader (SeqSplitBlocks). */
class SeqFileColumnarPartitionReader(part: SeqFilePartition, tableSchema: StructType,
                                     required: StructType, mode: String,
                                     conf: org.apache.hadoop.conf.Configuration =
                                       SeqFileHadoopConf.current())
  extends org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {

  private val blocks = new SeqSplitBlocks(part, tableSchema, required, mode, conf)
  private var batch: ColumnarBatch = null

  override def next(): Boolean = {
    val b = blocks.next()
    if (b == null) return false
    val vectors: Array[ColumnVector] = required.fields.map { f =>
      if (f.name.equalsIgnoreCase("key"))
        new SeqFileColumnVector(f.dataType, b.keys.get): ColumnVector
      else if (f.name.equalsIgnoreCase("value"))
        new SeqFileColumnVector(f.dataType, b.values.get): ColumnVector
      else part.partValues.collectFirst {
        case (k, v) if k.equalsIgnoreCase(f.name) =>
          new SeqFileConstantStringVector(UTF8String.fromString(v)): ColumnVector
      }.getOrElse(throw new SeqFileFormatException(
        s"unknown column '${f.name}' (expect key/value or a partition column)"))
    }
    batch = new ColumnarBatch(vectors, b.count)
    true
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    blocks.metrics

  override def close(): Unit = blocks.close()
}
