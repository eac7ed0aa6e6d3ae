package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.{LocalScan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** A seqfile scan of a few planned blocks, read on the driver. Spark plans
  * a `LocalScan` as a `LocalTableScanExec`, whose `collect()` runs no job,
  * so a point lookup pays no job, task or code generation of its own.
  *
  * The rows come from the blocks `parts` planned, through the batch path's
  * reader under FAILFAST with the scan's exact key filters and the
  * builder's Hadoop conf, copied out of the reader's reused buffers. They
  * are read once, when Spark first asks for them or for the statistics.
  * `driverMetrics` are the plan's zone-map and sidecar counts, which the
  * batch scan reports as SQL metrics and a local scan node cannot. */
final class SeqFileLocalScan(tableSchema: StructType, required: StructType,
                             val parts: Seq[SeqFilePartition], keyFilters: Seq[Filter],
                             hadoopConf: Configuration,
                             metrics: Array[CustomTaskMetric], desc: String)
  extends LocalScan with SupportsReportStatistics {

  /** Metric name to value, as the batch scan's `reportDriverMetrics`. */
  val driverMetrics: Map[String, Long] = metrics.map(m => m.name() -> m.value()).toMap

  private lazy val read: Array[InternalRow] = {
    val out = Array.newBuilder[InternalRow]
    parts.foreach { p =>
      val reader = new SeqFileColumnarPartitionReader(p, tableSchema, required,
        ReadMode.FailFast, hadoopConf, keyFilters)
      try {
        while (reader.next()) {
          val rows = reader.get().rowIterator()
          while (rows.hasNext) out += rows.next().copy()
        }
      } finally reader.close()
    }
    out.result()
  }

  override def rows(): Array[InternalRow] = read

  override def readSchema(): StructType = required

  override def description(): String = desc

  /** Exact: the rows and their size as the `UnsafeRow`s Spark holds. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val fixed = UnsafeRow.calculateBitSetWidthInBytes(required.length) + 8L * required.length
    private val bytes = read.iterator.map { r =>
      fixed + required.fields.indices.map { i =>
        if (r.isNullAt(i)) 0L
        else required(i).dataType match {
          case StringType => roundUp8(r.getUTF8String(i).numBytes())
          case BinaryType => roundUp8(r.getBinary(i).length)
          case _ => 0L
        }
      }.sum
    }.sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(read.length.toLong)
  }

  private def roundUp8(n: Int): Long = (n + 7L) / 8 * 8
}
