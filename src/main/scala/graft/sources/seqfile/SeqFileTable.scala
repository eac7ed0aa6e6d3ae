package graft.sources.seqfile

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** One logical seqfile table = a set of files/directories sharing a (key,
  * value) schema. Header metadata of the first file is surfaced as table
  * properties (the reference's `hdMetadata`, reference: Types.hs:22).
  * Every scan and write of the table takes its Hadoop configuration from
  * `spark` (see SeqFileHadoopConf). */
class SeqFileTable(tableSchema: StructType, paths: Seq[String],
                   tablePartitioning: Array[org.apache.spark.sql.connector.expressions.Transform] = Array.empty,
                   spark: SparkSession)
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"seqfile(${paths.mkString(",")})"

  override def schema(): StructType = tableSchema

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    tablePartitioning

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
        TableCapability.STREAMING_WRITE).asJava

  override def properties(): java.util.Map[String, String] = {
    // Best-effort: expose first file's header metadata
    try {
      val conf = SeqFileHadoopConf.of(spark)
      val files = SeqFileDataSource.listFiles(paths, conf)
      if (files.isEmpty) java.util.Collections.emptyMap()
      else SeqFileDataSource.readHeader(files.head.getPath, conf)
        .metadata.toMap.asJava
    } catch { case _: Exception => java.util.Collections.emptyMap() }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SeqFileScanBuilder(tableSchema, paths, options, SeqFileHadoopConf.of(spark))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // partition columns come from the table's own transforms (identity
    // only) — the __partition_columns option is not propagated into the
    // write-side options by Spark
    val partCols = tablePartitioning.toSeq.map { t =>
      val refs = t.references()
      require(t.name() == "identity" && refs.length == 1 &&
        refs(0).fieldNames().length == 1,
        s"seqfile write supports only identity partition transforms, got $t")
      refs(0).fieldNames()(0)
    }
    new SeqFileWriteBuilder(info.schema(), paths, info.options(), partCols,
      SeqFileHadoopConf.of(spark))
  }
}
