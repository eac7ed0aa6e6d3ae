package graft.sources.seqfile

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.seqfile._

/** Spark DataSource V2 provider for Hadoop SequenceFiles (block-Snappy),
  * registered as format "seqfile".
  *
  * Read:  `spark.read.format("seqfile").load(path)` →
  *        schema `(key <K> , value <V>)` resolved from the file header's Java
  *        class names, the reference's schema model (reference:
  *        src/Data/Hadoop/SequenceFile/Types.hs:16-25, Parser.hs:53-54).
  * Write: `df.write.format("seqfile").save(path)` — version-6 BLOCK+Snappy
  *        files (the write support the reference's README promises but never
  *        implements, reference: README.md:3-5); batch and streaming share
  *        one write path (SeqFileWrite) and one manifest (SeqManifest).
  */
class SeqFileDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "seqfile"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = SeqFileDataSource.resolvePaths(options)
    val conf = SeqFileHadoopConf.current()
    val files = SeqFileDataSource.listPartitionedFiles(paths, conf)
    if (files.isEmpty)
      throw new SeqFileFormatException(
        s"no sequence files found at ${paths.mkString(",")}")
    // Schema comes from the first file's header (class names → Catalyst
    // types), exactly the reference's header-driven schema resolution —
    // plus hive-style partition columns (`k=v` directory levels), if any.
    val header = SeqFileDataSource.readHeader(files.head.status.getPath, conf)
    val dataSchema = SeqFileSchema.schemaFor(header.keyType, header.valueType)
    val partKeys = SeqFileDataSource.validatePartitionKeys(files)
    partKeys.foreach { k =>
      if (dataSchema.fieldNames.exists(_.equalsIgnoreCase(k)))
        throw new SeqFileFormatException(
          s"partition column '$k' collides with the format's $k column")
    }
    StructType(dataSchema.fields ++ partKeys.map(k =>
      StructField(k, StringType, nullable = false)))
  }

  /** Write-side partitioning: `df.write.partitionBy(cols)` reaches the
    * provider as the `__partition_columns` option (JSON array).
    * Surfacing it as identity transforms here (and from
    * `Table.partitioning()`) is what lets Spark's
    * checkPartitioningMatchesV2Table accept the write; the writer then
    * routes rows into hive-style `k=v` subdirectories that the read side's
    * partition discovery already understands. */
  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    SeqFileDataSource.partitionColumnsOption(options)
      .map(_.map(org.apache.spark.sql.connector.expressions.Expressions.identity(_): Transform).toArray)
      .getOrElse(Array.empty)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new SeqFileTable(schema, SeqFileDataSource.resolvePaths(options), partitioning,
      SparkSession.active)
  }
}

object SeqFileDataSource {

  /** `df.write.partitionBy(...)` columns, delivered by Spark as the
    * `__partition_columns` option (JSON string array); None when absent. */
  def partitionColumnsOption(options: CaseInsensitiveStringMap): Option[Seq[String]] =
    Option(options.get("__partition_columns")).map { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }

  /** Spark passes a single `load(p)` as option "path" and multi-path loads as
    * option "paths" (a JSON string array). */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }.getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    val all = (single ++ multi).distinct
    if (all.isEmpty)
      throw new IllegalArgumentException("seqfile: 'path' option required")
    all
  }

  /** A data file plus the hive-style partition values (`k=v` directory
    * levels, outermost first) on its path. */
  final case class PartitionedFile(status: FileStatus,
                                   partitionValues: Seq[(String, String)])

  /** Parse one directory name as a hive partition component. */
  private def partOf(dirName: String): Option[(String, String)] = {
    val i = dirName.indexOf('=')
    if (i <= 0) None
    else {
      PartitionPaths.warnIfLegacyEncoded(dirName.substring(i + 1))
      Some((PartitionPaths.unescape(dirName.substring(0, i)),
        PartitionPaths.unescape(dirName.substring(i + 1))))
    }
  }

  /** Re-derive partition values from a file path's `k=v` directory
    * components (outermost first) — used by the streaming source, whose
    * offset log stores only path strings. Matches what discovery collects
    * for the same file. */
  def partitionValuesFromPath(path: String): Seq[(String, String)] = {
    var cur = new Path(path).getParent
    var acc = List.empty[(String, String)]
    while (cur != null && cur.getName.nonEmpty) {
      partOf(cur.getName).foreach(kv => acc = kv :: acc)
      cur = cur.getParent
    }
    acc
  }

  /** List data files under each path (directory, glob, or file), recursing
    * into subdirectories and skipping hidden/_SUCCESS-style entries.
    * `k=v`-named directory levels are collected as hive-style partition
    * values (URL-decoded, like Spark's own file sources write them).
    * A directory holding `_seq_metadata` is manifest-governed (a streaming
    * sink, a compaction or a batch append into either wrote it): only the
    * files `SeqManifest.visibleFiles` names are listed. Uses the Hadoop
    * FileSystem API so HDFS / S3 paths work unchanged on a real cluster. */
  def listPartitionedFiles(paths: Seq[String], conf: Configuration): Seq[PartitionedFile] = {
    def expand(fs: org.apache.hadoop.fs.FileSystem, st: FileStatus,
               pvals: Seq[(String, String)]): Seq[PartitionedFile] =
      if (st.isDirectory) {
        if (hidden(st.getPath.getName)) Seq.empty
        else {
          val children = fs.listStatus(st.getPath).toSeq
          if (children.exists(c => c.isDirectory && c.getPath.getName == SeqManifest.DirName)) {
            val committed = SeqManifest.visibleFiles(fs, st.getPath)
            children.filter(c => !c.isDirectory && committed(c.getPath.getName))
              .map(PartitionedFile(_, pvals))
          } else children.flatMap { c =>
            val cp = if (c.isDirectory) partOf(c.getPath.getName) else None
            expand(fs, c, pvals ++ cp)
          }
        }
      } else Seq(PartitionedFile(st, pvals))
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
        .flatMap(expand(fs, _, Nil))
    }.filter(pf => !hidden(pf.status.getPath.getName))
      .sortBy(_.status.getPath.toString)
  }

  def listFiles(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    listPartitionedFiles(paths, conf).map(_.status)

  /** Every file must carry the same partition-key sequence (a lake with
    * files at inconsistent depths is a layout error, not data to guess at).
    * Returns the common key sequence — empty for unpartitioned layouts. */
  def validatePartitionKeys(files: Seq[PartitionedFile]): Seq[String] = {
    val keySeqs = files.map(_.partitionValues.map(_._1)).distinct
    if (keySeqs.size > 1)
      throw new SeqFileFormatException(
        s"inconsistent partition layout: found key sequences " +
          keySeqs.map(_.mkString("/")).mkString("[", ", ", "]"))
    keySeqs.headOption.getOrElse(Nil)
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  def readHeader(path: Path, conf: Configuration): SeqHeader = {
    val in = new HadoopSeekableInput(path, conf)
    try SeqHeader.parse(new SeqInput(in))
    finally in.close()
  }
}

/** SeekableInput over one open Hadoop `FSDataInputStream`, so the core
  * codec runs against any Hadoop filesystem.
  *
  * `readAt` reads on that stream: it seeks only when `pos` is not where the
  * stream already is, then reads forward. A split's reads go forward (see
  * SeqInput), so reading a split costs one open and one pass over its
  * bytes, and on `ChecksumFileSystem` (the `file:` scheme's default
  * `LocalFileSystem`) the stream's own checker still verifies every byte
  * against the `.crc` file. It does not use positioned reads: on
  * `ChecksumFileSystem` each one builds a new checker, which reopens and
  * stats the data and `.crc` files.
  *
  * Like the stream, an instance is not safe for concurrent use; each reader
  * opens its own. */
final class HadoopSeekableInput(path: Path, conf: Configuration) extends SeekableInput {
  private val fs = path.getFileSystem(conf)
  private val stream = fs.open(path)
  val length: Long = fs.getFileStatus(path).getLen
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    if (pos >= length) -1
    else {
      if (pos != stream.getPos) stream.seek(pos)
      stream.read(buf, off, len)
    }
  def close(): Unit = stream.close()
}

/** Class-name ↔ Catalyst type mapping for the 8 reference Writables
  * (reference type table: src/Data/Hadoop/Writable.hs:73-106). */
object SeqFileSchema {

  def sparkType(w: WritableType): DataType = w match {
    case WritableType.NullW => NullType
    case WritableType.ShortW => ShortType
    case WritableType.IntW => IntegerType
    case WritableType.LongW => LongType
    case WritableType.FloatW => FloatType
    case WritableType.DoubleW => DoubleType
    case WritableType.BytesW => BinaryType
    case WritableType.TextW => StringType
  }

  def writableFor(dt: DataType): WritableType = dt match {
    case NullType => WritableType.NullW
    case ShortType => WritableType.ShortW
    case IntegerType => WritableType.IntW
    case LongType => WritableType.LongW
    case FloatType => WritableType.FloatW
    case DoubleType => WritableType.DoubleW
    case BinaryType => WritableType.BytesW
    case StringType => WritableType.TextW
    case other => throw new SeqFileFormatException(
      s"no Writable mapping for Spark type $other; supported: " +
        "null/short/int/long/float/double/binary/string")
  }

  /** Format schema: the record is exactly one (key, value) pair
    * (reference: Types.hs:32-38). Only NullWritable columns are nullable. */
  def schemaFor(k: WritableType, v: WritableType): StructType = StructType(Seq(
    StructField("key", sparkType(k), nullable = k == WritableType.NullW),
    StructField("value", sparkType(v), nullable = v == WritableType.NullW)))

  /** Validate a table schema (possibly user-supplied) against a concrete
    * file header, failing fast like the reference's per-stream type check
    * (reference: Parser.hs:84-91). */
  def validate(schema: StructType, header: SeqHeader, path: String): Unit = {
    val expected = schemaFor(header.keyType, header.valueType)
    val gotTypes = schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    for (f <- expected.fields) {
      gotTypes.get(f.name) match {
        case Some(dt) if dt != f.dataType =>
          throw new SeqFileFormatException(
            s"$path: schema mismatch for column '${f.name}': file has " +
              s"${header.keyClass}/${header.valueClass} → ${f.dataType}, query expects $dt")
        case _ => () // pruned or matching
      }
    }
  }
}
