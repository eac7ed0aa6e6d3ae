package graft.sources.seqfile

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.core.seqfile._

/** DSv2 write, batch and streaming, through one path: one writer factory
  * (`SeqFileWriterFactory`), one DataWriter per task (`SeqFileDataWriter`,
  * version-6 files whose framing is the exact inverse of what the reference
  * decodes, reference: cbits/decode.c:76-118), one commit message, and one
  * job commit (`SeqFileWriteJob`) behind the thin `SeqFileBatchWrite` and
  * `SeqFileStreamingWrite` adapters. Tasks write to a hidden `.inprogress`
  * name and rename on task commit — rename is atomic on HDFS/local; on
  * object stores it's copy+delete, acceptable for part files. Job commit
  * publishes a `SeqManifest` in every manifest-governed directory the job
  * wrote. mode("overwrite") maps to truncate().
  *
  * Options: blockSize (uncompressed flush threshold, default 1 MiB =
  * Hadoop's io.seqfile.compress.blocksize); compression = none|record|block;
  * codec = snappy|gzip|deflate|zstd|lz4; metadata.<k>=<v> pairs go into the
  * file header (surfaced back via Table.properties()); bloomKeys=true
  * (+ bloomFpp, default 1%) adds per-block key Bloom filters to the zone-map
  * sidecar for point-lookup pruning on unsorted data (see KeyBloom). */
class SeqFileWriteBuilder(schema: StructType, paths: Seq[String],
                          options: CaseInsensitiveStringMap,
                          partitionCols: Seq[String] = Nil,
                          hadoopConf: Configuration)
  extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  private def numeric[T](name: String, default: T)(parse: String => T): T =
    Option(options.get(name)).fold(default) { s =>
      try parse(s) catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"seqfile option $name must be a number, got '$s'") }
    }

  /** Every check of a write, on the driver before any task runs. Batch and
    * streaming differ only in where their partition columns come from. */
  private def validated(parts: Seq[String],
                        streaming: Boolean): (Int, Seq[(String, String)], SeqWriteLayout) = {
    require(paths.size == 1, s"seqfile write needs exactly one path, got $paths")
    parts.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column '$c' not found in ${schema.catalogString}")
      val dt = schema(c).dataType
      require(SeqFileDataWriter.PartitionTypes.contains(dt),
        s"unsupported partition column type $dt for '$c'; supported: string, int, long, short, boolean")
    }
    // Record = one (key, value) pair (reference: Types.hs:32-38). Accept
    // any 2-column schema: first column → key, second → value. With
    // partition columns, the REMAINING two columns form the record. A
    // 3+-column streaming schema with no declared partition columns is
    // almost always a writeStream.partitionBy that Spark dropped — say so.
    require(schema.length - parts.length == 2,
      s"seqfile write needs exactly 2 data columns (key, value) besides " +
      s"partition columns; got ${schema.catalogString} with partitions " +
      s"[${parts.mkString(",")}]" + (if (!streaming) "" else ". Note Spark " +
      "drops writeStream.partitionBy before it reaches a DSv2 sink — declare " +
      """partition columns with .option("partitionBy", "col1,col2") instead."""))
    schema.fields.filterNot(f => parts.contains(f.name))
      .foreach(f => SeqFileSchema.writableFor(f.dataType))
    val blockSize = numeric("blockSize", 1 << 20)(_.toInt)
    require(blockSize >= 1024, s"blockSize must be >= 1024, got $blockSize")
    val bloomFpp: Option[Double] =
      if (Option(options.get("bloomKeys")).exists(_.toBoolean)) {
        val fpp = numeric("bloomFpp", 0.01)(_.toDouble)
        require(fpp > 0 && fpp <= 0.5, s"bloomFpp must be in (0, 0.5], got $fpp")
        Some(fpp)
      } else None
    val layout = SeqWriteLayout(
      Option(options.get("compression")).getOrElse("block").toLowerCase match {
        case "none" => SeqCompression.None
        case "record" => SeqCompression.Record
        case "block" => SeqCompression.Block
        case other => throw new IllegalArgumentException(
          s"seqfile compression must be none, record or block; got $other")
      },
      Option(options.get("codec")).getOrElse("snappy").toLowerCase match {
        case "snappy" => SeqCodecs.SnappyClass
        case "gzip" => SeqCodecs.GzipClass
        case "deflate" | "default" => SeqCodecs.DefaultClass
        case "zstd" => SeqCodecs.ZstdClass
        case "lz4" => SeqCodecs.Lz4Class
        case other => throw new IllegalArgumentException(
          s"seqfile codec must be snappy, gzip, deflate, zstd or lz4; got $other")
      },
      bloomFpp)
    import scala.jdk.CollectionConverters._
    // asCaseSensitiveMap preserves the user's original key casing
    // (entrySet() lowercases keys)
    val metadata = options.asCaseSensitiveMap().asScala.toSeq
      .filter(_._1.toLowerCase.startsWith("metadata."))
      .map { case (k, v) => k.substring("metadata.".length) -> v }
      .sortBy(_._1)
    (blockSize, metadata, layout)
  }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val (blockSize, metadata, layout) = validated(partitionCols, streaming = false)
      new SeqFileBatchWrite(schema, paths.head, truncateFirst, blockSize, metadata,
        layout, partitionCols, hadoopConf)
    }
    override def toStreaming: StreamingWrite = {
      // Spark's DSv2 streaming path silently DROPS writeStream.partitionBy
      // (the columns never reach the table), so partitioned STREAMING
      // writes declare their partition columns via the `partitionBy`
      // OPTION (comma-separated) instead. Table-level partitioning is
      // honored too, should a Spark version start delivering it.
      val streamParts =
        if (partitionCols.nonEmpty) partitionCols
        else Option(options.get("partitionBy")).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      val (blockSize, metadata, layout) = validated(streamParts, streaming = true)
      new SeqFileStreamingWrite(schema, paths.head, blockSize, metadata, layout,
        streamParts, hadoopConf)
    }
  }
}

/** Serializable write-layout choice (codec carried by class name — codec
  * objects themselves are not serializable across task boundaries). */
case class SeqWriteLayout(compression: SeqCompression, codecClass: String,
                          bloomFpp: Option[Double] = None) {
  def codec: SeqBlockCodec = SeqCodecs.forClassOrThrow(codecClass)
}
object SeqWriteLayout {
  val Default: SeqWriteLayout = SeqWriteLayout(SeqCompression.Block, SeqCodecs.SnappyClass)
}

/** The write job batch and streaming share: directory set-up, the writer
  * factory, and the one job commit and abort. */
sealed abstract class SeqFileWriteJob(schema: StructType, path: String, blockSize: Int,
                                      metadata: Seq[(String, String)],
                                      layout: SeqWriteLayout,
                                      partitionCols: Seq[String],
                                      hadoopConf: Configuration) {

  private val root = new Path(path)

  /** `truncate` (batch overwrite) empties the target first. */
  protected def writerFactory(truncate: Boolean): SeqFileWriterFactory = {
    val fs = root.getFileSystem(hadoopConf)
    if (truncate && fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    new SeqFileWriterFactory(schema, path, blockSize, metadata, layout, partitionCols,
      SeqFileHadoopConf.broadcast(hadoopConf))
  }

  /** Job commit. The committed files are grouped by directory: a flat write
    * has one, the root (even when the job wrote nothing); a partitioned
    * write has one per leaf it touched. A streaming epoch commits in each of
    * them; a batch job only in those a sink or a compaction already made
    * manifest-governed (its files would be invisible otherwise), and plain
    * directories stay plain. Committing in a directory means:
    *
    *  - epoch only: delete any `part-e<epoch>-p*` file NOT in this
    *    attempt's messages. A replay that plans FEWER partitions than the
    *    crashed attempt (changed shuffle partitions / maxSplitBytes / AQE)
    *    overwrites p0..pK but would leave the crashed attempt's pK+1.. files
    *    behind as silent duplicates. A replay reads the same rows and so
    *    touches the same leaves, so the sweep covers every leaf the crashed
    *    attempt wrote.
    *  - publish a manifest naming the directory's files: `<epoch>`
    *    (replaying the epoch replaces it) or one `batch-<uuid>` per job. */
  protected def commitJob(epoch: Option[Long], messages: Array[WriterCommitMessage]): Unit = {
    val fs = root.getFileSystem(hadoopConf)
    // qualify both sides: message paths may be schemeless while globStatus
    // returns fully-qualified URIs
    val committed = paths(messages).map(s => fs.makeQualified(new Path(s)))
    val byDir: Map[Path, Seq[Path]] =
      if (partitionCols.isEmpty) Map(fs.makeQualified(root) -> committed)
      else committed.groupBy(_.getParent)
    val name = epoch.fold(SeqManifest.batchName())(SeqManifest.epochName)
    byDir.foreach { case (dir, files) =>
      if (epoch.isDefined || SeqManifest.governs(fs, dir)) {
        epoch.foreach { e =>
          val keep = files.map(_.toString).toSet
          Option(fs.globStatus(new Path(dir, f"part-e$e%05d-p*.seq"))).toSeq.flatten
            .filterNot(st => keep(fs.makeQualified(st.getPath).toString))
            .foreach { st =>
              SeqFileScan.log.warn(
                s"seqfile sink: deleting stale epoch-$e file from a failed " +
                s"attempt: ${st.getPath}")
              fs.delete(st.getPath, false)
            }
        }
        SeqManifest.publish(fs, hadoopConf, dir, name, files.map(_.getName))
      }
    }
  }

  /** Abort: delete every file the tasks committed. */
  protected def abortJob(messages: Array[WriterCommitMessage]): Unit =
    paths(messages).foreach { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) fs.delete(p, false)
    }

  private def paths(messages: Array[WriterCommitMessage]): Seq[String] =
    messages.toSeq.flatMap { case m: SeqFileCommitMessage => m.paths; case _ => Nil }
}

class SeqFileBatchWrite(schema: StructType, path: String, truncateFirst: Boolean,
                        blockSize: Int = 1 << 20,
                        metadata: Seq[(String, String)] = Nil,
                        layout: SeqWriteLayout = SeqWriteLayout.Default,
                        partitionCols: Seq[String] = Nil,
                        hadoopConf: Configuration)
  extends SeqFileWriteJob(schema, path, blockSize, metadata, layout, partitionCols, hadoopConf)
  with BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    writerFactory(truncate = truncateFirst)

  override def commit(messages: Array[WriterCommitMessage]): Unit = commitJob(None, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit = abortJob(messages)
}

/** Micro-batch streaming sink. Exactly-once per epoch via DETERMINISTIC file
  * names: each task writes `part-e<epoch>-p<partition>.seq`, replacing any
  * prior attempt's file, so a replayed epoch — after a crash between sink
  * write and offset-log commit — overwrites its own output instead of
  * duplicating it; epoch commit sweeps what a wider crashed attempt left
  * (see `commitJob`). Read isolation: the target is manifest-governed, and
  * epoch commit publishes the epoch's file names as `_seq_metadata/<epoch>`,
  * so a crashed epoch's orphans stay invisible until its replay commits.
  * The data files stay plain Hadoop-readable SequenceFiles; foreign readers
  * that ignore the manifest see at-least-once output, same as
  * FileStreamSink's parquet.
  *
  * Partitioned mode (`.option("partitionBy", "col1,col2")` — Spark drops
  * writeStream.partitionBy before it reaches a DSv2 sink): rows route to
  * hive-style `k=v` leaves exactly like a batch write, and epoch commit
  * publishes ONE manifest per touched leaf, which keeps each leaf
  * independently readable, prunable and compactable (SeqFileCompaction is
  * per-directory). */
class SeqFileStreamingWrite(schema: StructType, path: String, blockSize: Int,
                            metadata: Seq[(String, String)],
                            layout: SeqWriteLayout = SeqWriteLayout.Default,
                            partitionCols: Seq[String] = Nil,
                            hadoopConf: Configuration = SeqFileHadoopConf.current())
  extends SeqFileWriteJob(schema, path, blockSize, metadata, layout, partitionCols, hadoopConf)
  with StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    writerFactory(truncate = false)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    commitJob(Some(epochId), messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    abortJob(messages)
}

/** What a task committed: the final path of each file it wrote, one for a
  * flat write, one per leaf for a partitioned one. */
case class SeqFileCommitMessage(paths: String*) extends WriterCommitMessage

/** The one writer factory: its batch and streaming `createWriter`
  * overloads differ only in the epoch they pass. */
class SeqFileWriterFactory(schema: StructType, dir: String, blockSize: Int,
                           metadata: Seq[(String, String)],
                           layout: SeqWriteLayout,
                           partitionCols: Seq[String],
                           conf: Broadcast[SerializableConfiguration])
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, None)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId, Some(epochId))

  private def writer(partitionId: Int, taskId: Long, epoch: Option[Long]) =
    new SeqFileDataWriter(schema, dir, partitionId, taskId, conf.value.value,
      partitionCols, blockSize, metadata, layout, epoch)
}

/** The one DataWriter, flat and partitioned. A flat write (no partition
  * columns) has the single leaf `""`, the target directory, and opens its
  * file when the task starts, so a task with no rows still leaves one
  * header-only file. A partitioned write routes each row to a hive-style
  * `k=v/...` leaf (percent-escaped, matching the read side's discovery
  * decoding) and opens a leaf's file on its first row: worst case one open
  * file per distinct partition value per task, the same contract as
  * Spark's own file-source dynamic partitioning. With `epoch` set
  * (streaming), file names are deterministic per (epoch, task partition),
  * so replays overwrite instead of duplicating. Column types are checked
  * on the driver (`SeqFileWriteBuilder`). */
class SeqFileDataWriter(schema: StructType, dir: String, partitionId: Int, taskId: Long,
                        conf: Configuration,
                        partitionCols: Seq[String] = Nil,
                        blockSize: Int = 1 << 20,
                        metadata: Seq[(String, String)] = Nil,
                        layout: SeqWriteLayout = SeqWriteLayout.Default,
                        epoch: Option[Long] = None)
  extends DataWriter[InternalRow] {

  private val partOrdinals = partitionCols.map(schema.fieldIndex)
  private val dataOrdinals = schema.fields.indices.filterNot(partOrdinals.contains)
  require(dataOrdinals.length == 2)
  private val keyOrd = dataOrdinals(0)
  private val valOrd = dataOrdinals(1)
  private val keyType = SeqFileSchema.writableFor(schema(keyOrd).dataType)
  private val valueType = SeqFileSchema.writableFor(schema(valOrd).dataType)
  private val keyGet = getter(keyType, keyOrd)
  private val valGet = getter(valueType, valOrd)

  private def getter(w: WritableType, ord: Int): InternalRow => Any = w match {
    case WritableType.NullW => _ => null
    case WritableType.ShortW => _.getShort(ord)
    case WritableType.IntW => _.getInt(ord)
    case WritableType.LongW => _.getLong(ord)
    case WritableType.FloatW => _.getFloat(ord)
    case WritableType.DoubleW => _.getDouble(ord)
    case WritableType.TextW => _.getUTF8String(ord).getBytes // pre-encoded UTF-8
    case WritableType.BytesW => _.getBinary(ord)
  }

  private val fs = new Path(dir).getFileSystem(conf)
  private val leaves = mutable.LinkedHashMap.empty[String, LeafFile]
  if (partitionCols.isEmpty) leaves("") = new LeafFile("")

  private def leafOf(row: InternalRow): String =
    partitionCols.indices.map { i =>
      val ord = partOrdinals(i)
      if (row.isNullAt(ord))
        throw new SeqFileFormatException(
          s"null partition value for column '${partitionCols(i)}'")
      PartitionPaths.escape(partitionCols(i)) + "=" +
        PartitionPaths.escape(row.get(ord, schema(ord).dataType).toString)
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    // The format has no null-within-column representation (only whole-column
    // NullWritable, reference: Writable.hs:73-75) — fail fast like the
    // reference's type check would.
    if (keyType != WritableType.NullW && row.isNullAt(keyOrd))
      throw new SeqFileFormatException("seqfile cannot encode NULL key (no null representation in format)")
    if (valueType != WritableType.NullW && row.isNullAt(valOrd))
      throw new SeqFileFormatException("seqfile cannot encode NULL value (no null representation in format)")
    val rel = if (partOrdinals.isEmpty) "" else leafOf(row)
    leaves.getOrElseUpdate(rel, new LeafFile(rel)).writer.append(keyGet(row), valGet(row))
  }

  override def commit(): WriterCommitMessage = {
    // Commit leaf by leaf, but roll back on partial failure: if rename k+1
    // fails after k files were already renamed, those k finals must not
    // survive — the task will be retried with fresh names and the
    // survivors would be silent duplicates.
    val committed = mutable.ArrayBuffer.empty[Path]
    try {
      leaves.values.foreach(l => committed += l.commit())
      SeqFileCommitMessage(committed.map(_.toString).toSeq: _*)
    } catch {
      case e: Throwable =>
        committed.flatMap(p => Seq(p, ZoneMap.sidecarPath(p))).foreach { p =>
          try { if (fs.exists(p)) fs.delete(p, false) }
          catch { case _: Exception => () }
        }
        throw e
    }
  }

  override def abort(): Unit = leaves.values.foreach(_.abort())

  override def close(): Unit = ()

  /** One leaf's part file: written under a hidden temp name, renamed into
    * place on commit, zone-map sidecar after the rename. */
  private final class LeafFile(rel: String) {
    private val leafDir = if (rel.isEmpty) new Path(dir) else new Path(s"$dir/$rel")
    // Streaming writers (epoch defined) use a DETERMINISTIC name so epoch
    // replays are idempotent; batch writers get a per-attempt unique name.
    private val finalPath = epoch match {
      case Some(e) => new Path(leafDir, f"part-e$e%05d-p$partitionId%05d.seq")
      case None => new Path(leafDir,
        f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.seq")
    }
    // Temp name stays attempt-unique (taskId + UUID): two speculative
    // attempts of the same (epoch, partition) must never write the same
    // temp file.
    private val tempPath = new Path(leafDir,
      s".inprogress-$taskId-${UUID.randomUUID().toString.take(8)}-${finalPath.getName}")
    val writer = new SeqFileWriter(fs.create(tempPath, true), keyType, valueType,
      metadata = metadata, blockSize = blockSize,
      compression = layout.compression, codec = layout.codec,
      bloomFpp = layout.bloomFpp)

    def commit(): Path = {
      writer.close()
      if (epoch.isDefined) {
        // Make the leaf (the root, for a flat sink) manifest-governed
        // BEFORE its data file becomes visible: its first-ever file would
        // otherwise be readable between this rename and the epoch commit
        // that publishes its manifest (a crashed attempt's orphan would
        // stay visible forever). The baseline manifest keeps the files
        // already in a plain leaf visible.
        SeqManifest.govern(fs, conf, leafDir)
        // Epoch replay: the deterministic final name may exist from a prior
        // attempt of the same epoch — replace it, don't duplicate.
        if (fs.exists(finalPath)) fs.delete(finalPath, false)
      }
      if (!fs.rename(tempPath, finalPath))
        throw new java.io.IOException(s"failed to commit $tempPath -> $finalPath")
      // Zone-map sidecar AFTER the rename: a failed attempt leaves no
      // sidecar for the final name, and a replayed epoch overwrites it
      // together with the data file. Readers validate recorded-vs-actual
      // file length before trusting it, so a torn sidecar degrades to a
      // full scan, never a mis-prune. Best-effort: the data commit already
      // happened.
      if (writer.zoneEntries.nonEmpty)
        try ZoneMap.write(fs, finalPath, keyType.javaClass, valueType.javaClass,
          writer.bytesWritten, writer.zoneEntries)
        catch { case scala.util.control.NonFatal(e) =>
          SeqFileScan.log.warn(s"zone-map sidecar write failed for $finalPath: $e") }
      finalPath
    }

    def abort(): Unit = {
      try writer.close() catch { case _: Exception => () }
      if (fs.exists(tempPath)) fs.delete(tempPath, false)
    }
  }
}

object SeqFileDataWriter {
  /** Partition column types a leaf name can be rendered from. */
  val PartitionTypes: Set[DataType] =
    Set(StringType, IntegerType, LongType, ShortType, BooleanType)
}
