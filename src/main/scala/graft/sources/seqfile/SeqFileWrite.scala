package graft.sources.seqfile

import java.util.UUID

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

/** DSv2 batch write: each task writes one version-6 BLOCK+Snappy part file
  * under the target directory (framing = exact inverse of what the reference
  * decodes, reference: cbits/decode.c:76-118). mode("overwrite") maps to
  * truncate(). Commit protocol: tasks write to a hidden `.inprogress` name
  * and rename on task commit — rename is atomic on HDFS/local; on object
  * stores it's copy+delete, acceptable for part files. */
class SeqFileWriteBuilder(schema: StructType, paths: Seq[String],
                          options: CaseInsensitiveStringMap,
                          partitionCols: Seq[String] = Nil,
                          hadoopConf: Configuration)
  extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  partitionCols.foreach { c =>
    require(schema.fieldNames.contains(c),
      s"partition column '$c' not found in ${schema.catalogString}")
  }

  private def validated(pCols: Seq[String]): (String, Int, Seq[(String, String)], SeqWriteLayout) = {
    require(paths.size == 1, s"seqfile write needs exactly one path, got $paths")
    // Record = one (key, value) pair (reference: Types.hs:32-38). Accept
    // any 2-column schema: first column → key, second → value. With
    // partitionBy, the partition columns route to hive-style directories
    // and the REMAINING two columns form the record.
    val nData = schema.length - pCols.length
    require(nData == 2,
      s"seqfile schema must have exactly 2 data columns (key, value) besides " +
      s"partition columns; got ${schema.catalogString} with partitions " +
      pCols.mkString(","))
    // options: blockSize (uncompressed flush threshold, default 1 MiB =
    // Hadoop's io.seqfile.compress.blocksize); compression = none|record|
    // block; codec = snappy|gzip|deflate|zstd|lz4; metadata.<k>=<v> pairs go
    // into the file header (surfaced back via Table.properties());
    // bloomKeys=true (+ bloomFpp, default 1%) adds per-block key Bloom
    // filters to the zone-map sidecar for point-lookup pruning on
    // unsorted data (see KeyBloom).
    val blockSize = Option(options.get("blockSize")).map(_.toInt).getOrElse(1 << 20)
    require(blockSize >= 1024, s"blockSize must be >= 1024, got $blockSize")
    val bloomFpp: Option[Double] =
      if (Option(options.get("bloomKeys")).exists(_.toBoolean)) {
        val fpp = Option(options.get("bloomFpp")).map(_.toDouble).getOrElse(0.01)
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
    (paths.head, blockSize, metadata, layout)
  }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val (path, blockSize, metadata, layout) = validated(partitionCols)
      new SeqFileBatchWrite(schema, path, truncateFirst, blockSize, metadata,
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
      streamParts.foreach { c =>
        require(schema.fieldNames.contains(c),
          s"partition column '$c' not found in ${schema.catalogString}")
      }
      // A 3+-column schema with no declared partition columns is almost
      // always a writeStream.partitionBy that Spark dropped — say so
      // explicitly instead of just failing the column-count check.
      require(schema.length - streamParts.length == 2,
        s"seqfile streaming sink needs exactly 2 data columns (key, value) " +
        s"besides partition columns; got ${schema.catalogString} with " +
        s"partitions [${streamParts.mkString(",")}]. Note Spark drops " +
        "writeStream.partitionBy before it reaches a DSv2 sink — declare " +
        """partition columns with .option("partitionBy", "col1,col2") instead.""")
      val (path, blockSize, metadata, layout) = validated(streamParts)
      new SeqFileStreamingWrite(schema, path, blockSize, metadata, layout,
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

/** Micro-batch streaming sink. Exactly-once per epoch via DETERMINISTIC file
  * names: each task writes `part-e<epoch>-p<partition>.seq` (temp + rename,
  * replacing any prior attempt's file), so a replayed epoch — after a crash
  * between sink write and offset-log commit — overwrites its own output
  * instead of duplicating it. Epoch commit then deletes any
  * `part-e<epoch>-p*` file NOT in this attempt's commit messages: a replay
  * that plans FEWER partitions than the crashed attempt (changed shuffle
  * partitions / maxSplitBytes / AQE decisions) would otherwise overwrite
  * p0..pK but leave the crashed attempt's pK+1.. files behind as silent
  * duplicates. Read isolation: commit also records the epoch's committed
  * file names in `_seq_metadata/<epoch>` (temp + atomic rename, idempotent
  * on replay — FileStreamSink's metadata-log design). Our reader treats a
  * directory containing `_seq_metadata` as manifest-governed and lists only
  * manifested files, so a crashed epoch's orphans are invisible until its
  * replay commits. The data files themselves stay plain Hadoop-readable
  * SequenceFiles; foreign readers that ignore the manifest see at-least-once
  * output, same as FileStreamSink's parquet.
  *
  * Partitioned mode (`.option("partitionBy", "col1,col2")` — Spark drops
  * writeStream.partitionBy before it reaches a DSv2 sink): rows route to
  * hive-style `k=v` leaves exactly like the batch writer, file names stay
  * deterministic per (epoch, task-partition) within each leaf, and epoch
  * commit writes ONE manifest per touched leaf. A replayed epoch touches the
  * same leaves (same offsets → same rows), so per-leaf stale-file sweeps
  * cover every leaf a crashed attempt wrote; leaves become manifest-governed
  * at task commit, before their first data file is visible. Per-leaf
  * manifests keep each leaf independently readable, prunable, and
  * compactable (SeqFileCompaction is per-directory). */
class SeqFileStreamingWrite(schema: StructType, path: String, blockSize: Int,
                            metadata: Seq[(String, String)],
                            layout: SeqWriteLayout = SeqWriteLayout.Default,
                            partitionCols: Seq[String] = Nil,
                            hadoopConf: Configuration = SeqFileHadoopConf.current())
  extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(hadoopConf)
    fs.mkdirs(dir)
    // Flat sink: make the directory manifest-governed from the start, so a
    // reader never observes first-epoch files between task rename and epoch
    // commit. (Partitioned leaves do the same at task-commit time — leaves
    // are only discovered as rows arrive.)
    if (partitionCols.isEmpty)
      fs.mkdirs(new Path(dir, SeqFileDataSource.MetadataDirName))
    new SeqFileStreamingWriterFactory(schema, path, blockSize, metadata, layout,
      partitionCols, SeqFileHadoopConf.broadcast(hadoopConf))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    // qualify both sides: message paths may be schemeless while globStatus
    // returns fully-qualified URIs
    val committed = messages.flatMap {
      case m: SeqFileCommitMessage => Seq(m.path)
      case m: SeqFilePartitionedCommitMessage => m.paths
      case _ => Nil
    }.map(s => fs.makeQualified(new Path(s)))
    // One manifest per directory: the flat sink commits exactly one (the
    // root, even on an empty epoch); the partitioned sink commits one per
    // partition leaf touched this epoch. Same rows replay to the same
    // leaves, so a crashed attempt's leaf set equals the replay's and every
    // leaf's stale files get swept. Per-leaf manifests also keep each leaf
    // independently compactable (SeqFileCompaction is per-directory).
    val byDir: Map[Path, Seq[Path]] =
      if (partitionCols.isEmpty)
        Map(fs.makeQualified(root) -> committed.toSeq)
      else committed.toSeq.groupBy(_.getParent)
    byDir.foreach { case (dir, files) =>
      commitDir(fs, epochId, dir, files.map(_.toString).toSet) }
  }

  private def commitDir(fs: org.apache.hadoop.fs.FileSystem,
                        epochId: Long, dir: Path, committed: Set[String]): Unit = {
    val stale = fs.globStatus(new Path(dir, f"part-e$epochId%05d-p*.seq"))
    if (stale != null) stale.foreach { st =>
      if (!committed.contains(fs.makeQualified(st.getPath).toString)) {
        SeqFileScan.log.warn(
          s"seqfile sink: deleting stale epoch-$epochId file from a failed " +
          s"attempt: ${st.getPath}")
        fs.delete(st.getPath, false)
      }
    }
    // Manifest: record this epoch's committed file NAMES so readers can
    // filter out files of epochs that never reached commit. Name-only (not
    // full URIs) keeps the manifest valid if the directory is moved.
    // Atomic rename (not create-in-place): readers must never observe a
    // partially-written manifest; replay of the same epoch overwrites.
    val metaDir = new Path(dir, SeqFileDataSource.MetadataDirName)
    fs.mkdirs(metaDir)
    val finalMeta = new Path(metaDir, f"$epochId%020d")
    val tmpMeta = new Path(metaDir, f".$epochId%020d.tmp")
    val out = fs.create(tmpMeta, true)
    try committed.map(new Path(_).getName).toSeq.sorted
      .foreach(n => out.write((n + "\n").getBytes("UTF-8")))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(finalMeta.toUri, hadoopConf)
      .rename(tmpMeta, finalMeta, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    SeqFileBatchWrite.deleteCommitted(messages, hadoopConf)
}

class SeqFileStreamingWriterFactory(schema: StructType, dir: String, blockSize: Int,
                                    metadata: Seq[(String, String)],
                                    layout: SeqWriteLayout = SeqWriteLayout.Default,
                                    partitionCols: Seq[String] = Nil,
                                    conf: Broadcast[SerializableConfiguration])
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    if (partitionCols.isEmpty)
      new SeqFileDataWriter(schema, dir, partitionId, taskId, blockSize, metadata,
        epoch = Some(epochId), layout = layout, conf = conf.value.value)
    else
      new SeqFilePartitionedDataWriter(schema, dir, partitionId, taskId,
        blockSize, metadata, layout, partitionCols, conf.value.value,
        epoch = Some(epochId))
}

class SeqFileBatchWrite(schema: StructType, path: String, truncateFirst: Boolean,
                        blockSize: Int = 1 << 20,
                        metadata: Seq[(String, String)] = Nil,
                        layout: SeqWriteLayout = SeqWriteLayout.Default,
                        partitionCols: Seq[String] = Nil,
                        hadoopConf: Configuration)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(hadoopConf)
    if (truncateFirst && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    new SeqFileWriterFactory(schema, path, blockSize, metadata, layout, partitionCols,
      SeqFileHadoopConf.broadcast(hadoopConf))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SeqFileBatchWrite.deleteCommitted(messages, hadoopConf)
}

object SeqFileBatchWrite {
  /** Abort: delete every file the tasks committed. */
  private[seqfile] def deleteCommitted(messages: Array[WriterCommitMessage],
                                       conf: Configuration): Unit =
    messages.flatMap {
      case m: SeqFileCommitMessage => Seq(m.path)
      case m: SeqFilePartitionedCommitMessage => m.paths
      case _ => Nil
    }.foreach { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, false)
    }
}

case class SeqFileCommitMessage(path: String) extends WriterCommitMessage
case class SeqFilePartitionedCommitMessage(paths: Seq[String]) extends WriterCommitMessage

class SeqFileWriterFactory(schema: StructType, dir: String, blockSize: Int,
                           metadata: Seq[(String, String)],
                           layout: SeqWriteLayout = SeqWriteLayout.Default,
                           partitionCols: Seq[String] = Nil,
                           conf: Broadcast[SerializableConfiguration])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (partitionCols.isEmpty)
      new SeqFileDataWriter(schema, dir, partitionId, taskId, blockSize, metadata,
        layout = layout, conf = conf.value.value)
    else
      new SeqFilePartitionedDataWriter(schema, dir, partitionId, taskId,
        blockSize, metadata, layout, partitionCols, conf.value.value)
}

/** Hive-style dynamic-partition writer: routes each row to a `k=v/...`
  * subdirectory (Hive-style percent-escaped, matching the read side's
  * discovery decoding) and keeps one open SeqFileDataWriter per partition
  * value seen by this task. Rows arrive pre-repartitioned by Spark only if
  * the user asked for it; the writer is correct either way — worst case is
  * one open file per distinct partition value per task, the same contract
  * as Spark's own file-source dynamic partitioning. With `epoch` set
  * (streaming), inner writers use deterministic epoch file names so replays
  * overwrite instead of duplicating. */
class SeqFilePartitionedDataWriter(schema: StructType, rootDir: String,
                                   partitionId: Int, taskId: Long,
                                   blockSize: Int, metadata: Seq[(String, String)],
                                   layout: SeqWriteLayout,
                                   partitionCols: Seq[String],
                                   conf: Configuration,
                                   epoch: Option[Long] = None)
  extends DataWriter[InternalRow] {

  private val partOrdinals = partitionCols.map(c => schema.fieldIndex(c))
  private val dataOrdinals = schema.fields.indices
    .filterNot(partOrdinals.contains).toArray
  require(dataOrdinals.length == 2)
  private val dataSchema = StructType(dataOrdinals.map(schema.fields(_)))

  private def partString(row: InternalRow, ord: Int): String = {
    if (row.isNullAt(ord))
      throw new SeqFileFormatException(
        s"null partition value for column '${schema.fields(ord).name}'")
    val v = schema.fields(ord).dataType match {
      case StringType => row.getUTF8String(ord).toString
      case IntegerType => row.getInt(ord).toString
      case LongType => row.getLong(ord).toString
      case ShortType => row.getShort(ord).toString
      case BooleanType => row.getBoolean(ord).toString
      case other => throw new SeqFileFormatException(
        s"unsupported partition column type $other")
    }
    PartitionPaths.escape(v)
  }

  // one inner writer per partition directory; rows are projected down to
  // the two data columns before appending
  private val writers = scala.collection.mutable.LinkedHashMap.empty[String, SeqFileDataWriter]
  private val proj = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

  override def write(row: InternalRow): Unit = {
    val rel = partitionCols.indices.map { i =>
      PartitionPaths.escape(partitionCols(i)) + "=" +
        partString(row, partOrdinals(i))
    }.mkString("/")
    val w = writers.getOrElseUpdate(rel, {
      new SeqFileDataWriter(dataSchema, s"$rootDir/$rel", partitionId, taskId,
        blockSize, metadata, epoch = epoch, layout = layout, conf = conf)
    })
    proj.update(0, row.get(dataOrdinals(0), schema.fields(dataOrdinals(0)).dataType))
    proj.update(1, row.get(dataOrdinals(1), schema.fields(dataOrdinals(1)).dataType))
    w.write(proj)
  }

  override def commit(): WriterCommitMessage = {
    // Commit inner writers one by one, but roll back on partial failure: if
    // rename k+1 fails after k files were already renamed, those k finals
    // must not survive — the task will be retried with fresh UUID names and
    // the survivors would be silent duplicates.
    val committed = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      writers.values.foreach { w =>
        w.commit() match { case SeqFileCommitMessage(p) => committed += p }
      }
      SeqFilePartitionedCommitMessage(committed.toSeq)
    } catch {
      case e: Throwable =>
        committed.foreach { s =>
          val p = new Path(s)
          val fs = p.getFileSystem(conf)
          try { if (fs.exists(p)) fs.delete(p, false) }
          catch { case _: Exception => () }
        }
        throw e
    }
  }

  override def abort(): Unit = writers.values.foreach(_.abort())

  override def close(): Unit = writers.values.foreach(_.close())
}

class SeqFileDataWriter(schema: StructType, dir: String, partitionId: Int, taskId: Long,
                        blockSize: Int = 1 << 20,
                        metadata: Seq[(String, String)] = Nil,
                        epoch: Option[Long] = None,
                        layout: SeqWriteLayout = SeqWriteLayout.Default,
                        conf: Configuration)
  extends DataWriter[InternalRow] {

  private val keyType = SeqFileSchema.writableFor(schema(0).dataType)
  private val valueType = SeqFileSchema.writableFor(schema(1).dataType)
  // Streaming writers (epoch defined) use a DETERMINISTIC name so epoch
  // replays are idempotent; batch writers get a per-attempt unique name.
  private val finalPath = epoch match {
    case Some(e) => new Path(dir, f"part-e$e%05d-p$partitionId%05d.seq")
    case None =>
      new Path(dir, f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.seq")
  }
  // Temp name stays attempt-unique (taskId + UUID): two speculative attempts
  // of the same (epoch, partition) must never write the same temp file.
  private val tempPath = new Path(dir,
    s".inprogress-$taskId-${UUID.randomUUID().toString.take(8)}-${finalPath.getName}")
  private val fs = tempPath.getFileSystem(conf)
  private val out = fs.create(tempPath, true)
  private val writer = new SeqFileWriter(out, keyType, valueType,
    metadata = metadata, blockSize = blockSize,
    compression = layout.compression, codec = layout.codec,
    bloomFpp = layout.bloomFpp)

  private val keyGet = valueGetter(schema(0).dataType, 0)
  private val valGet = valueGetter(schema(1).dataType, 1)

  private def valueGetter(dt: DataType, ord: Int): InternalRow => Any = dt match {
    case NullType => _ => null
    case ShortType => r => r.getShort(ord)
    case IntegerType => r => r.getInt(ord)
    case LongType => r => r.getLong(ord)
    case FloatType => r => r.getFloat(ord)
    case DoubleType => r => r.getDouble(ord)
    case StringType => r => r.getUTF8String(ord).getBytes // pre-encoded UTF-8
    case BinaryType => r => r.getBinary(ord)
    case other => throw new SeqFileFormatException(s"unsupported write type $other")
  }

  override def write(row: InternalRow): Unit = {
    // The format has no null-within-column representation (only whole-column
    // NullWritable, reference: Writable.hs:73-75) — fail fast like the
    // reference's type check would.
    if (keyType != WritableType.NullW && row.isNullAt(0))
      throw new SeqFileFormatException("seqfile cannot encode NULL key (no null representation in format)")
    if (valueType != WritableType.NullW && row.isNullAt(1))
      throw new SeqFileFormatException("seqfile cannot encode NULL value (no null representation in format)")
    writer.append(keyGet(row), valGet(row))
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    // Streaming: make the containing directory manifest-governed BEFORE the
    // data file becomes visible — matters for partitioned leaves, whose
    // first-ever file would otherwise be readable between this rename and
    // the epoch commit that writes the leaf's manifest (a crashed attempt's
    // orphan would even stay visible forever). mkdirs is idempotent.
    if (epoch.isDefined)
      fs.mkdirs(new Path(dir, SeqFileDataSource.MetadataDirName))
    // Epoch replay (streaming): the deterministic final name may exist from
    // a prior attempt of the same epoch — replace it, don't duplicate.
    if (epoch.isDefined && fs.exists(finalPath)) fs.delete(finalPath, false)
    if (!fs.rename(tempPath, finalPath))
      throw new java.io.IOException(s"failed to commit $tempPath -> $finalPath")
    // Zone-map sidecar AFTER the rename: a failed attempt leaves no sidecar
    // for the final name, and a replayed epoch overwrites it together with
    // the data file. Readers validate recorded-vs-actual file length before
    // trusting it, so a torn sidecar degrades to a full scan, never a
    // mis-prune. Best-effort: the data commit already happened.
    if (writer.zoneEntries.nonEmpty)
      try ZoneMap.write(fs, finalPath, keyType.javaClass, valueType.javaClass,
        writer.bytesWritten, writer.zoneEntries)
      catch { case scala.util.control.NonFatal(e) =>
        SeqFileScan.log.warn(s"zone-map sidecar write failed for $finalPath: $e") }
    SeqFileCommitMessage(finalPath.toString)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => () }
    if (fs.exists(tempPath)) fs.delete(tempPath, false)
  }

  override def close(): Unit = ()
}
