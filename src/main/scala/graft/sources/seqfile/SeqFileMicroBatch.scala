package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming over a growing directory of sequence files —
  * Structured Streaming's incremental file discovery applied to our format
  * (the streaming story the reference's lazy pull-based `Stream` hints at
  * but never distributes, reference: SequenceFile.hs:63-67).
  *
  * Offset model: a monotonic append-only file log. Offset n = "the first n
  * entries of the log". New files discovered at latestOffset() append in
  * (modificationTime, path) order. The log is PERSISTED under the query's
  * checkpoint (like Spark's built-in file stream source), so a restart
  * replays offsets against the exact same file ordering even when the live
  * discovery order diverged from timestamp order (slow writers, listing
  * lag). Assumes an append-only directory whose files APPEAR ATOMICALLY
  * (write elsewhere or to a dotted temp name, then rename in) — the same
  * contract as Spark's built-in file sources; a file listed mid-write
  * would otherwise be admitted at its partial length. Zero-length files
  * are deferred to a later trigger (never admitted) as a guard against
  * the most common non-atomic pattern.
  *
  * Admission control (`maxFilesPerTrigger` / `maxBytesPerTrigger` read
  * options, same knobs as Spark's file stream source): a huge backlog — a
  * first run over an existing lake, or recovery after downtime — is chewed
  * through in bounded micro-batches instead of one giant batch that
  * overwhelms executor memory and checkpoint latency. Files always admit
  * whole (the offset log is file-granular); byte limits admit at least one
  * file per trigger so progress never stalls on an oversized file. */
class SeqFileMicroBatchStream(tableSchema: StructType, required: StructType,
                              paths: Seq[String], maxSplitBytes: Long, mode: String,
                              checkpointLocation: String,
                              maxFilesPerTrigger: Option[Int] = None,
                              maxBytesPerTrigger: Option[Long] = None,
                              hadoopConf: Configuration = SeqFileHadoopConf.current())
  extends MicroBatchStream with SupportsAdmissionControl {

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  /** End offset for the next batch: discovery first (the log stays the
    * single source of truth), then the limit caps how far past `start` this
    * batch may reach. Must be called under synchronized. */
  private def cappedEnd(start: Int, limit: ReadLimit): Long = limit match {
    case _: ReadAllAvailable => log.size
    case m: ReadMaxFiles => math.min(log.size.toLong, start.toLong + m.maxFiles())
    case m: ReadMaxBytes =>
      // admit whole files while the budget holds; ALWAYS at least one
      var i = start
      var bytes = 0L
      while (i < log.size &&
             (i == start || bytes + log(i)._2 <= m.maxBytes())) {
        bytes += log(i)._2
        i += 1
      }
      i.toLong
    case c: CompositeReadLimit =>
      c.getReadLimits.map(cappedEnd(start, _)).min
    case _ => log.size // unknown limit kinds read everything (safe default)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    appendNew()
    val s = start.asInstanceOf[SeqFileOffset].n.toInt
    synchronized(SeqFileOffset(cappedEnd(s, limit)))
  }

  /** Backlog visibility: the true log end, so the engine can report how far
    * behind a rate-limited query is running. */
  override def reportLatestOffset(): Offset = synchronized(SeqFileOffset(log.size))

  private def discover(): Seq[(String, Long, Long)] =
    SeqFileDataSource.listFiles(paths, hadoopConf)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))

  // Monotonic log of (path, length); guarded by this. Mirrored to the
  // checkpoint after every append.
  private val log = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private val seen = scala.collection.mutable.HashSet.empty[String]

  private val logPath = new Path(checkpointLocation, "graft-seqfile-log")

  locally { // restore the persisted log on (re)start
    try {
      val fs = logPath.getFileSystem(hadoopConf)
      if (fs.exists(logPath)) {
        val in = fs.open(logPath)
        val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        content.split("\n").filter(_.nonEmpty).foreach { line =>
          val sep = line.lastIndexOf('\t')
          val (p, len) = (line.substring(0, sep), line.substring(sep + 1).toLong)
          if (!seen.contains(p)) { seen += p; log += ((p, len)) }
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        SeqFileScan.log.warn(s"seqfile stream: could not restore file log from $logPath: $e")
    }
  }

  // Persistence failure FAILS the batch (like Spark's HDFSMetadataLog): a
  // swallowed write would let the query commit offsets whose file binding
  // exists only in this JVM — a restart would rebuild ordering from
  // (modTime, path) and could silently duplicate or drop data.
  private def persistLog(): Unit = {
    val fs = logPath.getFileSystem(hadoopConf)
    fs.mkdirs(logPath.getParent)
    val tmp = new Path(logPath.getParent, logPath.getName + ".tmp")
    val out = fs.create(tmp, true)
    try log.foreach { case (p, len) => out.write(s"$p\t$len\n".getBytes("UTF-8")) }
    finally out.close()
    // Atomic replace: a delete-then-rename pair would lose the log entirely
    // if the process died between the two calls.
    org.apache.hadoop.fs.FileContext.getFileContext(logPath.toUri, hadoopConf)
      .rename(tmp, logPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def appendNew(): Unit = synchronized {
    // Files must APPEAR atomically (write to a temp name, rename in — the
    // same contract as Spark's built-in file sources): discovery snapshots
    // (path, length), so a file caught mid-write would be read as a
    // partial prefix forever (its offset commits with the short length).
    // The one unambiguous partial state — a zero-length just-created
    // file — is deferred to a later trigger instead of admitted.
    val fresh = discover().filter(f => !seen.contains(f._1) && f._2 > 0)
      .sortBy(f => (f._3, f._1))
    if (fresh.nonEmpty) {
      fresh.foreach { case (p, len, _) =>
        seen += p
        log += ((p, len))
      }
      persistLog()
    }
  }

  override def initialOffset(): Offset = SeqFileOffset(0)

  override def latestOffset(): Offset = {
    appendNew()
    synchronized(SeqFileOffset(log.size))
  }

  override def deserializeOffset(json: String): Offset =
    SeqFileOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqFileOffset].n.toInt
    val e = end.asInstanceOf[SeqFileOffset].n.toInt
    synchronized {
      // Every offset Spark can pass here was returned by a latestOffset()
      // call that persisted >= e log entries BEFORE returning — so a shorter
      // log after restore always means the checkpoint log was lost or
      // truncated. Re-running discovery to fill the gap would silently
      // rebind committed offsets to whatever (modTime, path) order the
      // directory lists TODAY — the exact duplicate/drop hazard this log
      // exists to prevent. Fail instead; never rediscover into a gap.
      if (log.size < e)
        throw new IllegalStateException(
          s"seqfile stream: committed offset $e exceeds the restored file log " +
          s"(${log.size} entries) at $logPath — checkpoint log lost or " +
          "directory not append-only; refusing to rebind offsets to " +
          "different files")
      log.slice(s, e).flatMap { case (path, len) =>
        // partition values re-derive from the stored path's k=v segments,
        // so hive-partitioned directories stream like flat ones
        val pvals = SeqFileDataSource.partitionValuesFromPath(path)
        val n = math.max(1L, (len + maxSplitBytes - 1) / maxSplitBytes)
        (0L until n).map { i =>
          SeqFilePartition(path, i * maxSplitBytes,
            math.min((i + 1) * maxSplitBytes, len), pvals)
        }
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqFileReaderFactory(tableSchema, required, mode,
      SeqFileHadoopConf.broadcast(hadoopConf))

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class SeqFileOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}
