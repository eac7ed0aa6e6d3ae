package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus

import graft.core.seqfile.{SeqCompression, ZoneMap}
import graft.util.PlanParallel
import ZoneMapPruning.{Sidecar, Sidecars}

/** Parsed zone-map sidecars kept across queries on the driver, so a
  * repeated filtered query over unchanged files parses no sidecar and
  * opens neither a sidecar nor a data file's header.
  *
  * An entry is keyed on the data file's fully-qualified path and is served
  * only while the data file's length and modification time (from the
  * query's own listing) and the sidecar's length and modification time
  * (from one `getFileStatus`, the only I/O of a warm lookup) are what they
  * were when it was parsed. A data file rewritten under the same name (a
  * replayed streaming epoch) or a sidecar written, rewritten or deleted
  * after the data file's rename (`LeafFile.commit` writes it just after)
  * changes that stamp, so the next query reads the files again. Only
  * validated sidecars are kept: a missing, stale or unparsable sidecar, or
  * a file that is not BLOCK-compressed or whose header is unreadable, is
  * looked up again on every query, and so is every sidecar on a filesystem
  * that reports no modification time. A rewrite that keeps both files' lengths
  * and lands within the filesystem's modification-time granularity would
  * go unseen; a replayed epoch writes the same bytes, so serving its
  * previous parse is still exact.
  *
  * Thread-safe, least recently used first out once the cached sidecars'
  * summed byte length passes `maxBytes`; a parsed sidecar holds about
  * 0.9× its text on the heap. Executors never see it: tasks are handed
  * their block offsets.
  */
private[seqfile] final class SidecarCache(maxBytes: Long) {

  /** What must still hold for an entry to be served. */
  private final case class Stamp(len: Long, modified: Long,
                                 sidecarLen: Long, sidecarModified: Long)

  private final class Entry(val stamp: Stamp, val sidecar: Sidecar)

  // access order: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  private var bytes = 0L

  /** Summed sidecar byte length of the entries held. */
  def cachedBytes: Long = synchronized(bytes)

  /** The cached parse of `path` under `stamp`; an entry under another stamp
    * is dropped. */
  private def get(path: String, stamp: Stamp): Option[Sidecar] = synchronized {
    val e = entries.get(path)
    if (e == null) None
    else if (e.stamp == stamp) Some(e.sidecar)
    else { drop(path); None }
  }

  private def put(path: String, stamp: Stamp, sidecar: Sidecar): Unit = synchronized {
    drop(path)
    if (stamp.sidecarLen <= maxBytes) {
      entries.put(path, new Entry(stamp, sidecar))
      bytes += stamp.sidecarLen
      val lru = entries.values.iterator
      while (bytes > maxBytes) {
        bytes -= lru.next().stamp.sidecarLen
        lru.remove()
      }
    }
  }

  private def drop(path: String): Unit = {
    val e = entries.remove(path)
    if (e != null) bytes -= e.stamp.sidecarLen
  }

  /** The sidecars of `files`, looked up in parallel (PlanParallel): a
    * million-file lake plans in O(files/parallelism) wall-clock. */
  def sidecars(files: Seq[SeqFileDataSource.PartitionedFile],
               conf: Configuration): Sidecars = {
    val looked = PlanParallel.mapOrdered(files)(pf => lookup(pf.status, conf))
    Sidecars(looked.map(_._1), looked.count(_._2 == SidecarCache.Cached),
      looked.count(_._2 == SidecarCache.Read))
  }

  /** One data file's sidecar and where it came from. */
  private def lookup(data: FileStatus, conf: Configuration): (Option[Sidecar], Int) =
    try {
      val fs = data.getPath.getFileSystem(conf)
      val path = fs.makeQualified(data.getPath)
      val side = fs.getFileStatus(ZoneMap.sidecarPath(path))
      val stamp = Stamp(data.getLen, data.getModificationTime,
        side.getLen, side.getModificationTime)
      val key = path.toString
      get(key, stamp) match {
        case hit @ Some(_) => (hit, SidecarCache.Cached)
        case None =>
          val h = SeqFileDataSource.readHeader(path, conf)
          if (h.compression != SeqCompression.Block) (None, SidecarCache.Absent)
          else {
            val sc = ZoneMap.readValidated(fs, side, h.keyClass, h.valueClass, data.getLen)
              .map(Sidecar(h.keyType, h.valueType, _))
            // a filesystem that reports no modification time could not
            // tell a same-length rewrite from the file that was parsed
            if (stamp.modified > 0 && stamp.sidecarModified > 0) sc.foreach(put(key, stamp, _))
            (sc, SidecarCache.Read)
          }
      }
    } catch { case scala.util.control.NonFatal(_) => (None, SidecarCache.Absent) }
}

private[seqfile] object SidecarCache {
  /** The bound on cached sidecar text: about 30 MB of driver heap. */
  val MaxBytes: Long = 32L << 20

  /** The driver's cache, shared by every query of the JVM. */
  val Driver = new SidecarCache(MaxBytes)

  private val Absent = 0
  private val Cached = 1
  private val Read = 2
}
