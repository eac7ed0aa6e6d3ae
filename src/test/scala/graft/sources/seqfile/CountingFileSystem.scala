package graft.sources.seqfile

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local filesystem under a scheme of its own, `countfs:`, counting the
  * `globStatus` and `open` calls made on each path (all of them, and those
  * made outside Spark tasks, apart from the block reader's), so a spec can see how many times a query
  * lists a table or reads a file. Its raw filesystem
  * (CountingRawFileSystem) counts the raw opens that the checksum layer
  * makes, one of the data file and one of its `.crc` file per checker.
  * Registered like SessionSchemeFileSystem. */
class CountingFileSystem extends LocalFileSystem(new CountingRawFileSystem) {
  override def getScheme: String = CountingFileSystem.Scheme

  override def globStatus(pathPattern: Path): Array[FileStatus] = {
    CountingFileSystem.bump(CountingFileSystem.globs, pathPattern)
    super.globStatus(pathPattern)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.bump(CountingFileSystem.opens, f)
    if (org.apache.spark.TaskContext.get() == null)
      CountingFileSystem.bump(
        if (CountingFileSystem.inBlockReader) CountingFileSystem.driverBlockReads
        else CountingFileSystem.driverOpens, f)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"

  private val globs = new ConcurrentHashMap[String, AtomicInteger]
  private val opens = new ConcurrentHashMap[String, AtomicInteger]
  private val driverOpens = new ConcurrentHashMap[String, AtomicInteger]
  private val driverBlockReads = new ConcurrentHashMap[String, AtomicInteger]
  private val rawOpens = new ConcurrentHashMap[String, AtomicInteger]

  private def bump(calls: ConcurrentHashMap[String, AtomicInteger], p: Path): Unit =
    calls.computeIfAbsent(p.toUri.getPath, _ => new AtomicInteger).incrementAndGet()

  private def count(calls: ConcurrentHashMap[String, AtomicInteger], path: String): Int =
    Option(calls.get(new Path(path).toUri.getPath)).map(_.get).getOrElse(0)

  /** `globStatus` calls on `path` (a scheme-less local path) since the last
    * reset. */
  def globCalls(path: String): Int = count(globs, path)

  /** `open` calls on `path` (a scheme-less local path) since the last reset. */
  def openCalls(path: String): Int = count(opens, path)

  /** `open` calls on `path` made outside any Spark task (on the driver, in
    * local mode) and outside the block reader since the last reset: the
    * driver's planning reads of headers and sidecars. */
  def driverOpenCalls(path: String): Int = count(driverOpens, path)

  /** `open` calls on `path` made by the block reader outside any Spark task
    * (a local scan's reads on the driver) since the last reset. */
  def driverBlockReadCalls(path: String): Int = count(driverBlockReads, path)

  private def inBlockReader: Boolean = {
    val reader = classOf[SeqFileColumnarPartitionReader].getName
    Thread.currentThread.getStackTrace.exists(_.getClassName == reader)
  }

  /** Raw `open` calls on `path` (a scheme-less local path, data or `.crc`
    * file) since the last reset. */
  def rawOpenCalls(path: String): Int = count(rawOpens, path)

  private[seqfile] def bumpRawOpen(p: Path): Unit = bump(rawOpens, p)

  def reset(): Unit = {
    Seq(globs, opens, driverOpens, driverBlockReads, rawOpens).foreach(_.clear())
  }

  /** Register the scheme on `conf`, with the FileSystem cache off. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }
}

class CountingRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingFileSystem.Scheme}:///")
  override def getScheme: String = CountingFileSystem.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.bumpRawOpen(f)
    super.open(f, bufferSize)
  }
}
