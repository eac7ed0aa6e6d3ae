package graft.sources.seqfile

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local filesystem under a scheme of its own, `countfs:`, counting the
  * `globStatus` calls made on each path, so a spec can see how many times a
  * query lists a table. Registered like SessionSchemeFileSystem. */
class CountingFileSystem extends LocalFileSystem(new CountingRawFileSystem) {
  override def getScheme: String = CountingFileSystem.Scheme

  override def globStatus(pathPattern: Path): Array[FileStatus] = {
    CountingFileSystem.globs
      .computeIfAbsent(pathPattern.toUri.getPath, _ => new AtomicInteger)
      .incrementAndGet()
    super.globStatus(pathPattern)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"

  private val globs = new ConcurrentHashMap[String, AtomicInteger]

  /** `globStatus` calls on `path` (a scheme-less local path) since the last
    * reset. */
  def globCalls(path: String): Int =
    Option(globs.get(new Path(path).toUri.getPath)).map(_.get).getOrElse(0)

  def reset(): Unit = globs.clear()

  /** Register the scheme on `conf`, with the FileSystem cache off. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }
}

class CountingRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CountingFileSystem.Scheme}:///")
  override def getScheme: String = CountingFileSystem.Scheme
}
