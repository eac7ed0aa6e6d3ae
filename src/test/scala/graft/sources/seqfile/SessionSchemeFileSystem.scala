package graft.sources.seqfile

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, RawLocalFileSystem}

/** The local filesystem under a scheme of its own, `sessfs:`. Hadoop knows
  * it only where a configuration maps `fs.sessfs.impl` to this class (and
  * `fs.AbstractFileSystem.sessfs.impl` to SessionSchemeAbstractFileSystem,
  * for FileContext), so a path on it resolves only through a conf derived
  * from the one that registered it — a freshly built default conf fails
  * with "No FileSystem for scheme". */
class SessionSchemeFileSystem extends LocalFileSystem(new SessionSchemeRawFileSystem) {
  override def getScheme: String = SessionSchemeFileSystem.Scheme
}

object SessionSchemeFileSystem {
  val Scheme = "sessfs"

  /** Register the scheme on `conf`, with the FileSystem cache off so every
    * lookup consults the conf it is given. */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[SessionSchemeFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[SessionSchemeAbstractFileSystem].getName)
  }
}

/** FileContext's view of the same filesystem (atomic renames go through it). */
class SessionSchemeAbstractFileSystem(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new SessionSchemeFileSystem, conf,
    SessionSchemeFileSystem.Scheme, false)

class SessionSchemeRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SessionSchemeFileSystem.Scheme}:///")
  override def getScheme: String = SessionSchemeFileSystem.Scheme
}
