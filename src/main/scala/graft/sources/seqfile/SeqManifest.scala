package graft.sources.seqfile

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

import graft.core.seqfile.SeqFileFormatException

/** The manifest of a seqfile directory (FileStreamSink's metadata-log
  * pattern). A directory holding `_seq_metadata` is manifest-governed:
  * readers list only the data files its manifests name, so a job's files
  * become visible all at once, when its manifest is published, and files of
  * a job that never committed stay invisible. Manifests are small text
  * files, published by temp file plus atomic rename, named by kind:
  *
  *  - `<epoch, 20 digits>`: one streaming-sink epoch, one data file name
  *    per line (names only, so the directory can move);
  *  - `batch-<uuid>`: one batch job that appended into a governed
  *    directory, same format;
  *  - `compact-<seq, 20 digits>`: a compaction (`SeqFileCompaction`), a
  *    header line, then `absorb <manifest>` and `file <name>` lines.
  *
  * Read rule: the newest compaction manifest's files, plus the files of
  * every epoch or batch manifest it did not absorb. An absorbed manifest is
  * ignored even if a crashed cleanup left it behind, and one committed
  * after the compaction's snapshot stays visible, so a live sink or a
  * batch append keeps going through a concurrent compaction. */
object SeqManifest {

  val DirName = "_seq_metadata"
  val CompactionPrefix = "compact-"
  private val CompactionHeader = "graft.compaction 1"

  def dir(root: Path): Path = new Path(root, DirName)

  def governs(fs: FileSystem, root: Path): Boolean = fs.exists(dir(root))

  /** Make `root` manifest-governed, keeping the data already in it visible:
    * a baseline compaction manifest naming the directory's current files is
    * built in a staging directory, which is then renamed into place, so
    * readers switch from "all files" to "exactly these files" with no window
    * of nothing. A no-op when `root` is governed already; when a concurrent
    * caller wins the rename, its baseline stands. Compaction and every sink
    * leaf call this before their first file is renamed in. */
  def govern(fs: FileSystem, conf: Configuration, root: Path): Unit = {
    val md = dir(root)
    if (fs.exists(md)) return
    val current = Option(fs.listStatus(root)).map(_.toSeq).getOrElse(Nil)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
    val staging = new Path(root, s".seq-meta-${UUID.randomUUID().toString.take(8)}")
    writeAtomically(fs, conf, new Path(staging, nextCompactionName(Nil)),
      renderCompaction(Nil, current))
    if (!fs.rename(staging, md)) {
      fs.delete(staging, true)
      if (!fs.exists(md)) throw new java.io.IOException(s"cannot create $md")
    }
    // a local or HDFS rename onto an existing directory moves the staging
    // directory inside it: a concurrent caller won, and its baseline stands
    fs.delete(new Path(md, staging.getName), true)
  }

  def epochName(epoch: Long): String = f"$epoch%020d"

  /** Unique per batch job; never numeric and never a compaction name. */
  def batchName(): String = s"batch-${UUID.randomUUID()}"

  /** The name of the compaction that follows the given manifests. */
  def nextCompactionName(names: Seq[String]): String = {
    val seq = names.filter(isCompaction)
      .map(_.substring(CompactionPrefix.length).toLong)
      .maxOption.map(_ + 1).getOrElse(0L)
    f"$CompactionPrefix$seq%020d"
  }

  private def isCompaction(name: String): Boolean = name.startsWith(CompactionPrefix)

  /** Parse a compaction manifest: (absorbed manifest names, data file
    * names). */
  def parseCompaction(content: String): (Set[String], Set[String]) = {
    val ls = lines(content)
    if (ls.isEmpty || ls.head != CompactionHeader)
      throw new SeqFileFormatException("not a graft.compaction v1 manifest")
    val absorbed = ls.collect { case l if l.startsWith("absorb ") =>
      l.substring("absorb ".length) }.toSet
    val files = ls.collect { case l if l.startsWith("file ") =>
      l.substring("file ".length) }.toSet
    (absorbed, files)
  }

  def renderCompaction(absorbed: Seq[String], files: Seq[String]): String =
    (CompactionHeader +:
      (absorbed.sorted.map("absorb " + _) ++ files.sorted.map("file " + _)))
      .mkString("", "\n", "\n")

  /** Publish an epoch or batch manifest naming `files` in directory `root`.
    * Replaying the same name replaces it. */
  def publish(fs: FileSystem, conf: Configuration, root: Path, name: String,
              files: Seq[String]): Unit =
    writeAtomically(fs, conf, new Path(dir(root), name),
      files.sorted.map(_ + "\n").mkString)

  /** Write a small text file so that readers see the old content or the new
    * one, never a torn file: temp file, then `FileContext.rename` with
    * OVERWRITE (a delete-then-rename pair would lose the file if the
    * process died between the two calls). */
  def writeAtomically(fs: FileSystem, conf: Configuration, target: Path,
                      content: String): Unit = {
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(target.toUri, conf)
      .rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** The data file names readers see in governed directory `root`. Reads
    * only the manifests the read rule uses. */
  def visibleFiles(fs: FileSystem, root: Path): Set[String] = {
    val md = dir(root)
    visible(names(fs, md), entries(fs, md, _))
  }

  /** One listing of a governed directory's manifests: their names, the files
    * readers see, and every file any of them names (files behind absorbed
    * manifests included, which a crashed cleanup may have left on disk).
    * Compaction takes all three from this one listing: a re-list could see
    * a manifest committed in between, whose files would then be compacted
    * without the manifest being absorbed, so they would show twice. */
  final case class Snapshot(names: Seq[String], visible: Set[String],
                            referenced: Set[String])

  def snapshot(fs: FileSystem, root: Path): Snapshot = {
    val md = dir(root)
    val ns = names(fs, md)
    val read = ns.map(n => n -> entries(fs, md, n)).toMap
    Snapshot(ns, visible(ns, read), read.values.flatMap(_._2).toSet)
  }

  private def names(fs: FileSystem, md: Path): Seq[String] =
    Option(fs.listStatus(md)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_"))

  private def visible(names: Seq[String],
                      read: String => (Set[String], Set[String])): Set[String] = {
    val (absorbed, compacted) = names.filter(isCompaction).maxOption
      .map(read).getOrElse((Set.empty[String], Set.empty[String]))
    compacted ++ names.filterNot(n => isCompaction(n) || absorbed(n)).flatMap(read(_)._2)
  }

  /** (absorbed manifests, data files) of one manifest, any kind. */
  private def entries(fs: FileSystem, md: Path, name: String): (Set[String], Set[String]) = {
    val in = fs.open(new Path(md, name))
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    if (isCompaction(name)) parseCompaction(content) else (Set.empty, lines(content).toSet)
  }

  private def lines(content: String): Seq[String] =
    content.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
}
