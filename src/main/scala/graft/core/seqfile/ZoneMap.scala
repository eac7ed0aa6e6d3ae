package graft.core.seqfile

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Zone maps for SequenceFiles: per-record-block (offset, count, min key,
  * max key) statistics, written by our writer as a hidden sidecar next to
  * each part file. A reader holding a key predicate loads the sidecar and
  * seeks straight to the blocks whose [min, max] range can satisfy it —
  * skipping both the decompression AND the read of every other block.
  *
  * This is the block-skipping half of what Parquet gets from column-chunk
  * statistics; the SequenceFile container has no native slot for it (the
  * header is written before any data), hence the sidecar. Readers treat the
  * sidecar as advisory: it is used only when its recorded file length
  * matches the data file (a torn rewrite can't mis-prune), and block
  * offsets are validated by the sync marker check on every seek.
  *
  * Scale (100 TB): one entry per ~1 MiB block → sidecars are ~0.005% of
  * data size; a selective key predicate over sorted-by-key files turns a
  * full-corpus scan into a few block reads per file. The pruning decision
  * is made on the driver at planning time, from sidecars it parses once
  * and keeps across queries while the data file and the sidecar keep their
  * length and modification time (`graft.sources.seqfile.SidecarCache`),
  * so a repeated query over unchanged files reads no sidecar.
  */
sealed trait ZoneKey {
  /** Total order within the same concrete type. */
  def cmp(other: ZoneKey): Int = (this, other) match {
    case (ZoneKey.L(a), ZoneKey.L(b)) => java.lang.Long.compare(a, b)
    case (ZoneKey.D(a), ZoneKey.D(b)) => java.lang.Double.compare(a, b)
    case (ZoneKey.B(a), ZoneKey.B(b)) => ZoneKey.compareBytes(a, b)
    case _ => throw new IllegalArgumentException(
      s"zone key type mismatch: $this vs $other")
  }
}

object ZoneKey {
  /** Integral keys (Short/Int/Long writables). */
  final case class L(v: Long) extends ZoneKey
  /** Floating keys (Float/Double writables); Double.compare total order. */
  final case class D(v: Double) extends ZoneKey
  /** Text/Bytes writables: unsigned byte-lexicographic order — for UTF-8
    * this equals code-point order and Spark's UTF8String binary compare. */
  final case class B(v: Array[Byte]) extends ZoneKey

  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Zone key for a key value as passed to SeqFileWriter.append, or None
    * when the type has no meaningful order (NullWritable). */
  def forValue(t: WritableType, v: Any): Option[ZoneKey] = t match {
    case WritableType.NullW => None
    case WritableType.ShortW => Some(L(v.asInstanceOf[Short].toLong))
    case WritableType.IntW => Some(L(v.asInstanceOf[Int].toLong))
    case WritableType.LongW => Some(L(v.asInstanceOf[Long]))
    case WritableType.FloatW => Some(D(v.asInstanceOf[Float].toDouble))
    case WritableType.DoubleW => Some(D(v.asInstanceOf[Double]))
    case WritableType.TextW => v match {
      case s: String => Some(B(s.getBytes(StandardCharsets.UTF_8)))
      case a: Array[Byte] => Some(B(a.clone())) // pre-encoded UTF-8
      case other => Some(B(other.toString.getBytes(StandardCharsets.UTF_8)))
    }
    case WritableType.BytesW => Some(B(v.asInstanceOf[Array[Byte]].clone()))
  }
}

/** One record block's statistics. `offset` is the absolute file position of
  * the block's sync escape word. Either column's stats are absent when its
  * type is unordered (NullWritable). `kbloom` (opt-in at write time) is a
  * per-block key Bloom filter for point-lookup pruning on unsorted data —
  * see KeyBloom. */
final case class ZoneEntry(offset: Long, count: Long,
                           kmin: Option[ZoneKey], kmax: Option[ZoneKey],
                           vmin: Option[ZoneKey] = None,
                           vmax: Option[ZoneKey] = None,
                           kbloom: Option[KeyBloom] = None)

object ZoneMap {
  val FormatHeader = "graft.zonemap 2"

  /** Hidden sidecar name: `.NAME.zmap` — invisible to data-file listing
    * (hidden-prefix rule) and to real Hadoop readers. */
  def sidecarPath(dataPath: Path): Path =
    new Path(dataPath.getParent, s".${dataPath.getName}.zmap")

  private def enc(k: ZoneKey): String = k match {
    case ZoneKey.L(v) => s"l:$v"
    // bit pattern, not decimal text: exact for every double incl. -0.0/NaN
    case ZoneKey.D(v) => s"d:${java.lang.Double.doubleToLongBits(v)}"
    case ZoneKey.B(v) => s"b:${Base64.getEncoder.encodeToString(v)}"
  }

  private def encOpt(k: Option[ZoneKey]): String = k.map(enc).getOrElse("-")

  def render(keyClass: String, valueClass: String, fileLen: Long,
             entries: Seq[ZoneEntry]): String = {
    val sb = new StringBuilder
    sb.append(FormatHeader).append('\n')
    sb.append(keyClass).append(' ').append(valueClass).append(' ')
      .append(fileLen).append('\n')
    entries.foreach { e =>
      sb.append(e.offset).append(' ').append(e.count).append(' ')
        .append(encOpt(e.kmin)).append(' ').append(encOpt(e.kmax)).append(' ')
        .append(encOpt(e.vmin)).append(' ').append(encOpt(e.vmax))
      // optional 7th field (key Bloom): absent entirely for bloom-less
      // blocks, so sidecars written before (or without) the option parse
      // identically and old parsers ignore the extra column
      e.kbloom.foreach(b => sb.append(' ').append(KeyBloom.encode(b)))
      sb.append('\n')
    }
    sb.toString
  }

  def parse(content: String): (String, String, Long, Seq[ZoneEntry]) =
    parse(content.getBytes(StandardCharsets.UTF_8))

  /** `parse` of a sidecar's bytes as stored. Fields are cut from the bytes
    * directly and base64 fields decoded from them, so no copy of the text
    * is made. Lines are trimmed and blank ones skipped; an entry's fields
    * past the seventh are ignored. */
  def parse(b: Array[Byte]): (String, String, Long, Seq[ZoneEntry]) = {
    var pos = 0
    // the next non-blank line's trimmed [from, until), or None at the end
    def line(): Option[(Int, Int)] = {
      while (pos < b.length) {
        var from = pos
        while (pos < b.length && b(pos) != '\n') pos += 1
        var until = pos
        pos += 1
        while (from < until && (b(from) & 0xff) <= ' ') from += 1
        while (until > from && (b(until - 1) & 0xff) <= ' ') until -= 1
        if (from < until) return Some((from, until))
      }
      None
    }
    // the space-separated fields of b(from until until), as (from, until)
    def fields(from: Int, until: Int): IndexedSeq[(Int, Int)] = {
      val out = IndexedSeq.newBuilder[(Int, Int)]
      var i = from
      while (i <= until) {
        var j = i
        while (j < until && b(j) != ' ') j += 1
        out += ((i, j))
        i = j + 1
      }
      out.result()
    }
    def str(f: (Int, Int)): String =
      new String(b, f._1, f._2 - f._1, StandardCharsets.UTF_8)
    def long(f: (Int, Int)): Long = str(f).toLong
    def key(f: (Int, Int)): Option[ZoneKey] =
      if (f._2 - f._1 == 1 && b(f._1) == '-') None
      else if (f._2 - f._1 < 2 || b(f._1 + 1) != ':')
        throw new SeqFileFormatException(s"bad zone key '${str(f)}'")
      else {
        val body = (f._1 + 2, f._2)
        Some(b(f._1).toChar match {
          case 'l' => ZoneKey.L(long(body))
          case 'd' => ZoneKey.D(java.lang.Double.longBitsToDouble(long(body)))
          case 'b' =>
            val d = Base64.getDecoder.decode(
              java.nio.ByteBuffer.wrap(b, body._1, body._2 - body._1))
            ZoneKey.B(if (d.remaining == d.array.length) d.array
                      else java.util.Arrays.copyOf(d.array, d.remaining))
          case c => throw new SeqFileFormatException(s"bad zone key tag '$c'")
        })
      }

    val first = line()
    if (first.forall(f => str(f) != FormatHeader))
      throw new SeqFileFormatException("not a graft.zonemap v2 sidecar")
    val hdr = line().map(f => fields(f._1, f._2)).getOrElse(
      throw new SeqFileFormatException("sidecar without a class line"))
    val entries = Vector.newBuilder[ZoneEntry]
    var l = line()
    while (l.nonEmpty) {
      val f = fields(l.get._1, l.get._2)
      entries += ZoneEntry(long(f(0)), long(f(1)), key(f(2)), key(f(3)),
        key(f(4)), key(f(5)),
        if (f.length > 6) Some(KeyBloom.decode(b, f(6)._1, f(6)._2)) else None)
      l = line()
    }
    (str(hdr(0)), str(hdr(1)), long(hdr(2)), entries.result())
  }

  /** Write the sidecar for `dataPath` (overwrites any previous one). */
  def write(fs: FileSystem, dataPath: Path, keyClass: String,
            valueClass: String, fileLen: Long,
            entries: Seq[ZoneEntry]): Unit = {
    val out = fs.create(sidecarPath(dataPath), true)
    try out.write(render(keyClass, valueClass, fileLen, entries)
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load and validate the sidecar for `dataPath`. None when absent,
    * unparsable (incl. other format versions), or STALE — recorded file
    * length or key/value class disagrees with the actual file (e.g. the
    * data file was rewritten by a foreign writer and the sidecar
    * survived). */
  def readValidated(conf: Configuration, dataPath: Path, keyClass: String,
                    valueClass: String, actualLen: Long): Option[Seq[ZoneEntry]] =
    try {
      val fs = dataPath.getFileSystem(conf)
      readValidated(fs, fs.getFileStatus(sidecarPath(dataPath)), keyClass,
        valueClass, actualLen)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `readValidated` of the sidecar whose status the caller already holds. */
  def readValidated(fs: FileSystem, sidecar: FileStatus, keyClass: String,
                    valueClass: String, actualLen: Long): Option[Seq[ZoneEntry]] =
    try {
      val (kc, vc, len, entries) = parse(readBytes(fs, sidecar))
      if (kc == keyClass && vc == valueClass && len == actualLen) Some(entries)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A sidecar's bytes, in one read of exactly `sidecar`'s length. Fails
    * when the file no longer has that length, so bytes read are always the
    * whole of one version of the file. */
  def readBytes(fs: FileSystem, sidecar: FileStatus): Array[Byte] = {
    val out = new Array[Byte](Math.toIntExact(sidecar.getLen))
    val in = fs.open(sidecar.getPath)
    try {
      in.readFully(out)
      if (in.read() != -1)
        throw new java.io.IOException(s"${sidecar.getPath} grew while read")
    } finally in.close()
    out
  }
}
