package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.core.seqfile.{SeqFileWriter, WritableType, ZoneMap}

/** Seeded input generators. Every input and every expected result is a pure
  * function of the seed, so outputs are checked against the generator and
  * never against the program's own reader. */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long): Long = mix(mix(seed) ^ a)
  def hash(seed: Long, a: Long, b: Long): Long =
    mix(hash(seed, a) ^ (b * 0x632BE59BD9B4E019L))

  /** Uniform in [0, n). */
  def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  private val Alpha = "abcdefghijklmnopqrstuvwxyz".getBytes

  /** ASCII text of minLen..maxLen bytes: lowercase words of 2..9 letters
    * separated by single spaces, deterministic in (seed, key). */
  def text(seed: Long, key: Long, minLen: Int, maxLen: Int): Array[Byte] = {
    var r = hash(seed, key)
    val len = minLen + below(r, maxLen - minLen + 1).toInt
    val out = new Array[Byte](len)
    var avail = 0
    var wordLeft = 2 + (r & 7).toInt
    var i = 0
    while (i < len) {
      if (avail == 0) { r = mix(r); avail = 8 }
      val b = (r & 0xff).toInt
      r >>>= 8; avail -= 1
      if (wordLeft == 0 && i < len - 1) { out(i) = ' '; wordLeft = 2 + (b & 7) }
      else { out(i) = Alpha(b % 26); if (wordLeft > 0) wordLeft -= 1 }
      i += 1
    }
    out
  }

  /** One file's records, generated before any timing starts: keys (which
    * must be ascending) and their values. */
  final class Records(val keys: Array[Long], val values: Array[Array[Byte]]) {
    /** 8 bytes per key plus the value bytes. */
    val payload: Long = 8L * keys.length + values.iterator.map(_.length.toLong).sum
  }

  def records(n: Int)(key: Int => Long, value: Long => Array[Byte]): Records = {
    val ks = Array.tabulate(n)(key)
    new Records(ks, ks.map(value))
  }

  /** Writes `r` as one BLOCK+Snappy LongWritable/Text file. With `bloom` the
    * file gets a zone-map sidecar with per-block key Blooms, as the
    * connector's own writer would leave it. Only the program's writer runs
    * here: SeqFileWriter.append/close and ZoneMap.write. */
  def writeFile(path: String, r: Records, blockSize: Int, bloom: Boolean): Unit = {
    val w = new SeqFileWriter(new BufferedOutputStream(new FileOutputStream(path), 1 << 16),
      WritableType.LongW, WritableType.TextW, blockSize = blockSize,
      bloomFpp = if (bloom) Some(0.01) else None)
    try {
      var i = 0
      while (i < r.keys.length) {
        w.append(r.keys(i), r.values(i))
        i += 1
      }
    } finally w.close()
    if (bloom) {
      val fs = FileSystem.getLocal(new Configuration())
      ZoneMap.write(fs, new Path(path), WritableType.LongW.javaClass,
        WritableType.TextW.javaClass, w.bytesWritten, w.zoneEntries)
    }
  }

  /** CPU time spent in `parallel`'s worker threads so far. */
  val workerCpuNanos = new java.util.concurrent.atomic.AtomicLong

  /** Runs `f(i)` for i in 0 until n on n threads and returns the results in
    * order; the first failure is rethrown. */
  def parallel[T](n: Int)(f: Int => T): IndexedSeq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    try {
      val futures = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          val c0 = threads.getCurrentThreadCpuTime
          try f(i) finally workerCpuNanos.addAndGet(threads.getCurrentThreadCpuTime - c0)
        }
      }))
      futures.map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }

  /** (relative path -> size) of every regular file under `dir`. */
  def listing(dir: java.io.File): Map[String, Long] = {
    def walk(d: java.io.File, prefix: String): Seq[(String, Long)] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
        if (f.isDirectory) walk(f, prefix + f.getName + "/")
        else Seq((prefix + f.getName) -> f.length())
      }
    walk(dir, "").toMap
  }

  /** Forces every regular file under `dir` to disk. */
  def fsyncTree(dir: java.io.File): Unit =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).foreach { f =>
      if (f.isDirectory) fsyncTree(f)
      else {
        val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
        try ch.force(true) finally ch.close()
      }
    }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
