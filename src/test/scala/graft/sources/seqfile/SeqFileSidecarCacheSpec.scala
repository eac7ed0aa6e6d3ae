package graft.sources.seqfile

import java.nio.file.{Files, StandardCopyOption, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{SeqFileWriter, WritableType, ZoneMap}

/** The driver keeps parsed sidecars across queries (SidecarCache): a
  * repeated query reads none, and a data file or sidecar that is rewritten,
  * written late, deleted or made stale is never served from the cache.
  * Every query's rows are checked against an unpruned read of the table. */
class SeqFileSidecarCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit =
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  override def afterAll(): Unit = spark.stop()

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration
  private def localFs: FileSystem = FileSystem.getLocal(new Configuration())

  private def sidecarOf(data: JPath): Path = ZoneMap.sidecarPath(new Path(data.toUri))

  /** Writes sorted `keys` (values `v<key>`) as `data` in small blocks the way
    * a commit does: under a temp name, renamed over `data`, then (with
    * `sidecar`) the zone-map sidecar with key Blooms. Returns the closed
    * writer, which holds the sidecar's entries. */
  private def writeFile(data: JPath, keys: Seq[Long], sidecar: Boolean = true): SeqFileWriter = {
    val tmp = data.resolveSibling(s".inprogress-${data.getFileName}")
    val w = new SeqFileWriter(Files.newOutputStream(tmp), WritableType.LongW,
      WritableType.TextW, blockSize = 4096, bloomFpp = Some(0.01))
    try keys.foreach(k => w.append(k, s"v$k")) finally w.close()
    Files.move(tmp, data, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    if (sidecar) writeSidecar(data, w)
    w
  }

  /** Writes `data`'s sidecar from its writer `w`, recording `len`. */
  private def writeSidecar(data: JPath, w: SeqFileWriter, len: Option[Long] = None): Unit =
    ZoneMap.write(localFs, new Path(data.toUri), WritableType.LongW.javaClass,
      WritableType.TextW.javaClass, len.getOrElse(w.bytesWritten), w.zoneEntries)

  private def table(dir: JPath): String = s"${CountingFileSystem.Scheme}://$dir"

  /** `key BETWEEN lo AND hi` over the table, run, with its rows. */
  private def query(dir: JPath, lo: Long, hi: Long): (DataFrame, Seq[(Long, String)]) = {
    val q = spark.read.format("seqfile").load(table(dir)).filter(col("key").between(lo, hi))
    (q, q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
  }

  /** The same rows from a read that plans no block. */
  private def unpruned(dir: JPath, lo: Long, hi: Long): Seq[(Long, String)] =
    spark.read.format("seqfile").load(table(dir)).collect()
      .map(r => (r.getLong(0), r.getString(1))).filter { case (k, _) => lo <= k && k <= hi }
      .toSeq.sorted

  private def metric(q: DataFrame, name: String): Long = ScanPlans.scanMetric(q, name)

  /** (blocks read, blocks skipped, sidecars cached, sidecars read). */
  private def counts(q: DataFrame): (Long, Long, Long, Long) =
    (metric(q, SeqScanMetrics.ZoneBlocksRead), metric(q, SeqScanMetrics.ZoneBlocksSkipped),
      metric(q, SeqScanMetrics.SidecarsCached), metric(q, SeqScanMetrics.SidecarsRead))

  /** Runs the query and checks its rows against the unpruned read. */
  private def checked(dir: JPath, lo: Long, hi: Long): (DataFrame, Seq[(Long, String)]) = {
    val (q, rows) = query(dir, lo, hi)
    assert(rows === unpruned(dir, lo, hi))
    (q, rows)
  }

  test("a repeated query opens no sidecar and no header on the driver") {
    val dir = Files.createTempDirectory("sccache-repeat")
    val data = Seq(dir.resolve("part-0.seq"), dir.resolve("part-1.seq"))
    writeFile(data(0), (0L until 5000L).map(_ * 2))
    writeFile(data(1), (5000L until 10000L).map(_ * 2))
    def driverOpens(): Seq[Int] = data.flatMap(d => Seq(
      CountingFileSystem.driverOpenCalls(d.toString),
      CountingFileSystem.driverOpenCalls(sidecarOf(d).toUri.getPath)))

    val df = spark.read.format("seqfile").load(table(dir))
    def run(): (DataFrame, Seq[(Long, String)]) = {
      CountingFileSystem.reset()
      val q = df.filter(col("key").between(9000L, 9100L))
      (q, q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
    }
    // the range plans one block of part-0, which the driver reads itself
    // (SeqFileLocalScan) in each run
    def driverBlockReads(): Seq[Int] = data.map(d => CountingFileSystem.driverBlockReadCalls(d.toString))
    val (first, firstRows) = run()
    assert(driverOpens() === Seq(1, 1, 1, 1), "a header and a sidecar per file")
    assert(driverBlockReads() === Seq(1, 0))
    val (second, secondRows) = run()
    assert(driverOpens() === Seq(0, 0, 0, 0))
    assert(driverBlockReads() === Seq(1, 0))

    assert(firstRows === unpruned(dir, 9000L, 9100L))
    assert(secondRows === firstRows)
    assert(firstRows.size === 51)
    val (read, skipped, cached, sidecarsRead) = counts(first)
    assert(read >= 1 && skipped > 10)
    assert((cached, sidecarsRead) === (0L, 2L))
    assert(counts(second) === (read, skipped, 2L, 0L))
  }

  test("a data file and sidecar rewritten under the same name are read again") {
    val dir = Files.createTempDirectory("sccache-rewrite")
    val data = dir.resolve("part-0.seq")
    writeFile(data, (0L until 4000L).map(_ * 2))
    val (before, beforeRows) = checked(dir, 1000L, 1200L)
    assert(beforeRows.size === 101)
    assert(counts(before)._4 === 1L)
    assert(counts(checked(dir, 1000L, 1200L)._1)._3 === 1L, "served from the cache")

    // a replayed epoch with other keys: odd, and fewer
    writeFile(data, (0L until 3000L).map(_ * 2 + 1))
    val (after, afterRows) = checked(dir, 1000L, 1200L)
    assert(afterRows.map(_._1) === (1001L to 1199L by 2))
    val (read, skipped, cached, sidecarsRead) = counts(after)
    assert((cached, sidecarsRead) === (0L, 1L))
    // the plan is the new sidecar's
    val entries = ZoneMap.readValidated(conf, new Path(data.toUri), WritableType.LongW.javaClass,
      WritableType.TextW.javaClass, Files.size(data)).get
    assert(read + skipped === entries.size.toLong)
    val planned = ScanPlans.partitions(after).flatMap(_.fixedOffsets.get).toSet
    assert(planned === ZoneMapPruning.surviving(
      ZoneMapPruning.Sidecar(WritableType.LongW, WritableType.TextW, entries),
      Seq[Filter](GreaterThanOrEqual("key", 1000L), LessThanOrEqual("key", 1200L))).toSet)
  }

  test("a sidecar written after the first query is used by the next") {
    val dir = Files.createTempDirectory("sccache-late")
    val data = dir.resolve("part-0.seq")
    writeFile(data, (0L until 4000L).map(_ * 2))
    assert(counts(checked(dir, 300L, 400L)._1)._4 === 1L)

    // a replayed commit renames a new file in and deletes the old sidecar;
    // the first query runs before the new sidecar is written
    val w = writeFile(data, (0L until 5000L).map(_ * 3), sidecar = false)
    localFs.delete(sidecarOf(data), false)
    val (absent, absentRows) = checked(dir, 300L, 400L)
    assert(absentRows.map(_._1) === (300L to 399L by 3))
    assert(counts(absent) === (0L, 0L, 0L, 0L), "no sidecar, no block plan")

    writeSidecar(data, w)
    val (late, lateRows) = checked(dir, 300L, 400L)
    assert(lateRows === absentRows)
    val (read, skipped, cached, sidecarsRead) = counts(late)
    assert(read >= 1 && skipped > 10)
    assert((cached, sidecarsRead) === (0L, 1L))
    assert(counts(checked(dir, 300L, 400L)._1) === (read, skipped, 1L, 0L))
  }

  test("a deleted or stale sidecar is never served") {
    val dir = Files.createTempDirectory("sccache-stale")
    val data = dir.resolve("part-0.seq")
    val w = writeFile(data, (0L until 4000L).map(_ * 2))
    checked(dir, 5000L, 5100L)
    assert(counts(checked(dir, 5000L, 5100L)._1)._3 === 1L, "cached")

    localFs.delete(sidecarOf(data), false)
    assert(counts(checked(dir, 5000L, 5100L)._1) === (0L, 0L, 0L, 0L))

    // valid again and cached, then stale: its recorded length is wrong
    writeSidecar(data, w)
    checked(dir, 5000L, 5100L)
    assert(counts(checked(dir, 5000L, 5100L)._1)._3 === 1L, "cached")
    writeSidecar(data, w, len = Some(w.bytesWritten + 1))
    for (_ <- 1 to 2) {
      val (q, rows) = checked(dir, 5000L, 5100L)
      assert(rows.size === 51)
      assert(counts(q) === (0L, 0L, 0L, 1L), "read, refused, not cached")
    }
  }

  test("filling past the bound evicts the least recently used, results stay correct") {
    val dir = Files.createTempDirectory("sccache-evict")
    val data = (0 until 3).map(i => dir.resolve(s"part-$i.seq"))
    // equal key widths, so equal sidecar sizes
    data.zipWithIndex.foreach { case (d, i) => writeFile(d, (0L until 3000L).map(k => (i + 1) * 10000L + k)) }
    val size = Files.size(java.nio.file.Paths.get(sidecarOf(data(0)).toUri.getPath))
    assert(data.map(d => Files.size(java.nio.file.Paths.get(sidecarOf(d).toUri.getPath))) ===
      Seq(size, size, size))
    // room for two of the three
    val cache = new SidecarCache(size * 5 / 2)
    val (lo, hi) = (20500L, 20600L)
    val filters = Seq[Filter](GreaterThanOrEqual("key", lo), LessThanOrEqual("key", hi))
    val schema = SeqFileSchema.schemaFor(WritableType.LongW, WritableType.TextW)

    /** Looks up file i alone, checks where its sidecar came from and that
      * the blocks it plans hold exactly the unpruned read's matching rows. */
    def lookUp(i: Int, fromCache: Boolean): Unit = {
      val file = SeqFileDataSource.listPartitionedFiles(Seq(table(dir)), conf)
        .find(_.status.getPath.getName == s"part-$i.seq").get
      val scs = cache.sidecars(Seq(file), conf)
      assert((scs.cached, scs.read) === (if (fromCache) (1L, 0L) else (0L, 1L)), s"file $i")
      assert(cache.cachedBytes <= size * 5 / 2)
      val offsets = ZoneMapPruning.surviving(scs.byFile.head.get, filters)
      val path = file.status.getPath.toString
      val reader = new SeqFileColumnarPartitionReader(SeqFilePartition(path, 0L,
        file.status.getLen, fixedOffsets = Some(offsets)), schema, schema, ReadMode.FailFast, conf)
      val rows = Seq.newBuilder[(Long, String)]
      try while (reader.next()) {
        val b = reader.get()
        for (r <- 0 until b.numRows())
          rows += (b.column(0).getLong(r) -> b.column(1).getUTF8String(r).toString)
      } finally reader.close()
      val all = spark.read.format("seqfile").load(path).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      def matching(rs: Seq[(Long, String)]) = rs.filter { case (k, _) => lo <= k && k <= hi }
      assert(matching(rows.result()) === matching(all), s"file $i")
    }

    lookUp(0, fromCache = false)
    lookUp(1, fromCache = false)
    lookUp(0, fromCache = true)
    lookUp(2, fromCache = false) // evicts 1, the least recently used
    assert(cache.cachedBytes === 2 * size)
    lookUp(0, fromCache = true)
    lookUp(2, fromCache = true)
    lookUp(1, fromCache = false) // evicts 0
    lookUp(0, fromCache = false) // evicts 2
    lookUp(1, fromCache = true)

    // a cached file rewritten with other keys, some of them in range, is
    // read again
    writeFile(data(0), (0L until 4000L).map(k => 20000L + 3 * k))
    lookUp(0, fromCache = false)
    lookUp(0, fromCache = true)
  }
}
