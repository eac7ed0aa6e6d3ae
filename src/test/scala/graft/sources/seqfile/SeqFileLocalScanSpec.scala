package graft.sources.seqfile

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{ZoneEntry, ZoneKey}

/** A lookup whose filters plan at most SeqFileScan.LocalMaxBlocks blocks
  * runs as a driver-local scan: no Spark job, exact rows, the batch path's
  * FAILFAST error. Anything over the bound, PERMISSIVE and DROPMALFORMED
  * reads, and streaming reads keep the batch scan. */
class SeqFileLocalScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private val N = 20000L

  /** Two files of sorted even keys 0, 2, ... in 16 KiB blocks, with zone
    * maps and Bloom filters. */
  private def writeSorted(): String = {
    val dir = Files.createTempDirectory("seqlocal").toString
    (0L until N).map(i => (2 * i, s"v$i")).toDF("key", "value")
      .repartitionByRange(2, col("key")).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "16384").option("bloomKeys", "true")
      .mode("overwrite").save(dir)
    dir
  }

  private lazy val sorted = writeSorted()

  private def read(dir: String, mode: String = "FAILFAST"): DataFrame =
    spark.read.format("seqfile").option("mode", mode).load(dir)

  /** The first data file of `dir` and its sidecar entries, in file order. */
  private def firstFile(dir: String): (Path, Seq[ZoneEntry]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = SeqFileDataSource.listPartitionedFiles(Seq(dir), conf)
    val entries = ZoneMapPruning.sidecars(files, conf).byFile.head.get.entries
    (Path.of(files.head.status.getPath.toUri), entries.sortBy(_.offset))
  }

  private def keyRange(e: ZoneEntry): (Long, Long) = (e.kmin, e.kmax) match {
    case (Some(ZoneKey.L(lo)), Some(ZoneKey.L(hi))) => (lo, hi)
    case other => fail(s"no long key bounds: $other")
  }

  /** Jobs `body` starts, counted from the listener bus. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"local-${System.nanoTime()}"
    val markerGroup = s"$group-marker"
    val jobs = new AtomicInteger
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        if (g == markerGroup) markerJobs.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "local scan spec")
      try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the marker job's end
      // arrives, every job `body` started has been counted
      sc.setJobGroup(markerGroup, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  test("a point hit and a Bloom miss start no job and return exact rows") {
    val df = read(sorted)
    var hit, miss: DataFrame = null
    assert(jobsOf {
      hit = df.filter(col("key") === 2 * 7777L)
      assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((15554L, "v7777")))
    } === 0)
    assert(jobsOf {
      miss = df.filter(col("key") === 2 * 7777L + 1)
      assert(miss.collect().isEmpty)
    } === 0)
    assert(isLocal(hit) && isLocal(miss))
    assert(ScanPlans.scanMetric(hit, SeqScanMetrics.ZoneBlocksRead) === 1L)
    assert(ScanPlans.scanMetric(miss, SeqScanMetrics.ZoneBlocksRead) === 0L)
    assert(ScanPlans.blocksSkipped(miss) > 10)
    // a join against a lookup sees its exact row count
    assert(hit.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(1)))
    assert(miss.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(0)))
  }

  test("a range just over the bound runs as a batch scan with the unpruned rows") {
    val (_, entries) = firstFile(sorted)
    val all = read(sorted).collect().map(r => (r.getLong(0), r.getString(1)))
    for (blocks <- Seq(SeqFileScan.LocalMaxBlocks, SeqFileScan.LocalMaxBlocks + 1)) {
      val lo = keyRange(entries(1))._1
      val hi = keyRange(entries(blocks))._1
      val q = read(sorted).filter(col("key") >= lo && col("key") <= hi)
      val expected = all.filter { case (k, _) => k >= lo && k <= hi }.sortBy(_._1).toSeq
      val jobs = jobsOf(assert(q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ===
        expected))
      assert(ScanPlans.scanMetric(q, SeqScanMetrics.ZoneBlocksRead) === blocks.toLong)
      if (blocks <= SeqFileScan.LocalMaxBlocks) {
        assert(isLocal(q) && jobs === 0, q.queryExecution.executedPlan)
      } else {
        assert(ScanPlans.scans(q).size === 1 && ScanPlans.localScans(q).isEmpty && jobs > 0)
        assert(!q.queryExecution.executedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.FilterExec]), q.queryExecution.executedPlan)
      }
    }
  }

  /** A copy of `sorted` whose first file has block `b`'s sync marker
    * flipped (same length, so its sidecar stays valid). */
  private def corrupted(b: Int): (String, Seq[ZoneEntry]) = {
    val dir = writeSorted()
    val (file, entries) = firstFile(dir)
    val bytes = Files.readAllBytes(file)
    val at = entries(b).offset.toInt + 4 + 3
    bytes(at) = (bytes(at) ^ 0x55).toByte
    Files.write(file, bytes)
    // the local file system would report the checksum, not the block
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
    (dir, entries)
  }

  private def rootMessage(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage

  test("FAILFAST: a corrupt planned block fails a local scan with the batch path's message") {
    val (dir, entries) = corrupted(2)
    val (lo, _) = keyRange(entries(2))
    val (_, hi) = keyRange(entries(2 + SeqFileScan.LocalMaxBlocks))
    val local = intercept[Exception](read(dir).filter(col("key") === lo).collect())
    val batchQ = read(dir).filter(col("key") >= lo && col("key") <= hi)
    assert(ScanPlans.scans(batchQ).size === 1)
    val batch = intercept[Exception](batchQ.collect())
    assert(rootMessage(local) === rootMessage(batch))
    assert(rootMessage(local).contains("sync marker mismatch"), rootMessage(local))
    assert(local.getMessage.contains(rootMessage(batch)))
  }

  test("PERMISSIVE and DROPMALFORMED lookups keep the batch scan and report dropped blocks") {
    val (dir, entries) = corrupted(2)
    val (lo, _) = keyRange(entries(2))
    for (mode <- Seq("PERMISSIVE", "DROPMALFORMED")) {
      val q = read(dir, mode).filter(col("key") === lo)
      assert(q.collect().isEmpty, mode)
      assert(ScanPlans.localScans(q).isEmpty && ScanPlans.scans(q).size === 1, mode)
      assert(ScanPlans.scanMetric(q, SeqScanMetrics.MalformedBlocksDropped) === 1L, mode)
      // a clean block is a plain hit
      val (ok, _) = keyRange(entries(0))
      assert(read(dir, mode).filter(col("key") === ok).collect().map(_.getLong(0)).toSeq === Seq(ok))
    }
  }

  test("a streaming read of the same directory is unaffected") {
    val schema = read(sorted).schema
    val q = spark.readStream.format("seqfile").schema(schema).load(sorted)
      .filter(col("key") === 2 * 7777L)
      .writeStream.format("memory").queryName("seqlocalstream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("seqlocalstream").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((15554L, "v7777")))
    } finally q.stop()
  }
}
