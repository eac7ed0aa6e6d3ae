package graft.sources.seqfile

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{ZoneEntry, ZoneKey, ZoneMap}

/** The scan plans zone-map and Bloom pruning once per query, on the driver:
  * each sidecar is read once, a runtime filter re-plans exactly, and a
  * split left without a block runs no task. */
class SeqFilePlanningSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit =
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private val N = 40000L
  private val SplitBytes = "32768"

  /** Two files of sorted long keys (0 until 20000, 20000 until 40000) in
    * small blocks, with zone maps and Bloom filters. */
  private lazy val sorted: String = writeSorted()

  private def writeSorted(): String = {
    val dir = Files.createTempDirectory("seqplan-sorted").toString
    (0L until N).map(i => (i, s"v$i")).toDF("key", "value")
      .repartitionByRange(2, col("key")).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "16384")
      .option("bloomKeys", "true").option("bloomFpp", "0.0001")
      .mode("overwrite").save(dir)
    dir
  }

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def files(dir: String): Seq[SeqFileDataSource.PartitionedFile] =
    SeqFileDataSource.listPartitionedFiles(Seq(dir), conf)

  private def scanOf(dir: String): SeqFileScan = {
    val schema = spark.read.format("seqfile").load(dir).schema
    new SeqFileScanBuilder(schema, Seq(dir),
      new CaseInsensitiveStringMap(java.util.Map.of("maxSplitBytes", SplitBytes)), conf)
      .build().asInstanceOf[SeqFileScan]
  }

  private def keyRange(e: ZoneEntry): (Long, Long) = (e.kmin, e.kmax) match {
    case (Some(ZoneKey.L(lo)), Some(ZoneKey.L(hi))) => (lo, hi)
    case other => fail(s"no long key bounds: $other")
  }

  private def parts(scan: SeqFileScan): Seq[SeqFilePartition] =
    scan.planInputPartitions().toSeq.map(_.asInstanceOf[SeqFilePartition])

  test("a runtime In filter re-plans to exactly the matching blocks") {
    val probes = Seq(17L, 25000L, N - 1)
    val scan = scanOf(sorted)
    val before = parts(scan)
    assert(before.forall(_.fixedOffsets.isEmpty), "no filter, no block plan")
    assert(before.size > 2, "several splits per file")

    scan.filter(Array[Filter](In("key", probes.toArray[Any])))
    val after = parts(scan)
    // the blocks whose key range holds a probe, read back from the sidecars
    val entries = ZoneMapPruning.sidecars(files(sorted), conf).byFile.map(_.get.entries)
    val holding = files(sorted).zip(entries).flatMap { case (pf, es) =>
      es.filter { e =>
        val (lo, hi) = keyRange(e)
        probes.exists(p => lo <= p && p <= hi)
      }.map(e => (pf.status.getPath.toString, e))
    }
    assert(holding.size === 3)
    assert(after.flatMap(p => p.fixedOffsets.get.map(o => (p.path, o))).toSet ===
      holding.map { case (path, e) => (path, e.offset) }.toSet)
    after.foreach { p =>
      assert(p.fixedOffsets.get.nonEmpty && p.fixedOffsets.get.forall(o => o >= p.start && o < p.end),
        s"a partition owns only planned blocks in its range: $p")
    }
    assert(after.size === 3, "one partition per split that owns a planned block")
    val metrics = scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    assert(metrics(SeqScanMetrics.ZoneBlocksRead) === 3L)
    assert(metrics(SeqScanMetrics.ZoneBlocksSkipped) === entries.map(_.size).sum - 3L)

    // the reader emits exactly the planned blocks' rows
    val factory = scan.createReaderFactory()
    val keys = after.flatMap { p =>
      val r = factory.createReader(p)
      val out = Seq.newBuilder[Long]
      try while (r.next()) out += r.get().getLong(0) finally r.close()
      out.result()
    }.sorted
    val expected = holding.flatMap { case (_, e) =>
      val (lo, hi) = keyRange(e)
      lo to hi
    }.sorted
    assert(keys === expected)
    assert(keys.filter(probes.contains) === probes)

    // a new runtime filter set re-plans from the same sidecars
    scan.filter(Array[Filter](In("key", Array[Any](N + 1))))
    assert(parts(scan).isEmpty)
  }

  test("a key-filtered query opens each sidecar once") {
    val table = s"${CountingFileSystem.Scheme}://$sorted"
    def opens(dir: String): Seq[Int] = files(dir)
      .map(pf => CountingFileSystem.openCalls(ZoneMap.sidecarPath(pf.status.getPath).toUri.getPath))

    CountingFileSystem.reset()
    val q = spark.read.format("seqfile").option("maxSplitBytes", SplitBytes).load(table)
      .filter(col("key") === 25000L)
    assert(q.collect().map(_.getString(1)).toSeq === Seq("v25000"))
    assert(opens(sorted) === Seq(1, 1))

    // planning, partitioning and re-planning share one read, on a table no
    // query has planned yet (the driver caches parsed sidecars)
    val fresh = writeSorted()
    CountingFileSystem.reset()
    val scan = scanOf(s"${CountingFileSystem.Scheme}://$fresh")
    scan.filter(Array[Filter](In("key", Array[Any](5L))))
    scan.outputPartitioning()
    scan.planInputPartitions()
    scan.planInputPartitions()
    scan.filter(Array[Filter](In("key", Array[Any](6L))))
    scan.planInputPartitions()
    assert(opens(fresh) === Seq(1, 1))
  }

  /** Tasks of the jobs `body` runs, counted from the listener bus. */
  private def tasksOf(body: => Unit): Int = {
    val group = s"plan-${System.nanoTime()}"
    val markerGroup = s"$group-marker"
    val tasks = new AtomicInteger
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) tasks.addAndGet(e.stageInfos.map(_.numTasks).sum)
        if (g == markerGroup) markerJobs.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "planning spec")
      try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the marker job's end
      // arrives, every job `body` ran has been counted
      sc.setJobGroup(markerGroup, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    tasks.get
  }

  test("a Bloom miss runs no task and returns no rows") {
    // scrambled even keys: every block's [min, max] spans the domain, so
    // only the Bloom filters can rule out the odd probe
    val dir = Files.createTempDirectory("seqplan-bloom").toString
    (0L until N).map(i => (i * 2654435761L % N * 2, s"v$i")).toDF("key", "value")
      .repartition(2)
      .write.format("seqfile").option("blockSize", "16384")
      .option("bloomKeys", "true").option("bloomFpp", "0.0001")
      .mode("overwrite").save(dir)
    val df = spark.read.format("seqfile").option("maxSplitBytes", SplitBytes).load(dir)
    var miss: DataFrame = null
    val missTasks = tasksOf {
      miss = df.filter(col("key") === 12345L)
      assert(miss.collect().isEmpty)
    }
    assert(missTasks === 0)
    assert(ScanPlans.partitions(miss).isEmpty)
    assert(ScanPlans.scanMetric(miss, SeqScanMetrics.ZoneBlocksRead) === 0L)
    assert(ScanPlans.blocksSkipped(miss) > 10)

    // a hit plans one split, the one that owns its block, and reads it on
    // the driver (SeqFileLocalScan): no task
    val key = 17L * 2654435761L % N * 2
    var hit: DataFrame = null
    val hitTasks = tasksOf {
      hit = df.filter(col("key") === key)
      assert(hit.collect().map(_.getLong(0)).toSeq === Seq(key))
    }
    assert(hitTasks === 0)
    assert(ScanPlans.partitions(hit).size === 1)
    assert(ScanPlans.scanMetric(hit, SeqScanMetrics.ZoneBlocksRead) === 1L)
  }
}
