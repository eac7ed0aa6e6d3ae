package graft.sources.seqfile

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.SequenceFiles

/** Every seqfile read and write path takes its Hadoop settings from the
  * session. The `sessfs:` scheme is registered only on
  * `sparkContext.hadoopConfiguration`, with its FileSystem cache disabled,
  * so any path that resolves a filesystem from a conf of its own fails with
  * "No FileSystem for scheme". */
class SeqFileSessionConfSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val scheme = SessionSchemeFileSystem.Scheme

  override def beforeAll(): Unit =
    SessionSchemeFileSystem.register(spark.sparkContext.hadoopConfiguration)

  override def afterAll(): Unit = spark.stop()

  private def scanMetric(df: DataFrame, name: String): Long =
    collect(df.queryExecution.executedPlan: SparkPlan) { case b: BatchScanExec => b }
      .flatMap(_.metrics.get(name)).map(_.value).sum

  test("session-registered filesystem reaches every seqfile read and write path") {
    import spark.implicits._
    val local = java.nio.file.Files.createTempDirectory("sessconf")
    val dir = s"$scheme://${local.toUri.getPath}data"
    val n = 10000
    val keys = (0 until n).map(_ * 2L) // even keys: an odd key is a miss

    // write with zone-map + Bloom sidecars
    keys.map(k => (k, s"v$k")).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").mode("overwrite")
      .option("blockSize", "4096").option("bloomKeys", "true")
      .option("metadata.origin", "session")
      .save(dir)
    val written = local.resolve("data").toFile.listFiles().map(_.getName)
    assert(written.exists(_.endsWith(".seq.zmap")), written.mkString(","))

    // load with schema inference; table properties read the header
    val df = spark.read.format("seqfile").load(dir)
    assert(df.schema.map(_.dataType.simpleString) === Seq("bigint", "string"))
    val table = new SeqFileDataSource().getTable(df.schema, Array.empty,
      Map("path" -> dir).asJava)
    assert(table.properties().asScala.get("origin") === Some("session"))

    // full row scan: the row reader under the scan's broadcast conf
    val opts = new CaseInsensitiveStringMap(java.util.Collections.emptyMap())
    val scan = new SeqFileScanBuilder(df.schema, Seq(dir), opts).build()
      .asInstanceOf[SeqFileScan]
    assert(scan.estimateStatistics().sizeInBytes().isPresent)
    val factory = scan.createReaderFactory()
    var rows = 0L
    var keySum = 0L
    scan.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      try while (r.next()) { rows += 1; keySum += r.get().getLong(0) }
      finally r.close()
    }
    assert(rows === n.toLong)
    assert(keySum === keys.sum)

    // full columnar scan in executor tasks
    val full = df.agg(count(lit(1)), sum("key"), max(length(col("value"))))
    assert(full.head().toSeq === Seq(n.toLong, keys.sum, 6))

    // key lookups: the zone map prunes a hit, the Bloom filter a miss
    val hit = df.filter(col("key") === 1554L)
    assert(hit.collect().map(_.getString(1)).toSeq === Seq("v1554"))
    val total = scanMetric(hit, "seqfileZoneBlocksRead") +
      scanMetric(hit, "seqfileZoneBlocksSkipped")
    assert(total > 10, s"expected many blocks, got $total")
    assert(scanMetric(hit, "seqfileZoneBlocksRead") === 1L)
    val miss = df.filter(col("key") === 1555L)
    assert(miss.collect().isEmpty)
    assert(scanMetric(miss, "seqfileZoneBlocksRead") < total)

    // count() through agg pushdown, answered from the sidecars
    val cnt = df.groupBy().count()
    assert(cnt.queryExecution.executedPlan.toString.contains("agg-pushdown"))
    assert(cnt.head().getLong(0) === n.toLong)

    // ORDER BY key LIMIT through top-N pushdown
    SeqFileTopNPushdown.pushes.reset()
    val top = df.orderBy(col("key").desc).limit(3).collect().map(_.getLong(0))
    assert(top.toSeq === keys.reverse.take(3))
    assert(SeqFileTopNPushdown.pushes.sum() > 0, "pushTopN must have fired")

    // micro-batch read
    val q = spark.readStream.format("seqfile").schema(df.schema).load(dir)
      .groupBy().agg(count(lit(1)).as("n"), sum("key").as("s"))
      .writeStream.format("memory").queryName("sessconf_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessconf_stream").head().toSeq === Seq(n.toLong, keys.sum))
    } finally q.stop()

    // compaction rewrites through the connector and commits via manifests
    assert(SequenceFiles.compact(spark, dir, targetFileBytes = 1L << 20) === 1)
    assert(spark.read.format("seqfile").load(dir).agg(count(lit(1)), sum("key"))
      .head().toSeq === Seq(n.toLong, keys.sum))
    org.apache.commons.io.FileUtils.deleteDirectory(local.toFile)
  }
}
