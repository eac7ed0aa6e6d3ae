package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.ZoneMap

class SeqFileAggPushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def writeDir(rows: Seq[(Long, String)], parts: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("aggpd").toString
    rows.toDF("key", "value").repartition(parts)
      .write.format("seqfile").mode("overwrite").save(dir)
    dir
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("min/max/count answered from sidecars without opening data files") {
    val dir = writeDir((0L until 40000L).map(i => (i * 7 % 100003L, s"v$i")), 6)
    val df = spark.read.format("seqfile").load(dir)
      .agg(min("key").as("mn"), max("key").as("mx"), count(lit(1)).as("n"))
    // the plan must contain the agg-pushdown scan, not the block scan
    assert(planOf(df).contains("agg-pushdown"), planOf(df))
    val (mn, mx, n) = df.as[(Long, Long, Long)].head()
    assert(n === 40000L)
    assert(mn === (0L until 40000L).map(i => i * 7 % 100003L).min)
    assert(mx === (0L until 40000L).map(i => i * 7 % 100003L).max)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("string min/max and count(col) push down too") {
    val dir = writeDir((0L until 5000L).map(i => (i, f"s$i%06d")), 3)
    val df = spark.read.format("seqfile").load(dir)
      .agg(min("value").as("mn"), max("value").as("mx"),
        count(col("key")).as("n"))
    assert(planOf(df).contains("agg-pushdown"), planOf(df))
    assert(df.as[(String, String, Long)].head() === (("s000000", "s004999", 5000L)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("declines under filters, groupBy, unsupported aggs, missing sidecars") {
    val dir = writeDir((0L until 3000L).map(i => (i, s"v$i")), 2)
    val base = spark.read.format("seqfile").load(dir)
    // filter → normal scan, still correct
    val f = base.filter(col("key") >= 1000L).agg(max("key"))
    assert(!planOf(f).contains("agg-pushdown"))
    assert(f.as[Long].head() === 2999L)
    // groupBy → no pushdown
    val g = base.groupBy(col("key") % 2).agg(max("key"))
    assert(!planOf(g).contains("agg-pushdown"))
    // sum is not served from sidecars
    val s = base.agg(sum("key"))
    assert(!planOf(s).contains("agg-pushdown"))
    assert(s.as[Long].head() === (0L until 3000L).sum)
    // delete one sidecar → decline, full scan answers
    val conf = new Configuration()
    val part = SeqFileDataSource.listFiles(Seq(dir), conf).head.getPath
    part.getFileSystem(conf).delete(ZoneMap.sidecarPath(part), false)
    val m = spark.read.format("seqfile").load(dir).agg(max("key"))
    assert(!planOf(m).contains("agg-pushdown"))
    assert(m.as[Long].head() === 2999L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("many-file lake: parallel sidecar planning stays exact (agg + top-N)") {
    // 96 files — well past PlanParallel.Parallelism, so the pool cycles and
    // per-file results must still fold in order and exactly.
    val n = 48000L
    val dir = writeDir((0L until n).map(i => (i * 13 % 999983L, f"v$i%06d")), 96)
    assert(SeqFileDataSource.listFiles(Seq(dir), new Configuration()).size === 96)
    val df = spark.read.format("seqfile").load(dir)
    val agg = df.agg(min("key").as("mn"), max("key").as("mx"),
      min("value").as("vmn"), max("value").as("vmx"), count(lit(1)).as("n"))
    assert(planOf(agg).contains("agg-pushdown"), planOf(agg))
    val keys = (0L until n).map(i => i * 13 % 999983L)
    assert(agg.as[(Long, Long, String, String, Long)].head() ===
      ((keys.min, keys.max, "v000000", f"v${n - 1}%06d", n)))
    // top-N pushdown across the same 96 files
    val topQ = df.orderBy(col("key").desc).limit(7)
    val top = topQ.as[(Long, String)].collect()
    assert(ScanPlans.topNPlanned(topQ), "pushTopN must have fired")
    val expect = (0L until n).map(i => (i * 13 % 999983L, f"v$i%06d"))
      .sortBy { case (k, v) => (-k, v) }.take(7)
    assert(top.sortBy { case (k, v) => (-k, v) }.toSeq === expect)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("pushdown agrees with full scan on every supported shape") {
    val rnd = new scala.util.Random(3)
    val dir = writeDir((0L until 10000L).map(_ =>
      (rnd.nextLong(), rnd.alphanumeric.take(8).mkString)), 4)
    val df = spark.read.format("seqfile").load(dir)
    val pushed = df.agg(min("key"), max("key"), min("value"), max("value"),
      count(lit(1))).as[(Long, Long, String, String, Long)].head()
    // force the non-pushdown path via a no-op filter
    val full = df.filter(lit(true))
      .agg(min("key"), max("key"), min("value"), max("value"), count(lit(1)))
      .as[(Long, Long, String, String, Long)].head()
    assert(pushed === full)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
