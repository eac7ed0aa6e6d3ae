package graft.sources.seqfile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{ZoneEntry, ZoneKey}

class SeqFileTopNSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def e(off: Long, cnt: Long, mn: Long, mx: Long) =
    ZoneEntry(off, cnt, Some(ZoneKey.L(mn)), Some(ZoneKey.L(mx)))

  test("selectBlocks: sorted file takes only the tail blocks") {
    val blocks = (0 until 10).map(i =>
      e(i * 100L, 1000L, i * 1000L, i * 1000L + 999L))
    val got = SeqFileTopNPushdown.selectBlocks(
      blocks, SeqFileTopNPushdown.Key("key", descending = true), 10).get
    // highest block guarantees 1000 keys >= next block's max -> 1 block
    assert(got === Seq(900L))
    val asc = SeqFileTopNPushdown.selectBlocks(
      blocks, SeqFileTopNPushdown.Key("key", descending = false), 10).get
    assert(asc === Seq(0L))
  }

  test("selectBlocks: overlapping ranges keep every possible contributor") {
    // A: [0,100] cnt 5 — high max but mostly tiny keys possible
    // B: [90,95] cnt 5 — all high
    val blocks = Seq(e(0L, 5L, 0L, 100L), e(100L, 5L, 90L, 95L))
    val got = SeqFileTopNPushdown.selectBlocks(
      blocks, SeqFileTopNPushdown.Key("key", descending = true), 5).get
    // A only guarantees ONE key >= 95 (its max), so B must be kept
    assert(got === Seq(0L, 100L))
  }

  test("order by key desc limit reads only tail blocks end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("topn").toString
    (0L until 100000L).map(i => (i, s"v$i")).toDF("key", "value")
      .repartition(2).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    val df = spark.read.format("seqfile").load(dir)
      .orderBy(col("key").desc).limit(5)
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got === (99995L until 100000L).reverse.toSeq)
    assert(ScanPlans.topNPlanned(df), "pushTopN must have fired")

    // ascending works too, and agrees with the unpushed answer
    val asc = spark.read.format("seqfile").load(dir)
      .orderBy(col("value")).limit(3).collect().map(_.getString(1)).toSeq
    val ascFull = spark.read.format("seqfile").load(dir)
      .filter(lit(true)).orderBy(col("value")).limit(3)
      .collect().map(_.getString(1)).toSeq
    assert(asc === ascFull)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("topN and zone filters never combine (filters disable the pushdown)") {
    val dir = java.nio.file.Files.createTempDirectory("topn-f").toString
    (0L until 50000L).map(i => (i, s"v$i")).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    // filtered top-n must come from the filter's range, not the tail
    val got = spark.read.format("seqfile").load(dir)
      .filter(col("key") < 1000L).orderBy(col("key").desc).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(999L, 998L, 997L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
