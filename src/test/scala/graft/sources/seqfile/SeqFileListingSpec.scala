package graft.sources.seqfile

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{SeqFileWriter, WritableType}

/** A query lists its table once: the scan builder's listing serves both
  * pushdowns, statistics, partitioning and every planning call. The table
  * lives on the `countfs:` scheme, which counts `globStatus` calls per path. */
class SeqFileListingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit =
    CountingFileSystem.register(spark.sparkContext.hadoopConfiguration)

  override def afterAll(): Unit = spark.stop()

  private val NFiles = 4
  private val PerFile = 100

  /** Four files written by the core writer, so no zone-map sidecars. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("seqlisting")
    for (f <- 0 until NFiles) {
      val w = new SeqFileWriter(Files.newOutputStream(d.resolve(s"part-$f.seq")),
        WritableType.LongW, WritableType.TextW, syncSeed = f.toLong)
      (f * PerFile until (f + 1) * PerFile).foreach(i => w.append(i.toLong, s"v$i"))
      w.close()
    }
    d.toString
  }

  private def table: DataFrame =
    spark.read.format("seqfile").load(s"${CountingFileSystem.Scheme}://$dir")

  /** Root `globStatus` calls made while `query` runs. */
  private def listingsOf(query: => Unit): Int = {
    CountingFileSystem.reset()
    query
    CountingFileSystem.globCalls(dir)
  }

  test("a key lookup lists the table once") {
    val df = table.filter(col("key") === 150L)
    assert(listingsOf(assert(df.collect().map(_.getString(1)).toSeq === Seq("v150"))) === 1)
  }

  test("a full scan lists the table once") {
    val df = table
    assert(listingsOf(assert(df.collect().length === NFiles * PerFile)) === 1)
  }

  test("a count() whose pushdown declines lists the table once") {
    val df = table.groupBy().count()
    assert(listingsOf(assert(df.head().getLong(0) === (NFiles * PerFile).toLong)) === 1)
    assert(!df.queryExecution.executedPlan.toString.contains("agg-pushdown"),
      "files without sidecars must decline the pushdown")
  }
}
