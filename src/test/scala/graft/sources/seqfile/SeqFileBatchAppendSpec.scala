package graft.sources.seqfile

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.SequenceFiles

/** A batch `mode("append")` into a manifest-governed directory (one a
  * streaming sink or a compaction wrote) must publish a manifest for its
  * files, or readers never see them. Every appended row must read exactly
  * once, before and after a further compaction absorbs the append. */
class SeqFileBatchAppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def rows(from: Long, until: Long): DataFrame =
    (from until until).map(i => (i, s"v$i", s"src${i % 3}")).toDF("key", "value", "source")

  private def keys(dir: String): Seq[Long] =
    spark.read.format("seqfile").load(dir).select("key").as[Long].collect().toSeq.sorted

  private def governed(dir: String): Boolean =
    new java.io.File(dir, SeqManifest.DirName).isDirectory

  test("append after compact: every appended row reads exactly once") {
    val dir = Files.createTempDirectory("seqappend-compact").toString
    rows(0, 100).drop("source").repartition(4)
      .write.format("seqfile").mode("overwrite").save(dir)
    SequenceFiles.compact(spark, dir)
    assert(governed(dir))
    rows(100, 150).drop("source").repartition(3)
      .write.format("seqfile").mode("append").save(dir)
    assert(keys(dir) === (0L until 150L))
    SequenceFiles.compact(spark, dir)
    assert(keys(dir) === (0L until 150L))
    assert(SeqFileDataSource.listFiles(Seq(dir), spark.sparkContext.hadoopConfiguration)
      .size === 1, "the second compaction absorbs the append")
  }

  test("append after a streaming sink: every appended row reads exactly once") {
    val src = Files.createTempDirectory("seqappend-src").toString
    val out = Files.createTempDirectory("seqappend-out").toString
    val ckpt = Files.createTempDirectory("seqappend-ckpt").toString
    rows(0, 10).drop("source").coalesce(1)
      .write.format("seqfile").mode("overwrite").save(src)
    val schema = spark.read.format("seqfile").load(src).schema
    val q = spark.readStream.format("seqfile").schema(schema).load(src)
      .writeStream.format("seqfile")
      .option("checkpointLocation", ckpt).option("path", out).start()
    try q.processAllAvailable() finally q.stop()
    assert(keys(out) === (0L until 10L))
    rows(10, 20).drop("source").repartition(2)
      .write.format("seqfile").mode("append").save(out)
    assert(keys(out) === (0L until 20L))
    SequenceFiles.compact(spark, out)
    assert(keys(out) === (0L until 20L))
  }

  test("partitioned append after compactAll: every appended row reads exactly once") {
    val out = Files.createTempDirectory("seqappend-parts").toString
    rows(0, 100).repartition(4)
      .write.format("seqfile").mode("overwrite").partitionBy("source").save(out)
    SequenceFiles.compactAll(spark, out)
    assert(governed(s"$out/source=src0"))
    rows(100, 150).repartition(3)
      .write.format("seqfile").mode("append").partitionBy("source").save(out)
    val back = spark.read.format("seqfile").load(out)
    assert(back.as[(Long, String, String)].collect().toSeq.sortBy(_._1) ===
      (0L until 150L).map(i => (i, s"v$i", s"src${i % 3}")))
    SequenceFiles.compactAll(spark, out)
    assert(keys(out) === (0L until 150L))
  }

  test("append into a plain directory leaves it manifest-free") {
    val dir = Files.createTempDirectory("seqappend-plain").toString
    rows(0, 10).drop("source").write.format("seqfile").mode("overwrite").save(dir)
    rows(10, 20).drop("source").write.format("seqfile").mode("append").save(dir)
    assert(!governed(dir))
    assert(keys(dir) === (0L until 20L))
  }
}
