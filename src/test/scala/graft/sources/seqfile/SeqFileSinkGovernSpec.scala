package graft.sources.seqfile

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api.SequenceFiles

/** A streaming sink that starts on a directory already holding seqfile data
  * makes it manifest-governed without hiding that data: the first leaf
  * commit writes a baseline manifest of the files already there
  * (SeqManifest.govern), exactly as compaction does. */
class SeqFileSinkGovernSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def rows(from: Long, until: Long): DataFrame =
    (from until until).map(i => (i, s"v$i")).toDF("key", "value")

  private def keys(dir: String): Seq[Long] =
    spark.read.format("seqfile").load(dir).select("key").as[Long].collect().toSeq.sorted

  /** Stream rows [from, until) into `out` through the seqfile sink. */
  private def sink(out: String, from: Long, until: Long,
                   partitionBy: Option[String] = None): Unit = {
    val src = Files.createTempDirectory("seqgovern-src").toString
    val ckpt = Files.createTempDirectory("seqgovern-ckpt").toString
    rows(from, until).coalesce(1).write.format("seqfile").mode("overwrite").save(src)
    val schema = spark.read.format("seqfile").load(src).schema
    val in = spark.readStream.format("seqfile").schema(schema).load(src)
    val w = partitionBy.fold(in.writeStream) { c =>
      in.withColumn(c, col("key") % 2).writeStream.option("partitionBy", c)
    }
    val q = w.format("seqfile").option("checkpointLocation", ckpt).option("path", out).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("a sink into a plain directory keeps the rows already there") {
    val out = Files.createTempDirectory("seqgovern-plain").toString
    rows(0, 50).repartition(2).write.format("seqfile").mode("overwrite").save(out)
    sink(out, 50, 60)
    assert(keys(out) === (0L until 60L))
    SequenceFiles.compact(spark, out)
    assert(keys(out) === (0L until 60L))
  }

  test("a partitioned sink into leaves that already hold files keeps their rows") {
    val out = Files.createTempDirectory("seqgovern-parts").toString
    rows(0, 50).withColumn("bucket", col("key") % 2).repartition(2)
      .write.format("seqfile").mode("overwrite").partitionBy("bucket").save(out)
    sink(out, 50, 60, partitionBy = Some("bucket"))
    val back = spark.read.format("seqfile").load(out)
      .select(col("key"), col("bucket")).as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back === (0L until 60L).map(k => (k, (k % 2).toString)))
    SequenceFiles.compactAll(spark, out)
    assert(keys(out) === (0L until 60L))
  }

  test("a sink racing a compaction on a plain directory loses no rows") {
    val out = Files.createTempDirectory("seqgovern-race").toString
    val src = Files.createTempDirectory("seqgovern-race-src").toString
    val ckpt = Files.createTempDirectory("seqgovern-race-ckpt").toString
    rows(0, 50).repartition(4).write.format("seqfile").mode("overwrite").save(out)
    rows(50, 55).coalesce(1).write.format("seqfile").mode("overwrite").save(src)
    val schema = spark.read.format("seqfile").load(src).schema
    val q = spark.readStream.format("seqfile").schema(schema).load(src)
      .writeStream.format("seqfile")
      .option("checkpointLocation", ckpt).option("path", out).start()
    try {
      // the sink's first epoch makes `out` governed; the next one races a
      // compaction of the same directory
      q.processAllAvailable()
      val compaction = Future(SequenceFiles.compact(spark, out))
      rows(55, 60).coalesce(1).write.format("seqfile").mode("append").save(src)
      q.processAllAvailable()
      Await.result(compaction, 5.minutes)
    } finally q.stop()
    assert(keys(out) === (0L until 60L))
    SequenceFiles.compact(spark, out)
    assert(keys(out) === (0L until 60L))
  }

  test("concurrent govern calls leave one baseline naming the files already there") {
    val out = Files.createTempDirectory("seqgovern-concurrent").toString
    rows(0, 50).repartition(3).write.format("seqfile").mode("overwrite").save(out)
    val root = new Path(out)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val before = SeqFileDataSource.listFiles(Seq(out), conf).map(_.getPath.getName).toSet
    Await.result(Future.sequence((0 until 4).map(_ =>
      Future(SeqManifest.govern(fs, conf, root)))), 1.minute)
    assert(SeqManifest.governs(fs, root))
    assert(fs.listStatus(SeqManifest.dir(root)).forall(_.isFile),
      "a losing caller leaves no staging directory behind")
    assert(SeqManifest.visibleFiles(fs, root) === before)
    assert(keys(out) === (0L until 50L))
  }
}
