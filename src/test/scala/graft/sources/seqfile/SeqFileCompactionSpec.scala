package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.ZoneMap

class SeqFileCompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private val conf = new Configuration()

  private def dataFiles(dir: String): Seq[String] =
    SeqFileDataSource.listFiles(Seq(dir), conf).map(_.getPath.getName)

  test("plain directory: many small files compact to few, data identical") {
    val dir = java.nio.file.Files.createTempDirectory("compact-plain").toString
    (0L until 50000L).map(i => (i, s"v$i")).toDF("key", "value")
      .repartition(20)
      .write.format("seqfile").mode("overwrite").save(dir)
    assert(dataFiles(dir).size === 20)
    val before = spark.read.format("seqfile").load(dir)
      .agg(count(lit(1)), sum("key")).as[(Long, Long)].head()

    val n = SeqFileCompaction.compact(spark, dir, targetFileBytes = 256L * 1024)
    assert(n < 20 && n >= 1)
    val names = dataFiles(dir)
    assert(names.size === n)
    assert(names.forall(_.startsWith("compacted-")))
    val after = spark.read.format("seqfile").load(dir)
      .agg(count(lit(1)), sum("key")).as[(Long, Long)].head()
    assert(after === before)

    // sorted output carries zone-map sidecars → selective reads skip blocks
    val fs = new Path(dir).getFileSystem(conf)
    names.foreach { nm =>
      assert(fs.exists(ZoneMap.sidecarPath(new Path(dir, nm))),
        s"sidecar missing for $nm")
    }
    val lookup = spark.read.format("seqfile").load(dir).filter(col("key") === 12345L)
    assert(lookup.collect().length === 1)
    assert(ScanPlans.blocksSkipped(lookup) > 0,
      "compacted output must be zone-map prunable")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("second compaction absorbs the first; repeated runs stay correct") {
    val dir = java.nio.file.Files.createTempDirectory("compact-twice").toString
    (0L until 20000L).map(i => (i, i * 3)).toDF("key", "value")
      .repartition(10).write.format("seqfile").mode("overwrite").save(dir)
    val expect = spark.read.format("seqfile").load(dir)
      .agg(sum("value")).as[Long].head()
    SeqFileCompaction.compact(spark, dir, targetFileBytes = 64L * 1024)
    SeqFileCompaction.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    assert(dataFiles(dir).size === 1)
    assert(spark.read.format("seqfile").load(dir)
      .agg(sum("value")).as[Long].head() === expect)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("epochs committed after the snapshot stay visible (live sink survives)") {
    val dir = java.nio.file.Files.createTempDirectory("compact-live").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    (0L until 5000L).map(i => (i, s"v$i")).toDF("key", "value")
      .repartition(5).write.format("seqfile").mode("overwrite").save(dir)
    SeqFileCompaction.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)

    // simulate a streaming-sink epoch commit AFTER compaction: data file +
    // epoch manifest naming it
    val extraDir = java.nio.file.Files.createTempDirectory("compact-extra").toString
    Seq((999999L, "late")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(extraDir)
    val part = SeqFileDataSource.listFiles(Seq(extraDir), conf).head.getPath
    val lateName = "part-e00042-p00000.seq"
    fs.rename(part, new Path(root, lateName))
    val metaDir = new Path(root, SeqManifest.DirName)
    val out = fs.create(new Path(metaDir, f"${42L}%020d"), true)
    out.write((lateName + "\n").getBytes("UTF-8")); out.close()

    val rows = spark.read.format("seqfile").load(dir)
    assert(rows.count() === 5001L)
    assert(rows.filter(col("key") === 999999L).count() === 1L)

    // the NEXT compaction folds the late epoch in
    SeqFileCompaction.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    assert(dataFiles(dir).size === 1)
    assert(spark.read.format("seqfile").load(dir).count() === 5001L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("crash after publish (cleanup skipped) is invisible and self-heals") {
    val dir = java.nio.file.Files.createTempDirectory("compact-crash").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    (0L until 8000L).map(i => (i, s"v$i")).toDF("key", "value")
      .repartition(4).write.format("seqfile").mode("overwrite").save(dir)
    SeqFileCompaction.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    val metaDir = new Path(root, SeqManifest.DirName)

    // resurrect a "crashed cleanup": stale absorbed manifest naming a stale
    // data file, both physically present
    val staleData = "part-stale.seq"
    val src = SeqFileDataSource.listFiles(Seq(dir), conf).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new Path(root, staleData), false, conf)
    val out = fs.create(new Path(metaDir, f"${7L}%020d"), true)
    out.write((staleData + "\n").getBytes("UTF-8")); out.close()
    // make the stale manifest ABSORBED by rewriting the compaction manifest
    val cName = fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(_.startsWith(SeqManifest.CompactionPrefix)).max
    val (absorbed, files) = SeqManifest.parseCompaction {
      val in = fs.open(new Path(metaDir, cName))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val o2 = fs.create(new Path(metaDir, cName), true)
    o2.write(SeqManifest.renderCompaction(
      (absorbed + f"${7L}%020d").toSeq, files.toSeq).getBytes("UTF-8"))
    o2.close()

    // stale file is invisible to readers
    assert(!dataFiles(dir).contains(staleData))
    val expect = spark.read.format("seqfile").load(dir).count()
    assert(expect === 8000L)
    // next compaction deletes it
    SeqFileCompaction.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    assert(!fs.exists(new Path(root, staleData)))
    assert(spark.read.format("seqfile").load(dir).count() === 8000L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compaction manifest render/parse round-trips") {
    val m = SeqManifest.renderCompaction(
      Seq("00000000000000000001", "compact-00000000000000000000"),
      Seq("compacted-a.seq", "compacted-b.seq"))
    val (a, f) = SeqManifest.parseCompaction(m)
    assert(a === Set("00000000000000000001", "compact-00000000000000000000"))
    assert(f === Set("compacted-a.seq", "compacted-b.seq"))
  }
}
