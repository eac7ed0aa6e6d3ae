package graft.sources.seqfile

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile._

/** PERMISSIVE and DROPMALFORMED report what they drop as scan metrics
  * (`seqfileMalformedBlocksDropped`, `seqfileUnreadableFilesSkipped`) on
  * both the columnar and the row reader, instead of only logging it. */
class SeqFileDropMetricsSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Rows = 8000

  /** A 5+-block file with the 3rd block's sync marker flipped, plus a
    * zero-byte part from a killed writer. NullWritable values make the
    * scan's schema carry a NullType column, which only the row reader
    * serves. Returns (dir, rows in the first two blocks). */
  private def corruptedDir(valueType: WritableType): (String, Long) = {
    val dir = Files.createTempDirectory("seqdrop")
    val f = dir.resolve("data.seq")
    val w = new SeqFileWriter(Files.newOutputStream(f), WritableType.LongW, valueType,
      blockSize = 8 * 1024, syncSeed = 11L)
    (0 until Rows).foreach { i =>
      w.append(i.toLong, if (valueType == WritableType.NullW) null else s"row-$i-" + "x" * 20)
    }
    w.close()
    val header = SeqFile.readHeader(f.toString)
    val rd = SeqFile.open(f.toString, decodeKey = false, decodeValue = false)
    val counts = try rd.map(_.count.toLong).toList finally rd.close()
    assert(counts.length >= 5, s"need >=5 blocks, got ${counts.length}")
    val bytes = Files.readAllBytes(f)
    val starts = blockStarts(bytes, header)
    bytes(starts(2) + 10) = (bytes(starts(2) + 10) ^ 0x55).toByte
    Files.write(f, bytes)
    Files.createFile(dir.resolve("killed-writer.seq"))
    (dir.toString, counts.take(2).sum)
  }

  /** Offsets of the escape + sync word that opens each block. */
  private def blockStarts(bytes: Array[Byte], header: SeqHeader): IndexedSeq[Int] =
    (header.dataStart.toInt until bytes.length - 20).filter { i =>
      (0 until 4).forall(j => bytes(i + j) == -1) &&
        (0 until 16).forall(j => bytes(i + 4 + j) == header.sync(j))
    }

  private def scans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan: SparkPlan) { case b: BatchScanExec => b }

  private def metric(df: DataFrame, name: String): Long =
    scans(df).flatMap(_.metrics.get(name)).map(_.value).sum

  private def read(dir: String, mode: String): DataFrame =
    spark.read.format("seqfile").option("mode", mode).load(dir)

  for ((valueType, columnar) <- Seq((WritableType.TextW, true), (WritableType.NullW, false))) {
    val reader = if (columnar) "columnar" else "row"

    test(s"$reader reader: PERMISSIVE counts the block it stopped at and the skipped file") {
      val (dir, goodPrefix) = corruptedDir(valueType)
      val df = read(dir, "permissive")
      assert(df.collect().length.toLong === goodPrefix)
      assert(scans(df).map(_.supportsColumnar) === Seq(columnar))
      assert(metric(df, SeqScanMetrics.MalformedBlocksDropped) === 1L)
      assert(metric(df, SeqScanMetrics.UnreadableFilesSkipped) === 1L)
    }

    test(s"$reader reader: DROPMALFORMED counts the skipped block and file") {
      val (dir, goodPrefix) = corruptedDir(valueType)
      val df = read(dir, "dropmalformed")
      val n = df.collect().length.toLong
      assert(n > goodPrefix && n < Rows)
      assert(scans(df).map(_.supportsColumnar) === Seq(columnar))
      assert(metric(df, SeqScanMetrics.MalformedBlocksDropped) === 1L)
      assert(metric(df, SeqScanMetrics.UnreadableFilesSkipped) === 1L)
    }
  }

  test("a clean read reports zero drops; FAILFAST fails instead of dropping") {
    val dir = Files.createTempDirectory("seqclean")
    val w = new SeqFileWriter(Files.newOutputStream(dir.resolve("ok.seq")),
      WritableType.LongW, WritableType.TextW, syncSeed = 5L)
    (0 until 100).foreach(i => w.append(i.toLong, s"v$i"))
    w.close()
    val df = read(dir.toString, "dropmalformed")
    assert(df.collect().length === 100)
    assert(metric(df, SeqScanMetrics.MalformedBlocksDropped) === 0L)
    assert(metric(df, SeqScanMetrics.UnreadableFilesSkipped) === 0L)
    val (bad, _) = corruptedDir(WritableType.TextW)
    intercept[Exception](read(bad, "failfast").collect())
  }
}
