package graft.sources.seqfile

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{SeqFileWriter, WritableType}

/** Reads of a `file:` table go through LocalFileSystem's checksum layer: a
  * byte flipped inside a block, behind the `.crc` file's back, fails a
  * FAILFAST scan with the ChecksumException and is dropped as a malformed
  * block by PERMISSIVE. */
class SeqFileChecksumSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val N = 40000L

  /** A one-file table of many blocks, written through LocalFileSystem so it
    * has a `.crc` file, with one byte flipped halfway in. */
  private lazy val corrupted: String = {
    val dir = Files.createTempDirectory("seqchecksum").toFile
    val data = new File(dir, "data.seq")
    val w = new SeqFileWriter(
      FileSystem.getLocal(new Configuration()).create(new Path(data.toURI)),
      WritableType.LongW, WritableType.TextW, blockSize = 16 * 1024, syncSeed = 9L)
    (0L until N).foreach(i => w.append(i, s"value-$i"))
    w.close()
    assert(new File(dir, s".${data.getName}.crc").isFile, "LocalFileSystem wrote a checksum file")
    val bytes = Files.readAllBytes(data.toPath)
    assert(bytes.length > 4 * 65536, "the flipped byte lies past the header's read-ahead")
    val at = bytes.length / 2
    bytes(at) = (bytes(at) ^ 0x01).toByte
    Files.write(data.toPath, bytes)
    dir.getPath
  }

  private def read(mode: String): DataFrame =
    spark.read.format("seqfile").option("mode", mode).load(corrupted)

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("FAILFAST fails with the ChecksumException") {
    val e = intercept[Exception](read("failfast").collect())
    assert(causes(e).exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("PERMISSIVE drops the block that fails its checksum") {
    val df = read("permissive")
    val rows = df.collect().length
    assert(rows > 0 && rows < N)
    assert(ScanPlans.scanMetric(df, SeqScanMetrics.MalformedBlocksDropped) >= 1L)
  }
}
