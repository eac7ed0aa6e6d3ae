package graft.sources.seqfile

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{SeqFileWriter, WritableType}

/** Split and trigger sizes must be positive: zero or negative values fail
  * with an IllegalArgumentException naming the option instead of reading
  * nothing, dividing by zero or stalling the stream. */
class SeqFileReadOptionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val dir: String = {
    val d = Files.createTempDirectory("seqopts")
    val w = new SeqFileWriter(Files.newOutputStream(d.resolve("part-0.seq")),
      WritableType.LongW, WritableType.TextW, syncSeed = 3L)
    (0 until 1000).foreach(i => w.append(i.toLong, s"v$i"))
    w.close()
    d.toString
  }

  /** The IllegalArgumentException somewhere in `e`'s cause chain. */
  private def illegalArgument(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i }
      .getOrElse(fail(s"no IllegalArgumentException in $e"))

  private def assertRejectedInStream(option: String): Unit = {
    val schema = spark.read.format("seqfile").load(dir).schema
    for (bad <- Seq("0", "-1")) {
      val e = intercept[Exception] {
        val q = spark.readStream.format("seqfile").schema(schema)
          .option(option, bad).load(dir)
          .writeStream.format("noop").start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(illegalArgument(e).getMessage.contains(s"$option must be > 0"), bad)
    }
  }

  test("maxSplitBytes must be positive") {
    assert(spark.read.format("seqfile").load(dir).count() === 1000L)
    for (bad <- Seq("0", "-1")) {
      val e = intercept[Exception](
        spark.read.format("seqfile").option("maxSplitBytes", bad).load(dir).collect())
      assert(illegalArgument(e).getMessage.contains("maxSplitBytes must be > 0"), bad)
    }
  }

  test("maxFilesPerTrigger must be positive") {
    assertRejectedInStream("maxFilesPerTrigger")
  }

  test("maxBytesPerTrigger must be positive") {
    assertRejectedInStream("maxBytesPerTrigger")
  }
}
