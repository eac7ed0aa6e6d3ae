package graft.sources.seqfile

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.SeqFileFormatException

/** The write's schema and numeric options are checked on the driver,
  * before any task runs: a bad write fails with an error naming what is
  * wrong, not a task failure wrapped in `SparkException: Job aborted`. */
class SeqFileWriteChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def pairs = Seq((1L, "a"), (2L, "b")).toDF("key", "value")

  test("a partition column of an unsupported type fails on the driver") {
    val out = Files.createTempDirectory("seqcheck-part").toString
    val e = intercept[IllegalArgumentException] {
      Seq((1L, "a", 0.5)).toDF("key", "value", "score")
        .write.format("seqfile").mode("overwrite").partitionBy("score").save(out)
    }
    assert(e.getMessage.contains("unsupported partition column type DoubleType"))
    assert(e.getMessage.contains("score"))
  }

  test("a data column without a Writable mapping fails on the driver") {
    val out = Files.createTempDirectory("seqcheck-type").toString
    val e = intercept[SeqFileFormatException] {
      Seq((1L, java.sql.Date.valueOf("2020-01-01"))).toDF("key", "value")
        .write.format("seqfile").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("no Writable mapping for Spark type DateType"))
  }

  test("blockSize and bloomFpp parse failures name the option") {
    val out = Files.createTempDirectory("seqcheck-opts").toString
    val bs = intercept[IllegalArgumentException] {
      pairs.write.format("seqfile").mode("overwrite").option("blockSize", "abc").save(out)
    }
    assert(bs.getMessage.contains("blockSize") && bs.getMessage.contains("abc"))
    val fpp = intercept[IllegalArgumentException] {
      pairs.write.format("seqfile").mode("overwrite")
        .option("bloomKeys", "true").option("bloomFpp", "one percent").save(out)
    }
    assert(fpp.getMessage.contains("bloomFpp") && fpp.getMessage.contains("one percent"))
  }

  test("a third column without partitionBy fails on the driver") {
    val out = Files.createTempDirectory("seqcheck-cols").toString
    val e = intercept[IllegalArgumentException] {
      Seq((1L, "a", "x")).toDF("key", "value", "extra")
        .write.format("seqfile").mode("overwrite").save(out)
    }
    assert(e.getMessage.contains("exactly 2 data columns"))
  }
}
