package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SparkEntry.freeze serves its input frame only when that frame is
  * stored bytes; a computed frame is served from the frozen file, so a
  * frozen gate always reads the values its oracle replays. */
class FreezeGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tok = System.nanoTime()

  test("a frozen aggregate keeps its frozen values after its source is overwritten") {
    val src = java.nio.file.Files.createTempDirectory("freeze-src").toString + "/t"
    spark.range(10).toDF("x").write.parquet(src)
    val agg = spark.read.parquet(src).agg(sum(col("x")).as("s"))
    val frozen = SparkEntry.freeze(agg, "spec_freeze_guard", "agg", 1L, tok)
    spark.range(100).toDF("x").write.mode("overwrite").parquet(src)
    assert(frozen.collect().map(_.getLong(0)).toSeq === Seq(45L))
  }

  test("stored frames (file scan, renamed local relation) are served as-is") {
    import spark.implicits._
    val local = Seq((0L, 1.5), (1L, 2.5)).toDF("i", "v")
    assert(SparkEntry.freeze(local, "spec_freeze_guard", "local", 2L, tok) eq local)
    val src = java.nio.file.Files.createTempDirectory("freeze-scan").toString
    local.write.mode("overwrite").parquet(src)
    val scan = spark.read.parquet(src)
    assert(SparkEntry.freeze(scan, "spec_freeze_guard", "scan", 2L, tok) eq scan)
  }
}
