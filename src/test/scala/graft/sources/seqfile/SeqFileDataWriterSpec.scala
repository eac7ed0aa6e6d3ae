package graft.sources.seqfile

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The DataWriter's task contract, driven directly as Spark drives it:
  * write rows, then commit() or abort(). */
class SeqFileDataWriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val conf = new Configuration()
  private val flat = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))
  private val parted = flat.add(StructField("source", StringType, nullable = false))

  private def row(k: Long, source: String): InternalRow =
    InternalRow(k, UTF8String.fromString(s"v$k"), UTF8String.fromString(source))

  /** Every file under `dir`, hidden ones included but not the local file
    * system's `.crc` checksums, relative to `dir`. */
  private def tree(dir: String): Seq[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir)).map(_.getPath.stripPrefix(dir + "/"))
      .filterNot(_.endsWith(".crc")).sorted
  }

  private def inProgress(dir: String): Seq[String] =
    tree(dir).filter(p => new File(p).getName.startsWith(".inprogress-"))

  test("a flat task with no rows commits one header-only file that reads as 0 rows") {
    val dir = Files.createTempDirectory("seqdw-empty").toString
    val w = new SeqFileDataWriter(flat, dir, 0, 0L, conf)
    val msg = w.commit().asInstanceOf[SeqFileCommitMessage]
    w.close()
    assert(msg.paths.size === 1)
    val file = new File(new Path(msg.paths.head).toUri.getPath)
    assert(file.isFile && file.length() > 0, "the header is written")
    assert(tree(dir) === Seq(file.getName))
    assert(spark.read.format("seqfile").load(dir).count() === 0L)
  }

  test("abort leaves no in-progress file, flat or partitioned") {
    val flatDir = Files.createTempDirectory("seqdw-abort-flat").toString
    val f = new SeqFileDataWriter(flat, flatDir, 0, 0L, conf)
    f.write(InternalRow(1L, UTF8String.fromString("a")))
    assert(inProgress(flatDir).size === 1)
    f.abort(); f.close()
    assert(tree(flatDir).isEmpty)

    val partDir = Files.createTempDirectory("seqdw-abort-parts").toString
    val p = new SeqFileDataWriter(parted, partDir, 0, 0L, conf, Seq("source"))
    p.write(row(1L, "a")); p.write(row(2L, "b")); p.write(row(3L, "a"))
    assert(inProgress(partDir).map(new File(_).getParent).sorted ===
      Seq("source=a", "source=b"))
    p.abort(); p.close()
    assert(inProgress(partDir).isEmpty && tree(partDir).isEmpty)
  }

  test("a failed rename of the second leaf removes the first leaf's final file") {
    val dir = Files.createTempDirectory("seqdw-rollback").toString
    val w = new SeqFileDataWriter(parted, dir, 0, 0L, conf, Seq("source"))
    w.write(row(1L, "a")); w.write(row(2L, "b"))
    val second = inProgress(dir).filter(_.startsWith("source=b/"))
    assert(second.size === 1)
    assert(FileSystem.getLocal(conf).delete(new Path(dir, second.head), false))
    intercept[java.io.IOException](w.commit())
    w.abort(); w.close()
    assert(tree(dir).isEmpty, "no final part file or sidecar may survive")
  }
}
