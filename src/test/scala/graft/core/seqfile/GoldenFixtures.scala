package graft.core.seqfile

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FSDataOutputStream
import org.apache.hadoop.io.{DoubleWritable, IntWritable, LongWritable, SequenceFile, Text, Writable}
import org.apache.hadoop.io.SequenceFile.CompressionType
import org.apache.hadoop.io.compress.SnappyCodec

/** The golden interop fixtures: SequenceFiles written by Hadoop's own
  * `SequenceFile.Writer` (BLOCK compression, `SnappyCodec`, default
  * settings), the way the reference's `tests/MakeSequenceFiles.java:16-27`
  * made its two `tests/` fixtures. Our reader must decode them exactly.
  *
  *  - `text-int.seq`: 100,000 records, `Text` keys `F%07d` for 0..99999 in
  *    order, `IntWritable` values `new java.util.Random(42).nextInt(101)`,
  *    i.e. uniform in [0, 100].
  *  - `long-double.seq`: 100,000 records, `LongWritable` keys 0..99999 in
  *    order, `DoubleWritable` values `new java.util.Random(43).nextDouble()`,
  *    uniform in [0, 1).
  *
  * Hadoop closes a block once its key plus value buffers reach
  * `io.seqfile.compress.blocksize` (1,000,000 bytes by default). A text-int
  * record takes 13 bytes (1 + 8 for the Text key, 4 for the int) and a
  * long-double record 16, so both files hold exactly 2 blocks: 76,924 +
  * 23,076 and 62,500 + 37,500 records.
  *
  * The writer draws a fresh random sync marker on every run, so the bytes
  * differ from run to run: the fixtures are committed, and this generator
  * documents and reproduces their content. Regenerate with
  *
  *     sbt "Test/runMain graft.core.seqfile.GoldenFixtures src/test/resources/golden"
  */
object GoldenFixtures {

  val Records = 100000
  /** Hadoop's `io.seqfile.compress.blocksize` default. */
  val HadoopBlockBytes = 1000000

  def textIntKey(i: Int): String = f"F$i%07d"
  def textIntValues: Iterator[Int] = {
    val rnd = new java.util.Random(42)
    Iterator.fill(Records)(rnd.nextInt(101))
  }
  def longDoubleValues: Iterator[Double] = {
    val rnd = new java.util.Random(43)
    Iterator.fill(Records)(rnd.nextDouble())
  }

  private def resource(name: String): String =
    Paths.get(getClass.getResource(s"/golden/$name").toURI).toString

  /** Paths of the committed fixtures (test classpath). */
  lazy val textInt: String = resource("text-int.seq")
  lazy val longDouble: String = resource("long-double.seq")

  private def write[K <: Writable, V <: Writable](path: String, key: K, value: V)
                                                (fill: (K, V, Int) => Unit): Unit = {
    val out = new FSDataOutputStream(new FileOutputStream(path), null)
    val w = SequenceFile.createWriter(new Configuration(),
      SequenceFile.Writer.stream(out),
      SequenceFile.Writer.keyClass(key.getClass),
      SequenceFile.Writer.valueClass(value.getClass),
      SequenceFile.Writer.compression(CompressionType.BLOCK, new SnappyCodec))
    try (0 until Records).foreach { i => fill(key, value, i); w.append(key, value) }
    finally { w.close(); out.close() }
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args.headOption.getOrElse("src/test/resources/golden"))
    Files.createDirectories(dir)
    val ints = textIntValues.toArray
    write(dir.resolve("text-int.seq").toString, new Text, new IntWritable) { (k, v, i) =>
      k.set(textIntKey(i)); v.set(ints(i))
    }
    val doubles = longDoubleValues.toArray
    write(dir.resolve("long-double.seq").toString, new LongWritable, new DoubleWritable) {
      (k, v, i) => k.set(i.toLong); v.set(doubles(i))
    }
    println(s"wrote text-int.seq and long-double.seq to $dir")
  }
}
