package graft.tools

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{IntWritable, SequenceFile, Text}

import graft.core.seqfile._

/** Single-node decode throughput: our core reader vs Hadoop's own
  * `SequenceFile.Reader` on the Hadoop-written golden fixtures — the concrete
  * form of the "match or beat the reference's single-node throughput"
  * target (the reference itself is an unbuildable 2014 Haskell lib; real
  * Hadoop is the strongest available stand-in, and is also what the
  * reference measured itself against in spirit: both decode the same
  * BLOCK+Snappy framing).
  *
  * Run from the repository root: `sbt "runMain graft.tools.DecodeBench"`
  * reads the committed golden fixtures under `src/test/resources/golden`
  * (see `GoldenFixtures` in the tests); an argument names another fixture
  * directory. Prints one JSON line per fixture. No SparkSession: this
  * measures the pure-JVM codec (`core.seqfile`).
  */
object DecodeBench {

  private def timeBest(reps: Int)(f: () => Long): (Double, Long) = {
    var best = Double.MaxValue
    var n = 0L
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      n = f()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, n)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("src/test/resources/golden")
    runOne(s"$dir/text-int.seq") // variable-width (Text/Int)
    runLongDouble(s"$dir/long-double.seq") // fixed-width path
  }

  private def reps: Int = sys.env.getOrElse("SPARK_GRAFT_DECODE_REPS", "15").toInt

  /** Fixed-width fixture (LongWritable/DoubleWritable): bulk-cast decode. */
  private def runLongDouble(fixture: String): Unit = {
    val ours = () => {
      val in = new SeqInput(new LocalSeekableInput(java.nio.file.Paths.get(fixture)))
      val header = SeqHeader.parse(in)
      val stream = SeqStream.openRange(in, header, 0, in.length,
        decodeKey = true, decodeValue = true)
      var n = 0L
      var sink = 0.0
      while (stream.hasNext) {
        val b = stream.next()
        val keys = b.keys.get.asInstanceOf[LongColumn]
        val values = b.values.get.asInstanceOf[DoubleColumn]
        var i = 0
        while (i < b.count) { sink += keys.values(i) + values.values(i); i += 1 }
        n += b.count
      }
      stream.close()
      require(sink != 0.0)
      n
    }
    val hadoop = () => {
      val conf = new Configuration()
      val rd = new SequenceFile.Reader(conf, SequenceFile.Reader.file(new Path(fixture)))
      val k = new org.apache.hadoop.io.LongWritable()
      val v = new org.apache.hadoop.io.DoubleWritable()
      var n = 0L
      var sink = 0.0
      while (rd.next(k, v)) { sink += k.get() + v.get(); n += 1 }
      rd.close()
      require(sink != 0.0)
      n
    }
    ours(); hadoop()
    val (oursSec, n1) = timeBest(reps)(ours)
    val (hadoopSec, n2) = timeBest(reps)(hadoop)
    require(n1 == n2, s"record-count mismatch: ours=$n1 hadoop=$n2")
    println(f"""{"fixture":"long-double.seq","records":$n1,"reps":$reps,""" +
      f""""ours_sec":$oursSec%.4f,"hadoop_sec":$hadoopSec%.4f,""" +
      f""""ours_mrec_s":${n1 / oursSec / 1e6}%.1f,"hadoop_mrec_s":${n2 / hadoopSec / 1e6}%.1f,""" +
      f""""speedup_vs_hadoop":${hadoopSec / oursSec}%.2f}""")
  }

  private def runOne(fixture: String): Unit = {

    // ours: stream decoded blocks, touch every key slice + value
    val ours = () => {
      val in = new SeqInput(new LocalSeekableInput(java.nio.file.Paths.get(fixture)))
      val header = SeqHeader.parse(in)
      val stream = SeqStream.openRange(in, header, 0, in.length,
        decodeKey = true, decodeValue = true)
      var n = 0L
      var sink = 0L
      while (stream.hasNext) {
        val b = stream.next()
        val keys = b.keys.get.asInstanceOf[BinaryColumn]
        val values = b.values.get.asInstanceOf[IntColumn]
        var i = 0
        while (i < b.count) {
          sink += keys.lens(i) + values.values(i)
          i += 1
        }
        n += b.count
      }
      stream.close()
      require(sink != 0)
      n
    }

    // Hadoop's reader on the same file, touching the same data
    val hadoop = () => {
      val conf = new Configuration()
      val rd = new SequenceFile.Reader(conf,
        SequenceFile.Reader.file(new Path(fixture)))
      val k = new Text(); val v = new IntWritable()
      var n = 0L
      var sink = 0L
      while (rd.next(k, v)) {
        sink += k.getLength + v.get()
        n += 1
      }
      rd.close()
      require(sink != 0)
      n
    }

    // warm both paths (JIT + page cache)
    ours(); hadoop()
    val (oursSec, n1) = timeBest(reps)(ours)
    val (hadoopSec, n2) = timeBest(reps)(hadoop)
    require(n1 == n2, s"record-count mismatch: ours=$n1 hadoop=$n2")
    val oursMrps = n1 / oursSec / 1e6
    val hadoopMrps = n2 / hadoopSec / 1e6
    println(f"""{"fixture":"text-int.seq","records":$n1,"reps":$reps,""" +
      f""""ours_sec":$oursSec%.4f,"hadoop_sec":$hadoopSec%.4f,""" +
      f""""ours_mrec_s":$oursMrps%.1f,"hadoop_mrec_s":$hadoopMrps%.1f,""" +
      f""""speedup_vs_hadoop":${hadoopSec / oursSec}%.2f}""")
  }
}
