package graft.sources.seqfile

import java.io.ByteArrayOutputStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.seqfile._

/** The block reader decodes every block into one set of reused buffers, so
  * a block is valid until the next `next()`. Files whose blocks shrink and
  * then grow past every earlier block (a 0-record block among them) must
  * decode to exactly the written records through the core stream and the
  * connector; a small corrupt block read after a large one, when the
  * buffers are larger than it, must still fail every size check; and a
  * decode must allocate well under the bytes it decompresses. */
class SeqBlockReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val SyncSeed = 29L

  private final case class Layout(name: String, keyType: WritableType, valueType: WritableType,
                                  codec: SeqBlockCodec)

  /** Header plus one block of `recs`, as our writer emits them; the header
    * alone when `recs` is empty. */
  private def written(l: Layout, recs: Seq[(Any, Any)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new SeqFileWriter(out, l.keyType, l.valueType, blockSize = Int.MaxValue,
      syncSeed = SyncSeed, codec = l.codec)
    recs.foreach { case (k, v) => w.append(k, v) }
    w.close()
    out.toByteArray
  }

  private def header(l: Layout): Array[Byte] = written(l, Nil)

  private def block(l: Layout, recs: Seq[(Any, Any)]): Array[Byte] =
    written(l, recs).drop(header(l).length)

  /** A block framed by hand: escape, sync, record count, then four already
    * framed buffers, each behind its vint length. */
  private def rawBlock(l: Layout, n: Int, buffers: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](-1, -1, -1, -1))
    out.write(header(l).takeRight(SeqHeader.SyncSize))
    VInt.write(out, n.toLong)
    buffers.foreach { b => VInt.write(out, b.length.toLong); out.write(b) }
    out.toByteArray
  }

  private def emptyBlock(l: Layout): Array[Byte] =
    rawBlock(l, 0, Seq.fill(4)(l.codec.compress(Array.emptyByteArray, 0)))

  private def writeFile(parts: Seq[Array[Byte]]): Path = {
    val dir = Files.createTempDirectory("seqreuse")
    val f = dir.resolve("data.seq")
    Files.write(f, parts.reduce(_ ++ _))
    f
  }

  // -- files whose blocks shrink, then grow past every earlier block --------

  /** (records, value length) per block; 0 records is the hand-framed empty
    * block. The last block is larger than all before it. */
  private val Shape = Seq((300, 64), (40, 20), (0, 0), (5, 12), (1200, 100), (10, 9), (3000, 150))

  private def key(l: Layout, i: Int): Any =
    if (l.keyType == WritableType.LongW) i.toLong * 3 - 500 else f"k$i%06d" + "x" * (i % 13)

  /** Values repeat within a block (for groupBy) and carry a two-byte UTF-8
    * character in every other block. */
  private def value(b: Int, i: Int, len: Int): String = {
    val prefix = s"v${i % 17}-"
    val fill = if (b % 2 == 0) "é" else ('a' + b).toChar.toString
    prefix + fill * math.max(0, len - prefix.length)
  }

  /** The file's bytes and its records, block by block. */
  private def shrinkGrowFile(l: Layout): (Path, Seq[Seq[(Any, Any)]]) = {
    var next = 0
    val blocks = Shape.zipWithIndex.map { case ((n, len), b) =>
      val recs = (next until next + n).map(i => (key(l, i), value(b, i, len): Any))
      next += n
      recs
    }
    val parts = header(l) +: blocks.map(recs => if (recs.isEmpty) emptyBlock(l) else block(l, recs))
    (writeFile(parts), blocks)
  }

  private val layouts = for {
    (kt, vt) <- Seq((WritableType.LongW, WritableType.TextW), (WritableType.TextW, WritableType.TextW))
    (cn, codec) <- Seq(("snappy", SeqCodecs.SnappyCodec), ("lz4", SeqCodecs.Lz4Codec),
                       ("gzip", SeqCodecs.GzipCodec))
  } yield Layout(s"${kt.javaClass.split('.').last}/${vt.javaClass.split('.').last} $cn", kt, vt, codec)

  private def cell(c: ColumnData, i: Int): Any = c match {
    case LongColumn(a) => a(i)
    case b: BinaryColumn => b.sliceString(i)
    case other => fail(s"unexpected column $other")
  }

  for (l <- layouts) {
    test(s"${l.name}: SeqFile.open decodes blocks that shrink and grow exactly") {
      val (f, blocks) = shrinkGrowFile(l)
      for ((decodeKey, decodeValue) <- Seq((true, false), (false, true), (true, true))) {
        val s = SeqFile.open(f.toString, decodeKey, decodeValue)
        val got = ArrayBuffer.empty[Seq[(Option[Any], Option[Any])]]
        try while (s.hasNext) {
          val b = s.next()
          // asking for the next block must not touch this one: it stays
          // valid until next()
          s.hasNext
          assert(b.keys.isDefined === decodeKey && b.values.isDefined === decodeValue)
          got += (0 until b.count).map(i =>
            (b.keys.map(cell(_, i)), b.values.map(cell(_, i))))
        } finally s.close()
        val want = blocks.map(_.map { case (k, v) =>
          (Some(k).filter(_ => decodeKey), Some(v).filter(_ => decodeValue)) })
        assert(got.map(_.length) === Shape.map(_._1), s"keys=$decodeKey values=$decodeValue")
        assert(got.toSeq === want, s"keys=$decodeKey values=$decodeValue")
      }
    }

    test(s"${l.name}: every row of a connector batch reads correctly until the next next()") {
      val (f, blocks) = shrinkGrowFile(l)
      val schema = SeqFileSchema.schemaFor(l.keyType, l.valueType)
      val reader = new SeqFileColumnarPartitionReader(
        SeqFilePartition(f.toString, 0L, Files.size(f)), schema, schema, ReadMode.FailFast,
        new Configuration())
      def row(b: org.apache.spark.sql.vectorized.ColumnarBatch, i: Int): (Any, Any) = {
        val k: Any =
          if (l.keyType == WritableType.LongW) b.column(0).getLong(i)
          else b.column(0).getUTF8String(i).toString
        (k, b.column(1).getUTF8String(i).toString)
      }
      val got = ArrayBuffer.empty[Seq[(Any, Any)]]
      try while (reader.next()) {
        val b = reader.get()
        val forward = (0 until b.numRows()).map(row(b, _))
        val backward = (b.numRows() - 1 to 0 by -1).map(row(reader.get(), _)).reverse
        assert(forward === backward)
        got += forward
      } finally reader.close()
      assert(got.toSeq === blocks)
    }

    test(s"${l.name}: format(seqfile) collect, ORDER BY value and groupBy(value) are exact") {
      val (f, blocks) = shrinkGrowFile(l)
      val recs = blocks.flatten
      val df = spark.read.format("seqfile").load(f.getParent.toString)
      val collected = df.collect().map(r => (r.get(0), r.get(1): Any)).toSeq
      assert(collected.sortBy(_.toString) === recs.sortBy(_.toString))
      val ordered = df.orderBy("value", "key").select("value").collect().map(_.getString(0)).toSeq
      assert(ordered === recs.map(_._2.asInstanceOf[String]).sorted)
      val groups = df.groupBy("value").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(groups === recs.groupBy(_._2.asInstanceOf[String]).map { case (v, rs) => v -> rs.length.toLong })
    }
  }

  // -- corruption after growth ---------------------------------------------

  private val longText = Layout("LongWritable/Text snappy", WritableType.LongW, WritableType.TextW,
    SeqCodecs.SnappyCodec)

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def vints(xs: Seq[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    xs.foreach(x => VInt.write(out, x.toLong))
    out.toByteArray
  }

  private val Large = 2000
  private val Small = 5

  /** A large good block, so every buffer grows, then a small block whose
    * raw buffers `tamper` may change, then a good block. */
  private def corruptAfterGrowth(
      tamper: (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) => Seq[Array[Byte]]): Path = {
    val large = (0 until Large).map(i => (i.toLong: Any, value(1, i, 100): Any))
    val smallValues = (0 until Small).map(i => value(2, i, 12))
    val keys = smallValues.indices.flatMap(i => java.nio.ByteBuffer.allocate(8).putLong(i.toLong).array())
    val serialized = smallValues.map { v =>
      val b = v.getBytes("UTF-8"); vints(Seq(b.length)) ++ b }
    val parts = tamper(vints(Seq.fill(Small)(8)), keys.toArray,
      vints(serialized.map(_.length)), serialized.reduce(_ ++ _))
    writeFile(Seq(header(longText), block(longText, large), rawBlock(longText, Small, parts),
      block(longText, Seq((7L, "after")))))
  }

  private def framed(raw: Array[Byte]): Array[Byte] = SnappyBlockCodec.compress(raw, raw.length)

  private val corruptions: Seq[(String, Path)] = Seq(
    "a lengths buffer whose sum overruns the data" -> corruptAfterGrowth { (kl, k, vl, v) =>
      val lens = Seq.fill(Small - 1)(v.length / Small) :+ (v.length - (Small - 1) * (v.length / Small) + 7)
      Seq(kl, k, vints(lens), v).map(framed)
    },
    "a Snappy chunk that expands past its declared total" -> corruptAfterGrowth { (kl, k, vl, v) =>
      // the chunk holds 10 bytes more than the declared total; the lengths
      // agree with the total, so only the codec can tell
      val chunk = org.xerial.snappy.Snappy.compress(v)
      val overrun = be32(v.length - 10) ++ be32(chunk.length) ++ chunk
      val lens = Seq.fill(Small - 1)(v.length / Small) :+ (v.length - (Small - 1) * (v.length / Small) - 10)
      Seq(framed(kl), framed(k), framed(vints(lens)), overrun)
    },
    "a fixed-width buffer one byte short" -> corruptAfterGrowth { (kl, k, vl, v) =>
      Seq(kl, k.dropRight(1), vl, v).map(framed)
    })

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def read(f: Path, mode: String): DataFrame =
    spark.read.format("seqfile").option("mode", mode).load(f.getParent.toString)

  for ((name, f) <- corruptions) {
    test(s"after a large block, $name fails FAILFAST with SeqFileFormatException") {
      val s = SeqFile.open(f.toString)
      try {
        assert(s.next().count === Large)
        intercept[SeqFileFormatException](s.next())
      } finally s.close()
      val e = intercept[Exception](read(f, "failfast").collect())
      assert(causes(e).exists(_.isInstanceOf[SeqFileFormatException]), e)
    }

    test(s"after a large block, PERMISSIVE counts $name as a dropped block") {
      val df = read(f, "permissive")
      assert(df.collect().length === Large)
      assert(ScanPlans.scanMetric(df, SeqScanMetrics.MalformedBlocksDropped) === 1L)
    }
  }

  test("a Text record that starts past the decoded bytes fails as SeqFileFormatException") {
    // the first record's length consumes all three bytes; the second starts
    // at the end of the decoded data, which a reused buffer may extend
    val data = Array[Byte](2, 'h', 'i', 9, 9, 9)
    val e = intercept[SeqFileFormatException](
      ColumnDecoder.decode(WritableType.TextW, 2, Array(3, 1), data, 3))
    assert(e.getMessage.contains("invalid slice"))
    intercept[SeqFileFormatException](
      ColumnDecoder.decode(WritableType.TextW, 2, Array(3, 1), data.take(3)))
  }

  // -- allocation ------------------------------------------------------------

  test("decoding a 40-block Long/Text file allocates under half its decompressed bytes") {
    val dir = Files.createTempDirectory("seqalloc")
    val f = dir.resolve("data.seq")
    val w = new SeqFileWriter(Files.newOutputStream(f), WritableType.LongW, WritableType.TextW,
      blockSize = 64 * 1024, syncSeed = SyncSeed)
    val rnd = new java.util.Random(41)
    var decompressed = 0L
    var i = 0L
    var blocks = 0
    var buffered = 0 // key and value bytes of the open block: the writer flushes at blockSize
    while (blocks < 40) {
      val v = Iterator.fill(64 + rnd.nextInt(64))(('a' + rnd.nextInt(26)).toChar).mkString
      w.append(i, v)
      // key length vint, key, value length vint, then the Text's own vint and bytes
      val text = VInt.encodedSize(v.length.toLong) + v.length
      decompressed += 1 + 8 + VInt.encodedSize(text.toLong) + text
      buffered += 8 + text
      if (buffered >= 64 * 1024) { blocks += 1; buffered = 0 }
      i += 1
    }
    w.close()

    def decode(): Long = {
      val s = SeqFile.open(f.toString)
      var sink = 0L
      var n = 0
      try while (s.hasNext) {
        val b = s.next()
        val ks = b.keys.get.asInstanceOf[LongColumn].values
        val vs = b.values.get.asInstanceOf[BinaryColumn]
        var r = 0
        while (r < b.count) { sink += ks(r) + vs.lens(r); r += 1 }
        n += 1
      } finally s.close()
      assert(n === 40)
      sink
    }
    decode() // class loading and first-call set-up are not what is measured
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    decode()
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    val ratio = allocated.toDouble / decompressed
    info(f"allocated $allocated bytes for $decompressed decompressed bytes: ratio $ratio%.3f")
    assert(ratio < 0.5, f"allocated $allocated bytes, $ratio%.3f of $decompressed decompressed")
  }
}
