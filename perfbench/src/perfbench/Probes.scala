package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}

import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.api.SequenceFiles
import graft.core.seqfile._
import graft.functions.HashKernels
import graft.operators.Dedup
import graft.sources.seqfile.{ReadMode, SeqFileColumnarPartitionReader, SeqFilePartition}

/** Single-layer probes, run after the traced loop. Each times calls into
  * one layer's public functions, in the benchmark thread, on the
  * workload's own data. */
final class Probes(ctx: Ctx, w: Workload) {
  private val t = ctx.tracer
  private val minSeconds = if (ctx.tiny) 0.01 else 0.3
  private val sampleSize = ctx.size(20000, 2000)
  private val file = w.dataFiles.head

  /** Median rate over repeated passes, each pass returning its unit count;
    * passes repeat for `minSeconds` and at least three times. */
  private def rate(name: String, layer: String)(pass: => Double): Double = t.span(name, layer) {
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    val until = System.nanoTime() + (minSeconds * 1e9).toLong
    while (rates.length < 3 || System.nanoTime() < until) {
      val t0 = System.nanoTime()
      val units = pass
      rates += units / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.median(rates.toSeq)
  }

  private var sink = 0L

  private def decodePass(decodeValue: Boolean): Double = {
    val s = SeqFile.open(file, decodeKey = true, decodeValue = decodeValue)
    var n = 0L
    try s.foreach { b =>
      b.keys.get match { case LongColumn(ks) => sink += ks(0) case _ => () }
      b.values.foreach { case c: BinaryColumn => sink += c.lens.sum case _ => () }
      n += b.count
    } finally s.close()
    n.toDouble
  }

  /** The workload's first `sampleSize` records and the raw value buffers of
    * the blocks they came from. */
  private lazy val (keys, values, rawBlocks) = {
    val s = SeqFile.open(file)
    val ks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val vs = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val raw = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    try while (s.hasNext && ks.length < sampleSize) {
      val b = s.next()
      val k = b.keys.get.asInstanceOf[LongColumn].values
      val v = b.values.get.asInstanceOf[BinaryColumn]
      var i = 0
      while (i < b.count && ks.length < sampleSize) { ks += k(i); vs += v.slice(i); i += 1 }
      val end = v.starts(b.count - 1) + v.lens(b.count - 1)
      raw += java.util.Arrays.copyOf(v.bytes, end)
    } finally s.close()
    (ks.toArray, vs.toArray, raw.toArray)
  }

  private def writeSample(path: String): Long = {
    val out = new SeqFileWriter(new BufferedOutputStream(new FileOutputStream(path), 1 << 16),
      WritableType.LongW, WritableType.TextW, blockSize = w.blockSize)
    var i = 0
    while (i < keys.length) { out.append(keys(i), values(i)); i += 1 }
    out.close()
    keys.length.toLong
  }

  def codec(): Map[String, Double] = {
    val rawMb = rawBlocks.map(_.length).sum / 1e6
    val compressed = rawBlocks.map(r => SeqCodecs.SnappyCodec.compress(r, r.length))
    val probeFile = s"${ctx.tmp}/probe.seq"
    Map(
      "core.seqfile.decode_rec_per_s" -> rate("decode", "core.seqfile")(decodePass(true)),
      "core.seqfile.decode_keys_rec_per_s" -> rate("decode_keys", "core.seqfile")(decodePass(false)),
      "core.seqfile.frame_rec_per_s" ->
        rate("frame", "core.seqfile")(SeqFile.recordCount(file).toDouble),
      "core.seqfile.snappy_compress_mb_per_s" -> rate("snappy_compress", "core.seqfile") {
        rawBlocks.foreach(r => sink += SeqCodecs.SnappyCodec.compress(r, r.length).length)
        rawMb
      },
      "core.seqfile.snappy_decompress_mb_per_s" -> rate("snappy_decompress", "core.seqfile") {
        compressed.foreach(c => sink += SeqCodecs.SnappyCodec.decompress(c).length)
        rawMb
      },
      "core.seqfile.encode_rec_per_s" ->
        rate("encode", "core.seqfile")(writeSample(probeFile).toDouble),
      "core.seqfile.compressed_mb" -> w.dataFiles.map(new File(_).length()).sum / 1e6,
      "core.seqfile.raw_mb" -> w.payloadBytes / 1e6)
  }

  def connectorReader(): Map[String, Double] = {
    val schema = StructType(Seq(StructField("key", LongType), StructField("value", StringType)))
    val len = new File(file).length()
    Map("sources.seqfile.reader_rec_per_s" -> rate("reader", "sources.seqfile") {
      val r = new SeqFileColumnarPartitionReader(SeqFilePartition(file, 0L, len),
        schema, schema, ReadMode.FailFast)
      var n = 0L
      try while (r.next()) {
        val b = r.get()
        val kc = b.column(0)
        val vc = b.column(1)
        var i = 0
        while (i < b.numRows()) { sink += kc.getLong(i) + vc.getUTF8String(i).numBytes(); i += 1 }
        n += b.numRows()
      } finally r.close()
      n.toDouble
    })
  }

  def kernels(): Map[String, Double] = {
    val docs = values.map(v => UTF8String.fromBytes(v))
    val shingles = docs.map(HashKernels.wordShingles(_, 5))
    Map(
      "functions.fingerprint64_docs_per_s" -> rate("fingerprint64", "functions") {
        docs.foreach(d => sink += HashKernels.fingerprint64(d))
        docs.length.toDouble
      },
      "functions.word_shingles_docs_per_s" -> rate("word_shingles", "functions") {
        docs.foreach(d => sink += HashKernels.wordShingles(d, 5).numElements())
        docs.length.toDouble
      },
      "functions.minhash_sig_docs_per_s" -> rate("minhash_sig", "functions") {
        shingles.foreach(s => sink += HashKernels.minhashSig(s, 48).numElements())
        docs.length.toDouble
      })
  }

  /** Seconds of one call, as a span. */
  private def timed[T](name: String, layer: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = t.span(name, layer)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Connector write path on the sample: two appends with zone maps and
    * Blooms, then a compaction. */
  def connectorWrite(): Map[String, Double] = {
    val sample = ctx.read(s"${ctx.tmp}/probe.seq")
    val dir = s"${ctx.tmp}/probe-write"
    val opts = Map("bloomKeys" -> "true", "blockSize" -> w.blockSize.toString)
    val (_, writeS) = timed("write", "sources.seqfile") {
      (0 until 2).foreach(_ => sample.write.format("seqfile").mode("append").options(opts).save(dir))
    }
    val (files, compactS) = timed("compact", "sources.seqfile") {
      SequenceFiles.compact(ctx.spark, dir, writeOptions = opts)
    }
    val sidecars = Gen.listing(new File(dir)).collect { case (p, l) if p.endsWith(".zmap") => l }.sum
    Map(
      "sources.seqfile.write_s" -> writeS,
      "sources.seqfile.compact_s" -> compactS,
      "sources.seqfile.sidecar_bytes" -> sidecars.toDouble,
      "sources.seqfile.files_after_compact" -> files.toDouble)
  }

  /** Dedup operators on the first records of the sample. */
  def operators(): Map[String, Double] = {
    val sample = ctx.read(s"${ctx.tmp}/probe.seq").filter(s"key < ${keys(math.min(keys.length, 1000) - 1)}")
    val (g, exactS) = timed("exact_dedup", "operators") {
      Dedup.exactDedup(sample, "key", "value").filter("group_size > 1")
        .select("rep_id").distinct().count()
    }
    val (p, minhashS) = timed("minhash_pairs", "operators") {
      Dedup.minHashLshPairs(sample, "key", "value", 5, 0.8).agg(count(lit(1))).head().getLong(0)
    }
    Map(
      "operators.dedup.exact_s" -> exactS,
      "operators.dedup.minhash_s" -> minhashS,
      "operators.dedup.dup_groups" -> g.toDouble,
      "operators.dedup.pairs_out" -> p.toDouble)
  }

  def consumed: Long = sink
}
