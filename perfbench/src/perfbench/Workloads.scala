package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.seqfile.{ZoneKey, ZoneMap, WritableType}
import graft.operators.Dedup

/** What one op did: its kind, the work units it completed (records, lookups
  * or documents) and whether its output matched the generator. */
final case class OpResult(kind: String, items: Long, ok: Boolean)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val tmp: String,
                val tracer: Tracer, val cores: Int, val tiny: Boolean) {
  /** `full` normally, `small` in the smoke test. */
  def size(full: Int, small: Int): Int = if (tiny) small else full

  /** Input partitions of each traced query's scans. */
  val inputPartitions = mutable.ArrayBuffer.empty[Int]

  /** Plans and runs one query inside the current op, as traced spans. */
  def run(q: DataFrame): Array[Row] = tracer.span("query", "phase") {
    tracer.span("plan", "spark.plan")(q.queryExecution.executedPlan)
    val rows = tracer.span("execute", "spark.driver")(q.collect())
    if (tracer.on) inputPartitions += Trace.scans(q).map(_.inputPartitions.size).sum
    rows
  }

  def read(paths: String*): DataFrame = spark.read.format("seqfile").load(paths: _*)
}

/** One benchmark workload: generated inputs plus a stream of checked ops. */
trait Workload {
  /** Generates the inputs from the seed, once and untimed. */
  def generate(): Unit
  /** Writes the generated inputs under `dir` through the program and opens
    * them; timed as set-up. */
  def setup(dir: String): Unit
  /** Drops the generated inputs once set-up is done. */
  def release(): Unit
  /** Runs op number `i` (a pure function of the seed and `i`). */
  def op(i: Int): OpResult
  /** Bytes written to disk per byte of generated payload. */
  def bytesPerUserByte: Double
  /** The workload's own seqfiles, for the single-layer probes. */
  def dataFiles: Seq[String]
  /** Data block size the workload writes with. */
  def blockSize: Int
  /** Generated payload bytes of the workload's dataset. */
  def payloadBytes: Long
  /** Per-layer counters gathered by traced ops; absent ones come from probes. */
  def layerMetrics: Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "scan" => new ScanWorkload(ctx)
    case "lookup" => new LookupWorkload(ctx)
    case "dedup" => new DedupWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  def files(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && f.getName.endsWith(".seq") && !f.getName.startsWith("."))
      .map(_.getAbsolutePath).sorted
}

/** Full scans of a sorted LongWritable/Text dataset: nothing is pruned and
  * the shuffle is tiny, so the codec and the connector's columnar batches do
  * almost all of the work. */
final class ScanWorkload(ctx: Ctx) extends Workload {
  // twelve one-split files: whole waves of tasks on 1, 2, 3, 4 or 6 cores
  private val nFiles = 12
  private val perFile = ctx.size(170000, 2000)
  val n: Long = nFiles.toLong * perFile
  private val offset = Gen.below(Gen.hash(ctx.seed, -1L), 1L << 40)
  val blockSize: Int = 256 << 10
  private var dir: String = _
  private var df: DataFrame = _
  private var recs: IndexedSeq[Gen.Records] = IndexedSeq.empty
  var payloadBytes = 0L
  private def keySum = n * offset + n * (n - 1) / 2

  def generate(): Unit = {
    recs = Gen.parallel(nFiles) { f =>
      Gen.records(perFile)(i => offset + f.toLong * perFile + i, k => Gen.text(ctx.seed, k, 70, 100))
    }
    payloadBytes = recs.map(_.payload).sum
  }

  def setup(d: String): Unit = {
    dir = d
    new File(d).mkdirs()
    Gen.parallel(nFiles)(f => Gen.writeFile(s"$d/part-$f.seq", recs(f), blockSize, bloom = false))
    df = ctx.read(d)
  }

  def release(): Unit = recs = IndexedSeq.empty

  /** The three aggregations in turn: key and value, keys only, and
    * `count()`, which reads no column. */
  def op(i: Int): OpResult = {
    val full = ctx.run(df.agg(count(lit(1)), sum(col("key")), sum(octet_length(col("value")))))(0)
    val keys = ctx.run(df.agg(sum(col("key")), max(col("key"))))(0)
    val rows = ctx.run(df.agg(count(lit(1))))(0)
    OpResult("scan", 3 * n, full.getLong(0) == n && full.getLong(1) == keySum &&
      full.getLong(2) == payloadBytes - 8 * n && keys.getLong(0) == keySum &&
      keys.getLong(1) == offset + n - 1 && rows.getLong(0) == n)
  }

  def bytesPerUserByte: Double = Gen.listing(new File(dir)).values.sum.toDouble / payloadBytes
  def dataFiles: Seq[String] = Workloads.files(dir)
}

/** Point and short-range lookups on a key-sorted store of even keys with
  * zone-map and Bloom sidecars. A miss asks for an odd key, which lies
  * inside some block's min/max, so only the Bloom sidecar can prune it. */
final class LookupWorkload(ctx: Ctx) extends Workload {
  private val nFiles = 4
  private val perFile = ctx.size(250000, 4000)
  private val m = nFiles.toLong * perFile
  private val base = 2 * Gen.below(Gen.hash(ctx.seed, -2L), 1L << 40)
  private val rangeLen = 16
  val blockSize: Int = 64 << 10
  private var dir: String = _
  private var df: DataFrame = _
  private var recs: IndexedSeq[Gen.Records] = IndexedSeq.empty
  var payloadBytes = 0L

  private def keyAt(j: Long): Long = base + 2 * j
  private def value(k: Long): Array[Byte] = Gen.text(ctx.seed, k, 40, 80)

  def generate(): Unit = {
    recs = Gen.parallel(nFiles)(f => Gen.records(perFile)(i => keyAt(f.toLong * perFile + i), value))
    payloadBytes = recs.map(_.payload).sum
  }

  def setup(d: String): Unit = {
    dir = d
    new File(d).mkdirs()
    Gen.parallel(nFiles)(f => Gen.writeFile(s"$d/part-$f.seq", recs(f), blockSize, bloom = true))
    df = ctx.read(d)
  }

  def release(): Unit = recs = IndexedSeq.empty

  /** Block key bounds of every file, read back from the sidecars. */
  private def zones: Array[(Long, Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Workloads.files(dir).flatMap { p =>
      ZoneMap.readValidated(conf, new org.apache.hadoop.fs.Path(p),
        WritableType.LongW.javaClass, WritableType.TextW.javaClass, new File(p).length())
        .getOrElse(throw new IllegalStateException(s"no zone map for $p"))
        .map(e => (e.kmin, e.kmax) match {
          case (Some(ZoneKey.L(a)), Some(ZoneKey.L(b))) => (a, b)
          case other => throw new IllegalStateException(s"bad zone bounds $other")
        })
    }.toArray
  }

  private final class KindStats {
    var ops = 0L
    var blocksRead = 0L
    var blocksSkipped = 0L
    var rowsScanned = 0L
    var rowsReturned = 0L
    /** Key bounds of each traced op, for the zone-map candidates. */
    val bounds = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val stats = mutable.LinkedHashMap(
    "hit" -> new KindStats, "miss" -> new KindStats, "range" -> new KindStats)

  /** Ops cycle through hit, miss and range, so every run has the same mix
    * and each kind's pruning figures rest on a third of the traced ops. The
    * mix is chosen, not measured from any traffic. */
  def op(i: Int): OpResult = {
    val pick = i % 3
    val j = Gen.below(Gen.hash(ctx.seed, 8L, i), m - rangeLen)
    val (kind, lo, hi) =
      if (pick == 0) ("hit", keyAt(j), keyAt(j))
      else if (pick == 1) ("miss", keyAt(j) + 1, keyAt(j) + 1)
      else ("range", keyAt(j), keyAt(j + rangeLen - 1))
    val q = if (lo == hi) df.filter(col("key") === lo)
            else df.filter(col("key") >= lo && col("key") <= hi)
    val rows = ctx.run(q).map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val expected: Seq[Long] = kind match {
      case "miss" => Nil
      case _ => (lo to hi by 2).toSeq
    }
    val ok = rows.length == expected.length && rows.zip(expected).forall { case ((k, v), e) =>
      k == e && java.util.Arrays.equals(v.getBytes("UTF-8"), value(e))
    }
    if (ctx.tracer.on) {
      val s = stats(kind)
      s.ops += 1
      s.blocksRead += Trace.scanMetric(q, "seqfileZoneBlocksRead")
      s.blocksSkipped += Trace.scanMetric(q, "seqfileZoneBlocksSkipped")
      s.rowsScanned += Trace.scanMetric(q, "numOutputRows")
      s.rowsReturned += rows.length
      s.bounds += ((lo, hi))
    }
    OpResult(kind, 1, ok)
  }

  def bytesPerUserByte: Double = Gen.listing(new File(dir)).values.sum.toDouble / payloadBytes
  def dataFiles: Seq[String] = Workloads.files(dir)

  /** Zone-map candidate blocks per op of each kind: blocks whose key
    * bounds overlap the op's keys. */
  private lazy val zoneCandidates: Map[String, Long] = {
    val z = zones
    stats.map { case (k, s) =>
      k -> s.bounds.map { case (lo, hi) => z.count { case (a, b) => a <= hi && lo <= b }.toLong }.sum
    }.toMap
  }

  override def layerMetrics: Map[String, Double] = {
    def per(k: String, f: KindStats => Long): Double =
      if (stats(k).ops == 0) 0.0 else f(stats(k)).toDouble / stats(k).ops
    val all = stats.values
    val ops = math.max(1L, all.map(_.ops).sum)
    Map(
      "sources.seqfile.blocks_read_per_hit" -> per("hit", _.blocksRead),
      "sources.seqfile.blocks_read_per_miss" -> per("miss", _.blocksRead),
      "sources.seqfile.blocks_read_per_range" -> per("range", _.blocksRead),
      "sources.seqfile.zone_candidates_per_miss" -> per("miss", _ => zoneCandidates("miss")),
      "sources.seqfile.zone_blocks_read" -> all.map(_.blocksRead).sum.toDouble / ops,
      "sources.seqfile.zone_blocks_skipped" -> all.map(_.blocksSkipped).sum.toDouble / ops,
      "sources.seqfile.rows_scanned_per_row_returned" ->
        all.map(_.rowsScanned).sum.toDouble / math.max(1L, all.map(_.rowsReturned).sum))
  }

  /** Per-kind pruning table for the trace output. */
  def pruningTable: Seq[(String, Long, Double, Double, Double)] = stats.toSeq.map { case (k, s) =>
    val o = math.max(1L, s.ops).toDouble
    (k, s.ops, zoneCandidates(k) / o, s.blocksRead / o, s.rowsScanned / o)
  }
}

/** Exact dedup over a synthetic lake plus MinHash-LSH near-dup pairs over
  * one source file. The generator's plan fixes the expected duplicate
  * groups and pairs: a unit is a base document with optional exact copies
  * (one with doubled whitespace, which normalisation folds) and an optional
  * near-duplicate whose last word differs. */
final class DedupWorkload(ctx: Ctx) extends Workload {
  private val nFiles = 8
  private val nDocs = ctx.size(24000, 4000)
  private val vocab = 20000
  private val shingle = 5
  private val threshold = 0.8
  val blockSize: Int = 1 << 20
  private var unitOf: Array[Int] = _
  private var kindOf: Array[Byte] = _
  private var expCopies = 0L
  private var expGroups = 0L
  private var expPairs = 0L
  private var dir: String = _
  private var lake: DataFrame = _
  private var subset: DataFrame = _
  private var recs: IndexedSeq[Gen.Records] = IndexedSeq.empty
  var payloadBytes = 0L
  private val exactS = mutable.ArrayBuffer.empty[Double]
  private val minhashS = mutable.ArrayBuffer.empty[Double]
  private var groupsOut = 0L
  private var pairsOut = 0L

  private def word(w: Long): Array[Byte] = Gen.text(ctx.seed, (1L << 40) | w, 3, 9)
      .filter(_ != ' ')

  /** Text of unit `u` as document kind `kind`: 0 base, 1 copy, 2 copy with
    * doubled whitespace, 3 near-duplicate. */
  private def doc(u: Int, kind: Int): Array[Byte] = {
    val len = 40 + Gen.below(Gen.hash(ctx.seed, 20L, u), 21).toInt
    val out = new java.io.ByteArrayOutputStream(len * 8)
    var j = 0
    while (j < len) {
      var w = Gen.below(Gen.hash(ctx.seed, u.toLong << 8 | 1, j), vocab)
      if (kind == 3 && j == len - 1)
        w = (w + 1 + Gen.below(Gen.hash(ctx.seed, 21L, u), vocab - 1)) % vocab
      if (j > 0) out.write(' ')
      if (kind == 2 && j == 1) out.write(' ')
      out.write(word(w))
      j += 1
    }
    out.toByteArray
  }

  /** Fixes the plan: unit of every doc id and its kind, and the expected
    * results derived from them. A unit gets an exact copy with odds 1 in 10
    * and a near-duplicate with odds 1 in 10, after the repository's own
    * dedup gates, which plant a replica for every 10th item; every other
    * exact copy has doubled whitespace. These rates are chosen, not
    * measured from a real corpus. */
  private def plan(): Unit = {
    val units = mutable.ArrayBuffer.empty[(Int, Byte)]
    var u = 0
    while (units.length < nDocs) {
      val r = Gen.hash(ctx.seed, 30L, u)
      units += ((u, 0.toByte))
      if (Gen.below(r, 10) == 0) units += ((u, (1 + ((r >>> 8) & 1)).toByte))
      if (Gen.below(r >>> 16, 10) == 0) units += ((u, 3.toByte))
      u += 1
    }
    // a unit's base comes first, so truncation never leaves a copy without it
    val chosen = units.take(nDocs).toArray
    // seeded Fisher-Yates: doc id -> (unit, kind), so copies land in other files
    var i = chosen.length - 1
    while (i > 0) {
      val j = Gen.below(Gen.hash(ctx.seed, 31L, i), i + 1).toInt
      val t = chosen(i); chosen(i) = chosen(j); chosen(j) = t
      i -= 1
    }
    unitOf = chosen.map(_._1)
    kindOf = chosen.map(_._2)
    val members = chosen.zipWithIndex.groupBy(_._1._1)
    expCopies = members.values.map(ms => ms.count(_._1._2 != 3) - 1L).filter(_ > 0).sum
    expGroups = members.values.count(ms => ms.count(_._1._2 != 3) > 1).toLong
    expPairs = members.values.map { ms =>
      val inSubset = ms.count(_._2 % nFiles == 0).toLong
      inSubset * (inSubset - 1) / 2
    }.sum
  }

  def generate(): Unit = {
    plan()
    recs = Gen.parallel(nFiles) { f =>
      val ids = (f until nDocs by nFiles).toArray
      Gen.records(ids.length)(i => ids(i).toLong, id => doc(unitOf(id.toInt), kindOf(id.toInt)))
    }
    payloadBytes = recs.map(_.payload).sum
  }

  def setup(d: String): Unit = {
    dir = d
    new File(d).mkdirs()
    Gen.parallel(nFiles)(f => Gen.writeFile(s"$d/part-$f.seq", recs(f), blockSize, bloom = false))
    lake = ctx.read(d)
    subset = ctx.read(s"$d/part-0.seq")
  }

  def release(): Unit = recs = IndexedSeq.empty

  def op(i: Int): OpResult = {
    val t = ctx.tracer
    val a0 = t.nowMicros
    val r = t.span("exact_dedup", "phase") {
      ctx.run(Dedup.exactDedup(lake, "key", "value").agg(
        count(lit(1)), sum(when(col("is_rep"), 0L).otherwise(1L)),
        count_distinct(when(col("group_size") > 1, col("rep_id")))))
    }(0)
    val a1 = t.nowMicros
    val p = t.span("minhash_pairs", "phase") {
      ctx.run(Dedup.minHashLshPairs(subset, "key", "value", shingle, threshold).agg(count(lit(1))))
    }(0)
    val a2 = t.nowMicros
    if (t.on) {
      exactS += (a1 - a0) / 1e6
      minhashS += (a2 - a1) / 1e6
      groupsOut = r.getLong(2)
      pairsOut = p.getLong(0)
    }
    OpResult("dedup", nDocs, r.getLong(0) == nDocs && r.getLong(1) == expCopies &&
      r.getLong(2) == expGroups && p.getLong(0) == expPairs)
  }

  def bytesPerUserByte: Double = Gen.listing(new File(dir)).values.sum.toDouble / payloadBytes
  def dataFiles: Seq[String] = Workloads.files(dir)

  override def layerMetrics: Map[String, Double] =
    if (exactS.isEmpty) Map.empty
    else Map(
      "operators.dedup.exact_s" -> Stats.median(exactS.toSeq),
      "operators.dedup.minhash_s" -> Stats.median(minhashS.toSeq),
      "operators.dedup.dup_groups" -> groupsOut.toDouble,
      "operators.dedup.pairs_out" -> pairsOut.toDouble)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
