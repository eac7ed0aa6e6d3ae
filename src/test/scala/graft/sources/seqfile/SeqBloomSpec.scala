package graft.sources.seqfile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile.{KeyBloom, ZoneKey, ZoneMap}

/** Per-block key Bloom filters: the point-lookup complement to zone maps —
  * equality probes prune blocks on UNSORTED data, where [min, max] ranges
  * span the domain and prune nothing. */
class SeqBloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  test("KeyBloom: zero false negatives; measured fpp near target; codec round-trip") {
    val rnd = new scala.util.Random(11)
    val members = Array.fill(20000)(rnd.nextLong())
    val bloom = KeyBloom.build(members.map(h => KeyBloom.hashKey(ZoneKey.L(h))), 0.01)
    members.foreach { m =>
      assert(bloom.mightContain(KeyBloom.hashKey(ZoneKey.L(m))),
        "a Bloom filter must never report a member absent")
    }
    val memberSet = members.toSet
    val probes = Iterator.continually(rnd.nextLong())
      .filterNot(memberSet).take(20000).toArray
    val fp = probes.count(p => bloom.mightContain(KeyBloom.hashKey(ZoneKey.L(p))))
    val rate = fp.toDouble / probes.length
    assert(rate <= 0.03, f"false-positive rate $rate%.4f far above the 1%% target")
    // text encoding round-trips bit-for-bit
    val back = KeyBloom.decode(KeyBloom.encode(bloom))
    assert(back.numHashes === bloom.numHashes)
    assert(back.bits.sameElements(bloom.bits))
    // string and bytes keys hash consistently too
    val sb = KeyBloom.build(Array(KeyBloom.hashKey(ZoneKey.B("hello".getBytes))), 0.01)
    assert(sb.mightContain(KeyBloom.hashKey(ZoneKey.B("hello".getBytes))))
  }

  test("sidecar format: bloom is an optional 7th field; bloom-less lines still parse") {
    val bloom = KeyBloom.build(Array(1L, 2L, 3L).map(h => KeyBloom.hashKey(ZoneKey.L(h))), 0.05)
    val entries = Seq(
      graft.core.seqfile.ZoneEntry(100L, 3L, Some(ZoneKey.L(1)), Some(ZoneKey.L(3)),
        None, None, Some(bloom)),
      graft.core.seqfile.ZoneEntry(200L, 2L, Some(ZoneKey.L(4)), Some(ZoneKey.L(5))))
    val text = ZoneMap.render("K", "V", 999L, entries)
    val (_, _, _, parsed) = ZoneMap.parse(text)
    assert(parsed(0).kbloom.isDefined && parsed(1).kbloom.isEmpty)
    assert(parsed(0).kbloom.get.bits.sameElements(bloom.bits))
    // a pre-bloom sidecar (6 fields everywhere) parses with no blooms
    val legacy = ZoneMap.render("K", "V", 999L,
      entries.map(_.copy(kbloom = None)))
    assert(ZoneMap.parse(legacy)._4.forall(_.kbloom.isEmpty))
  }

  test("end-to-end: point lookups on UNSORTED data skip blocks only with blooms") {
    // keys deliberately scrambled so every block's [min, max] spans the
    // domain — classic zone maps cannot prune a point lookup here. EVEN
    // keys only: an odd probe is absent yet inside every block's range
    // (an out-of-domain probe like -1 would let min/max prune and prove
    // nothing about blooms).
    val n = 40000L
    val rows = (0L until n).map(i => (i * 2654435761L % n * 2, s"v$i"))
    val absent = 12345L // odd → absent; mid-domain → inside [min, max]
    def writeDir(bloom: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory("seqbloom").toString
      val w = rows.toDF("key", "value").coalesce(1)
        .write.format("seqfile").mode("overwrite")
        .option("blockSize", (32 << 10).toString)
      (if (bloom) w.option("bloomKeys", "true") else w).save(dir)
      dir
    }
    def lookup(dir: String, key: Long): (Long, Long, Long) = {
      val q = spark.read.format("seqfile").load(dir).filter(col("key") === key)
      val c = q.collect().length.toLong
      (c, ScanPlans.blocksPlanned(q), ScanPlans.blocksSkipped(q))
    }
    val plain = writeDir(bloom = false)
    val bloomed = writeDir(bloom = true)

    // without blooms: the absent-key probe scans essentially everything
    val (c0, planned0, skipped0) = lookup(plain, absent)
    assert(c0 === 0L)
    assert(planned0 > 10, s"expected many blocks, got $planned0")
    assert(skipped0 === 0L, "min/max cannot prune an in-range point probe on unsorted data")

    // with blooms: the absent-key probe skips (almost) every block
    val (c1, planned1, skipped1) = lookup(bloomed, absent)
    assert(c1 === 0L)
    assert(planned1 > 10)
    assert(skipped1 >= planned1 - 1,
      s"blooms should skip ~all $planned1 blocks, skipped $skipped1")

    // present keys still found exactly — across several probes
    Seq(0L, 17L, n - 1).foreach { i =>
      val key = i * 2654435761L % n * 2
      val (c, _, _) = lookup(bloomed, key)
      assert(c === rows.count(_._1 == key).toLong, s"key $key")
    }

    // IN probes with only absent (odd, in-range) keys also skip; mixed IN
    // finds its row
    val absentIn = spark.read.format("seqfile").load(bloomed)
      .filter(col("key").isin(12345L, 22223L, 33331L))
    assert(absentIn.collect().isEmpty)
    assert(ScanPlans.blocksSkipped(absentIn) >= ScanPlans.blocksPlanned(absentIn) - 1)
    val hit = rows.head._1
    assert(spark.read.format("seqfile").load(bloomed)
      .filter(col("key").isin(12345L, hit)).count() === rows.count(_._1 == hit).toLong)

    // compaction with bloom write options keeps the lake bloom-pruned
    graft.api.SequenceFiles.compact(spark, bloomed,
      targetFileBytes = 1L << 20,
      writeOptions = Map("bloomKeys" -> "true", "blockSize" -> (32 << 10).toString))
    val (c2, planned2, skipped2) = lookup(bloomed, absent)
    assert(c2 === 0L)
    // compaction key-sorts, so min/max alone would prune too — but the
    // blooms must still be present and the data intact
    assert(skipped2 >= planned2 - 1)
    assert(spark.read.format("seqfile").load(bloomed).count() === n)

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(plain))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bloomed))
  }

  test("compaction with NO write options auto-preserves existing blooms") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("seq-bloom-compact-").toString
    val rnd = new scala.util.Random(3)
    rnd.shuffle((0L until 20000L).toVector).zipWithIndex
      .toDF("key", "value").repartition(3)
      .write.format("seqfile")
      .option("blockSize", (16 << 10).toString)
      .option("bloomKeys", "true")
      .mode("overwrite").save(dir)
    // the one-call maintenance pass (no way to repeat per-leaf options)
    graft.api.SequenceFiles.compactAll(spark, dir, targetFileBytes = 1L << 20,
      sortByKey = false) // unsorted: only blooms can prune afterwards
    val fs = new Path(dir).getFileSystem(new Configuration())
    val sides = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .map(graft.core.seqfile.ZoneMap.sidecarPath)
    assert(sides.nonEmpty)
    sides.foreach { side =>
      assert(fs.exists(side), s"missing sidecar $side")
      val in = fs.open(side)
      val content = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val entries = graft.core.seqfile.ZoneMap.parse(content)._4
      assert(entries.nonEmpty && entries.forall(_.kbloom.isDefined),
        s"compaction dropped blooms in $side")
    }
    assert(spark.read.format("seqfile").load(dir).count() === 20000L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
