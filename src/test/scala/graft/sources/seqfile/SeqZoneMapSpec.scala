package graft.sources.seqfile

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.seqfile._

class SeqZoneMapSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  // ---- writer-side stats ----

  test("writer collects one zone entry per block with true min/max and offsets") {
    val tmp = Files.createTempFile("zm", ".seq")
    val w = new SeqFileWriter(Files.newOutputStream(tmp),
      WritableType.LongW, WritableType.TextW, syncSeed = 5L, blockSize = 4096)
    // ascending keys → block ranges are disjoint and ordered
    (0L until 5000L).foreach(i => w.append(i, s"v$i"))
    w.close()
    val entries = w.zoneEntries
    assert(entries.size > 1, "small blockSize must produce multiple blocks")
    assert(entries.map(_.count).sum === 5000L)
    assert(w.bytesWritten === Files.size(tmp))
    // min/max per entry are consistent and cover the keyspace in order;
    // value stats track the text payloads
    var expectedStart = 0L
    entries.foreach { e =>
      assert(e.kmin === Some(ZoneKey.L(expectedStart)))
      assert(e.kmax === Some(ZoneKey.L(expectedStart + e.count - 1)))
      assert(e.vmin.isDefined && e.vmax.isDefined)
      expectedStart += e.count
    }
    // offsets are REAL block starts: a reader given exactly these offsets
    // decodes the whole file (each seek is verified by the sync check)
    val in = new LocalSeekableInput(tmp)
    val header = SeqHeader.parse(new SeqInput(in))
    val r = new SeqBlockReader(in, header, 0L, Files.size(tmp),
      blockOffsets = Some(entries.map(_.offset).toArray))
    var n = 0L
    try { for (b <- r) n += b.count } finally r.close()
    assert(n === 5000L)
    Files.delete(tmp)
  }

  test("sidecar render/parse round-trips all key encodings exactly") {
    val entries = Seq(
      ZoneEntry(100L, 10L, Some(ZoneKey.L(-5L)), Some(ZoneKey.L(Long.MaxValue)),
        Some(ZoneKey.D(1.5)), Some(ZoneKey.D(2.5))),
      ZoneEntry(200L, 20L, Some(ZoneKey.D(-0.0)), Some(ZoneKey.D(Double.NaN)),
        None, None), // NullWritable value column
      ZoneEntry(300L, 30L, Some(ZoneKey.B(Array[Byte](0, -1, 127))),
        Some(ZoneKey.B("日本語".getBytes("UTF-8"))), None, None))
    val (kc, vc, len, back) =
      ZoneMap.parse(ZoneMap.render("K", "V", 12345L, entries))
    assert(kc === "K" && vc === "V" && len === 12345L)
    assert(back.size === 3)
    assert(back(0) === entries(0))
    assert(back(1).vmin === None && back(1).vmax === None)
    assert(java.lang.Double.doubleToLongBits(
      back(1).kmax.get.asInstanceOf[ZoneKey.D].v) ==
      java.lang.Double.doubleToLongBits(Double.NaN))
    assert(ZoneKey.compareBytes(back(2).kmin.get.asInstanceOf[ZoneKey.B].v,
      entries(2).kmin.get.asInstanceOf[ZoneKey.B].v) === 0)
  }

  // ---- mightMatch semantics ----

  test("mightMatch prunes exactly the provably-unmatchable ranges") {
    import ZoneMapPruning.mightMatch
    val t = WritableType.LongW
    val min = ZoneKey.L(100L); val max = ZoneKey.L(200L)
    assert(mightMatch(EqualTo("key", 100L), min, max, t))
    assert(mightMatch(EqualTo("key", 200L), min, max, t))
    assert(!mightMatch(EqualTo("key", 99L), min, max, t))
    assert(!mightMatch(EqualTo("key", 201L), min, max, t))
    assert(!mightMatch(GreaterThan("key", 200L), min, max, t))
    assert(mightMatch(GreaterThan("key", 199L), min, max, t))
    assert(mightMatch(GreaterThanOrEqual("key", 200L), min, max, t))
    assert(!mightMatch(GreaterThanOrEqual("key", 201L), min, max, t))
    assert(!mightMatch(LessThan("key", 100L), min, max, t))
    assert(mightMatch(LessThan("key", 101L), min, max, t))
    assert(mightMatch(LessThanOrEqual("key", 100L), min, max, t))
    assert(!mightMatch(LessThanOrEqual("key", 99L), min, max, t))
    assert(mightMatch(In("key", Array(1L, 150L)), min, max, t))
    assert(!mightMatch(In("key", Array(1L, 99L, 300L)), min, max, t))
    assert(!mightMatch(IsNull("key"), min, max, t)) // format has no null keys
    assert(mightMatch(IsNotNull("key"), min, max, t))
    // And of individually-matchable halves stays matchable (per-block
    // ranges can't see that 150<key<120 is empty — conservative keep)
    assert(mightMatch(And(GreaterThan("key", 150L), LessThan("key", 120L)),
      min, max, t))
    assert(!mightMatch(And(GreaterThan("key", 250L), LessThan("key", 300L)),
      min, max, t))
    assert(mightMatch(Or(EqualTo("key", 50L), EqualTo("key", 150L)), min, max, t))
    assert(!mightMatch(Or(EqualTo("key", 50L), EqualTo("key", 250L)), min, max, t))
    // unconvertible literal → conservative keep
    assert(mightMatch(EqualTo("key", "not-a-number"), min, max, t))

    val bt = WritableType.TextW
    val bmin = ZoneKey.B("banana".getBytes("UTF-8"))
    val bmax = ZoneKey.B("mango".getBytes("UTF-8"))
    assert(mightMatch(StringStartsWith("key", "cherry"), bmin, bmax, bt))
    assert(!mightMatch(StringStartsWith("key", "apple"), bmin, bmax, bt))
    assert(!mightMatch(StringStartsWith("key", "zebra"), bmin, bmax, bt))
    assert(mightMatch(StringStartsWith("key", "ban"), bmin, bmax, bt))
    assert(mightMatch(StringStartsWith("key", "man"), bmin, bmax, bt))
    assert(mightMatch(EqualTo("key", "coconut"), bmin, bmax, bt))
    assert(!mightMatch(EqualTo("key", "papaya"), bmin, bmax, bt))
  }

  test("usable accepts only key-referencing supported shapes") {
    import ZoneMapPruning.usable
    assert(usable(EqualTo("key", 1L)))
    assert(usable(EqualTo("KEY", 1L))) // case-insensitive
    assert(usable(And(GreaterThan("key", 1L), LessThan("key", 9L))))
    assert(!usable(EqualTo("value", 1L)))
    assert(!usable(And(EqualTo("key", 1L), EqualTo("value", 2L))))
    assert(!usable(StringContains("key", "x"))) // unsupported shape
  }

  // ---- end-to-end through the DSv2 connector ----

  test("range query over sorted long keys skips non-qualifying blocks") {
    val dir = Files.createTempDirectory("zm-e2e").toString
    (0L until 100000L).map(i => (i, s"payload-$i")).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    // sidecar exists and is hidden from data listing
    val files = SeqFileDataSource.listFiles(Seq(dir), new Configuration())
    assert(files.size === 1)
    val side = ZoneMap.sidecarPath(files.head.getPath)
    assert(side.getFileSystem(new Configuration()).exists(side))

    val tail = spark.read.format("seqfile").load(dir).filter(col("key") >= 99990L)
    val got = tail.collect()
    assert(got.length === 10)
    assert(got.map(_.getLong(0)).sorted.toSeq === (99990L until 100000L).toSeq)
    val skipped = ScanPlans.blocksSkipped(tail)
    val plannedN = ScanPlans.blocksPlanned(tail)
    assert(plannedN > 3, s"expected several blocks, saw $plannedN")
    assert(skipped >= plannedN - 2,
      s"tail range must skip nearly all blocks (skipped=$skipped of $plannedN)")

    // point lookup reads at most one block
    val point = spark.read.format("seqfile").load(dir).filter(col("key") === 54321L)
    val one = point.collect()
    assert(one.length === 1 && one.head.getString(1) === "payload-54321")
    assert(ScanPlans.blocksPlanned(point) - ScanPlans.blocksSkipped(point) <= 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("text keys: prefix and range predicates prune and stay correct") {
    val dir = Files.createTempDirectory("zm-text").toString
    (0 until 50000).map(i => (f"k$i%07d", i.toString)).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    val prefix = spark.read.format("seqfile").load(dir)
      .filter(col("key").startsWith("k004999"))
    assert(prefix.collect().length === 10)
    assert(ScanPlans.blocksSkipped(prefix) > 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("stale sidecar (file length mismatch) disables pruning, results stay correct") {
    val dir = Files.createTempDirectory("zm-stale").toString
    (0L until 20000L).map(i => (i, s"v$i")).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    val dataFile = SeqFileDataSource.listFiles(Seq(dir), new Configuration()).head.getPath
    // rewrite the sidecar with a wrong length but plausible entries —
    // readers must refuse it and fall back to the full scan
    val conf = new Configuration()
    val entries = ZoneMap.readValidated(conf, dataFile,
      WritableType.LongW.javaClass, WritableType.TextW.javaClass,
      dataFile.getFileSystem(conf).getFileStatus(dataFile).getLen).get
    ZoneMap.write(dataFile.getFileSystem(conf), dataFile,
      WritableType.LongW.javaClass, WritableType.TextW.javaClass,
      1L /* wrong */, entries)
    val q = spark.read.format("seqfile").load(dir).filter(col("key") >= 19990L)
    assert(q.collect().length === 10)
    assert(ScanPlans.blocksPlanned(q) === 0L, "stale sidecar must be ignored")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("splits + zone maps: every block read exactly once across split boundaries") {
    val dir = Files.createTempDirectory("zm-split").toString
    (0L until 200000L).map(i => (i, s"v$i")).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "32768")
      .mode("overwrite").save(dir)
    // tiny splits: many splits per file, each owning a few blocks
    val full = spark.read.format("seqfile")
      .option("maxSplitBytes", "65536").load(dir)
    val withFilter = full.filter(col("key") >= 100000L)
    assert(withFilter.count() === 100000L)
    assert(withFilter.agg(sum("key")).as[Long].head() ===
      (100000L until 200000L).sum)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("value-column predicates prune blocks too") {
    val dir = Files.createTempDirectory("zm-val").toString
    // keys unsorted, VALUES sorted — only value stats can prune here
    (0L until 80000L).map(i => ((i * 2654435761L) % 1000003L, i))
      .toDF("key", "value")
      .coalesce(1).sortWithinPartitions("value")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    val tail = spark.read.format("seqfile").load(dir).filter(col("value") >= 79990L)
    assert(tail.collect().length === 10)
    val plannedN = ScanPlans.blocksPlanned(tail)
    assert(plannedN > 3)
    assert(ScanPlans.blocksSkipped(tail) >= plannedN - 2,
      "value-sorted tail range must skip nearly all blocks")
    // combined: impossible key+value conjunction prunes everything the
    // value range allows, and returns no rows
    val none = spark.read.format("seqfile").load(dir)
      .filter(col("value") >= 79990L && col("value") < 79990L).collect()
    assert(none.isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("runtime (join-derived) key filters skip blocks like static ones") {
    val dir = Files.createTempDirectory("zm-rt").toString
    (0L until 100000L).map(i => (i, s"v$i")).toDF("key", "value")
      .coalesce(1).sortWithinPartitions("key")
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    val schema = spark.read.format("seqfile").load(dir).schema
    val scan = new SeqFileScanBuilder(schema, Seq(dir),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build().asInstanceOf[SeqFileScan]
    // what Spark's runtime filtering does at execution time: join keys
    // learned from a broadcast dim arrive as an In filter after planning
    scan.filter(Array[Filter](In("key", Array(17L, 99999L))))
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    var rows = 0L
    parts.foreach { p =>
      val r = factory.createReader(p)
      try { while (r.next()) rows += 1 } finally r.close()
    }
    val metrics = scan.reportDriverMetrics().map(m => m.name() -> m.value()).toMap
    val skipped = metrics(SeqScanMetrics.ZoneBlocksSkipped)
    val plannedN = metrics(SeqScanMetrics.ZoneBlocksRead) + skipped
    assert(plannedN > 3)
    assert(plannedN - skipped <= 2, "two-point In must read at most 2 blocks")
    assert(rows > 0 && rows < 100000L, "reader emits only surviving blocks' rows")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("unsorted keys still answer correctly (zone map just prunes less)") {
    val dir = Files.createTempDirectory("zm-unsorted").toString
    val rnd = new scala.util.Random(11)
    (0L until 30000L).map(i => (rnd.nextLong() % 1000000L, s"v$i"))
      .toDF("key", "value").coalesce(1)
      .write.format("seqfile").option("blockSize", "65536")
      .mode("overwrite").save(dir)
    val all = spark.read.format("seqfile").load(dir).collect()
    val filtered = spark.read.format("seqfile").load(dir)
      .filter(col("key") > 0L).collect()
    assert(filtered.length === all.count(_.getLong(0) > 0L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a sidecar is read in one exact-size read and parsed with little allocation") {
    // lookup-shaped: sorted even long keys, 40-80-byte text values,
    // 64 KiB blocks, a key Bloom per block
    val tmp = Files.createTempDirectory("zm-alloc")
    val data = new Path(tmp.resolve("part-0.seq").toString)
    val rnd = new scala.util.Random(11)
    val w = new SeqFileWriter(Files.newOutputStream(tmp.resolve("part-0.seq")),
      WritableType.LongW, WritableType.TextW, blockSize = 64 << 10, bloomFpp = Some(0.01))
    (0 until 250000).foreach(i => w.append(2L * i, rnd.alphanumeric.take(40 + rnd.nextInt(41)).mkString))
    w.close()
    val conf = new Configuration()
    val fs = data.getFileSystem(conf)
    ZoneMap.write(fs, data, WritableType.LongW.javaClass, WritableType.TextW.javaClass,
      w.bytesWritten, w.zoneEntries)
    val sidecarBytes = fs.getFileStatus(ZoneMap.sidecarPath(data)).getLen
    def read(): Seq[ZoneEntry] = ZoneMap.readValidated(conf, data,
      WritableType.LongW.javaClass, WritableType.TextW.javaClass, w.bytesWritten).get
    assert(read().map(_.offset) === w.zoneEntries.map(_.offset))
    assert(read().forall(_.kbloom.isDefined))

    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    read()
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    val ratio = allocated.toDouble / sidecarBytes
    info(f"allocated $allocated bytes for a $sidecarBytes-byte sidecar: ratio $ratio%.2f")
    // 3.56 when Bloom bits went through a byte[] copy; 2.66 decoded straight into words
    assert(ratio < 3.0, f"allocated $allocated bytes, $ratio%.2f× the sidecar")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
