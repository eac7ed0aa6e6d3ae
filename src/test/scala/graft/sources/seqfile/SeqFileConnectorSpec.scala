package graft.sources.seqfile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SeqFileConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("seqfile-connector-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val textInt = graft.core.seqfile.GoldenFixtures.textInt
  val longDouble = graft.core.seqfile.GoldenFixtures.longDouble

  test("write options compression/codec produce the requested layout and " +
       "round-trip through the connector") {
    import graft.core.seqfile.{SeqFile, SeqCompression}
    import spark.implicits._
    val in = (1L to 5000L).toDF("key").withColumn("value", col("key") * 3)
    for ((comp, codec, expected) <- Seq(
        ("none", "snappy", SeqCompression.None),
        ("record", "deflate", SeqCompression.Record),
        ("block", "gzip", SeqCompression.Block),
        ("block", "zstd", SeqCompression.Block))) {
      val dir = java.nio.file.Files.createTempDirectory(s"wopt-$comp").toString
      in.repartition(2).write.format("seqfile")
        .option("compression", comp).option("codec", codec)
        .mode("overwrite").save(dir)
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".seq")).head
      val h = SeqFile.readHeader(part.toString)
      assert(h.compression === expected, s"$comp/$codec")
      val back = spark.read.format("seqfile").load(dir)
      assert(back.count() === 5000L, s"$comp/$codec")
      assert(back.agg(sum("value")).head.getLong(0) === 3L * 5000 * 5001 / 2, s"$comp/$codec")
    }
  }

  test("uncompressed and record-compressed hadoop files read through the " +
       "connector with split-aligned parallelism") {
    import org.apache.hadoop.io.{SequenceFile, LongWritable, Text}
    import org.apache.hadoop.io.SequenceFile.CompressionType
    import org.apache.hadoop.io.compress.DefaultCodec
    for (ct <- Seq(CompressionType.NONE, CompressionType.RECORD)) {
      val dir = java.nio.file.Files.createTempDirectory(s"conn-$ct").toString
      val conf = new org.apache.hadoop.conf.Configuration()
      val w = SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(new org.apache.hadoop.fs.Path(s"$dir/part.seq")),
        SequenceFile.Writer.keyClass(classOf[LongWritable]),
        SequenceFile.Writer.valueClass(classOf[Text]),
        SequenceFile.Writer.compression(ct, new DefaultCodec))
      val k = new LongWritable(); val v = new Text()
      (0 until 30000).foreach { i => k.set(i.toLong); v.set(s"row-$i"); w.append(k, v) }
      w.close()
      // small maxSplitBytes forces many byte-range splits over one file;
      // totals only come out right if sync alignment is disjoint and total
      val df = spark.read.format("seqfile")
        .option("maxSplitBytes", (64 * 1024).toString).load(dir)
      assert(df.schema.map(_.dataType.simpleString) === Seq("bigint", "string"), ct.toString)
      val r = df.agg(count(lit(1)), sum("key"), countDistinct("value")).head()
      assert(r.getLong(0) === 30000L, ct.toString)
      assert(r.getLong(1) === 30000L * 29999 / 2, ct.toString)
      assert(r.getLong(2) === 30000L, ct.toString)
    }
  }

  test("schema inference from header: text-int → (key string, value int)") {
    val df = spark.read.format("seqfile").load(textInt)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq(("key", "string"), ("value", "int")))
  }

  test("count() on golden fixture — the reference's recordCount as DataFrame op") {
    val df = spark.read.format("seqfile").load(textInt)
    assert(df.count() === 100000L)
  }

  test("aggregates over the golden fixture: key range and value stats") {
    val df = spark.read.format("seqfile").load(textInt)
    val r = df.agg(min("key"), max("key"), min("value"), max("value"),
      avg("value")).head()
    assert(r.getString(0) === "F0000000")
    assert(r.getString(1) === "F0099999")
    assert(r.getInt(2) >= 0 && r.getInt(3) <= 100)
    assert(math.abs(r.getDouble(4) - 50.0) < 2.0) // uniform-ish 0..100
  }

  test("golden fixtures read through the connector as exactly the generator's records") {
    import graft.core.seqfile.GoldenFixtures
    val ti = spark.read.format("seqfile").load(textInt).orderBy("key").collect()
    assert(ti.map(_.getString(0)).toSeq ===
      (0 until GoldenFixtures.Records).map(GoldenFixtures.textIntKey))
    assert(ti.map(_.getInt(1)).toSeq === GoldenFixtures.textIntValues.toSeq)
    val ld = spark.read.format("seqfile").load(longDouble).orderBy("key").collect()
    assert(ld.map(_.getLong(0)).toSeq === (0L until GoldenFixtures.Records.toLong))
    assert(ld.map(_.getDouble(1)).toSeq === GoldenFixtures.longDoubleValues.toSeq)
  }

  test("long-double fixture reads as (long, double)") {
    val df = spark.read.format("seqfile").load(longDouble)
    assert(df.schema.map(_.dataType.simpleString) === Seq("bigint", "double"))
    assert(df.count() > 0)
    assert(df.agg(count(when(isnan(col("value")), 1))).head().getLong(0) === 0L)
  }

  test("column pruning reaches the scan (keys-only plan mentions only key)") {
    val df = spark.read.format("seqfile").load(textInt).select("key")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=key"), s"scan description missing pruning:\n$plan")
    assert(df.limit(10).collect().length === 10)
  }

  test("small maxSplitBytes yields multiple partitions that agree with single-partition read") {
    val whole = spark.read.format("seqfile").load(textInt)
      .agg(sum("value")).head().getLong(0)
    val split = spark.read.format("seqfile")
      .option("maxSplitBytes", (64 * 1024).toString).load(textInt)
    assert(split.rdd.getNumPartitions > 2)
    assert(split.agg(sum("value")).head().getLong(0) === whole)
    assert(split.count() === 100000L)
  }

  test("round-trip: DataFrame → seqfile → DataFrame, overwrite mode") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("seqwrite").toString
    val src = (0 until 10000).map(i => (i.toLong, s"payload-$i")).toDF("key", "value")
    src.write.format("seqfile").mode("overwrite").save(dir)
    // overwrite again to exercise truncate
    src.write.format("seqfile").mode("overwrite").save(dir)
    val back = spark.read.format("seqfile").load(dir)
    assert(back.schema.map(_.dataType.simpleString) === Seq("bigint", "string"))
    assert(back.count() === 10000L)
    assert(back.orderBy("key").collect().toSeq ===
      src.orderBy("key").collect().toSeq)
    // files on disk are readable by real Hadoop too
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".seq")).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val rd = new org.apache.hadoop.io.SequenceFile.Reader(conf,
      org.apache.hadoop.io.SequenceFile.Reader.file(new org.apache.hadoop.fs.Path(part.toString)))
    assert(rd.getKeyClassName === "org.apache.hadoop.io.LongWritable")
    assert(rd.getValueClassName === "org.apache.hadoop.io.Text")
    rd.close()
  }

  test("reading multiple files in a directory unions them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sequnion").toString
    // note: v2 TableProvider sources accept only append/overwrite modes
    (0 until 100).map(i => (i, s"a$i")).toDF("key", "value")
      .repartition(3).write.format("seqfile").mode("append").save(dir)
    val back = spark.read.format("seqfile").load(dir)
    assert(back.count() === 100L)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".seq")) === 3)
  }

  test("schema mismatch fails fast like the reference's type check") {
    val ex = intercept[Exception] {
      spark.read.format("seqfile")
        .schema("key STRING, value BIGINT") // file has int values
        .load(textInt).collect()
    }
    def allMessages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + allMessages(t.getCause)
    assert(allMessages(ex).contains("schema mismatch"))
  }

  // --- malformed-record modes -------------------------------------------

  /** Write a 5-block file and corrupt the sync marker of the 3rd block.
    * Returns (dir, goodRowsBeforeCorruption, totalRows). */
  private def corruptedFile(): (String, Long, Long) = {
    import graft.core.seqfile._
    val dir = java.nio.file.Files.createTempDirectory("seqcorrupt")
    val f = dir.resolve("data.seq")
    val w = new SeqFileWriter(java.nio.file.Files.newOutputStream(f),
      WritableType.LongW, WritableType.TextW, blockSize = 16 * 1024, syncSeed = 11L)
    val total = 8000
    (0 until total).foreach(i => w.append(i.toLong, s"row-$i-" + "x" * 20))
    w.close()
    val bytes = java.nio.file.Files.readAllBytes(f)
    val header = SeqFile.readHeader(f.toString)
    // find block starts: escape ff ff ff ff + sync
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = header.dataStart.toInt
    while (i < bytes.length - 20) {
      if (bytes(i) == -1 && bytes(i + 1) == -1 && bytes(i + 2) == -1 && bytes(i + 3) == -1 &&
          (0 until 16).forall(j => bytes(i + 4 + j) == header.sync(j))) {
        starts += i; i += 20
      } else i += 1
    }
    assert(starts.length >= 5, s"need >=5 blocks, got ${starts.length}")
    // count rows in the first 2 blocks
    val rd = SeqFile.open(f.toString, decodeKey = false, decodeValue = false)
    val counts = rd.map(_.count).toList
    rd.close()
    // corrupt block 3's sync
    bytes(starts(2) + 10) = (bytes(starts(2) + 10) ^ 0x55).toByte
    java.nio.file.Files.write(f, bytes)
    (dir.toString, counts.take(2).map(_.toLong).sum, total.toLong)
  }

  test("mode=FAILFAST (default) fails on a corrupt block") {
    val (dir, _, _) = corruptedFile()
    val ex = intercept[Exception] {
      spark.read.format("seqfile").load(dir).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(ex).contains("corrupt"))
  }

  test("mode=PERMISSIVE stops at the error tail (reference foldMap semantics)") {
    val (dir, goodPrefix, total) = corruptedFile()
    val n = spark.read.format("seqfile").option("mode", "permissive").load(dir).count()
    assert(n === goodPrefix)
    assert(n < total)
  }

  test("mode=DROPMALFORMED skips the corrupt block and reads the rest") {
    val (dir, goodPrefix, total) = corruptedFile()
    val df = spark.read.format("seqfile").option("mode", "dropmalformed").load(dir)
    val n = df.count()
    assert(n > goodPrefix, "should recover blocks after the corrupt one")
    assert(n < total, "the corrupt block's rows are gone")
    // and the recovered rows decode correctly
    val keys = df.selectExpr("min(key)", "max(key)").head()
    assert(keys.getLong(0) === 0L && keys.getLong(1) === 7999L)
  }

  test("binary (BytesWritable) values round-trip through the connector") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("binrt").toString
    val src = (0 until 500).map(i =>
      (i.toLong, Array.tabulate[Byte](i % 50)(j => (i + j).toByte)))
      .toDF("key", "value")
    src.write.format("seqfile").mode("overwrite").save(dir)
    val back = spark.read.format("seqfile").load(dir)
    assert(back.schema("value").dataType === org.apache.spark.sql.types.BinaryType)
    val got = back.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got.size === 500)
    (0 until 500).foreach { i =>
      assert(java.util.Arrays.equals(got(i.toLong),
        Array.tabulate[Byte](i % 50)(j => (i + j).toByte)), s"row $i")
    }
    // readable by real Hadoop as BytesWritable
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".seq")).head
    val rd = new org.apache.hadoop.io.SequenceFile.Reader(
      new org.apache.hadoop.conf.Configuration(),
      org.apache.hadoop.io.SequenceFile.Reader.file(
        new org.apache.hadoop.fs.Path(part.toString)))
    assert(rd.getValueClassName === "org.apache.hadoop.io.BytesWritable")
    rd.close()
  }

  test("NullWritable key (NullType column) writes and reads through the connector") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{ColumnarToRowExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.types.NullType
    // NullType columns read columnar like any other: the seqfile BatchScan
    // feeds whole-stage-codegen ColumnarToRow, with no interpreted fallback
    def assertColumnar(df: DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      val c2r = plan.collect { case w: WholeStageCodegenExec => w.child }
        .collect { case c: ColumnarToRowExec => c }
      assert(c2r.nonEmpty, plan.toString)
      assert(c2r.forall(_.collectFirst { case b: BatchScanExec => b }
        .exists(b => b.supportsColumnar && b.scan.isInstanceOf[SeqFileScan])), plan.toString)
    }
    val fallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val dir = java.nio.file.Files.createTempDirectory("nullrt").toString
      (0 until 100).map(i => s"v$i").toDF("value")
        .select(lit(null).cast("void").as("key"), col("value"))
        .write.format("seqfile").mode("overwrite").save(dir)
      val back = spark.read.format("seqfile").load(dir)
      assert(back.schema("key").dataType === NullType)
      assert(back.count() === 100L)
      val valuesOnly = back.select("value")
      val vals = valuesOnly.collect().map(_.getString(0)).toSet
      assert(vals === (0 until 100).map(i => s"v$i").toSet)
      assertColumnar(valuesOnly)
      val rows = back.collect()
      assert(rows.forall(_.isNullAt(0)))
      assert(rows.map(_.getString(1)).toSet === vals)
      assertColumnar(back)
      assert(back.filter(col("key").isNull).count() === 100L)
      assert(back.filter(col("key").isNotNull).count() === 0L)
      assert(back.groupBy("key").count().collect().map(r => (r.isNullAt(0), r.getLong(1)))
        .toSeq === Seq((true, 100L)))

      // NullWritable value
      val vdir = java.nio.file.Files.createTempDirectory("nullvalrt").toString
      (0L until 100L).toDF("key").select(col("key"), lit(null).cast("void").as("value"))
        .write.format("seqfile").mode("overwrite").save(vdir)
      val nv = spark.read.format("seqfile").load(vdir)
      assert(nv.schema("value").dataType === NullType)
      val got = nv.collect()
      assert(got.map(_.getLong(0)).sorted.toSeq === (0L until 100L))
      assert(got.forall(_.isNullAt(1)))
      assertColumnar(nv)
      assert(nv.filter(col("value").isNull).count() === 100L)
      assert(nv.filter(col("value").isNotNull).count() === 0L)
      assert(nv.groupBy("key").count().count() === 100L)
    } finally fallback match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("recursive listing reads date-partitioned nested directories") {
    import graft.core.seqfile._
    val root = java.nio.file.Files.createTempDirectory("nested")
    for ((sub, from) <- Seq("2024/01" -> 0, "2024/02" -> 100, "2025/01" -> 200)) {
      val d = root.resolve(sub)
      java.nio.file.Files.createDirectories(d)
      val w = new SeqFileWriter(java.nio.file.Files.newOutputStream(d.resolve("part.seq")),
        WritableType.LongW, WritableType.TextW, syncSeed = from.toLong)
      (from until from + 50).foreach(i => w.append(i.toLong, s"v$i"))
      w.close()
    }
    // hidden dir must be skipped
    val hid = root.resolve(".staging"); java.nio.file.Files.createDirectories(hid)
    val wh = new SeqFileWriter(java.nio.file.Files.newOutputStream(hid.resolve("x.seq")),
      WritableType.LongW, WritableType.TextW, syncSeed = 1L)
    wh.append(999L, "hidden"); wh.close()
    val df = spark.read.format("seqfile").load(root.toString)
    assert(df.count() === 150L)
    assert(df.agg(max("key")).head().getLong(0) === 249L)
  }

  test("mixed writable classes across files in one directory fail with a clear error") {
    import graft.core.seqfile._
    val dir = java.nio.file.Files.createTempDirectory("mixed")
    val w1 = new SeqFileWriter(java.nio.file.Files.newOutputStream(dir.resolve("a.seq")),
      WritableType.LongW, WritableType.TextW, syncSeed = 1L)
    w1.append(1L, "x"); w1.close()
    val w2 = new SeqFileWriter(java.nio.file.Files.newOutputStream(dir.resolve("b.seq")),
      WritableType.LongW, WritableType.DoubleW, syncSeed = 2L)
    w2.append(1L, 1.0); w2.close()
    // schema inferred from first file (a.seq: long/string); b.seq conflicts
    val ex = intercept[Exception] {
      spark.read.format("seqfile").load(dir.toString).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(ex).contains("schema mismatch"))
    assert(msgs(ex).contains("b.seq"), "error should name the offending file")
  }

  test("approx_count_distinct over seqfile data is within 5% of exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("approx").toString
    (0 until 50000).map(i => (i.toLong, s"k${i % 7321}")).toDF("key", "value")
      .write.format("seqfile").mode("overwrite").save(dir)
    val df = spark.read.format("seqfile").load(dir)
    val r = df.agg(
      approx_count_distinct(col("value"), 0.01).as("approx"),
      countDistinct(col("value")).as("exact")).head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(exact === 7321L)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx=$approx exact=$exact")
  }

  test("zero-byte part file: tolerated under DROPMALFORMED/PERMISSIVE, fails FAILFAST") {
    import graft.core.seqfile._
    val dir = java.nio.file.Files.createTempDirectory("zerobyte")
    val w = new SeqFileWriter(java.nio.file.Files.newOutputStream(dir.resolve("good.seq")),
      WritableType.LongW, WritableType.TextW, syncSeed = 4L)
    (0 until 500).foreach(i => w.append(i.toLong, s"v$i")); w.close()
    java.nio.file.Files.createFile(dir.resolve("killed-writer.seq")) // 0 bytes
    assert(spark.read.format("seqfile").option("mode", "dropmalformed")
      .load(dir.toString).count() === 500L)
    assert(spark.read.format("seqfile").option("mode", "permissive")
      .load(dir.toString).count() === 500L)
    intercept[Exception] {
      spark.read.format("seqfile").load(dir.toString).count()
    }
  }

  test("invalid mode option is rejected") {
    val ex = intercept[Exception] {
      spark.read.format("seqfile").option("mode", "bogus")
        .load(textInt).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(ex).contains("FAILFAST"))
  }

  test("null key/value rejected on write (format has no null representation)") {
    import spark.implicits._
    val df = Seq((Some(1L), Some("a")), (None, Some("b")))
      .toDF("key", "value")
    val dir = java.nio.file.Files.createTempDirectory("seqnull").toString
    val ex = intercept[Exception] {
      df.write.format("seqfile").mode("overwrite").save(dir)
    }
    def allMessages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + allMessages(t.getCause)
    assert(allMessages(ex).contains("NULL"))
  }

  test("hive-partitioned directories: partition column in schema, values " +
       "correct, equality filter prunes files at planning time") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("seqpart").toString
    // two partitions with disjoint key ranges, one file each
    (0L until 100L).map(i => (i, s"a$i")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=A")
    (1000L until 1100L).map(i => (i, s"r$i")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=R")

    val df = spark.read.format("seqfile").load(root)
    assert(df.schema.fieldNames.toSeq === Seq("key", "value", "rf"))
    assert(df.count() === 200L)
    // partition values attach to the right rows
    val byPart = df.groupBy("rf").agg(
        org.apache.spark.sql.functions.min("key").as("mn"),
        org.apache.spark.sql.functions.max("key").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(byPart === Set(("A", 0L, 99L), ("R", 1000L, 1099L)))

    // filter on the partition column: results right AND the non-matching
    // file is pruned from the scan (planning-time, not row-level)
    val filtered = df.filter(col("rf") === "A")
    assert(filtered.count() === 100L)
    val scanned = filtered.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }
    val scannedAll = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }
    assert(scanned.get < scannedAll.get,
      s"partition filter must prune input splits: $scanned vs $scannedAll")

    // non-partition filters still work across partitions
    assert(df.filter(col("key") >= 1050L).count() === 50L)
    // IN-list pruning
    assert(df.filter(col("rf").isin("R")).select("value").count() === 100L)

    // the columnar path stays active with a partition column projected
    // (constant vector, not a row-reader fallback)
    val projected = df.select("key", "rf")
    val plan = projected.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"partitioned projection must keep the columnar read path:\n${plan.take(1500)}")
    assert(projected.filter(col("rf") === "R").count() === 100L)
  }

  test("filters mixing partition and data columns never over-prune") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("seqpartmix").toString
    (0L until 100L).map(i => (i, s"a$i")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=A")
    (1000L until 1100L).map(i => (i, s"r$i")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=R")
    val df = spark.read.format("seqfile").load(root)
    // OR across a partition column and a data column references both →
    // not pushable → must scan every file and return the exact union
    assert(df.filter(col("rf") === "A" || col("key") >= 1090L).count() === 110L)
    // AND splits: the partition conjunct prunes, the data conjunct filters
    assert(df.filter(col("rf") === "R" && col("key") < 1010L).count() === 10L)
    // NOT over a partition filter
    assert(df.filter(!(col("rf") === "A")).count() === 100L)
  }

  test("multi-level partitioning (two keys) discovers, reads and prunes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("seqpart2").toString
    for ((y, rf) <- Seq(("1997", "A"), ("1997", "R"), ("1998", "A"))) {
      Seq((s"$y-$rf".hashCode.toLong, s"$y/$rf")).toDF("key", "value")
        .coalesce(1).write.format("seqfile").mode("overwrite")
        .save(s"$root/year=$y/rf=$rf")
    }
    val df = spark.read.format("seqfile").load(root)
    assert(df.schema.fieldNames.toSeq === Seq("key", "value", "year", "rf"))
    assert(df.count() === 3L)
    assert(df.filter(col("year") === "1997").count() === 2L)
    assert(df.filter(col("year") === "1997" && col("rf") === "R")
      .select("value").head().getString(0) === "1997/R")
  }

  test("runtime (DPP-style) filters injected after planning skip partitions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("seqdpp").toString
    for (rf <- Seq("A", "N", "R")) {
      (0L until 10L).map(i => (i, s"$rf$i")).toDF("key", "value")
        .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=$rf")
    }
    val schema = spark.read.format("seqfile").load(root).schema
    val scan = new SeqFileScanBuilder(schema, Seq(root),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build().asInstanceOf[SeqFileScan]
    assert(scan.planInputPartitions().length === 3)
    // what Spark's runtime filtering does at execution time: filter() after
    // planning with values learned from a joined dim
    // every column is advertised: partition cols for file pruning, data
    // cols for runtime zone-map block skipping
    assert(scan.filterAttributes().map(_.describe()).toSet ===
      Set("key", "value", "rf"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("rf", Array("A", "R"))))
    assert(scan.planInputPartitions().length === 2)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("rf", "N")))
    assert(scan.planInputPartitions().length === 1)
  }

  test("streaming read over a hive-partitioned directory carries partition values") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("seqpartstream").toString
    (0L until 50L).map(i => (i, s"a$i")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=A")
    (100L until 180L).map(i => (i, s"r$i")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=R")
    val schema = spark.read.format("seqfile").load(root).schema
    val q = spark.readStream.format("seqfile").schema(schema).load(root)
      .groupBy("rf").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("partstream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("partstream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === Set(("A", 50L), ("R", 80L)))
    } finally q.stop()
  }

  test("inconsistent partition layouts are rejected, not guessed at") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("seqbadpart").toString
    Seq((1L, "x")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/rf=A")
    Seq((2L, "y")).toDF("key", "value")
      .coalesce(1).write.format("seqfile").mode("overwrite").save(s"$root/plain")
    def allMessages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + allMessages(t.getCause)
    val ex = intercept[Exception] {
      spark.read.format("seqfile").load(root).count()
    }
    assert(allMessages(ex).contains("inconsistent partition layout"))
  }
}
