package graft.sources.seqfile

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Key filters the reader evaluates exactly (KeyFilters) return the rows
  * Spark's own `Filter` returns over the same rows in memory, for every
  * ordered Writable key type, with and without sidecars: NaN and -0.0 under
  * Spark's equality and order, the extreme integers, Text in unsigned UTF-8
  * byte order (not `String.compareTo`), empty and null-holding `IN`, `<=>`
  * null, and a key filter with only the value projected. */
class SeqFileExactKeyFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** One key type: its edge keys and the literals the filters compare with. */
  private case class Case(name: String, dataType: DataType, edges: Seq[Any], lits: Seq[Any])

  private val cases = Seq(
    Case("Short", ShortType,
      Seq(Short.MinValue, (-1).toShort, 0.toShort, 1.toShort, Short.MaxValue),
      Seq(Short.MinValue, 0.toShort, 7.toShort, Short.MaxValue)),
    Case("Int", IntegerType, Seq(Int.MinValue, -1, 0, 1, Int.MaxValue),
      Seq(Int.MinValue, 0, 7, Int.MaxValue)),
    Case("Long", LongType, Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
      Seq(Long.MinValue, 0L, 7L, Long.MaxValue)),
    Case("Float", FloatType,
      Seq(Float.NaN, -0.0f, 0.0f, Float.NegativeInfinity, Float.PositiveInfinity,
        Float.MinValue, Float.MaxValue, 1.5f),
      Seq(Float.NaN, -0.0f, 0.0f, 1.5f, Float.NegativeInfinity)),
    Case("Double", DoubleType,
      Seq(Double.NaN, -0.0, 0.0, Double.NegativeInfinity, Double.PositiveInfinity,
        Double.MinValue, Double.MaxValue, 1.5),
      Seq(Double.NaN, -0.0, 0.0, 1.5, Double.PositiveInfinity)),
    Case("Text", StringType,
      // U+1D11E sorts after U+E000 in UTF-8 bytes, before it in UTF-16
      Seq("", "a", "z", "\u00e9", "\u65e5\u672c", "\ud834\udd1e", "\ue000", "\uffff"),
      Seq("", "a", "\ue000", "\ud834\udd1e", "\u00e9")),
    Case("Bytes", BinaryType,
      Seq(Array[Byte](), Array[Byte](0), Array[Byte](-1), Array[Byte](127),
        Array[Byte](-128), Array[Byte](1, 2)),
      Seq(Array[Byte](), Array[Byte](127), Array[Byte](-128), Array[Byte](1, 2))))

  /** Filler key `i` of type `t`, so the edge keys sit among many blocks. */
  private def filler(t: DataType, i: Int): Any = t match {
    case ShortType => (i % 20000 - 10000).toShort
    case IntegerType => i * 7919 - 500000
    case LongType => i.toLong * 104729L - 10000000L
    case FloatType => (i % 997).toFloat / 8 - 60
    case DoubleType => (i % 997).toDouble / 8 - 60
    case StringType => s"k${i % 1500}"
    case BinaryType => Array[Byte]((i % 251).toByte, (i % 13).toByte)
  }

  private def rows(c: Case): Seq[Row] =
    ((0 until 6000).map(filler(c.dataType, _)) ++ c.edges ++ c.edges)
      .zipWithIndex.map { case (k, i) => Row(k, s"v$i") }

  private def schema(c: Case) = StructType(Seq(
    StructField("key", c.dataType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** The rows written in small blocks with zone maps and Bloom filters;
    * `sidecars = false` deletes the sidecars. */
  private def written(c: Case, sidecars: Boolean): String = {
    val dir = Files.createTempDirectory(s"exact-${c.name}").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows(c), 2), schema(c))
      .write.format("seqfile").option("blockSize", "4096").option("bloomKeys", "true")
      .mode("overwrite").save(dir)
    if (!sidecars) Files.list(Path.of(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".zmap")).foreach(Files.delete)
    dir
  }

  /** Rows in a form that compares by value (binary keys as lists, NaN
    * equal to NaN). */
  private def norm(rs: Array[Row]): Seq[String] = rs.toSeq.map { r =>
    r.toSeq.map {
      case b: Array[Byte] => b.toList.toString
      case v => String.valueOf(v)
    }.mkString("|")
  }.sorted

  private def filters(c: Case): Seq[(String, Column)] = {
    val k = col("key")
    def l(v: Any): Column = lit(v).cast(c.dataType)
    c.lits.flatMap { v =>
      val s = v match { case b: Array[Byte] => b.toList.toString; case o => String.valueOf(o) }
      Seq(s"= $s" -> (k === l(v)), s"<=> $s" -> (k <=> l(v)), s"> $s" -> (k > l(v)),
        s">= $s" -> (k >= l(v)), s"< $s" -> (k < l(v)), s"<= $s" -> (k <= l(v)))
    } ++ Seq(
      "IN all" -> k.isin(c.lits.map(l): _*),
      "IN with null" -> k.isin(l(c.lits.head), lit(null).cast(c.dataType)),
      "empty IN" -> k.isin(),
      "<=> null" -> (k <=> lit(null).cast(c.dataType)),
      "range" -> (k > l(c.lits.head) && k <= l(c.lits.last)))
  }

  for (c <- cases; sidecars <- Seq(true, false)) {
    val label = if (sidecars) "with sidecars" else "without sidecars"
    test(s"${c.name} keys $label: pushed key filters equal Spark's unpushed filter") {
      val dir = written(c, sidecars)
      val pushed = spark.read.format("seqfile").load(dir)
      val inMemory = spark.createDataFrame(spark.sparkContext.parallelize(rows(c), 2), schema(c))
      for ((name, f) <- filters(c)) {
        val q = pushed.filter(f)
        assert(norm(q.collect()) === norm(inMemory.filter(f).collect()), s"key $name")
        assert(!q.queryExecution.optimizedPlan.exists(_.isInstanceOf[Filter]),
          s"key $name stays residual:\n${q.queryExecution.optimizedPlan}")
        // only the value projected: the reader still decodes the key
        assert(norm(q.select("value").collect()) === norm(inMemory.filter(f).select("value").collect()),
          s"key $name, value only")
      }
    }
  }

  test("blocks holding only -0.0 or only 0.0 are found by their SQL equal (zone map and Bloom)") {
    for ((t, neg, pos) <- Seq[(DataType, Any, Any)]((DoubleType, -0.0, 0.0), (FloatType, -0.0f, 0.0f))) {
      // whole blocks of one zero each, so only their bounds and Bloom
      // filters can admit the other zero
      val rs = (Seq.fill(3000)(neg) ++ Seq.fill(3000)(pos)).zipWithIndex.map { case (k, i) => Row(k, s"v$i") }
      val c = Case(s"zeros-$t", t, Nil, Nil)
      val dir = Files.createTempDirectory("exact-zeros").toString
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema(c))
        .write.format("seqfile").option("blockSize", "4096").option("bloomKeys", "true")
        .mode("overwrite").save(dir)
      val df = spark.read.format("seqfile").load(dir)
      val inMemory = spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema(c))
      for (z <- Seq(neg, pos); f <- Seq(col("key") === lit(z), col("key") >= lit(z),
          col("key") <= lit(z), col("key").isin(z))) {
        assert(df.filter(f).count() === 6000L, s"$t $f")
        assert(norm(df.filter(f).collect()) === norm(inMemory.filter(f).collect()), s"$t $f")
      }
    }
  }

  /** Shapes the optimizer folds before they reach the scan, pushed as is. */
  test("IN with a null, an empty IN and <=> null are exact when pushed directly") {
    val c = cases.find(_.name == "Long").get
    val dir = written(c, sidecars = true)
    val tableSchema = spark.read.format("seqfile").load(dir).schema
    val inMemory = spark.createDataFrame(spark.sparkContext.parallelize(rows(c), 2), schema(c))
    def pushed(f: sources.Filter): Seq[String] = {
      val builder = new SeqFileScanBuilder(tableSchema, Seq(dir),
        new CaseInsensitiveStringMap(java.util.Map.of[String, String]()),
        spark.sparkContext.hadoopConfiguration)
      assert(builder.pushFilters(Array(f)).isEmpty, s"$f consumed")
      val keys = builder.build() match {
        case l: SeqFileLocalScan => l.rows().toSeq.map(_.getLong(0))
        case s: SeqFileScan =>
          val factory = s.createReaderFactory()
          s.planInputPartitions().toSeq.flatMap { p =>
            val r = factory.createReader(p)
            val out = Seq.newBuilder[Long]
            try while (r.next()) out += r.get().getLong(0) finally r.close()
            out.result()
          }
      }
      keys.map(String.valueOf).sorted
    }
    def expected(f: Column): Seq[String] =
      inMemory.filter(f).collect().toSeq.map(r => String.valueOf(r.getLong(0))).sorted
    assert(pushed(sources.In("key", Array[Any](7L, null, Long.MaxValue))) ===
      expected(col("key").isin(7L, null, Long.MaxValue)))
    assert(expected(col("key").isin(7L, null, Long.MaxValue)) === Seq(String.valueOf(Long.MaxValue),
      String.valueOf(Long.MaxValue)))
    assert(pushed(sources.In("key", Array[Any]())) === Nil)
    assert(pushed(sources.EqualNullSafe("key", null)) === expected(col("key") <=> lit(null)))
    assert(pushed(sources.EqualTo("key", null)) === Nil)
    assert(pushed(sources.And(sources.GreaterThan("key", -2L), sources.LessThan("key", 2L))) ===
      expected(col("key") > -2L && col("key") < 2L))
  }

  test("value filters, mistyped literals and other shapes stay residual") {
    val c = cases.find(_.name == "Long").get
    val dir = written(c, sidecars = true)
    val tableSchema = spark.read.format("seqfile").load(dir).schema
    val builder = new SeqFileScanBuilder(tableSchema, Seq(dir),
      new CaseInsensitiveStringMap(java.util.Map.of[String, String]()),
      spark.sparkContext.hadoopConfiguration)
    val residual: Array[sources.Filter] = Array(
      sources.EqualTo("value", "v1"), sources.EqualTo("key", 7), sources.IsNotNull("key"),
      sources.Or(sources.EqualTo("key", 1L), sources.EqualTo("key", 2L)),
      sources.Not(sources.EqualTo("key", 1L)),
      sources.And(sources.EqualTo("key", 1L), sources.EqualTo("value", "v1")))
    assert(builder.pushFilters(residual :+ sources.EqualTo("key", 7L)).toSeq === residual.toSeq)
  }
}
