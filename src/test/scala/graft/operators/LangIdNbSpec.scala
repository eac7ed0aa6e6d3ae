package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.TextAnalysis

class LangIdNbSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** HELD-OUT eval sentences (none appear in LangIdNb.fixture). The
    * second half of each language's set is STOPWORD-FREE relative to
    * the heuristic's 10-word lists — the regime where the heuristic
    * can only answer 'und' but trigram statistics still carry the
    * language. */
  private val eval: Seq[(String, String)] = Seq(
    // heuristic-friendly (stopwords present)
    "en" -> "the museum opens early and the tickets are cheap",
    "en" -> "it is raining but the match will continue for now",
    "de" -> "der lehrer erklaert die aufgabe und alle verstehen sie",
    "de" -> "das haus ist gross und der garten ist klein",
    "fr" -> "le professeur explique la lecon et les eleves ecoutent",
    "fr" -> "la maison est grande et le jardin est pour tous",
    "es" -> "el profesor explica la leccion y los alumnos escuchan",
    "es" -> "la casa es grande y el jardin es para todos",
    // stopword-free: the heuristic reads these as 'und'
    "en" -> "quantum computers promise faster searches across huge databases",
    "en" -> "my brother collects vintage cameras from distant countries",
    "de" -> "meine schwester sammelt alte kameras aus fernen laendern",
    "de" -> "schnelle rechner suchen heute riesige datenmengen durch",
    "fr" -> "ma soeur collectionne de vieilles cameras venues de pays lointains",
    "fr" -> "nos ordinateurs modernes cherchent vite parmi ces donnees enormes",
    "es" -> "mi hermana colecciona camaras antiguas de paises lejanos",
    "es" -> "nuestras computadoras modernas buscan rapido entre tantos datos")

  private def preds(): Seq[(String, String, String)] = {
    val spark2 = spark
    import spark2.implicits._
    val df = eval.zipWithIndex
      .map { case ((l, s), i) => (i.toLong, l, s) }
      .toDF("id", "truth", "text")
    val nb = LangIdNb.predictWithFixture(df, "id", "text")
      .select(col("id"), col("lang_nb"))
    df.join(nb, "id")
      .select(col("truth"), col("lang_nb"),
        TextAnalysis.langId(col("text")).as("lang_heur"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq
  }

  test("NB lang-id beats the stopword heuristic on held-out sentences; perfect on stopword-free text") {
    val rows = preds()
    val accNb = rows.count(r => r._2 == r._1).toDouble / rows.size
    val accHeur = rows.count(r => r._3 == r._1).toDouble / rows.size
    // the heuristic cannot do better than 'und' on the stopword-free
    // half, so it is capped at 0.5 here; NB should be (and measured:
    // is) perfect on this eval
    assert(accNb === 1.0, s"NB accuracy $accNb; rows=$rows")
    assert(accHeur <= 0.5 + 1e-9, s"eval set no longer stresses the heuristic: $accHeur")
    assert(accNb > accHeur,
      f"NB $accNb%.2f must beat heuristic $accHeur%.2f")
  }

  test("model shape: vocabulary-bounded weights, one (prior, dflt) row per language, exact counts") {
    val spark2 = spark
    import spark2.implicits._
    val m = LangIdNb.train(LangIdNb.fixture.toDF("lang", "s"), "lang", "s")
    val langs = m.langs.collect()
    assert(langs.map(_.getString(0)).sorted.toSeq === Seq("de", "en", "es", "fr"))
    // balanced fixture -> equal priors = ln(1/4)
    langs.foreach(r => assert(math.abs(r.getDouble(1) - math.log(0.25)) < 1e-12))
    // weights: every (lang, gram) count >= 1, wd = ln(c+1) > 0
    val w = m.weights.collect()
    assert(w.nonEmpty && w.forall(_.getDouble(2) > 0))
    // the weight table is vocabulary-bounded: |weights| <= |langs| * |V|
    val v = w.map(_.getString(1)).distinct.length
    assert(w.length <= 4 * v)
  }

  test("a trigram table over the driver cap keeps the weights distributed, with the same predictions") {
    val spark2 = spark
    import spark2.implicits._
    val labeled = LangIdNb.fixture.toDF("lang", "s")
    val docs = eval.zipWithIndex.map { case ((_, s), i) => (i.toLong, s) }.toDF("id", "text")
    val local = LangIdNb.train(labeled, "lang", "s")
    val capped = LangIdNb.trainWith(labeled, "lang", "s", alpha = 1.0, cap = 100)
    assert(LangIdNb.onDriver(local.weights))
    assert(!LangIdNb.onDriver(capped.weights), "over the cap the weights stay distributed")
    assert(capped.weights.count() > 100)
    assert(capped.weights.collect().map(_.toString).sorted.toSeq ===
      local.weights.collect().map(_.toString).sorted.toSeq)
    def preds(m: LangIdNb.Model) =
      LangIdNb.predict(m, docs, "id", "text").as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val (a, b) = (preds(local), preds(capped))
    assert(a.map(r => (r._1, r._2)) === b.map(r => (r._1, r._2)))
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._3 - y._3) < 1e-3, s"$x vs $y") }
  }

  test("dotted language labels: predictions match the undotted run") {
    val spark2 = spark
    import spark2.implicits._
    // an order-preserving relabelling, so argmax ties break the same way
    val dotted = Map("de" -> "de.CH", "en" -> "en.US", "es" -> "es.419", "fr" -> "zh.Hant")
    val docs = eval.zipWithIndex.map { case ((_, s), i) => (i.toLong, s) }.toDF("id", "text")
    def run(label: String => String): Seq[(Long, String, Double)] = {
      val m = LangIdNb.train(
        LangIdNb.fixture.map { case (l, s) => (label(l), s) }.toDF("lang", "s"), "lang", "s")
      LangIdNb.predict(m, docs, "id", "text").as[(Long, String, Double)]
        .collect().sortBy(_._1).toSeq
    }
    val plain = run(identity)
    val dot = run(dotted)
    assert(dot.map(r => (r._1, r._2)) === plain.map(r => (r._1, dotted(r._2))))
    dot.zip(plain).foreach { case (d, p) =>
      assert(math.abs(d._3 - p._3) < 1e-3, s"score of doc ${d._1}: $d vs $p")
    }
  }

  test("trigramsOf: position-ordered multiset after normalization; short/empty safe") {
    val spark2 = spark
    import spark2.implicits._
    def g(s: String): Seq[String] = Seq(s).toDF("t")
      .select(LangIdNb.trigramsOf(LangIdNb.normText(col("t"))).as("g"))
      .head().getSeq[String](0).toSeq
    assert(g("ABBA  b") === Seq("abb", "bba", "ba ", "a b"))
    assert(g("ab") === Nil)
    assert(g("") === Nil)
    assert(g("aaaa") === Seq("aaa", "aaa")) // multiset, not distinct
  }
}
