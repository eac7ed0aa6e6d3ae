package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.PlanParallel

/** Trained language identification — closed-form multinomial Naive Bayes
  * over character trigrams (the fastText-style supervised baseline,
  * reduced to its no-iteration core so the whole train+score pipeline is
  * value-for-value replicable by a SQL oracle — the same recipe as
  * [[QualityClassifier.naiveBayesCleanVsScrambled]]).
  *
  * This is the LEARNED tier above the row-local stopword heuristic
  * (`TextAnalysis.langId`): the heuristic needs one of ~10 listed
  * stopwords to fire at all (a stopword-free technical sentence reads
  * 'und'), while the NB model scores EVERY trigram of the input against
  * per-language trigram statistics — spec-measured strictly more accurate
  * on held-out multilingual sentences.
  *
  * Model (per language L, Laplace smoothing α over the GLOBAL training
  * vocabulary V):
  *   score(d, L) = ln P(L) + Σ_{g ∈ trigrams(d)} ln P(g | L)
  *               = prior_L + n_d·dflt_L + Σ_{g ∈ d ∩ cnt_L} wd(g, L)
  * where dflt_L = ln α − ln(N_L + α·|V|) is the unseen-gram weight and
  * wd(g, L) = ln(cnt_L(g) + α) − ln α lifts a seen gram above it. The
  * decomposition matters at scale: the corpus-side work is ONE trigram
  * explode + a broadcast equi-join against the vocabulary-bounded weight
  * table + one partial-aggregated sum — no per-language corpus passes,
  * no UDFs, and the |langs|-row (prior, dflt) frame rides a broadcast
  * cross join (constant width, PlanGuard-allowlisted).
  *
  * Training is distributed (two groupBy counts over the labeled frame) —
  * the gate trains on [[fixture]], but any labeled corpus works at any
  * size. Determinism: counts are exact integers, weights are fixed
  * ln-expressions of them, and the argmax tie-breaks on ascending
  * language code. */
object LangIdNb {

  /** A trained model: `weights` = (lang, g, wd) — one row per (language,
    * seen trigram), vocabulary-bounded; `langs` = (lang, prior, dflt) —
    * one row per language. */
  final case class Model(weights: DataFrame, langs: DataFrame)

  /** Labeled training fixture: 10 sentences per language, ASCII-only
    * (no apostrophes/accents — the oracle inlines these very strings as
    * SQL literals; see SparkEntryOracles.langIdNbSql). Deliberately
    * small: the POINT of the gate is that the full train+score chain is
    * SQL-re-derivable from scratch, not that this fixture rivals a real
    * fastText corpus — swap in any labeled frame via [[train]]. */
  val fixture: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog",
    "en" -> "she sells sea shells by the sea shore every morning",
    "en" -> "a journey of a thousand miles begins with a single step",
    "en" -> "the weather today is bright and clear with a gentle wind",
    "en" -> "reading books helps people understand the world around them",
    "en" -> "the children played in the garden until the sun went down",
    "en" -> "science and technology shape the way we live and work",
    "en" -> "please remember to bring your ticket and passport tomorrow",
    "en" -> "the old library keeps many rare and valuable manuscripts",
    "en" -> "good food and good company make every evening better",
    "en" -> "he collects old coins and stamps from many different lands",
    "en" -> "fast machines can search through millions of records each second",
    "en" -> "my sister takes photographs of birds in the high mountains",
    "en" -> "new discoveries in physics often surprise even the experts",
    "en" -> "these databases store huge amounts of information across servers",
    "de" -> "der schnelle braune fuchs springt ueber den faulen hund",
    "de" -> "die kinder spielen im garten bis die sonne untergeht",
    "de" -> "das wetter ist heute schoen und klar mit leichtem wind",
    "de" -> "wir gehen morgen zusammen in die stadt einkaufen",
    "de" -> "buecher lesen hilft den menschen die welt zu verstehen",
    "de" -> "die alte bibliothek hat viele seltene und wertvolle buecher",
    "de" -> "wissenschaft und technik veraendern unser taegliches leben",
    "de" -> "bitte bringen sie morgen ihre fahrkarte und ihren pass mit",
    "de" -> "gutes essen und gute freunde machen jeden abend besser",
    "de" -> "der zug faehrt puenktlich um acht uhr vom bahnhof ab",
    "de" -> "er sammelt alte muenzen und briefmarken aus vielen laendern",
    "de" -> "schnelle maschinen durchsuchen millionen von eintraegen pro sekunde",
    "de" -> "meine schwester fotografiert voegel in den hohen bergen",
    "de" -> "neue entdeckungen in der physik ueberraschen oft die experten",
    "de" -> "diese datenbanken speichern riesige mengen an informationen",
    "fr" -> "le renard brun rapide saute par dessus le chien paresseux",
    "fr" -> "les enfants jouent dans le jardin jusqu au coucher du soleil",
    "fr" -> "le temps est clair et doux avec un vent leger aujourd hui",
    "fr" -> "nous allons ensemble au marche demain matin tres tot",
    "fr" -> "lire des livres aide les gens a comprendre le monde",
    "fr" -> "la vieille bibliotheque garde beaucoup de livres rares",
    "fr" -> "la science et la technique changent notre vie quotidienne",
    "fr" -> "veuillez apporter votre billet et votre passeport demain",
    "fr" -> "un bon repas et de bons amis rendent chaque soiree meilleure",
    "fr" -> "le train part de la gare a huit heures precises du matin",
    "fr" -> "il collectionne de vieilles pieces et des timbres de nombreux pays",
    "fr" -> "des machines rapides parcourent des millions de fiches chaque seconde",
    "fr" -> "ma soeur photographie des oiseaux dans les hautes montagnes",
    "fr" -> "les nouvelles decouvertes en physique surprennent souvent les experts",
    "fr" -> "ces bases de donnees conservent des quantites enormes d informations",
    "es" -> "el rapido zorro marron salta sobre el perro perezoso",
    "es" -> "los ninos juegan en el jardin hasta que se pone el sol",
    "es" -> "el tiempo hoy es claro y suave con un viento ligero",
    "es" -> "vamos juntos al mercado manana por la manana temprano",
    "es" -> "leer libros ayuda a la gente a entender el mundo",
    "es" -> "la vieja biblioteca guarda muchos libros raros y valiosos",
    "es" -> "la ciencia y la tecnica cambian nuestra vida diaria",
    "es" -> "por favor traiga su billete y su pasaporte manana",
    "es" -> "una buena comida y buenos amigos mejoran cada noche",
    "es" -> "el tren sale de la estacion a las ocho en punto",
    "es" -> "el colecciona monedas antiguas y sellos de muchos paises",
    "es" -> "las maquinas rapidas revisan millones de registros cada segundo",
    "es" -> "mi hermana fotografia aves en las altas montanas",
    "es" -> "los nuevos descubrimientos en fisica sorprenden a los expertos",
    "es" -> "estas bases de datos guardan cantidades enormes de informacion")

  /** Whitespace-collapsed, trimmed, lowercased — the exact sequence the
    * oracle replicates (`lower(trim(regexp_replace(s, '\s+', ' ', 'g')))`). */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Character-trigram MULTISET of an ALREADY-NORMALIZED text column, in
    * position order. `c` must be a plain attribute (bind [[normText]]
    * to a column first): the transform lambda references it once per
    * element, and Catalyst does no CSE inside higher-order-function
    * lambdas — an inline normalization would re-run its regex per
    * trigram (the naiveBayes bigram lesson). */
  def trigramsOf(c: Column): Column =
    when(length(c) >= 3,
      transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))

  /** Closed-form NB training over any labeled frame (`langCol`,
    * `textCol`): ONE distributed count aggregate over the exploded
    * trigrams plus one |langs|-row count over the labeled frame — the
    * per-language totals and the vocabulary size are derived from the
    * (lang, g, c) table instead of re-aggregating the corpus (identical
    * integers: nl = Σ_g c, v = |distinct g|). Both model frames come back
    * MATERIALIZED as local relations: they are vocabulary-/|langs|-bounded
    * and every predict() broadcasts them anyway, so leaving them lazy made
    * each downstream broadcast re-execute the whole training subtree
    * (measured: ~6 re-train jobs per micro-batch in the streaming
    * curation gate). The ln arithmetic stays in Catalyst expressions,
    * value-identical to the previous distributed form.
    *
    * `maxDriverRows` bounds the (lang, trigram) table the driver collects;
    * `limit(maxDriverRows + 1)` detects a larger one without a separate
    * count job. Above it the weights stay distributed, checkpointed once
    * so predictions do not re-run training, and `predict` joins them
    * without a broadcast, as `Bpe` keeps its word table distributed. */
  def train(labeled: DataFrame, langCol: String, textCol: String,
            alpha: Double = 1.0): Model =
    trainWith(labeled, langCol, textCol, alpha, maxDriverRows)

  /** The (lang, trigram) rows `train` collects to the driver at most. */
  private val maxDriverRows: Int = 1 << 22

  /** `train` with a driver cap of `cap` (lang, trigram) rows. */
  private[operators] def trainWith(labeled: DataFrame, langCol: String, textCol: String,
                                   alpha: Double, cap: Int): Model = {
    require(alpha > 0, s"alpha $alpha")
    val spark = labeled.sparkSession
    import spark.implicits._
    val grams = labeled
      .select(col(langCol).as("lang"), normText(col(textCol)).as("t"))
      .select(col("lang"), explode(trigramsOf(col("t"))).as("g"))
    // the one corpus-sized job: exact (lang, trigram) counts. The two
    // bounded collects are independent — overlap them (guide §2.6)
    val counts = grams.groupBy(col("lang"), col("g")).agg(count(lit(1)).as("c"))
    val Seq(cnt, nsentL) = PlanParallel.mapOrdered(Seq(
      counts.limit(cap + 1),
      labeled.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("ns"))
    ))(_.collect())
    val fits = cnt.length <= cap
    val cntDf =
      if (fits) cnt.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSeq.toDF("lang", "g", "c")
      else counts.localCheckpoint()
    val nsent = nsentL.map(r => (r.getString(0), r.getLong(1)))
      .toSeq.toDF("lang", "ns")
    val tot = cntDf.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val voc = cntDf.agg(countDistinct(col("g")).as("v"))
    val nTotal = nsent.agg(sum(col("ns")).as("nst"))
    val langs = tot.join(nsent, "lang").crossJoin(voc).crossJoin(nTotal)
      .select(col("lang"),
        log(col("ns") * lit(1.0) / col("nst")).as("prior"),
        (log(lit(alpha)) - log(col("nl") + lit(alpha) * col("v"))).as("dflt"))
    val weights = cntDf.select(col("lang"), col("g"),
      (log(col("c") + lit(alpha)) - log(lit(alpha))).as("wd"))
    Model(
      if (fits) weights.as[(String, String, Double)].collect().toSeq.toDF("lang", "g", "wd")
      else weights,
      langs.as[(String, Double, Double)].collect().toSeq
        .toDF("lang", "prior", "dflt"))
  }

  /** Is `df` a driver-local table, as `train` returns a model under its
    * driver cap? */
  private[operators] def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Score + argmax every document: (idCol, lang_nb, nb_score). One
    * corpus trigram pass; the weight table and the per-language scalar
    * frame both broadcast. nb_score is rounded to 4 decimals (the
    * matched-weight sum is a distributed double fold; 1e-4 spacing
    * absorbs summation-order noise by ~6 orders of magnitude). */
  def predict(model: Model, docs: DataFrame, idCol: String,
              textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("__id"),
      normText(col(textCol)).as("t"))
    // The language list (with its prior/dflt scalars) is bounded and —
    // since train() materializes the model — already driver-local, so the
    // per-language matched-weight sums become COLUMNS of one fixed-width
    // conditional-sum aggregate (hash-codegen) and the argmax a single
    // least() over per-language (−score, lang) structs: no per-(doc, lang)
    // row set, no |langs|-way cross join, no window sort. Values are the
    // identical expressions; only the summation grouping changes, which
    // the documented 1e-4 rounding absorbs.
    //
    // ONE corpus pass: the trigram count n rides the exploded rows
    // (explode_outer keeps zero-trigram docs as a single null-gram row,
    // and the LEFT weights join keeps unmatched grams), so there is no
    // second scan for per-doc stats and no stats⋈matched join — the two
    // branches otherwise re-ran the scan+normalize upstream once each
    // (column pruning differentiates the exchanges, so they don't reuse).
    val langRows = model.langs.select(col("lang"), col("prior"), col("dflt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(langRows.nonEmpty, "model has no languages")
    val grams = base
      .select(col("__id"),
        greatest(length(col("t")) - 2, lit(0)).cast("long").as("n"),
        explode_outer(trigramsOf(col("t"))).as("g"))
      .join(if (onDriver(model.weights)) broadcast(model.weights) else model.weights,
        Seq("g"), "left")
    // columns are named by the language's index, never by its label: a
    // label such as `zh.Hant` would not resolve as a column name
    val msCols = langRows.indices.map { i =>
      sum(when(col("lang") === lit(langRows(i)._1), col("wd"))).as(s"__ms_$i") }
    val agg = grams.groupBy(col("__id"))
      .agg(max(col("n")).as("n"), msCols: _*)
    val winner = least(langRows.indices.map { i =>
      val (l, prior, dflt) = langRows(i)
      struct((-(lit(prior) + col("n") * lit(dflt)
          + coalesce(col(s"__ms_$i"), lit(0.0)))).as("negs"),
        lit(l).as("lang"))
    }: _*)
    agg.select(col("__id"), winner.as("w"))
      .select(col("__id").as(idCol), col("w.lang").as("lang_nb"),
        round(-col("w.negs"), 4).as("nb_score"))
  }

  /** The gate's convenience shape: train on [[fixture]], predict over
    * `docs`. */
  def predictWithFixture(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    predict(train(fixture.toDF("lang", "s"), "lang", "s"), docs, idCol,
      textCol)
  }
}
