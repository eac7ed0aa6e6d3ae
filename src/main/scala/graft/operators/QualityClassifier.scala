package graft.operators

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{expressions, TextAnalysis}

/** Trained quality classifier — the learned tier of the quality-filter
  * stack (the row-local `TextAnalysis.qualityScore` heuristics are the
  * zero-cost tier; this is the "train a fastText-style discriminator and
  * score the lake" tier used by production LLM pipelines).
  *
  * Self-supervised setup: positives are the documents as written,
  * negatives are the SAME documents with their tokens sorted
  * alphabetically — a deterministic scrambling that preserves the unigram
  * multiset exactly, so the classifier can only separate the classes by
  * learning ORDER structure (hashed bigram features). This is the
  * perplexity-filter idea recast as a discriminator, with no external
  * labeled corpus needed; callers with real labels (wiki-vs-crawl) can
  * pass them via [[trainLabeled]].
  *
  * Features: unigram + bigram counts hashed to `numFeatures` buckets with
  * the engine's own xxhash64 (no MLlib hashing dependency — the SAME
  * Column expression featurizes training and serving, so the broadcast
  * scoring join is exactly the training representation).
  *
  * Scale split: TRAINING is the bounded phase (MLlib L-BFGS over the
  * sampled/labeled frame; the one vector-assembly UDF in this file lives
  * here, documented); SCORING — the 100 TB side — is UDF-free: one
  * per-(doc, bucket) count aggregate, a broadcast join against the
  * nonzero-weight table, a per-doc sum. Same shuffle shape as the DSIR
  * operator. */
object QualityClassifier {

  /** A trained model: nonzero feature weights (idx, weight), the
    * intercept, the feature-space size, and the holdout AUC measured at
    * train time. */
  final case class Model(weights: DataFrame, intercept: Double,
                         numFeatures: Int, holdoutAuc: Double)

  /** (doc, bucket, count) hashed unigram+bigram features of `textCol`. */
  private def featurize(df: DataFrame, idCol: String, textCol: String,
                        numFeatures: Int): DataFrame = {
    // Both widths come from ONE shingle_range_rows pass (same strings per
    // width as shingle_rows, so the hashed indices are identical) — the
    // two-select union form scanned and tokenized the corpus once per
    // width.
    df.select(col(idCol).as("__id"),
        expressions.shingle_range_rows(col(textCol), 1, 2))
      .select(col("__id"),
        pmod(xxhash64(col("shingle")), lit(numFeatures.toLong)).as("idx"))
      .groupBy(col("__id"), col("idx")).agg(count(lit(1)).as("cnt"))
  }

  /** Train on caller-provided binary labels (`labelCol` ∈ {0, 1}).
    * `holdoutPred` marks rows reserved for the AUC measurement (they never
    * reach the optimizer). */
  def trainLabeled(docs: DataFrame, idCol: String, textCol: String,
                   labelCol: String, holdoutPred: org.apache.spark.sql.Column,
                   numFeatures: Int = 1 << 18, maxIter: Int = 25): Model = {
    require(maxIter >= 1, s"maxIter $maxIter")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__text"),
      col(labelCol).cast("double").as("label"), holdoutPred.as("__hold"))
    val feats = featurize(base, "__id", "__text", numFeatures)
      .join(base.select(col("__id"), col("label"), col("__hold")), "__id")
    // the one UDF: per-doc sparse-vector assembly for the MLlib trainer
    // (bounded training phase only — scoring never runs it)
    val toVec = udf((idx: Seq[Long], cnt: Seq[Long]) => {
      val pairs = idx.map(_.toInt).zip(cnt.map(_.toDouble)).sortBy(_._1)
      Vectors.sparse(numFeatures, pairs.map(_._1).toArray, pairs.map(_._2).toArray)
    })
    // every L-BFGS iteration is a treeAggregate job over this frame, so
    // per-iteration fixed cost = task count × dispatch overhead; compact
    // the (bounded) training frame to a small fraction of the cluster
    // width — the aggregate is a reduction, width beyond a few partitions
    // buys nothing at sample scale (measured: iteration jobs are ~90%
    // dispatch at 8 partitions already)
    val trainParts = math.max(2, spark.sparkContext.defaultParallelism / 8)
    val assembled = feats.groupBy(col("__id"), col("label"), col("__hold"))
      .agg(collect_list(col("idx")).as("is"), collect_list(col("cnt")).as("cs"))
      .select(col("__id"), col("label"), col("__hold"),
        toVec(col("is"), col("cs")).as("features"))
      .coalesce(trainParts)
      .cache()
    try {
      val lr = new LogisticRegression()
        .setMaxIter(maxIter).setRegParam(1e-3).setStandardization(false)
      val model = lr.fit(assembled.filter(!col("__hold")))
      val holdout = assembled.filter(col("__hold"))
      val auc =
        if (holdout.isEmpty) Double.NaN
        else new BinaryClassificationEvaluator()
          .setRawPredictionCol("rawPrediction")
          .evaluate(model.transform(holdout))
      val coef = model.coefficients
      val nonzero = coef.toArray.iterator.zipWithIndex
        .filter(_._1 != 0.0).map { case (w, i) => (i.toLong, w) }.toSeq
      Model(nonzero.toDF("idx", "weight"), model.intercept, numFeatures, auc)
    } finally assembled.unpersist(): Unit
  }

  /** Self-supervised training: clean documents vs the same documents with
    * tokens sorted alphabetically (unigram-identical negatives — the model
    * must learn order structure). Holdout is a deterministic md5 slice of
    * ~`holdoutFrac` of the doc ids, same idiom as the sampling operators. */
  def trainCleanVsScrambled(docs: DataFrame, idCol: String, textCol: String,
                            numFeatures: Int = 1 << 18,
                            holdoutFrac: Double = 0.2,
                            maxIter: Int = 25): Model = {
    require(holdoutFrac >= 0 && holdoutFrac < 1, s"holdoutFrac $holdoutFrac")
    val thr = f"${(holdoutFrac * 256).toInt}%02x"
    val base = docs.select(col(idCol).as("__id0"), col(textCol).as("__t"))
    val clean = base.select(concat(lit("c_"), col("__id0").cast("string")).as("qid"),
      col("__t").as("qtext"), lit(1).as("qlabel"),
      (substring(md5(col("__id0").cast("string")), 1, 2) < thr).as("qhold"))
    val scrambled = base.select(concat(lit("s_"), col("__id0").cast("string")).as("qid"),
      array_join(sort_array(TextAnalysis.tokens(col("__t"))), " ").as("qtext"),
      lit(0).as("qlabel"),
      (substring(md5(col("__id0").cast("string")), 1, 2) < thr).as("qhold"))
    trainLabeled(clean.union(scrambled), "qid", "qtext", "qlabel",
      col("qhold"), numFeatures, maxIter)
  }

  /** Score a corpus with a trained model: (idCol, quality_score) where
    * quality_score = sigmoid(w·x + b) ∈ (0, 1). UDF-free broadcast-join
    * plan — the serving path. Docs with no features score sigmoid(b). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: Model): DataFrame = {
    val feats = featurize(docs, idCol, textCol, model.numFeatures)
    val contrib = feats.join(broadcast(model.weights), "idx")
      .groupBy(col("__id"))
      .agg(sum(col("cnt") * col("weight")).as("z"))
    docs.select(col(idCol).as("__id")).distinct()
      .join(contrib, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("z"), lit(0.0)) + model.intercept))))
          .as("quality_score"))
  }

  /** Multinomial Naive Bayes quality scorer — the CLOSED-FORM trained
    * tier. Same self-supervised setup as [[trainCleanVsScrambled]]
    * (positives = documents as written, negatives = the same documents
    * with tokens sorted — identical unigram multisets, so only ORDER
    * separates the classes), but over exact BIGRAM counts with Laplace
    * smoothing: no float iteration anywhere, so the whole train+score
    * pipeline is replicable value-for-value by a SQL oracle (the gate is
    * value-exact where the L-BFGS tier is rows-only-with-evidence).
    *
    * Score(d) = Σ_{b ∈ bigrams(d)} [ log(cnt⁺(b)+α) − log(N⁺+αV)
    *            − log(cnt⁻(b)+α) + log(N⁻+αV) ]   (equal priors cancel)
    *
    * Scale: one bigram-count shuffle per class, keyed on the 8-byte
    * `xxhash64(tok_i, tok_{i+1})` fingerprint instead of the raw bigram
    * string — the count groupBy and the scoring join never shuffle text
    * (same shuffle-thrift move as the minhash/simhash kernels; a 64-bit
    * collision would merge two bigrams' counts, p ≈ |V|²/2⁶⁵, and would
    * surface as a value mismatch against the string-keyed oracle). The
    * weight table is vocabulary-bounded; per-doc score is one
    * partial-aggregated sum. Docs with fewer than 2 tokens have no
    * bigrams and score 0. */
  def naiveBayesCleanVsScrambled(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha $alpha")
    val base = docs.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    // Bigrams are carried ONLY as their 64-bit fingerprint: hashing the
    // two tokens in the projection lambda means no bigram string is ever
    // materialized, and every downstream shuffle (class-count groupBy,
    // weights join) moves 8-byte keys.
    // zip_with over two slices, NOT transform-with-element_at: a lambda
    // body re-evaluates every OUTER expression it references once PER
    // ELEMENT (Catalyst does no CSE inside higher-order-function lambdas),
    // so element_at(sort_array(toks), i) re-sorted the token array twice
    // per bigram — measured 34 s of the gate's 45 s at sf1. The slices are
    // ordinary per-row expressions; the lambda touches only its element
    // variables.
    def bigramsOf(arr: Column): Column =
      when(size(arr) >= 2,
        zip_with(slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (a, b) => xxhash64(a, b)))
        .otherwise(array().cast("array<bigint>"))
    // ONE tokenize+explode pass yields BOTH classes' bigram streams as a
    // class-tagged frame (the minHashLshPairs lesson: separate subtrees
    // re-tokenize the corpus once each); both class counts then come from
    // a single groupBy instead of two aggregations and a full join.
    val tagged = base.select(col("id"),
        explode(concat(
          transform(bigramsOf(col("toks")),
            b => struct(b.as("b"), lit(1).as("cls"))),
          transform(bigramsOf(sort_array(col("toks"))),
            b => struct(b.as("b"), lit(0).as("cls"))))).as("e"))
      .select(col("id"), col("e.b").as("b"), col("e.cls").as("cls"))
    val vocab = tagged.groupBy(col("b"))
      .agg(count(when(col("cls") === 1, lit(1))).as("cp"),
        count(when(col("cls") === 0, lit(1))).as("cn"))
    // totals: one bounded aggregate, cross-joined as the documented
    // single-row scalar frame
    val tot = vocab.agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
      count(lit(1)).as("v"))
    val weights = vocab.crossJoin(tot)
      .select(col("b"),
        (log(col("cp") + alpha) - log(col("np") + lit(alpha) * col("v"))
          - log(col("cn") + alpha) + log(col("nn") + lit(alpha) * col("v")))
          .as("w"))
    // scoring re-derives the positive stream (second and final corpus
    // pass — the counts→weights barrier makes a single-pass form
    // impossible without persisting the corpus-sized tagged frame).
    // Derived DIRECTLY, not as tagged.filter(cls === 1): a filter after
    // explode(concat(pos, neg)) cannot prune the negative branch, so the
    // filter form re-pays the sort_array and the scrambled-stream hashing
    // just to discard them (measured 44.7 s at sf1 vs 30 s direct).
    val scores = base
      .select(col("id"), explode(bigramsOf(col("toks"))).as("b"))
      .join(weights, "b")
      .groupBy(col("id")).agg(sum(col("w")).as("s"))
    base.select(col("id")).distinct()
      .join(scores, Seq("id"), "left")
      .select(col("id").as(idCol),
        round(coalesce(col("s"), lit(0.0)), 6).as("nb_logodds"))
  }
}
