package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Corpus-level statistical quality signals: per-document entropy profiles
  * and per-slice lexical-diversity (distinct-n) metrics — the cheap
  * information-theoretic filters web-corpus pipelines run alongside LM
  * perplexity (low char entropy = repeated-character junk; low type-token
  * ratio on a slice = template/boilerplate floods).
  *
  * Scale: everything here is explode → hash-keyed partial aggregate; the
  * text never shuffles, only (doc, symbol-hash, count) rows do, and the
  * per-doc/per-slice outputs are the sole survivors.
  */
object CorpusStats {

  /** Per-document Shannon entropy over the character and token
    * distributions of the normalized text (`lower(trim(text))`):
    * H = -Σ p·log2(p), p = count/total within the document. Junk detectors:
    * "aaaa…" floods score ≈ 0 bits/char; natural prose sits ~4–4.5
    * bits/char; base64/hex blobs run higher with a flat token profile.
    *
    * Output: (id, n_chars, char_entropy, n_tokens, token_entropy), both
    * entropies rounded to 4 decimals, empty docs → zeros.
    *
    * Scale: symbols shuffle as 8-byte xxhash64 keys with map-side partial
    * counts (exact modulo ~2^-64 collisions); the two aggregates are
    * per-(doc, symbol) then per-doc — no global state at all, so this
    * parallelizes embarrassingly at any corpus size. */
  def entropyProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = df.select(col(idCol).as("__id"),
      lower(trim(col(textCol))).as("__t"))

    def entropyOver(sym: DataFrame, outCnt: String, outEnt: String): DataFrame =
      sym.groupBy(col("__id"), col("__s"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__id"))
        .agg(sum(col("__c")).as(outCnt),
          // H = log2(total) - sum(c*log2(c))/total  (one pass, no second
          // join against the per-doc total)
          round(log2(sum(col("__c"))) -
            sum(col("__c") * log2(col("__c"))) / sum(col("__c")), 4).as(outEnt))

    val chars = norm.filter(length(col("__t")) > 0)
      .select(col("__id"), explode(split(col("__t"), "")).as("__c0"))
      .select(col("__id"), xxhash64(col("__c0")).as("__s"))
    val toks = norm
      .select(col("__id"), explode(TextAnalysis.tokens(col("__t"))).as("__t0"))
      .select(col("__id"), xxhash64(col("__t0")).as("__s"))

    val ce = entropyOver(chars, "n_chars", "char_entropy")
    val te = entropyOver(toks, "n_tokens", "token_entropy")
    df.select(col(idCol)).join(ce, df(idCol) === ce("__id"), "left")
      .drop("__id")
      .join(te, df(idCol) === te("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("char_entropy"), lit(0.0)).as("char_entropy"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_entropy"), lit(0.0)).as("token_entropy"))
  }

  /** Per-slice lexical diversity: distinct-n ratios (distinct n-grams /
    * total n-grams, n = 1..3) plus totals, grouped by `sliceCol` — the
    * distinct-n metric used to quantify corpus (or generated-text)
    * diversity; a slice flooded with near-identical documents shows a
    * collapsed distinct-2/distinct-3.
    *
    * Output: (slice, n_tokens, distinct_1, distinct_2, distinct_3,
    * ratio_1, ratio_2, ratio_3), ratios rounded to 6.
    *
    * Scale: n-grams shuffle once as 8-byte hashes per n; distinct counts
    * are partial-aggregated per slice. Slice count is small (sources /
    * shards), so the final aggregate is trivially bounded. */
  def distinctNgramStats(df: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    // positional n-grams WITH multiplicity (wordShingles dedups per doc,
    // which would undercount the totals the ratios divide by), all three
    // widths from ONE tokenization pass (shingle_range_rows emits the
    // same space-joined lowercase strings the per-width transform built
    // — same token kernel — so the hashes are unchanged); the previous
    // three-way union scanned and tokenized the corpus once per width
    val all = df.select(col(sliceCol).as("__slice"),
        graft.functions.expressions.shingle_range_rows(col(textCol), 1, 3))
      .select(col("__slice"), xxhash64(col("shingle")).as("__g"),
        col("n").as("__n"))
    val per = all.groupBy(col("__slice"), col("__n"))
      .agg(count(lit(1)).as("__tot"), countDistinct(col("__g")).as("__d"))
    per.groupBy(col("__slice").as("slice"))
      .pivot("__n", Seq(1, 2, 3))
      .agg(first(col("__tot")).as("tot"), first(col("__d")).as("d"))
      .select(col("slice"),
        coalesce(col("1_tot"), lit(0L)).as("n_tokens"),
        coalesce(col("1_d"), lit(0L)).as("distinct_1"),
        coalesce(col("2_d"), lit(0L)).as("distinct_2"),
        coalesce(col("3_d"), lit(0L)).as("distinct_3"),
        round(coalesce(col("1_d") / col("1_tot"), lit(0.0)), 6).as("ratio_1"),
        round(coalesce(col("2_d") / col("2_tot"), lit(0.0)), 6).as("ratio_2"),
        round(coalesce(col("3_d") / col("3_tot"), lit(0.0)), 6).as("ratio_3"))
  }

  /** Unicode-script composition per document: the fraction of characters
    * in each major script, plus digits/whitespace/other, and the dominant
    * script — the cheap language-family router multilingual pipelines run
    * before (or instead of) n-gram language ID. Kana (Hiragana+Katakana)
    * is reported as one bucket, as language routing treats them together.
    *
    * Output: (id, n_chars, latin_frac, cyrillic_frac, han_frac,
    * arabic_frac, devanagari_frac, greek_frac, hangul_frac, kana_frac,
    * digit_frac, space_frac, other_frac, dominant_script). Fractions are
    * over n_chars (code points), rounded to 4; empty docs are all-zero
    * with dominant 'none'. Dominant ties break by the fixed priority
    * order latin > cyrillic > han > arabic > devanagari > greek > hangul
    * > kana (deterministic).
    *
    * Scale: entirely row-local — ONE code-point classification pass per
    * document (graft.functions.HashKernels.scriptCountsOf, codegen), no
    * shuffle, no explode. The kernel's buckets are definitionally equal
    * to the oracle's standalone regex-class counts (\p{IsX} ==
    * UnicodeScript.X; ASCII digits/whitespace are script Common, so
    * buckets never overlap); an 11-regexp_replace formulation measured
    * ~10x the constant factor at bench scale. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scripts = Seq("latin", "cyrillic", "han", "arabic", "devanagari",
      "greek", "hangul", "kana")
    // kernel layout: [8 scripts..., digit(8), space(9), total(10)]
    val counted = df.select(col(idCol).as("id"),
        graft.functions.expressions.script_counts(col(textCol)).as("__sc"))
      .select(col("id") +: col("__sc")(10).as("n_chars") +:
        scripts.zipWithIndex.map { case (n, i) => col("__sc")(i).as(s"__c_$n") } :+
        col("__sc")(8).as("__c_digit") :+ col("__sc")(9).as("__c_space"): _*)
    val scriptCnts = scripts.map(n => col(s"__c_$n"))
    val known = scriptCnts.reduce(_ + _) + col("__c_digit") + col("__c_space")
    val m = greatest(scriptCnts: _*)
    val dominant = when(coalesce(m, lit(0L)) <= 0, lit("none"))
      .otherwise(scripts.foldRight(lit("none")) { case (n, acc) =>
        when(col(s"__c_$n") === m, lit(n)).otherwise(acc)
      })
    def frac(c: org.apache.spark.sql.Column) =
      when(col("n_chars") > 0, round(c / col("n_chars"), 4)).otherwise(lit(0.0))
    counted.select(
      col("id") +: coalesce(col("n_chars"), lit(0L)).as("n_chars") +:
        scripts.map(n => frac(col(s"__c_$n")).as(s"${n}_frac")) :+
        frac(col("__c_digit")).as("digit_frac") :+
        frac(col("__c_space")).as("space_frac") :+
        frac(col("n_chars") - known).as("other_frac") :+
        dominant.as("dominant_script"): _*)
  }

  /** Per-slice vocabulary statistics: token/type counts, type-token
    * ratio, hapax fraction, top-`topN` head coverage, and the Zipf slope — the
    * corpus-health panel that catches template floods (collapsed TTR),
    * OCR noise (inflated hapax fraction), and unnatural frequency
    * profiles (slope far from −1).
    *
    * Output per slice: (slice, n_tokens, n_types, type_token_ratio,
    * hapax_frac, head_coverage, zipf_slope). zipf_slope is the OLS
    * slope of ln(freq) on ln(rank) over the top-`slopeN` ranks (rank by
    * freq desc, token asc — deterministic), rounded to 3; slices with
    * fewer than 2 ranked types report 0.0.
    *
    * Scale: one (slice, token) partial-aggregated count — tokens shuffle
    * once as short strings (the rank tie-break needs them); everything
    * after is per-slice over at most vocabulary-size rows, and the window
    * rank partitions by slice over type counts, not corpus size. */
  def vocabStats(df: DataFrame, sliceCol: String, textCol: String,
                 topN: Int = 100, slopeN: Int = 1000): DataFrame = {
    val freq = df.select(col(sliceCol).as("slice"),
        explode(TextAnalysis.tokens(lower(trim(col(textCol))))).as("__w"))
      .groupBy(col("slice"), col("__w"))
      .agg(count(lit(1)).as("__f"))
    val ranked = freq.withColumn("__r",
      row_number().over(Window.partitionBy(col("slice"))
        .orderBy(col("__f").desc, col("__w").asc)))
    val x = log(col("__r").cast("double"))
    val y = log(col("__f").cast("double"))
    ranked.groupBy(col("slice"))
      .agg(
        sum(col("__f")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__f") === 1, 1L).otherwise(0L)).as("__hapax"),
        sum(when(col("__r") <= topN, col("__f")).otherwise(0L)).as("__head"),
        count(when(col("__r") <= slopeN, 1)).as("__zn"),
        sum(when(col("__r") <= slopeN, x).otherwise(lit(0.0))).as("__sx"),
        sum(when(col("__r") <= slopeN, y).otherwise(lit(0.0))).as("__sy"),
        sum(when(col("__r") <= slopeN, x * y).otherwise(lit(0.0))).as("__sxy"),
        sum(when(col("__r") <= slopeN, x * x).otherwise(lit(0.0))).as("__sxx"))
      .select(col("slice"), col("n_tokens"), col("n_types"),
        round(col("n_types") / col("n_tokens"), 6).as("type_token_ratio"),
        round(col("__hapax") / col("n_types"), 6).as("hapax_frac"),
        round(col("__head") / col("n_tokens"), 6).as("head_coverage"),
        when(col("__zn") < 2 ||
            col("__zn") * col("__sxx") - col("__sx") * col("__sx") === 0.0,
            lit(0.0))
          .otherwise(round(
            (col("__zn") * col("__sxy") - col("__sx") * col("__sy")) /
            (col("__zn") * col("__sxx") - col("__sx") * col("__sx")), 3))
          .as("zipf_slope"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` token vocabulary (rank by global frequency desc,
    * token asc — deterministic). The standard proxy for "how much of
    * this document will a fixed word vocabulary fail to cover" and a
    * junk detector in its own right (gibberish → OOV ≈ 1).
    *
    * Output: (id, n_tokens, n_oov, oov_frac rounded to 6); token-less
    * documents report (0, 0, 0.0).
    *
    * Scale: the vocabulary is vocabSize rows — broadcast; the per-token
    * membership test is a broadcast left join at scan speed, and only
    * (id, flag) rows aggregate. Text never shuffles. */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int = 256): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(trim(col(textCol))))).as("__w"))
    val vocab = toks.groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__w").asc)
      .limit(vocabSize)
      .select(col("__w").as("__v"), lit(1).as("__in"))
    val flagged = toks.join(broadcast(vocab), toks("__w") === vocab("__v"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
    df.select(col(idCol).as("id")).distinct()
      .join(flagged, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(round(col("n_oov") / col("n_tokens"), 6), lit(0.0)).as("oov_frac"))
  }
}
