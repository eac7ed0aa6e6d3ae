package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Deduplication operators for large-scale corpus cleaning. Every variant is
  * expressed as a declarative DataFrame plan so Catalyst handles partial
  * aggregation, shuffle planning, and AQE skew handling; none of them ever
  * materializes an O(n²) candidate set.
  *
  * Scale design notes (100 TB / 1000 executors):
  *  - exact dedup groups by a 64-bit fingerprint, not the full text, so the
  *    shuffle carries 8-byte keys instead of documents.
  *  - near-dup variants (MinHash-LSH, SimHash) shuffle each doc a constant
  *    number of times (one per band / chunk), then verify candidates
  *    exactly — the classic shingle→minhash→band→bucket-join pipeline.
  *  - the exact n-gram Jaccard join shuffles on shingles; ultra-frequent
  *    shingles are the skew risk, handled by AQE skew-join splitting.
  */
object Dedup {

  /** Exact duplicate groups by normalized content. Returns one row per
    * document annotated with its group's representative (min id) — callers
    * keep `is_rep` rows to deduplicate.
    *
    * Shuffle shape: only (fingerprint, id) pairs are aggregated (16-byte
    * rows), and only groups with >1 member survive the aggregate — at
    * realistic duplicate rates that table is a sliver of the corpus, so AQE
    * turns the annotation join into a broadcast and the documents
    * themselves (the text) never shuffle. A window over the fingerprint
    * would instead drag every full row through an exchange. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
    val dupGroups = withFp
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("g_rep"), count(lit(1)).as("g_n"))
      .filter(col("g_n") > 1)
    withFp.join(dupGroups, Seq("fp"), "left")
      .withColumn("rep_id", coalesce(col("g_rep"), col(idCol)))
      .withColumn("group_size", coalesce(col("g_n"), lit(1L)))
      .withColumn("is_rep", col(idCol) === col("rep_id"))
      .drop("g_rep", "g_n")
  }

  /** exactDedup with a QUALITY policy: the group representative is the row
    * maximizing `preferCol` (ties broken by min id) instead of blindly the
    * min id — what a training-data pipeline actually wants ("keep the
    * longest / highest-quality copy"). Same shuffle shape as exactDedup:
    * only (fp, id, prefer) triples aggregate (max_by keeps one struct per
    * group, mergeable map-side), the text never moves, and the annotation
    * join broadcasts under AQE at realistic duplicate rates. */
  def exactDedupKeepBest(df: DataFrame, idCol: String, textCol: String,
                         preferCol: Column): DataFrame = {
    val withFp = df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("pref_", preferCol)
    val groups = withFp
      .groupBy(col("fp"))
      .agg(expr(s"max_by(`$idCol`, struct(pref_, -`$idCol`))").as("g_rep"),
        count(lit(1)).as("g_n"))
      .filter(col("g_n") > 1)
    withFp.join(groups, Seq("fp"), "left")
      .withColumn("rep_id", coalesce(col("g_rep"), col(idCol)))
      .withColumn("group_size", coalesce(col("g_n"), lit(1L)))
      .withColumn("is_rep", col(idCol) === col("rep_id"))
      .drop("g_rep", "g_n", "pref_")
  }

  /** Exact repeated-substring pairs — the windowed form of the Lee et al.
    * (2022) "exact substring duplication" criterion: document pairs sharing
    * at least one EXACT run of `w` consecutive tokens, with the count of
    * distinct shared windows. Complements the similarity family: a verbatim
    * quoted paragraph inside two otherwise-different long documents is
    * invisible to Jaccard/MinHash (similarity dilutes with length) but is
    * exactly what this catches.
    *
    * Windows appearing in more than `maxDf` documents are ignored — that's
    * site chrome (strip it with removeBoilerplateLines), and the cap also
    * bounds the join blowup: one window in D <= maxDf docs yields at most
    * D² pair rows. Shuffles carry (8-byte window hash, id) pairs — text
    * never shuffles; exact modulo ~2^-64 hash collisions like the rest of
    * the dedup family. Output: (id_a, id_b, shared_windows), id_a < id_b. */
  def sharedWindowPairs(df: DataFrame, idCol: String, textCol: String,
                        w: Int, maxDf: Int = 64): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val wins = df.select(col(idCol).as("id"),
        explode(TextAnalysis.wordShingles(col(textCol), w)).as("s0"))
      .select(col("id"), xxhash64(col("s0")).as("h"))
      .distinct()
    val ok = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("wdf"))
      .filter(col("wdf") >= 2 && col("wdf") <= maxDf)
      .select(col("h"))
    val kept = wins.join(ok, "h")
    val a = kept.select(col("id").as("id_a"), col("h"))
    val b = kept.select(col("id").as("id_b"), col("h"))
    a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** Exact duplicated-span REMOVAL — the surgery step of Lee et al.'s
    * ExactSubstr pipeline ("Deduplicating Training Data Makes Language
    * Models Better", ACL 2022): [[sharedWindowPairs]] only FINDS documents
    * sharing long verbatim spans; this cuts the spans out. Every token
    * covered by a `w`-token window whose window string occurs in >=
    * `minDocFreq` DISTINCT documents is removed (all occurrences — the
    * deterministic variant; within-doc self-repetition is the repetition
    * filters' job, not this operator's). Remaining tokens re-join with
    * single spaces, so `clean_text` is the normalized token stream.
    *
    * Output: the input rows plus (n_tokens, n_removed, clean_text).
    *
    * Scale (the removeBoilerplateLines shape, one level finer): window
    * hashes shuffle as 8-byte keys for the distinct-doc frequency count;
    * duplicated-window START positions come back as one per-doc
    * collect_set joined against the docs table; the token-drop itself is
    * a row-local higher-order filter (token i is covered iff some start p
    * has p <= i <= p+w-1 — O(|starts|) per token, and |starts| is only
    * the doc's duplicated-window count). The text column crosses the wire
    * once (the join), never through an explode/regroup. */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
                        w: Int, minDocFreq: Int = 2): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val withToks = df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
    val wins = df.select(col(idCol).as("_id"),
        posexplode(TextAnalysis.wordShingles(col(textCol), w))
          .as(Seq("_pos", "_s")))
      .select(col("_id"), col("_pos"), xxhash64(col("_s")).as("_h"))
    val dup = wins.groupBy(col("_h"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") >= minDocFreq)
      .select(col("_h"))
    val starts = wins.join(dup, "_h")
      .groupBy(col("_id"))
      .agg(collect_set(col("_pos")).as("_starts"))
    withToks.join(starts, col(idCol) === col("_id"), "left")
      .withColumn("n_tokens", size(col("_toks")).cast("long"))
      .withColumn("_kept",
        when(col("_starts").isNull, col("_toks"))
          .otherwise(filter(col("_toks"), (_, i) =>
            !exists(col("_starts"), p => i >= p && i <= p + lit(w) - 1))))
      .withColumn("n_removed", (col("n_tokens") - size(col("_kept"))).cast("long"))
      .withColumn("clean_text", array_join(col("_kept"), " "))
      .drop("_toks", "_id", "_starts", "_kept")
  }

  /** Asymmetric n-gram CONTAINMENT pairs: containment(A⊆B) = |A∩B| / |A|
    * over distinct word n-grams. Catches fragment duplication that Jaccard
    * structurally misses — a short document quoted wholly inside a long one
    * has containment ≈ 1 but Jaccard ≈ |short| / |long| ≈ 0 (the
    * RefinedWeb-style criterion for "this doc is a fragment of that one").
    * Emits pairs where EITHER direction clears `threshold`, with both
    * directions' values. Same 8-byte shingle-hash join shape (and the same
    * exact-modulo-2^-64 equivalence) as ngramJaccardPairs.
    * Output: (id_a, id_b, cont_a_in_b, cont_b_in_a), id_a < id_b. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold $threshold")
    val sh = df.select(col(idCol).as("id"),
        explode(TextAnalysis.wordShingles(col(textCol), n)).as("s0"))
      .select(col("id"), xxhash64(col("s0")).as("s"))
      .distinct()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ix"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
      .withColumn("cont_a_in_b", col("ix") / col("na"))
      .withColumn("cont_b_in_a", col("ix") / col("nb"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a_in_b"), 6).as("cont_a_in_b"),
        round(col("cont_b_in_a"), 6).as("cont_b_in_a"))
  }

  /** Exact edit-distance near-dup pairs: (id_a, id_b, dist) with
    * levenshtein(head_a, head_b) <= maxDist over the normalized bounded
    * head (`substring(lower(trim(text)), 1, headLen)`) — the fixed window
    * bounds the per-pair DP at headLen² regardless of document length,
    * the standard trick for char-level dedup of long documents.
    *
    * Candidate generation is PassJoin-style pigeonhole blocking (Li, Deng,
    * Feng: "PASS-JOIN: a partition-based method for similarity joins",
    * VLDB 2011): split each string into maxDist+1 segments; k edits can
    * touch at most k segments, so two strings within distance k share at
    * least one segment VERBATIM, shifted by at most k positions. One side
    * emits its own segments keyed by (sourceLen, segIdx, segHash); the
    * other emits every substring a matching segment could occupy — for
    * each candidate partner length l in [len±k], each segment slot, each
    * start within ±k of the slot's home position. Blocking is COMPLETE
    * (no false dismissals) and the final levenshtein check is exact, so
    * the output equals brute force.
    *
    * Scale: candidates are an equi-join on (l, j, xxhash64(seg)) — 8-byte
    * content keys, k+1 rows per doc on the segment side and
    * O(k²·(2k+1)) ≈ bounded rows on the window side, both linear in corpus
    * size; nothing all-pairs. Strings of length <= maxDist carry no
    * non-trivial segment and are handled by a separate tiny-bucket join
    * (they can only pair with strings of length <= 2·maxDist — a
    * degenerate sliver of any real corpus). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, headLen: Int = 120): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(headLen > 2 * maxDist, s"headLen $headLen too small for maxDist $maxDist")
    val k = maxDist
    val nSeg = k + 1
    val docs = df.select(col(idCol).as("id"),
        substring(lower(trim(col(textCol))), 1, headLen).as("h"))
      .select(col("id"), col("h"), length(col("h")).as("len"))
      .filter(col("len") > 0)
    val main = docs.filter(col("len") > k)

    // segment side: k+1 deterministic segments of the own head, slot j of
    // a length-l string covering [floor(j*l/(k+1)), floor((j+1)*l/(k+1)))
    val segStart = (j: Column, l: Column) => floor(j * l / nSeg).cast("int")
    val segsA = main
      .select(col("id").as("id_a"), col("h"), col("len").as("l"),
        explode(sequence(lit(0), lit(k))).as("j"))
      .select(col("id_a"), col("l"), col("j"),
        segStart(col("j"), col("l")).as("s0"),
        (segStart(col("j") + 1, col("l")) - segStart(col("j"), col("l"))).as("sl"),
        col("h"))
      .filter(col("sl") >= 1)
      .select(col("id_a"), col("l"), col("j"),
        xxhash64(expr("substring(h, s0 + 1, sl)")).as("sh"))

    // window side: every substring a partner's segment could occupy —
    // partner length l in [len-k, len+k] (and > k: shorter partners live
    // in the tiny bucket), slot j, with PassJoin's MULTI-MATCH-AWARE start
    // selection: at most j edits can land before segment j and at most
    // k-j after it, so with Δ = len - l the admissible starts are
    // [s0 - j, s0 + j] ∩ [s0 + Δ - (k-j), s0 + Δ + (k-j)] — ~4x fewer
    // windows than the loose ±k rule at k=6, same completeness theorem
    // (Li/Deng/Feng 2011 §4.2; the all-pairs oracle certifies it).
    val winsB = main
      .select(col("id").as("id_b"), col("h"), col("len"),
        explode(sequence(greatest(col("len") - k, lit(k + 1)), col("len") + k)).as("l"))
      .select(col("id_b"), col("h"), col("len"), col("l"),
        explode(sequence(lit(0), lit(k))).as("j"))
      .select(col("id_b"), col("h"), col("len"), col("l"), col("j"),
        segStart(col("j"), col("l")).as("s0"),
        (segStart(col("j") + 1, col("l")) - segStart(col("j"), col("l"))).as("sl"),
        (col("len") - col("l")).as("dl"))
      .filter(col("sl") >= 1)
      .withColumn("slo", greatest(
        col("s0") - col("j"),
        col("s0") + col("dl") - (lit(k) - col("j")), lit(0)))
      .withColumn("shi", least(
        col("s0") + col("j"),
        col("s0") + col("dl") + (lit(k) - col("j")),
        col("len") - col("sl")))
      .filter(col("slo") <= col("shi"))
      .select(col("id_b"), col("h"), col("l"), col("j"), col("sl"),
        explode(sequence(col("slo"), col("shi"))).as("s"))
      .select(col("id_b"), col("l"), col("j"),
        xxhash64(expr("substring(h, s + 1, sl)")).as("sh"))

    val mainCand = segsA.join(winsB, Seq("l", "j", "sh"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()

    // tiny bucket: strings of length <= k match anything within distance k
    // only among strings of length <= 2k (|len diff| <= dist). Join keyed
    // on candidate partner LENGTH (one side fans out to its 2k+1 admissible
    // partner lengths) — a real equi-join over that degenerate sliver, not
    // a constant-key join Catalyst would fold into a cartesian.
    val tinyA = docs.filter(col("len") <= k)
      .select(col("id").as("id_a"),
        explode(sequence(greatest(col("len") - k, lit(1)), col("len") + k)).as("lb"))
    val tinyB = docs.filter(col("len") <= 2 * k)
      .select(col("id").as("id_b"), col("len").as("lb"))
    val tinyCand = tinyA.join(tinyB, "lb")
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()

    val ha = docs.select(col("id").as("id_a"), col("h").as("ha"), col("len").as("la"))
    val hb = docs.select(col("id").as("id_b"), col("h").as("hb"), col("len").as("lb"))
    mainCand.union(tinyCand).distinct()
      .join(ha, "id_a").join(hb, "id_b")
      .filter(abs(col("la") - col("lb")) <= k)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ha"), col("hb"), k).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exact word-n-gram Jaccard similarity pairs with sim >= threshold.
    * Formulation: explode distinct shingles, self-join on shingle (only
    * docs sharing at least one shingle ever meet), aggregate intersection
    * sizes, compute |A∩B| / (|A|+|B|-|A∩B|). Output: (id_a, id_b, jaccard),
    * id_a < id_b. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // join on 64-bit shingle hashes: identical Jaccard semantics (collision
    // probability ~ |shingles|^2 / 2^64) with 8-byte shuffle keys instead of
    // full shingle strings
    val sh = df.select(col(idCol).as("id"),
        explode(TextAnalysis.wordShingles(col(textCol), n)).as("s0"))
      .select(col("id"), xxhash64(col("s0")).as("s"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("ix"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
      .withColumn("jaccard", col("ix") / (col("na") + col("nb") - col("ix")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact Jaccard pairs via prefix filtering (AllPairs/PPJoin principle):
    * order each doc's shingles by ascending global document frequency
    * (rarest first); for Jaccard >= t, two docs MUST share at least one
    * shingle within each other's prefix of size |A| - ceil(t*|A|) + 1 —
    * so joining only on prefix shingles generates a candidate superset,
    * and exact verification restores equality with ngramJaccardPairs.
    *
    * Scale: the join touches ~(1-t)|A| rarest shingles per doc instead of
    * all of them, and rare shingles have tiny document frequencies — the
    * df² blowup of the naive shingle join collapses. Costs one extra
    * aggregation (global df) and a per-doc rank shuffle: measured ~2x
    * SLOWER than the naive join at 5k docs (fixed overhead dominates) and
    * wins as Σdf² outgrows corpus size — use it for large corpora, the
    * naive join for small ones.
    *
    * SUPERLINEAR when common-shingle document frequency scales with the
    * corpus: exact-at-threshold prefix filtering is bounded by Σ_prefix
    * df(s)², and when the same phrases recur across a growing corpus (as
    * common phrases do), df grows with N — measured 18.5× time for 10×
    * data at the sf1 rehearsal. Beyond ~10⁸ docs (or any corpus whose
    * frequent shingles replicate with it), use [[minHashLshPairs]]: same
    * verified-exact output up to a vanishing LSH miss probability, and
    * its band-bucket join stays linear in N (measured 8.1× at the same
    * 10× rehearsal).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).as("id"),
        TextAnalysis.wordShingles(col(textCol), n).as("shStr"))
      .filter(size(col("shStr")) > 0)
      .select(col("id"), transform(col("shStr"), s => xxhash64(s)).as("sh0"))

    val exploded = docs.select(col("id"), explode(col("sh0")).as("s"))
    // Document frequency AND the posting list in ONE aggregation: a
    // groupBy(s).count + join-back formulation scans the shingle pipeline
    // (tokenize → shingle → hash, the CPU-heavy part) twice and pays an
    // extra full shuffle of `exploded` for the join; collecting the doc ids
    // alongside the count shuffles the same bytes once. Posting-list length
    // is bounded by df (AQE splits the skewed ultra-frequent shingles).
    val postings = exploded.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), collect_list(col("id")).as("ids"))

    // One aggregation builds BOTH per-doc artifacts (a window + sizes-join
    // formulation costs two extra stages for the same result):
    //  - `sh`: the doc's shingle hashes ascending — lets the verify stage
    //    use the merge-walk sorted_intersect_size kernel instead of
    //    array_intersect's hash-set + result-array materialization;
    //  - `pref`: the |A| - ceil(t*|A|) + 1 globally-rarest shingles
    //    (ascending (df, s) sort = rarest first).
    val prefLen = (size(col("ranked"))
      - ceil(size(col("ranked")) * threshold) + 1).cast("int")
    val docPrefix = postings
      .select(col("s"), col("df"), explode(col("ids")).as("id"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("ranked"))
      .select(col("id"),
        array_sort(transform(col("ranked"), r => r.getField("s"))).as("sh"),
        slice(transform(col("ranked"), r => r.getField("s")), lit(1), prefLen)
          .as("pref"))

    // PPJoin-style: prefix rows CARRY the doc's sorted hash set, so each
    // bucket collision verifies inline — no candidate distinct() and no id
    // joins back to the corpus. A pair sharing k prefix shingles verifies
    // k times (k is tiny: prefixes are the rarest shingles); round() is
    // deterministic, so the final distinct collapses survivors only.
    val pref = docPrefix.select(col("id"), col("sh"), explode(col("pref")).as("ps"))
    pref.as("x").join(pref.as("y"),
        col("x.ps") === col("y.ps") && col("x.id") < col("y.id"))
      .withColumn("ix",
        graft.functions.expressions.sorted_intersect_size(col("x.sh"), col("y.sh")))
      .withColumn("jaccard",
        col("ix") / (size(col("x.sh")) + size(col("y.sh")) - col("ix")))
      .filter(col("jaccard") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .distinct()
  }

  /** MinHash + LSH near-duplicate pairs: shingle → H seeded min-hashes →
    * band signatures → bucket join → exact Jaccard verification.
    * With rowsPerBand=r and numBands=b (H = r*b), a pair with Jaccard j is
    * caught with probability 1-(1-j^r)^b — defaults (r=3, b=16) catch
    * j>=0.8 with P ≈ 1-1e-5. Output identical to ngramJaccardPairs (the
    * exact verification makes false positives impossible; only the
    * vanishing LSH miss probability separates them).
    *
    * The corpus is tokenized ONCE: a single `wordShingles` projection
    * yields both the minhash signature (band buckets) and the sorted
    * 64-bit shingle-hash set the exact verify walks. Bucket rows CARRY
    * the hash set (PPJoin-style, like [[ngramJaccardPairsPrefix]]), so a
    * band collision verifies inline — no candidate `distinct()` and no
    * second corpus scan to join sets back. A true pair colliding in k
    * bands verifies k times (the verify is a cheap merge walk); `round()`
    * is deterministic, so the final distinct collapses survivors. The
    * carry costs numBands × |set| × 8 bytes per doc through one shuffle;
    * for corpora where that dominates (very long documents), persist
    * [[minHashBandIndex]] + [[shingleHashSets]] and use the incremental
    * path instead — the indexes are built once and the text never moves. */
  /** The LSH band-signature expression — array over bands of
    * (band, xxhash64(minhash slots bIdx*r+1 .. bIdx*r+r)). ONE definition
    * shared by the pair join ([[minHashLshPairs]]), the persisted corpus
    * index ([[minHashBandIndex]]) and the incremental batch path
    * ([[minHashLshPairsIncremental]]): any drift between index-build and
    * lookup signatures would silently empty the candidate equi-join
    * instead of failing, so the construction must not be duplicated. */
  private def bandSigs(mh: Column, rowsPerBand: Int, numBands: Int): Column =
    array((0 until numBands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        xxhash64((0 until rowsPerBand).map(r =>
          element_at(mh, bIdx * rowsPerBand + r + 1)): _*).as("sig"))
    }: _*)

  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double,
                      rowsPerBand: Int = 3, numBands: Int = 16): DataFrame = {
    val h = rowsPerBand * numBands
    val docs = df.select(col(idCol).as("id"),
      TextAnalysis.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    // Both derived columns reference `sh` — a non-cheap expression, so
    // CollapseProject keeps the shingle kernel in its own stage and it
    // runs once per row (Jaccard over 64-bit shingle hashes equals
    // Jaccard over shingles up to ~1e-15 collision probability).
    val indexed = docs.select(col("id"),
      sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"),
      graft.functions.expressions.minhash_sig(col("sh"), h).as("mh"))
    val bands = bandSigs(col("mh"), rowsPerBand, numBands)
    val buckets = indexed
      .select(col("id"), col("shh"), explode(bands).as("bk"))
      .select(col("id"), col("shh"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig")
          && col("x.id") < col("y.id"))
      .withColumn("ix",
        graft.functions.expressions.sorted_intersect_size(col("x.shh"), col("y.shh")))
      .withColumn("jaccard",
        col("ix") / (size(col("x.shh")) + size(col("y.shh")) - col("ix")))
      .filter(col("jaccard") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .distinct()
  }

  /** The two persistable index tables for INCREMENTAL near-dup dedup —
    * computed once when the corpus lands and stored beside it (parquet),
    * so later batches dedupe against the corpus without rescanning its
    * text:
    *  - band index: one (id, band, sig) row per band per doc (24-byte
    *    rows), the LSH candidate-lookup structure;
    *  - shingle sets: one (id, shh) row per doc — the sorted 64-bit
    *    shingle hashes the exact-verify merge walk needs. */
  def minHashBandIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
                       rowsPerBand: Int = 3, numBands: Int = 16): DataFrame = {
    val h = rowsPerBand * numBands
    val docs = df.select(col(idCol).as("id"),
      TextAnalysis.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sigs = docs.withColumn("mh",
      graft.functions.expressions.minhash_sig(col("sh"), h))
    val bands = bandSigs(col("mh"), rowsPerBand, numBands)
    sigs.select(col("id"), explode(bands).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** (id, shh): sorted shingle-hash set per doc — the verify-side index. */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"))

  /** ONE-PASS per-doc signature index (id, mh, shh): the single
    * tokenize+minhash projection BOTH persisted index halves derive from —
    * band rows via [[bandIndexFromDocIndex]] (= [[minHashBandIndex]] rows)
    * and shingle sets via `select(id, shh)` (= [[shingleHashSets]] rows).
    * The streaming ingestion loop caches this frame, writes both halves,
    * and never touches the batch text again (previously each consumer
    * re-shingled the batch from raw text — 4 passes per micro-batch). */
  def minHashDocIndex(df: DataFrame, idCol: String, textCol: String, n: Int,
                      rowsPerBand: Int = 3, numBands: Int = 16): DataFrame = {
    val h = rowsPerBand * numBands
    df.select(col(idCol).as("id"),
        TextAnalysis.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        graft.functions.expressions.minhash_sig(col("sh"), h).as("mh"),
        sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"))
  }

  /** Band rows (id, band, sig) from a [[minHashDocIndex]] frame — the same
    * rows [[minHashBandIndex]] computes from raw text (same shared
    * [[bandSigs]] construction), without re-tokenizing. */
  def bandIndexFromDocIndex(docIndex: DataFrame, rowsPerBand: Int = 3,
                            numBands: Int = 16): DataFrame =
    docIndex
      .select(col("id"),
        explode(bandSigs(col("mh"), rowsPerBand, numBands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig"))

  /** Exact-Jaccard verify over DISTINCT candidate id pairs, joining each
    * side's persisted shingle sets — the shared tail of the two
    * from-index pair forms. Output columns named (aOut, bOut, jaccard).
    * The final distinct() makes the result a pure SET function of the
    * index CONTENTS: duplicated index rows (the transient state a
    * crash-interrupted index compaction can leave) cannot change it. */
  private def verifyIndexedCandidates(cand: DataFrame, aShingles: DataFrame,
                                      bShingles: DataFrame, aOut: String,
                                      bOut: String,
                                      threshold: Double): DataFrame =
    cand
      .join(aShingles.select(col("id").as(aOut), col("shh").as("sha")), aOut)
      .join(bShingles.select(col("id").as(bOut), col("shh").as("shb")), bOut)
      .withColumn("ix",
        graft.functions.expressions.sorted_intersect_size(col("sha"), col("shb")))
      .withColumn("jaccard",
        col("ix") / (size(col("sha")) + size(col("shb")) - col("ix")))
      .filter(col("jaccard") >= threshold)
      .select(col(aOut), col(bOut), round(col("jaccard"), 6).as("jaccard"))
      .distinct()

  /** Near-dup pairs of an ingested batch ENTIRELY from persisted indexes —
    * zero tokenization, ONE join tree for both pair kinds: the batch's
    * freshly written band rows equi-join the COMBINED band table (standing
    * corpus + the batch itself, its strictly-earlier rows marked by the
    * boolean `prior` column) on (band, sig); `prior` rows pair
    * unconditionally (cross-set — ids are disjoint across batches so each
    * unordered pair appears once), same-batch rows pair under id< (the
    * within-batch half). Candidates are normalized to id_a < id_b and
    * distinct-collapsed BEFORE the verify joins pull both shingle sets by
    * id — only 24-byte band rows cross the candidate join, never carried
    * sets. Output: (id_a, id_b, jaccard), the exact union
    * [[minHashLshPairsIncremental]] + [[minHashLshPairs]] would emit for
    * the same batch (same shared band construction, same exact verify). */
  def minHashLshPairsBatchVsAll(batchBands: DataFrame, allBands: DataFrame,
                                allShingles: DataFrame,
                                threshold: Double): DataFrame = {
    val cand = batchBands.select(col("id").as("bid"), col("band"), col("sig"))
      .join(allBands.select(col("id").as("aid"), col("band"), col("sig"),
        col("prior")), Seq("band", "sig"))
      .filter(col("prior") || col("bid") < col("aid"))
      .select(least(col("bid"), col("aid")).as("id_a"),
        greatest(col("bid"), col("aid")).as("id_b"))
      .distinct()
    verifyIndexedCandidates(cand, allShingles, allShingles, "id_a", "id_b",
      threshold)
  }

  /** Incremental MinHash-LSH near-dup: find (batch doc, corpus doc) pairs
    * with exact Jaccard >= threshold, where the corpus side exists ONLY as
    * its precomputed band + shingle-set indexes (minHashBandIndex /
    * shingleHashSets) — its text is never read. The batch computes its own
    * signatures, equi-joins the band index for candidates, and exact-
    * verifies with the same sorted-hash merge walk as minHashLshPairs, so
    * the output matches a from-scratch cross-set Jaccard join pair for
    * pair. Output: (batch_id, corpus_id, jaccard).
    *
    * Scale: the candidate join is (band, sig) equi — each batch doc
    * shuffles numBands 24-byte rows against the index; only candidates
    * (bounded by true near-dups + band collisions) reach the verify, which
    * joins the two shingle-set tables by id. Batch text never shuffles. */
  def minHashLshPairsIncremental(batch: DataFrame, idCol: String,
                                 textCol: String, corpusBands: DataFrame,
                                 corpusShingles: DataFrame, n: Int,
                                 threshold: Double, rowsPerBand: Int = 3,
                                 numBands: Int = 16): DataFrame = {
    // Batch tokenized ONCE (same single-projection + inline-carry shape
    // as minHashLshPairs): batch bucket rows carry the batch doc's sorted
    // hash set into the band join, so only the corpus side's precomputed
    // sets are joined back. Colliding bands verify repeatedly; the final
    // distinct collapses (round() is deterministic).
    val h = rowsPerBand * numBands
    val batchDocs = batch.select(col(idCol).as("id"),
      TextAnalysis.wordShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
    val batchIndexed = batchDocs.select(col("id"),
      sort_array(transform(col("sh"), s => xxhash64(s))).as("shh"),
      graft.functions.expressions.minhash_sig(col("sh"), h).as("mh"))
    val bands = bandSigs(col("mh"), rowsPerBand, numBands)
    val batchBuckets = batchIndexed
      .select(col("id"), col("shh"), explode(bands).as("bk"))
      .select(col("id").as("batch_id"), col("shh").as("sha"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
    batchBuckets.as("x")
      .join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.batch_id").as("batch_id"), col("x.sha").as("sha"),
        col("y.id").as("corpus_id"))
      .join(corpusShingles.select(col("id").as("corpus_id"), col("shh").as("shb")), "corpus_id")
      .withColumn("ix",
        graft.functions.expressions.sorted_intersect_size(col("sha"), col("shb")))
      .withColumn("jaccard",
        col("ix") / (size(col("sha")) + size(col("shb")) - col("ix")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
      .distinct()
  }

  /** SimHash near-duplicate pairs: 64-bit signature per doc, pigeonhole
    * blocking on `numChunks` equal bit-chunks, exact Hamming
    * verification. Output: (id_a, id_b, hamming).
    *
    * Blocking covers TWO contract ranges:
    *  - maxHamming <= numChunks-1: plain exact-chunk blocking (a pair
    *    with <= numChunks-1 differing bits must agree on some chunk);
    *  - maxHamming <= 2·numChunks-1: exact chunks PLUS one-bit-flip
    *    probe variants (HmSearch-style). If every chunk held >= 2 errors
    *    the total would be >= 2·numChunks, so some chunk has <= 1 error
    *    — and flipping that bit on one side's probe reproduces the other
    *    side's exact chunk key. This keeps the WIDE 16-bit keys (65536
    *    buckets/chunk) at Hamming <= 7 instead of shrinking to 8-bit
    *    chunks, whose mega-buckets measurably blow the candidate set
    *    (top bucket held 38%% of all docs at sf0.1): probe rows grow
    *    17x per doc, but candidate pairs stay ~N²·68/65536 per uniform
    *    bucket instead of ~N²·8/256.
    *
    * SCREENING TIER. The operator is EXACT within its contract — blocking
    * provably loses no pair with Hamming <= maxHamming — but a 64-bit
    * signature is deliberately coarse about token-level similarity; the
    * default operating point is Hamming <= 7 (the r12 lift from the
    * Manku et al. WWW'07 <= 3 setting; planted-perturbation recall in
    * EVIDENCE, `q_dedup_simhash`). Use it to cheaply screen
    * near-identical documents (one 8-byte signature per doc, equi-join
    * blocking); the high-recall similarity tier is MinHash-LSH
    * ([[minHashLshPairs]]), whose truth-set recall is exact-verified. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 7, numChunks: Int = 4): DataFrame = {
    require(64 % numChunks == 0, "numChunks must divide 64")
    require(maxHamming < 2 * numChunks,
      s"pigeonhole blocking on $numChunks chunks with 1-bit probe " +
        s"variants covers distance <= ${2 * numChunks - 1}")
    val bitsPer = 64 / numChunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    // Token-less (empty/whitespace-only) documents carry no signal: their
    // signature would be the all-zero vote, pairing every such doc with
    // every other at hamming 0. They are excluded here — byte-identical
    // empties belong to exact dedup ([[exactDuplicates]]); the SQL oracle
    // agrees by construction (its token unnest yields no rows for them).
    val docs = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), graft.functions.expressions.simhash64(col("toks")).as("sig"))
    val chunks = docs.select(col("id"), col("sig"),
      explode(array((0 until numChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * bitsPer).bitwiseAND(lit(mask)).as("bits"))
      }: _*)).as("ck"))
      .select(col("id"), col("sig"), col("ck.chunk").as("chunk"), col("ck.bits").as("bits"))
    // probe side: exact chunk keys, plus (for the wide contract) every
    // one-bit-flip variant — joined against EXACT keys only, so a pair
    // with <= 1 error in some chunk meets through the probe whose flip
    // is that error bit (flips are symmetric: probing from the lower id
    // side alone still reaches every such pair)
    val probes =
      if (maxHamming < numChunks) chunks
      else chunks.unionByName(chunks.select(col("id"), col("sig"),
        col("chunk"),
        explode(array((0 until bitsPer).map(b =>
          col("bits").bitwiseXOR(lit(1L << b))): _*)).as("bits")))
    // merge hint: this is a many-to-many join on coarse (chunk, bits)
    // keys — on signature-clustered corpora a key holds hundreds of
    // rows, and a BroadcastHashJoin walks those duplicate chains per
    // probe row (~16x slower per candidate, measured: GenScale sf3
    // counted 205M candidates in 68 s under BHJ while sf10's
    // SortMergeJoin counted 1.50B in 25 s — the sorted-run form is the
    // right shape for dup-heavy keys, and what every bigger sf picks
    // anyway once the build side outgrows the broadcast threshold)
    probes.as("x").hint("merge").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.bits") === col("y.bits")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("siga"), col("y.sig").as("sigb"))
      .distinct()
      .withColumn("hamming", bit_count(col("siga").bitwiseXOR(col("sigb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Dot product of two double arrays — custom codegen expression with a
    * sequential fold, bit-identical to aggregate(zip_with(...)) and DuckDB's
    * list_dot_product, minus the per-row array materialization. */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.array_dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Embedding cosine near-duplicate pairs: EXACT all-pairs cosine >=
    * threshold, id_a < id_b — computed as a tiled block product, not a
    * per-row nested-loop join. Vectors hash into ~`blockRows`-sized blocks;
    * every block pair (bi <= bj) becomes one tile row carrying both blocks'
    * (id, vector, norm) payloads, and a tight JVM kernel scans the tile
    * with the SAME ascending-index fold as `array_dot`, so every emitted
    * cosine is bit-identical to the declarative `dot/nrm` form (and to
    * DuckDB's list_dot_product). The n² pair space is inherent to the
    * exact-anchor semantics; the tiling buys (a) dense cache-resident inner
    * loops instead of a BroadcastNestedLoopJoin's per-row pipeline (~14x at
    * sf1), and (b) a distribution unit — the tile — that spreads evenly
    * over any executor count, with shuffle volume bounded by B corpus
    * copies (B = block count <= 1024). Beyond ~10^6 vectors the quadratic
    * anchor itself is the wrong tool: use cosineNeardupPairsBucketed
    * (near-dup thresholds) or the ANN tiers. */
  def cosineNeardupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blockRows: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      // null ids / vectors can never satisfy the pair predicate (the
      // declarative form dropped them via null-propagating comparisons);
      // drop them up front so the typed kernel never sees nulls
      .filter(col("id").isNotNull && col("v").isNotNull)
      .withColumn("nrm", l2norm(col("v")))
    // One-time setup scalar: the tile list needs the block count. >=16
    // blocks keeps a 32-thread executor busy at tiny scale; <=1024 bounds
    // the driver-built tile enumeration (B(B+1)/2 rows) at any N.
    // Memoized per canonicalized plan (PlanStats), so bench reps and
    // stacked operators over the same corpus pay the sizing pass once per
    // session instead of once per invocation; the count only sizes the
    // grid — a stale value can shift block granularity, never a pair.
    val n = PlanStats.sizingCount(v)
    val b = math.max(16L, math.min(1024L, (n + blockRows - 1) / blockRows)).toInt
    val blocks = v
      .withColumn("blk", pmod(xxhash64(col("id")), lit(b.toLong)).cast("int"))
      .groupBy("blk")
      .agg(collect_list(struct(col("id"), col("v"), col("nrm"))).as("vs"))
    val tiles = (0 until b).flatMap(i => (i until b).map(j => (i, j)))
      .toDF("bi", "bj")
    // Broadcast ONLY the payload-free tile-key table; the second join must
    // shuffle (shuffle_hash) — left to stats, Spark broadcasts the
    // tiles×payload intermediate, which is B/2 corpus copies in one
    // broadcast at large N.
    tiles.hint("broadcast")
      .join(blocks.select(col("blk").as("bi"), col("vs").as("va")), "bi")
      .join(blocks.select(col("blk").as("bj"), col("vs").as("vb"))
        .hint("shuffle_hash"), "bj")
      .repartition(col("bi"), col("bj"))
      .select(col("bi"), col("bj"), col("va"), col("vb"))
      .as[(Int, Int, Seq[(Long, Array[Double], Double)], Seq[(Long, Array[Double], Double)])]
      .flatMap { case (bi, bj, va, vb) =>
        val na = va.length; val nb = vb.length
        val idsA = new Array[Long](na); val vecA = new Array[Array[Double]](na)
        val nrmA = new Array[Double](na)
        var i = 0
        while (i < na) { val t = va(i); idsA(i) = t._1; vecA(i) = t._2; nrmA(i) = t._3; i += 1 }
        val idsB = new Array[Long](nb); val vecB = new Array[Array[Double]](nb)
        val nrmB = new Array[Double](nb)
        i = 0
        while (i < nb) { val t = vb(i); idsB(i) = t._1; vecB(i) = t._2; nrmB(i) = t._3; i += 1 }
        val diag = bi == bj
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        i = 0
        while (i < na) {
          val ai = vecA(i); val ia = idsA(i); val nra = nrmA(i)
          var j = 0
          while (j < nb) {
            val jb = idsB(j)
            // Diagonal tiles hold two copies of one block whose list orders
            // need not match: the id guard emits each unordered pair once.
            if (ia != jb && (!diag || ia < jb)) {
              val bjv = vecB(j)
              val d = math.min(ai.length, bjv.length)
              var acc = 0.0
              var k = 0
              while (k < d) { acc += ai(k) * bjv(k); k += 1 }
              val cos = acc / (nra * nrmB(j))
              if (cos >= threshold) {
                if (ia < jb) out += ((ia, jb, cos)) else out += ((jb, ia, cos))
              }
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("id_a", "id_b", "cosine")
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** Scale path for embedding cosine near-dup: random-hyperplane LSH
    * bucketing (OR-amplified over `numBands` bands of `bitsPerBand` sign
    * bits) → exact cosine verification of bucket-mates. Output equals
    * cosineNeardupPairs up to the LSH miss probability
    * (1 - p^r)^B with p = 1 - arccos(cos)/π — defaults (r=2, B=40) give
    * P(miss) ≈ 1.5e-9 per pair at cosine 0.4, so the exact-cosine oracle
    * certifies it. The plan is bucket equi-join + two key equi-joins: no
    * BroadcastNestedLoopJoin anywhere (asserted in DedupSpec), shuffle per
    * vector is B 16-byte rows.
    *
    * Candidate volume: Σ_buckets C(size,2) summed over bands. At the low
    * gate threshold (0.4) hyperplane agreement for UNRELATED pairs is still
    * ~0.5, so few candidates are pruned — the all-pairs identity is what
    * the gate certifies. Pruning power appears at production near-dup
    * thresholds: at cosine 0.9, raise bitsPerBand to ~log2(n) so buckets
    * stay O(1)-sized and set numBands ≈ (1-p^r)-quantile for target recall;
    * candidates then collapse to near-linear while the verify step keeps
    * the output exact over whatever the buckets propose. At LOW thresholds
    * the tiled exact kernel ([[cosineNeardupPairs]]) is strictly faster —
    * each pair is evaluated once instead of once per shared band — so
    * choose by operating point: exact tiles below ~0.7, LSH pruning
    * above. */
  def cosineNeardupPairsBucketed(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, bitsPerBand: Int = 2,
                                 numBands: Int = 40): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))
    // Buckets CARRY the vector: collision rows then verify inline (one dot
    // kernel in the join's output pipeline) instead of routing every
    // collision through two id equi-joins — at low thresholds collisions
    // outnumber vectors ~10^4:1, so two hash lookups per collision dwarf
    // the bucket shuffle of B extra vector copies. A pair can share MANY
    // band buckets; verify first and dedup only the survivors: round() is
    // deterministic, so duplicate collisions collapse to one row.
    // Repartition by bucket: the bucket join would otherwise inherit the
    // scan's partitioning (often ONE partition for a small file) and run
    // the whole collision-generate + verify pipeline as a single task.
    val buckets = v.select(col("id"), col("v"), col("nrm"),
      posexplode(graft.functions.expressions.lsh_sigs(col("v"), bitsPerBand, numBands))
        .as(Seq("band", "sig")))
      .repartition(col("band"), col("sig"))
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig")
          && col("x.id") < col("y.id"))
      .withColumn("cosine",
        dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
      .distinct()
  }

  /** SemDeDup-style semantic near-dup pairs: embeddings cluster by nearest
    * centroid, then exact cosine pairs are found WITHIN clusters only — the
    * standard semantic-dedup approximation (cross-cluster near-dups are
    * missed by construction; near-duplicates co-cluster by definition, so
    * at sane cluster counts the loss is the tail). Feed the pairs to
    * ConnectedComponents.representatives to keep one doc per semantic
    * duplicate group.
    *
    * Centroids are the `numClusters` vectors with the smallest
    * multiplicative id-hash — the same deterministic pick as
    * SimilaritySearch.ivfTopK, so clustering, and therefore the whole
    * output, is replicable bit-for-bit by a SQL oracle (a k-means centroid
    * set drops the oracle but plugs in the same way).
    *
    * Scale: assignment is one broadcast-centroid pass (C ≤ a few thousand);
    * the within-cluster self-join repartitions by cluster id and costs
    * Σ_c |c|² — size `numClusters` ≈ N/⟨cluster⟩ so clusters stay small;
    * the two knobs trade recall (fewer, larger clusters) against cost,
    * exactly as in the SemDeDup paper. Output: (id_a, id_b, cosine). */
  def semanticNeardupPairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, numClusters: Int = 16): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))
    // low-31-bit multiplicative hash: (id mod 2^31)·K fits signed 64-bit
    // for ANY id space (raw id·K overflowed at the sf1 rehearsal's offset
    // ids); same formula replicated in the DuckDB oracle
    val hkey = pmod(pmod(col("id").cast("long"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val cents = v.orderBy(hkey, col("id")).limit(numClusters)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("csim").desc, col("cent_id"))
    val assigned = v.crossJoin(broadcast(cents))
      .withColumn("csim", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("cent_id").as("cl"), col("id"), col("v"), col("nrm"))
      .repartition(col("cl")) // within-cluster join must not inherit scan partitioning
    assigned.as("x")
      .join(assigned.as("y"),
        col("x.cl") === col("y.cl") && col("x.id") < col("y.id"))
      .withColumn("cosine",
        dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Incremental exact dedup — dedupe a NEW batch against an existing
    * corpus WITHOUT rescanning it: the production ingestion shape. The
    * standing corpus is represented only by its 64-bit fingerprint index
    * (8 bytes/doc — ~8 GB per billion docs, a normal shuffle-join side);
    * each batch row is annotated `in_corpus` (its content already exists)
    * and `is_new` (not in the corpus AND the first copy within the batch —
    * the rows an ingestion job appends, together with their fingerprints
    * to grow the index).
    *
    * Scale: one distinct over the index, one 8-byte-key join of the batch
    * fingerprints against it, one within-batch min-id aggregate; the batch
    * text never shuffles (both annotation joins are on `fp`, and AQE
    * broadcasts the small sides at realistic batch/dup rates). */
  def exactDedupIncremental(batch: DataFrame, idCol: String, textCol: String,
                            corpusFingerprints: DataFrame,
                            fpCol: String): DataFrame = {
    // fp / in_corpus / is_new are the documented OUTPUT columns — a batch
    // that already carries one of those names would be silently clobbered,
    // so refuse loudly instead. Internal working columns get collision-free
    // temp names (same pattern as Sampling.stratifiedExact).
    val reserved = Seq("fp", "in_corpus", "is_new").filter(batch.columns.contains)
    require(reserved.isEmpty,
      s"batch already has output column(s) ${reserved.mkString(", ")} — " +
        "rename them before exactDedupIncremental")
    var hit = "__hit"; var rep = "__rep"
    while (batch.columns.contains(hit)) hit += "_"
    while (batch.columns.contains(rep)) rep += "_"
    val withFp = batch.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
    val corpus = corpusFingerprints.select(col(fpCol).as("fp")).distinct()
      .withColumn(hit, lit(1))
    val reps = withFp.groupBy(col("fp")).agg(min(col(idCol)).as(rep))
    withFp.join(corpus, Seq("fp"), "left")
      .join(reps, Seq("fp"))
      .withColumn("in_corpus", col(hit).isNotNull)
      .withColumn("is_new", col(hit).isNull && col(idCol) === col(rep))
      .drop(hit, rep)
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb pre-filter):
    * drop every line whose normalized form (lowercased, trimmed) appears in
    * MORE than `maxDocFreq` distinct documents — navbars, cookie banners,
    * legal footers — and reassemble each document's surviving lines in
    * their original order. Whitespace-only lines are structural and never
    * counted or dropped.
    *
    * Scale design: the document text itself NEVER shuffles. Exploded
    * (id, pos, line-hash) triples (24-byte rows) feed the document-
    * frequency aggregate; only occurrences of the frequent lines — by
    * definition a sliver of the corpus — come back as per-doc drop-position
    * lists, which broadcast-join (AQE) onto the original rows; the actual
    * line removal is then a row-local array filter. This beats the classic
    * shuffle-all-lines formulation by the full text volume.
    *
    * Output: the input row (textCol rewritten) plus n_lines (original) and
    * n_removed. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1)
    val withLines = df.withColumn("_lines", split(col(textCol), "\n"))
    val keyed = withLines
      .select(col(idCol).as("_id"), posexplode(col("_lines")).as(Seq("_pos", "_line")))
      .filter(length(trim(col("_line"))) > 0)
      .select(col("_id"), col("_pos"), xxhash64(lower(trim(col("_line")))).as("_k"))
    val frequent = keyed.groupBy(col("_k"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") > maxDocFreq)
    val drops = keyed.join(frequent, "_k")
      .groupBy(col("_id"))
      .agg(collect_set(col("_pos")).as("_drop"))
    withLines.join(drops, col(idCol) === col("_id"), "left")
      .withColumn("n_lines", size(col("_lines")).cast("long"))
      .withColumn("n_removed", coalesce(size(col("_drop")), lit(0)).cast("long"))
      .withColumn(textCol,
        when(col("_drop").isNull, col(textCol))
          .otherwise(array_join(
            filter(col("_lines"), (l, i) => !array_contains(col("_drop"), i)), "\n")))
      .drop("_lines", "_id", "_drop")
  }

  /** Incremental n-gram novelty: score each document by the fraction of
    * its DISTINCT word n-grams whose FIRST corpus occurrence (minimum
    * `idCol` over all documents containing the n-gram) is this document.
    * With ids as ingestion order this is the "how much new text does this
    * document add" signal used for novelty-ordered training curricula and
    * crawl-frontier pruning — late near-copies of earlier documents score
    * near 0, fresh content near 1.
    *
    * Output: (id, n_shingles, n_novel, novelty) — novelty rounded to 6;
    * documents with no n-grams (fewer than n tokens) report (0, 0, 1.0):
    * nothing in them has been seen before.
    *
    * The n-gram key is the low 60 bits of md5 (value-exact in SQL
    * oracles); collisions (2^-60) only ever mark a novel n-gram as seen.
    *
    * Scale: distinct per-doc shingles shuffle once, hash-keyed, as
    * (8-byte hash, id) pairs for the min-id window, and the per-doc
    * counts aggregate partially (map-side) first — text never shuffles.
    * This is not a self-join: cost is linear in total distinct shingle
    * occurrences. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    // the first-seen id is a window over the (id, hash) stream itself, so
    // the shingle+md5 kernel runs once and nothing is left persisted (a
    // min-id aggregate joined back would reference the stream twice)
    val scored = df.select(col(idCol).as("id"),
        explode(TextAnalysis.wordShingles(lower(trim(col(textCol))), n)).as("__g"))
      .select(col("id"),
        conv(substring(md5(col("__g")), 1, 15), 16, 10).cast("long").as("__h"))
      .withColumn("__first", min(col("id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("__first") === col("id"), 1)).as("n_novel"))
    df.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        coalesce(round(col("n_novel") / col("n_shingles"), 6), lit(1.0)).as("novelty"))
  }
}
