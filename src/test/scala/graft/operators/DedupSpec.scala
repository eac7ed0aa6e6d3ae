package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  def docs(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("doc_id", "text")

  test("exactDedup groups normalized duplicates and picks min-id representative") {
    val df = docs(
      1L -> "Hello World",
      2L -> "  hello   world ",   // same after normalization
      3L -> "HELLO WORLD",
      4L -> "different doc entirely")
    val out = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id", "rep_id", "group_size", "is_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(out === Set((1L, 1L, 3L, true), (2L, 1L, 3L, false),
      (3L, 1L, 3L, false), (4L, 4L, 1L, true)))
  }

  test("sharedWindowPairs finds exact token runs, honors the df cap") {
    val df = docs(
      1L -> "aa bb cc dd ee ff unique tail one",
      2L -> "prefix two aa bb cc dd ee ff",      // shares the 6-run with 1
      3L -> "aa bb cc dd ee XX no shared run",   // 5-token overlap only
      4L -> "totally different words here now")
    val out = Dedup.sharedWindowPairs(df, "doc_id", "text", w = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((1L, 2L, 1L)))
    // df cap: a run shared by 3 docs is dropped at maxDf = 2
    val boiler = docs(
      1L -> "the same cookie banner text here p1",
      2L -> "the same cookie banner text here p2",
      3L -> "the same cookie banner text here p3")
    val capped = Dedup.sharedWindowPairs(boiler, "doc_id", "text", w = 6, maxDf = 2)
      .collect()
    assert(capped.isEmpty)
    // ...but counted when the cap allows it: 3 docs -> 3 pairs
    val allowed = Dedup.sharedWindowPairs(boiler, "doc_id", "text", w = 6, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(allowed === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("ngramContainmentPairs: fragment containment that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon"            // 3 trigrams
    val long = "intro words then " + short + " and a very long tail " +
      "of unrelated content padding this document out considerably more"
    val df = docs(1L -> short, 2L -> long, 3L -> "nothing shared here at all today")
    val out = Dedup.ngramContainmentPairs(df, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length === 1)
    val (a, b, cab, cba) = out.head
    assert((a, b) === ((1L, 2L)))
    assert(cab === 1.0)          // all of the short doc's trigrams are in the long one
    assert(cba < 0.5)            // ...but Jaccard-style symmetry would fail
    // and Jaccard indeed misses it at the same bar
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(jac.isEmpty)
  }

  test("exactDedupKeepBest keeps the copy maximizing preferCol, ties -> min id") {
    val df = docs(
      1L -> "Hello World",            // 11 bytes
      2L -> "  hello   world ",       // 16 bytes — longest copy wins
      3L -> "HELLO WORLD",            // 11 bytes
      5L -> "solo document",
      6L -> "tie breaker",            // same length as 7 — min id wins
      7L -> "TIE BREAKER")
    val out = Dedup.exactDedupKeepBest(df, "doc_id", "text",
        octet_length(col("text")))
      .select("doc_id", "rep_id", "group_size", "is_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(out === Set(
      (1L, 2L, 3L, false), (2L, 2L, 3L, true), (3L, 2L, 3L, false),
      (5L, 5L, 1L, true),
      (6L, 6L, 2L, true), (7L, 6L, 2L, false)))
  }

  test("ngramJaccardPairs finds a planted near-duplicate and scores it exactly") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val out = Dedup.ngramJaccardPairs(docs(1L -> base, 2L -> nearDup, 3L -> other),
      "doc_id", "text", n = 3, threshold = 0.5).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    // 38 shingles each; 3 shingles touch position 20 → intersection 35
    assert(math.abs(r.getDouble(2) - 35.0 / (38 + 38 - 35)) < 1e-6)
  }

  test("prefix-filtered exact join equals the naive exact join (incl. scores)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val exact = norm(Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8))
    val prefix = norm(Dedup.ngramJaccardPairsPrefix(d, "doc_id", "text", 3, 0.8))
    assert(exact.nonEmpty)
    assert(prefix === exact)
  }

  test("prefix filtering generates far fewer candidates than the naive shingle join") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val sh = d.select(col("doc_id").as("id"),
        explode(graft.functions.TextAnalysis.wordShingles(col("text"), 3)).as("s0"))
      .select(col("id"), xxhash64(col("s0")).as("s"))
    val naiveCand = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
    // reproduce the operator's internal prefix selection to count candidates
    val docs = d.select(col("doc_id").as("id"),
        graft.functions.TextAnalysis.wordShingles(col("text"), 3).as("shStr"))
      .filter(size(col("shStr")) > 0)
      .select(col("id"), transform(col("shStr"), s => xxhash64(s)).as("sh"))
    val exploded = docs.select(col("id"), explode(col("sh")).as("s"))
    val dfreq = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val ranked = exploded.join(dfreq, "s").withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("df"), col("s"))))
    val prefixes = ranked.join(docs.select(col("id"), size(col("sh")).as("n_sh")), "id")
      .filter(col("rank") <= col("n_sh") - ceil(col("n_sh") * 0.8) + 1)
      .select(col("id"), col("s"))
    val prefixCand = prefixes.as("x").join(prefixes.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
    assert(prefixCand < naiveCand / 5,
      s"prefix candidates $prefixCand not much smaller than naive $naiveCand")
  }

  test("minHashLshPairs finds the same pairs as the exact join on testdata") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(d, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh === exact)
  }

  test("simhashPairs catches planted near-dups found by ngram jaccard") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 7, numChunks = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // SimHash (token-multiset signature) must recover a solid majority of
    // very-high-Jaccard pairs; exact agreement isn't expected.
    val recall = exact.count(sim.contains).toDouble / exact.size
    assert(recall >= 0.7, s"simhash recall $recall over ${exact.size} pairs")
  }

  test("simhashPairs is EXACT within its Hamming contract (vs brute force)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = d.select(col("doc_id").as("id"),
      graft.functions.TextAnalysis.simhash(col("text")).as("sig"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 3)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3, numChunks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute, "pigeonhole blocking must lose nothing within Hamming<=3")
    assert(brute.nonEmpty)
  }

  test("simhashPairs flip-variant blocking is EXACT within Hamming<=7 on 16-bit chunks") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = d.select(col("doc_id").as("id"),
      graft.functions.TextAnalysis.simhash(col("text")).as("sig"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 7)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2*numChunks-1 = 7: one-bit-flip probes must cover every pair some
    // chunk of which holds <= 1 error — set equality against brute force
    val got = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 7, numChunks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute, "flip-variant blocking must lose nothing within Hamming<=7")
    assert(brute.nonEmpty)
    // and the widened contract is a strict superset opportunity: it can
    // only ADD pairs relative to the <=3 tier
    val narrow = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3, numChunks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrow.subsetOf(got))
  }

  test("cosineNeardupPairs is symmetric-free (id_a < id_b) and thresholded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Dedup.cosineNeardupPairs(emb, "vec_id", "embedding", 0.4).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4 - 1e-9)
    }
  }

  test("cosineNeardupPairs drops null ids/vectors (declarative-join semantics)") {
    import spark.implicits._
    val df = Seq(
      (Option(1L), Option(Seq(1.0, 0.0))),
      (Option(2L), Option(Seq(1.0, 0.0))),
      (Option(3L), Option.empty[Seq[Double]]),
      (Option.empty[Long], Option(Seq(1.0, 0.0)))
    ).toDF("vec_id", "embedding")
    val out = Dedup.cosineNeardupPairs(df, "vec_id", "embedding", 0.5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("bucketed cosine near-dup equals all-pairs exactly, with no " +
       "BroadcastNestedLoopJoin in the plan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val exact = norm(Dedup.cosineNeardupPairs(emb, "vec_id", "embedding", 0.4))
    val bucketed = Dedup.cosineNeardupPairsBucketed(emb, "vec_id", "embedding", 0.4)
    assert(exact.nonEmpty)
    assert(norm(bucketed) === exact)
    // the certified scale property: every join is an equi-join on bucket or
    // id keys — the quadratic BroadcastNestedLoopJoin never appears
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("semanticNeardupPairs = exact pairs restricted to same-cluster; " +
       "clustered corpus recall is near-total") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    // reproduce the deterministic cluster assignment to build the expected
    // subset of the exact pair set
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Dedup.l2norm(col("v")))
    val cents = v.orderBy(
        pmod(col("id") * lit(2654435761L), lit(4294967296L)), col("id"))
      .limit(8)
      .select(col("id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("id")).orderBy(col("csim").desc, col("cent_id"))
    val cluster = v.crossJoin(broadcast(cents))
      .withColumn("csim", Dedup.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("id"), col("cent_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = norm(Dedup.cosineNeardupPairs(emb, "vec_id", "embedding", 0.4))
    val expected = exact.filter { case (a, b, _) => cluster(a) == cluster(b) }
    val got = norm(Dedup.semanticNeardupPairs(emb, "vec_id", "embedding", 0.4, 8))
    assert(got === expected)
    assert(got.nonEmpty, "testdata must produce within-cluster near-dups")
    // SemDeDup's premise: near-dups co-cluster. On this corpus the
    // within-cluster subset must retain most of the exact pair set.
    assert(got.size.toDouble / exact.size >= 0.2,
      s"semantic recall ${got.size}/${exact.size} unexpectedly low")
  }

  test("at production thresholds LSH bucketing PRUNES: candidate volume is " +
       "a small fraction of all pairs, output still equals brute force") {
    // The sf gate runs at threshold 0.4, where hyperplane agreement for
    // unrelated vectors (~0.5/bit) keeps nearly every pair a candidate —
    // the gate certifies plan shape, not pruning. This spec certifies the
    // pruning claim itself on a clustered corpus at threshold 0.9 with
    // production parameters (bits ≈ log2 n per band): candidates must
    // collapse to near-linear while output stays exactly brute-force.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 32
    // 60 cluster centers; 10 members each jittered slightly (cosine ~0.99
    // within a cluster, ~N(0, 1/sqrt(dim)) across clusters)
    val vecs = (0 until 60).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until 10).map { m =>
        val v = center.map(_ + 0.05 * rnd.nextGaussian())
        (c * 10L + m, v)
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dedup.cosineNeardupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 60 * 45 / 2, s"clustered corpus must have many near-dups, got ${exact.size}")

    val bitsPerBand = 10 // ≈ log2(600)
    val numBands = 24    // P(miss) at cos 0.9: (1 - p^10)^24, p=0.903 → ~2e-4
    val got = Dedup.cosineNeardupPairsBucketed(df, "vec_id", "embedding", 0.9,
        bitsPerBand, numBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === exact, s"missed=${(exact -- got).size} extra=${(got -- exact).size}")

    // candidate volume = collision rows the verify stage sees (rebuild the
    // generator stage exactly as the operator does)
    import org.apache.spark.sql.functions._
    val v = df.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val buckets = v.select(col("id"),
      posexplode(graft.functions.expressions.lsh_sigs(col("v"), bitsPerBand, numBands))
        .as(Seq("band", "sig")))
    // distinct pairs: a true near-dup hitting many of the 24 bands is ONE
    // candidate (collision-row volume stays linear in it either way; the
    // pruning claim is about which pairs ever reach the verify kernel)
    val candidates = buckets.as("x").join(buckets.as("y"),
      col("x.band") === col("y.band") && col("x.sig") === col("y.sig")
        && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
    val allPairs = 600L * 599L / 2
    assert(candidates < allPairs / 10,
      s"pruning failed: $candidates distinct candidates vs $allPairs pairs")
  }

  test("exactDedupIncremental: corpus hits, within-batch dups, new docs") {
    val corpus = docs(
      100L -> "existing document one",
      101L -> "existing document two")
      .select(graft.functions.TextAnalysis.fingerprint(
        org.apache.spark.sql.functions.col("text")).as("fp"))
    val batch = docs(
      1L -> "Existing   Document ONE",   // normalizes to a corpus doc
      2L -> "fresh content here",
      3L -> "fresh  CONTENT here",       // within-batch dup of 2
      4L -> "another new one")
    val out = Dedup.exactDedupIncremental(batch, "doc_id", "text", corpus, "fp")
      .select("doc_id", "in_corpus", "is_new").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((true, false)))
    assert(out(2L) === ((false, true)))
    assert(out(3L) === ((false, false))) // dup within batch, 2 is the rep
    assert(out(4L) === ((false, true)))
  }

  test("incremental MinHash equals the cross-set slice of the full join on testdata") {
    import org.apache.spark.sql.functions.col
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    val bands = Dedup.minHashBandIndex(corpus, "doc_id", "text", n = 3)
    val sets = Dedup.shingleHashSets(corpus, "doc_id", "text", n = 3)
    val inc = Dedup.minHashLshPairsIncremental(batch, "doc_id", "text",
        bands, sets, n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the full self-join, restricted to cross-parity pairs
    val full = Dedup.minHashLshPairs(d, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 1) (a, b, j) else (b, a, j) }.toSet
    assert(inc === full)
    assert(inc.nonEmpty, "expected cross-set near-dups in the fixture")
  }

  test("removeBoilerplateLines drops over-frequent lines, keeps order and structure") {
    val df = docs(
      1L -> "COOKIE BANNER\nunique line one\n\nunique line two",
      2L -> "cookie banner\nanother unique line",
      3L -> "  Cookie Banner  \nthird doc content",
      4L -> "no boilerplate here at all")
    // "cookie banner" (normalized) appears in 3 docs > maxDocFreq=2 -> dropped
    val out = Dedup.removeBoilerplateLines(df, "doc_id", "text", maxDocFreq = 2)
      .select("doc_id", "text", "n_lines", "n_removed").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("unique line one\n\nunique line two", 4L, 1L)))
    assert(out(2L) === (("another unique line", 2L, 1L)))
    assert(out(3L) === (("third doc content", 2L, 1L)))
    assert(out(4L) === (("no boilerplate here at all", 1L, 0L)))
  }

  test("removeBoilerplateLines: doc of only boilerplate becomes empty but survives") {
    val df = docs(
      1L -> "spam", 2L -> "spam", 3L -> "spam",
      4L -> "spam\nreal content")
    val out = Dedup.removeBoilerplateLines(df, "doc_id", "text", maxDocFreq = 2)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L) === "")
    assert(out(4L) === "real content")
  }

  test("removeBoilerplateLines: seeded fuzz vs Scala brute force") {
    val rnd = new scala.util.Random(11)
    val lines = Array("alpha beta", "COMMON line", "  common line ", "x y z",
      "", "other content", "tail words")
    val docs0 = (1L to 60L).map { i =>
      (i, Array.fill(1 + rnd.nextInt(6))(lines(rnd.nextInt(lines.length))).mkString("\n"))
    }
    val maxDf = 1 + rnd.nextInt(10)
    val got = Dedup.removeBoilerplateLines(docs0.toDF("doc_id", "text"),
        "doc_id", "text", maxDf)
      .select("doc_id", "text", "n_removed").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // brute force: normalized line -> distinct doc frequency
    val df = docs0.flatMap { case (id, t) =>
      t.split("\n", -1).map(_.trim.toLowerCase).filter(_.nonEmpty).distinct.map(_ -> id)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.size }
    val frequent = df.filter(_._2 > maxDf).keySet
    for ((id, t) <- docs0) {
      val kept = t.split("\n", -1).filter { l =>
        val k = l.trim.toLowerCase
        k.isEmpty || !frequent(k)
      }
      val removed = t.split("\n", -1).length - kept.length
      assert(got(id) === ((kept.mkString("\n"), removed.toLong)),
        s"doc $id maxDf=$maxDf")
    }
  }

  test("removeBoilerplateLines: whitespace-only lines never counted as boilerplate") {
    val df = docs(
      1L -> "a\n\nb", 2L -> "c\n\nd", 3L -> "e\n\nf", 4L -> "g\n\nh")
    // the empty middle line appears in 4 docs but must NOT be dropped
    val out = Dedup.removeBoilerplateLines(df, "doc_id", "text", maxDocFreq = 2)
      .select("doc_id", "text", "n_removed").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("a\n\nb", 0L)))
    assert(out(3L) === (("e\n\nf", 0L)))
  }

  test("noveltyScores: first occurrence wins, copies score 0, short docs 1.0") {
    val df = docs(
      1L -> "alpha beta gamma delta",          // 2 distinct trigrams, all first
      2L -> "alpha beta gamma delta",          // exact copy -> novelty 0
      3L -> "alpha beta gamma epsilon zeta",   // trigram 1 seen, 2 new -> 2/3
      4L -> "one two",                         // < 3 tokens -> no trigrams -> 1.0
      5L -> "wholly new content entirely here")
    val out = Dedup.noveltyScores(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    assert(out(3L) === ((3L, 2L, math.rint(2.0 / 3 * 1e6) / 1e6)))
    assert(out(4L) === ((0L, 0L, 1.0)))
    assert(out(5L) === ((3L, 3L, 1.0)))
  }

  test("noveltyScores: repeated trigram within one doc counts once (distinct)") {
    val df = docs(
      1L -> "x y z x y z x y z")  // trigrams distinct: {x y z, y z x, z x y}
    val r = Dedup.noveltyScores(df, "doc_id", "text", n = 3).collect().head
    assert(r.getLong(1) === 3L)
    assert(r.getLong(2) === 3L)
  }

  test("noveltyScores: ordering is by id — the lower id owns shared text") {
    val df = docs(
      10L -> "shared trigram content here",
      2L -> "shared trigram content here")
    val out = Dedup.noveltyScores(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(2L) === 1.0)
    assert(out(10L) === 0.0)
  }

  test("noveltyScores leaves no RDD persisted after its result is collected") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val df = docs(
      1L -> "alpha beta gamma delta",
      2L -> "alpha beta gamma epsilon")
    assert(Dedup.noveltyScores(df, "doc_id", "text", n = 3).collect().length == 2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"left persisted: ${spark.sparkContext.getPersistentRDDs.values.mkString(", ")}")
  }

  test("removeSharedSpans cuts cross-doc 6-token spans, leaves the rest") {
    val df = docs(
      1L -> "a b c d e f x y",              // shares [a..f] with doc 2
      2L -> "z a b c d e f q",
      3L -> "totally unrelated text here now ok",
      4L -> "short doc",                     // < w tokens: untouched
      5L -> "p q r s t u v p q r s t u v")  // within-doc repeat only: kept
    val out = Dedup.removeSharedSpans(df, "doc_id", "text", w = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((8L, 6L, "x y")))
    assert(out(2L) === ((8L, 6L, "z q")))
    assert(out(3L) === ((6L, 0L, "totally unrelated text here now ok")))
    assert(out(4L) === ((2L, 0L, "short doc")))
    // duplicated span within ONE doc has distinct-doc df 1 -> not removed
    assert(out(5L)._2 === 0L)
    // original columns ride through
    assert(Dedup.removeSharedSpans(df, "doc_id", "text", w = 6).columns.toSeq
      === Seq("doc_id", "text", "n_tokens", "n_removed", "clean_text"))
  }

  test("removeSharedSpans: overlapping duplicated windows merge their cover") {
    // docs share a 7-token run -> two overlapping 6-windows; covered set is
    // the union (7 tokens), not 12
    val df = docs(
      1L -> "a b c d e f g tail1",
      2L -> "a b c d e f g tail2")
    val out = Dedup.removeSharedSpans(df, "doc_id", "text", w = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) === ((7L, "tail1")))
    assert(out(2L) === ((7L, "tail2")))
  }
}
