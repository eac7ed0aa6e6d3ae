package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Mechanical pins for plan-shape properties that specific optimizations
  * bought — a regression (an extra tokenization pass, a forgotten-
  * partitioning re-shuffle) fails HERE with the plan, not as a silent
  * slowdown in some future bench.
  *
  * AQE is disabled in this session so exchange placement is static and
  * the assertions read the plan Spark actually committed to. */
class PlanShapePinsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val docs = "/root/testdata/sf0.001/documents.parquet"

  // One "pass" = one scan of the text. Predicate pushdown inlines the
  // shingle kernel into the emptiness Filter too (same stage, same scan —
  // a per-row CPU duplication, not an extra pass), so each scan shows the
  // kernel at most twice in the optimized plan: once in Filter, once in
  // Project.
  private def shingleKernels(df: org.apache.spark.sql.DataFrame): Int =
    "wordshingles".r
      .findAllMatchIn(df.queryExecution.optimizedPlan.toString.toLowerCase)
      .length

  private def parquetScans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.length

  test("minHashLshPairs scans the corpus ONCE per self-join side") {
    val d = spark.read.parquet(docs)
    val pairs = operators.Dedup.minHashLshPairs(d, "doc_id", "text", 3, 0.8)
    // one shared shingle projection per side: 2 scans, <=4 kernel sites.
    // The pre-round-9 shape (separate band-index + verify-set subtrees)
    // had 4 scans and 8 kernel sites.
    assert(parquetScans(pairs) == 2,
      s"expected 2 corpus scans:\n${pairs.queryExecution.optimizedPlan}")
    assert(shingleKernels(pairs) <= 4,
      s"extra tokenization passes crept in (${shingleKernels(pairs)} kernel " +
        s"sites):\n${pairs.queryExecution.optimizedPlan}")
  }

  test("minHashLshPairsIncremental scans the BATCH once; corpus text never read") {
    val d = spark.read.parquet(docs)
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    val bands = operators.Dedup.minHashBandIndex(corpus, "doc_id", "text", 3)
      .localCheckpoint(true) // stand in for the persisted parquet index
    val sets = operators.Dedup.shingleHashSets(corpus, "doc_id", "text", 3)
      .localCheckpoint(true)
    val inc = operators.Dedup.minHashLshPairsIncremental(
      batch, "doc_id", "text", bands, sets, 3, 0.8)
    // batch side carries its hash set into the band join: ONE text scan
    // total (the corpus sides are precomputed indexes with no text)
    assert(parquetScans(inc) == 1,
      s"expected 1 batch scan:\n${inc.queryExecution.optimizedPlan}")
    assert(shingleKernels(inc) <= 2,
      s"extra batch tokenization (${shingleKernels(inc)} kernel sites):\n" +
        s"${inc.queryExecution.optimizedPlan}")
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAll)) ++ p.subqueries.flatMap(collectAll)

  test("simhashPairs blocking join is SortMergeJoin, never BroadcastHashJoin") {
    // The round-12 scale fix: the (chunk, bits) blocking join is
    // many-to-many on COARSE 16-bit keys — hundreds of rows per key on
    // signature-clustered corpora — and BroadcastHashJoin walks those
    // duplicate chains per probe row (~16x slower per candidate; GenScale
    // sf3 measured 138 s -> 12.6 s when pinned to sort-merge, and the
    // unpinned plan flips shape between sf points as the build side
    // crosses the broadcast threshold, producing non-monotone scale
    // curves). The fix lives in a single `.hint("merge")`
    // (Dedup.simhashPairs); this pin makes its removal fail HERE instead
    // of silently regressing until the next sf3 rehearsal.
    val d = spark.read.parquet(docs)
    val pairs = operators.Dedup.simhashPairs(d, "doc_id", "text")
    val nodes = collectAll(pairs.queryExecution.executedPlan)
    val bhj = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj.isEmpty,
      s"simhash blocking join broadcast a dup-heavy chunk table (the " +
        s"merge hint was lost):\n${pairs.queryExecution.executedPlan}")
    // anti-vacuity: the blocking join must exist and be the sort-merge
    // form (sf0.001's chunk table is small enough that an unhinted plan
    // WOULD pick BHJ — so this assertion is what the hint buys)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      s"no SortMergeJoin found — simhashPairs' join shape changed:\n" +
        s"${pairs.queryExecution.executedPlan}")
  }

  test("NB quality scorer shuffles 8-byte fingerprints, never bigram strings") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.{LongType, StringType}
    val d = spark.read.parquet(docs)
    val nb = operators.QualityClassifier
      .naiveBayesCleanVsScrambled(d, "doc_id", "text")
    val exchanges = collectAll(nb.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e
    }
    // the round-9 shape shuffled raw bigram strings in the vocab groupBy
    // and the scoring join (50.5s at sf1); the fingerprint fix keys every
    // text-derived shuffle on xxhash64 longs
    val stringKeyed = exchanges.filter {
      _.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.exists(_.dataType == StringType)
        case _ => false
      }
    }
    assert(stringKeyed.isEmpty,
      s"bigram-string shuffle keys crept back in:\n${stringKeyed.mkString("\n")}")
    // anti-vacuity: the bigram-hash groupBy/join exchanges must exist and
    // be long-keyed (if the plan stopped shuffling at all, this pin would
    // otherwise assert nothing)
    assert(exchanges.exists {
      _.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.nonEmpty && h.expressions.forall(_.dataType == LongType)
        case _ => false
      }
    }, s"no long-keyed exchange found — NB plan shape changed:\n" +
      s"${nb.queryExecution.executedPlan}")
  }

  test("IVF-PQ codes: fused assign+encode — no corpus shuffle, no argmax window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = operators.SimilaritySearch.buildIvfPqIndex(emb, "vec_id", "embedding")
    val plan = idx.codes.queryExecution.executedPlan
    val nodes = collectAll(plan)
    // the pre-round-10 shape crossJoined the corpus against the broadcast
    // centroid table and ranked per id through a window (N·C rows through
    // an exchange+sort), then joined two corpus-sized frames
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"fused assign+encode must not shuffle the corpus:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      s"the per-id argmax window crept back:\n$plan")
    // anti-vacuity: the object kernel must actually be the plan's engine
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.MapPartitionsExec]),
      s"expected the mapPartitions assign+encode kernel:\n$plan")
  }

  test("IVF serve path: corpus list assignment has no per-id argmax window") {
    // round-11 fusion (ivfWithCentroids): the corpus side is a row-local
    // argmax over broadcast centroid arrays — the pre-fusion shape pushed
    // N·C crossJoin rows through an exchange + per-id window sort (64M
    // rows at sf10 with C=128). The probe side's small-|Q| top-nProbe
    // window is allowed; corpus windows are not.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = operators.SimilaritySearch.ivfTopKKMeans(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", k = 5, numCentroids = 8, nProbe = 2)
    val nodes = collectAll(out.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.MapPartitionsExec]),
      s"expected the fused corpus-assignment kernel:\n${out.queryExecution.executedPlan}")
    // pre-fusion the plan held TWO ×cents crossJoins (corpus assignment +
    // query probing); fused, only the small-|Q| probe side may remain
    val crossJoins = nodes.count { n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]
    }
    assert(crossJoins <= 1,
      s"corpus-side crossJoin assignment crept back ($crossJoins cross joins):\n" +
        s"${out.queryExecution.executedPlan}")
  }

  test("text kernels run at their scan's width: no round-robin spread of a " +
    "single-split corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-spread-pin")
    try {
      // one parquet file well over 128 KB of text: under local[4] it is a
      // single split, the case a kernel-spread repartition would widen
      val rnd = new scala.util.Random(11)
      val words = Array.fill(5000)(rnd.alphanumeric.take(6).mkString)
      val path = dir.resolve("docs.parquet").toString
      (0L until 2000L).map { i =>
        (i, s"s${i % 3}", Seq.fill(60)(words(rnd.nextInt(words.length))).mkString(" "))
      }.toDF("doc_id", "slice", "text").coalesce(1).write.parquet(path)
      val bytes = java.nio.file.Files.list(java.nio.file.Paths.get(path))
        .filter(_.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      assert(bytes >= 128 * 1024, s"fixture parquet is only $bytes bytes")
      val d = spark.read.parquet(path)
      assert(d.rdd.getNumPartitions == 1)
      val model = operators.LangIdNb.train(
        operators.LangIdNb.fixture.toDF("lang", "s"), "lang", "s")
      val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "exactDedup" -> (() => operators.Dedup.exactDedup(d, "doc_id", "text")),
        "minHashLshPairs" -> (() =>
          operators.Dedup.minHashLshPairs(d, "doc_id", "text", 3, 0.8)),
        "noveltyScores" -> (() => operators.Dedup.noveltyScores(d, "doc_id", "text")),
        "LangIdNb.predict" -> (() =>
          operators.LangIdNb.predict(model, d, "doc_id", "text")),
        "distinctNgramStats" -> (() =>
          operators.CorpusStats.distinctNgramStats(d, "slice", "text")))
      // descends into cached relations too: a persisted kernel input
      // hides its exchanges behind an InMemoryTableScan
      def nodes(p: SparkPlan): Seq[SparkPlan] = collectAll(p).flatMap {
        case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
        case n => Seq(n)
      }
      val spread = ops.flatMap { case (name, op) =>
        val plan = op().queryExecution.executedPlan
        val rr = nodes(plan).collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
        }
        if (rr.isEmpty) None else Some(s"$name:\n$plan")
      }
      assert(spread.isEmpty,
        s"round-robin repartition ahead of a row-local kernel in\n${spread.mkString("\n")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("PageRank iterations never re-shuffle the persisted edge table") {
    import spark.implicits._
    // K4 plus a pendant chain (has a dangling node, so the dm path and its
    // every-round materialization schedule are exercised too)
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L),
      (2L, 3L), (3L, 2L), (2L, 4L), (4L, 2L), (3L, 4L), (4L, 3L),
      (4L, 5L) // 5 is dangling
    ).toDF("src", "dst")
    val ranks = operators.PageRank.run(edges, "src", "dst", iters = 3)
    ranks.collect() // materialize so every cache is filled
    val plan = ranks.queryExecution.executedPlan
    // the cached normalized-edge table (its output carries `share`) must
    // arrive at its JOIN as partitioned — a ShuffleExchange between the
    // join and the InMemoryTableScan means the InMemoryRelation's
    // hash(src) partitioning was forgotten (the pre-round-9
    // localCheckpoint shape re-shuffled |E| per round). Exchanges ABOVE
    // the join (the groupBy(dst) shuffle) are the mandatory per-iteration
    // shuffle and are fine.
    def scanToJoinPaths(p: SparkPlan,
                        anc: List[SparkPlan]): Seq[List[SparkPlan]] = {
      val here = p match {
        case s: InMemoryTableScanExec if s.output.exists(_.name == "share") =>
          // ancestors nearest-first, cut at the consuming join: only the
          // operators BETWEEN the scan and its join matter
          Seq(anc.takeWhile(_.children.length < 2))
        case _ => Nil
      }
      here ++ p.children.flatMap(c => scanToJoinPaths(c, p :: anc))
    }
    val paths = scanToJoinPaths(plan, Nil)
    // guard against a vacuous pass: if the edge table stopped being an
    // InMemoryTableScan (e.g. someone reverts persist to localCheckpoint,
    // whose LogicalRDD scan both forgets partitioning AND stops matching
    // here), this fails loudly instead of silently asserting nothing
    assert(paths.nonEmpty,
      s"no persisted (InMemoryTableScan) edge table found in the final " +
        s"iteration's plan — the persist-based design changed:\n$plan")
    val offending = paths.flatMap(_.filter(_.isInstanceOf[ShuffleExchangeExec]))
    assert(offending.isEmpty,
      s"persisted edge table re-shuffled before its join:\n$plan")
    // rank values sane: mass conserved to ~1
    val mass = ranks.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9, s"rank mass $mass != 1")
  }

  test("seqfile key lookups: hits and misses are bare local scans; " +
    "ranges are filter-free batch scans that compile no code per key") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = java.nio.file.Files.createTempDirectory("pin-lookup")
    try {
      (0L until 40000L).map(i => (2 * i, s"v$i")).toDF("key", "value")
        .repartitionByRange(2, col("key")).sortWithinPartitions("key")
        .write.format("seqfile").option("blockSize", "16384").option("bloomKeys", "true")
        .mode("overwrite").save(dir.toString)
      val df = spark.read.format("seqfile").load(dir.toString)
      for (k <- Seq(2 * 12345L, 2 * 12345L + 1)) {
        val plan = df.filter(col("key") === k).queryExecution.executedPlan
        assert(plan.isInstanceOf[LocalTableScanExec], s"lookup of $k:\n$plan")
      }
      // ranges of 10,000 keys span many 16 KiB blocks: over the local bound
      def range(lo: Long) = df.filter(col("key") >= lo && col("key") < lo + 20000L)
      val first = range(0L)
      assert(first.collect().length === 10000)
      val nodes = collectAll(first.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[BatchScanExec]) && !nodes.exists(_.isInstanceOf[FilterExec]),
        first.queryExecution.executedPlan)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(range(30000L).collect().length === 10000)
      assert(range(50002L).collect().length === 10000)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L,
        "a range with other keys compiled new code")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
