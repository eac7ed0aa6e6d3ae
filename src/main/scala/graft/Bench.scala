package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. Emits ONE JSON line:
  *   {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Methodology (round-3 fix for the n=1 noise that produced a phantom 1.8x
  * regression in BENCH_r02): every query is warmed once at the smallest
  * scale factor (compiles each codegen template the timed pass will hit),
  * then timed `reps` times at the target SF in interleaved rounds
  * (q1..qN, q1..qN, ...) so a transient co-tenant load spike lands on
  * different queries in different rounds instead of poisoning all reps of
  * one query. Reported per-query number = median across rounds; total =
  * sum of medians. Minimums are emitted alongside for variance triage.
  *
  * Queries are executed via the `noop` sink, not `.count()`: count() lets
  * Catalyst drop a final orderBy/project, under-measuring queries whose
  * cost is in the final sort; noop materializes every output column of the
  * exact user-facing plan.
  */
object Bench {

  private def timeOnce(fn: (SparkSession, String) => DataFrame,
                       spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    try fn(spark, dir).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => return -1.0 }
    val dt = (System.nanoTime() - t0) / 1e9
    // Query isolation (round-8 fix): operators that cache/persist inside
    // their plan (CC pointer-jumping, k-means training frames, BPE merge
    // rounds, ...) leave blocks in the unified memory region after their
    // query completes. ~40 queries in, the accumulated storage squeezed
    // execution memory and GC enough to turn 1.2s map-only queries into
    // 12s ones (q_multimodal_png 10x, measured, idle box). Dropping every
    // cache after each timed run is OUTSIDE the timed window and restores
    // per-query isolation — each query measures from the same clean slate
    // the correctness driver gives it.
    spark.catalog.clearCache()
    // clearCache() only drops SQL-level InMemoryRelations. MLlib trainers
    // (the k-means fits inside the ANN gates) persist RDD-LEVEL blocks
    // (norm-augmented training vectors) that no SQL API sees — with the
    // round-11 ANN gates a dozen ~25MB fits per rep accumulated until a
    // later gate's build-side spilled: q_dedup_embedding_lsh measured 23 s
    // isolated but 62 s run after the ANN gates (same tree, idle box).
    // Sweep persistent RDDs too; also outside the timed window.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    // Force a full GC outside the timed window: weak-ref-driven cleanup
    // (ContextCleaner broadcast/shuffle release) only runs after refs are
    // collected, and heap shape left by an allocation-heavy query
    // measurably taxes the next one's pipeline otherwise.
    System.gc()
    dt
  }

  /** Median across rounds — POISONED (-1) if any round failed. A query
    * that crashes 1-of-3 rounds must not report a healthy-looking median
    * from the survivors; intermittent breakage is a failure, not noise. */
  private def median(xs: Seq[Double]): Double = {
    if (xs.exists(_ < 0) || xs.isEmpty) -1.0
    else {
      val ok = xs.sorted
      if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // HEAT SENTINEL (machine-readable hot-box detection — see NOTES.md
    // "Bench heat sentinel" for the read thresholds): 1-minute loadavg is
    // sampled before anything starts (co-tenant load the timed rounds will
    // compete with) and again after the last timed round; the emitted
    // "heat" object also carries the medians of three long-stable cheap
    // gates, so a hot run is detectable from the artifact alone instead of
    // via cross-round archaeology.
    def loadavg1: Double = try {
      scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val loadBefore = loadavg1
    val spark = Harness.session()

    // Optional focus list for local iteration: comma-separated query names.
    val only = Harness.only("SPARK_GRAFT_BENCH_ONLY")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Warm-up: run everything once at sf0.001 (~6k lineitem rows) so the
    // timed rounds see steady-state JIT/codegen and a hot FS cache.
    val warmDir = "/root/testdata/sf0.001"
    val warm = if (new java.io.File(warmDir).isDirectory) warmDir else sfDir
    queries.foreach { case (_, fn) => timeOnce(fn, spark, warm) }

    // Interleaved timed rounds at the target SF.
    val rounds: Seq[Map[String, Double]] = (1 to reps).map { _ =>
      queries.map { case (name, fn) => name -> timeOnce(fn, spark, sfDir) }.toMap
    }
    val loadAfter = loadavg1
    val medRaw = queries.map { case (name, _) => name -> median(rounds.map(_(name))) }
    val mins = queries.map { case (name, _) =>
      val ok = rounds.map(_(name)).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }

    // HEAT-PROOFING (round-15, after the r14 q_pagerank incident: a
    // loadavg-6.57 driver box committed a 17.35 s reading — 2.3× the
    // gate's 7.0–10.7 s cross-round band — as the round's only number).
    // Cross-round bands come from the committed BENCH_r{N}.json history
    // at the SAME sf (band = median of a gate's historical medians, ≥3
    // rounds required); when the box reads HOT (loadavg before/after
    // > 2.0, or a sentinel gate > 1.5× its own band) every gate whose
    // median exceeds 1.5× its band is RE-RUN after a bounded cool-down
    // wait, and the re-run median replaces the poisoned one — with the
    // original reading, the re-run value, and the loadavg at re-run time
    // all emitted under "heat.reruns" so the artifact is self-explaining
    // either way. A genuinely regressed gate re-reads high and stays
    // high; only contention can melt away.
    // The committed driver artifacts are wrapper objects whose "tail"
    // field holds an ESCAPED, possibly-truncated fragment of the metric
    // line, so this extracts ("q…": <float>) pairs with a tolerant regex
    // over the raw file text instead of parsing JSON. A file can carry
    // the same gate several times (full-precision median, 2-decimal
    // median, per-round min); taking the per-file MAX picks the median —
    // min ≤ median and the two median encodings agree to the cent.
    def historicalBands(sfNum: String): Map[String, Double] = try {
      val qv = ("\\\\?\"(q[A-Za-z0-9_]+)\\\\?\":([0-9]+\\.[0-9]+)").r
      // every sf value the file carries (escaped or not) — a file is
      // harvested only if ALL its sf fields equal the target sf, so a
      // future artifact holding several sf sections can never pool
      // cross-sf timings into one band (r15 ADVICE; the per-line scoping
      // alternative doesn't survive the escaped-and-truncated "tail"
      // fragments the committed driver wrappers carry).
      val sfAll = ("\\\\?\"sf\\\\?\"\\s*:\\s*\\\\?\"?([0-9.]+)").r
      val hist = scala.collection.mutable.Map.empty[String, List[Double]]
      // Non-sf0.1 runs join the history via PER-ROUND snapshots
      // (BENCH_sf<k>_r<N>.json, tracked since r16) — the bare
      // BENCH_sf<k>.json is overwritten each refresh so it could never
      // reach the 3-round band minimum, and counting it ALONGSIDE its
      // own snapshot would double-vote the latest run (r15 ADVICE asked
      // for sf1 history; this is the shape that actually accumulates
      // one vote per round).
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_((r|local_r)\\d+|sf[0-9.]+_r\\d+)\\.json"))
        .sortBy(_.getName)
      for (f <- files) scala.util.Try {
        val src = scala.io.Source.fromFile(f)
        val txt = try src.mkString finally src.close()
        // compare PARSED numeric values, not raw strings: "1" vs "1.0"
        // vs 1 are the same sf, and a string-set compare would silently
        // drop the file from band history (r16 ADVICE). Unparsable sf
        // tokens poison the set with NaN (NaN != anything), so a mangled
        // file is skipped — and disclosed below, not silently.
        def num(x: String): Double =
          scala.util.Try(x.toDouble).getOrElse(Double.NaN)
        val sfs = sfAll.findAllMatchIn(txt).map(m => num(m.group(1))).toSet
        if (sfs.nonEmpty && sfs != Set(num(sfNum)))
          println(s"bench-note band harvest skipped ${f.getName}: its sf " +
            s"fields ${sfs.mkString(",")} do not all match target $sfNum")
        if (sfs == Set(num(sfNum))) {
          val best = scala.collection.mutable.Map.empty[String, Double]
          for (m <- qv.findAllMatchIn(txt)) {
            val v = m.group(2).toDouble
            if (best.getOrElse(m.group(1), -1.0) < v) best(m.group(1)) = v
          }
          for ((n, v) <- best) hist(n) = v :: hist.getOrElse(n, Nil)
        }
      }
      hist.collect { case (name, xs) if xs.size >= 3 =>
        val s = xs.sorted
        name -> (if (s.size % 2 == 1) s(s.size / 2)
                 else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0)
      }.toMap
    } catch { case _: Throwable => Map.empty }

    val sentinelNames = Seq("q1_pricing_summary", "q_filter_project",
      "q_scalar_funcs")
    val sfNumForBands = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir).map(_.group(1))
    val bands = sfNumForBands.map(historicalBands).getOrElse(Map.empty)
    if (bands.isEmpty)
      // disclosed, not silent: without bands the outlier rerun machinery
      // below has nothing to compare against (first run at a new sf)
      println(s"bench-note no historical bands for sf=${sfNumForBands.getOrElse(sfDir)}; heat-proofing inert this run")
    val medMap0 = medRaw.toMap
    val sentinelsHot = sentinelNames.exists(n =>
      (medMap0.get(n), bands.get(n)) match {
        case (Some(v), Some(b)) => v > 1.5 * b
        case _ => false
      })
    // loadavg_after is self-inflated (the bench's own local[32] bursts
    // keep the 1-min average high at the end of any healthy run), so the
    // hot signals are pre-run co-tenant load and the in-run sentinels.
    val boxHot = loadBefore > 2.0 || sentinelsHot
    val outliers = medRaw.filter { case (n, v) =>
      v > 0 && bands.get(n).exists(b => v > 1.5 * b) }
    val fnMap = queries.toMap
    // RETRY UNTIL CLEAN (r15 ask 6 — BENCH_r15's single rerun fired on a
    // still-hot box and re-read 24.29 s vs 10.30 idle): each outlier is
    // re-run up to `maxAttempts` times, each attempt preceded by its own
    // bounded cool-down wait, stopping early the moment a reading lands
    // back inside its band. Every attempt (value + the loadavg it ran
    // under) is disclosed; the final value is the MIN across attempts —
    // contention can only inflate a reading, so the coolest attempt is
    // the closest to truth, and a genuine regression stays high in all
    // of them. If the cap exhausts without an in-band reading, the
    // artifact says so explicitly (in_band=false) instead of presenting
    // a hot number as settled.
    final case class Rerun(orig: Double, attempts: Seq[(Double, Double)],
                           fin: Double, inBand: Boolean)
    val maxAttempts = 3
    val reruns: Seq[(String, Rerun)] =
      if (!boxHot || outliers.isEmpty) Seq.empty
      else outliers.map { case (name, orig) =>
        val band = bands(name)
        val attempts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
        var done = false
        while (!done && attempts.size < maxAttempts) {
          // bounded cool-down: give co-tenant load up to 5 min to drain
          var waited = 0
          while (loadavg1 > 1.5 && waited < 300) { Thread.sleep(15000); waited += 15 }
          val la = loadavg1
          val v = median((1 to 2).map(_ => timeOnce(fnMap(name), spark, sfDir)))
          attempts += ((v, la))
          if (v >= 0 && v <= 1.5 * band) done = true
        }
        val ok = attempts.map(_._1).filter(_ >= 0)
        val fin = if (ok.isEmpty) -1.0 else ok.min
        name -> Rerun(orig, attempts.toSeq, fin,
          fin >= 0 && fin <= 1.5 * band)
      }
    val rerunMap = reruns.toMap
    val med = medRaw.map { case (name, v) =>
      rerunMap.get(name) match {
        case Some(r) if r.fin >= 0 => name -> r.fin
        case _ => name -> v
      }
    }

    def jsonMap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsonMap2(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    // A query that failed every round (median -1) must not silently shrink
    // the total — a run that BROKE a query would read as a speedup to any
    // harness comparing totals. Surface failures as a first-class field and
    // a poisoned total. A query that failed in SOME rounds still gets its
    // surviving-round median, but the per-query failure count is emitted so
    // intermittent breakage is visible too (not just all-round failures).
    val failCounts = queries.map { case (name, _) =>
      name -> rounds.count(_(name) < 0)
    }.filter(_._2 > 0)
    val failed = med.collect { case (name, m) if m < 0 => name }
    val total =
      if (failed.isEmpty) med.map(_._2).sum
      else -1.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failCountsJson = failCounts
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Full-precision medians/mins/failure counts go on a diagnostic line
    // that deliberately does NOT start with '{' so downstream tooling that
    // scans output for the metric JSON can't pick it up by mistake.
    println(s"""bench-detail {"runs":$reps,"round_failures":$failCountsJson,""" +
      s""""queries":${jsonMap(med)},"queries_min":${jsonMap(mins)},"sf":"$sfDir"}""")
    // The ONE machine-readable line, last and kept compact (2-decimal values,
    // numeric sf): harnesses that capture only the final ~2000 chars of a
    // run's output must see this line in full — with ~70 queries the
    // full-precision form grew past that window and never parsed.
    val sfNum = "sf([0-9.]+)/?$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("\"" + sfDir + "\"")
    // sentinel gates (defined above): cheap, structurally stable since
    // round 1 — their medians move with box heat, not with engine changes
    val medMap = med.toMap
    val sentinels = sentinelNames.flatMap(n => medMap.get(n).map(n -> _))
    val rerunsJson = reruns.map { case (n, r) =>
      val att = r.attempts.map { case (v, la) =>
        "{\"val\":" + f"$v%.2f" + ",\"loadavg\":" + f"$la%.2f" + "}"
      }.mkString("[", ",", "]")
      "\"" + n + "\":{\"orig\":" + f"${r.orig}%.2f" + ",\"attempts\":" + att +
        ",\"final\":" + f"${r.fin}%.2f" + ",\"in_band\":" + r.inBand + "}"
    }.mkString("{", ",", "}")
    val heatJson =
      s""""heat":{"loadavg_before":${f"$loadBefore%.2f"},""" +
      s""""loadavg_after":${f"$loadAfter%.2f"},""" +
      s""""hot":$boxHot,"reruns":$rerunsJson,""" +
      s""""sentinels":${jsonMap2(sentinels)}}"""
    val metricLine =
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","runs":$reps,""" +
      s""""failed":$failedJson,$heatJson,"queries":${jsonMap2(med)},"sf":$sfNum}"""
    // Belt and braces: persist the metric line to stable paths too, so a
    // harness that loses the stdout tail can still recover the numbers.
    // bench_out.json lands in the launch cwd (the repo when run via sbt).
    for (path <- Seq("/tmp/graft-bench.json", "bench_out.json")) {
      try {
        val out = new java.io.PrintWriter(path)
        try out.println(metricLine) finally out.close()
      } catch { case _: Throwable => () }
    }
    spark.stop()
    // Print LAST, after spark.stop(), so no shutdown chatter can land
    // between the metric lines and process exit. The full per-query line
    // goes first; with ~90 queries it exceeds a 2000-byte tail-capture
    // window, so a totals-only summary — guaranteed to fit any window —
    // is the FINAL line. Harnesses that parse the last JSON line get the
    // totals; per-query medians live on the previous line and in the
    // persisted files.
    println(metricLine)
    println(s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec",""" +
      s""""runs":$reps,"n_queries":${queries.size},"n_failed":${failed.size},""" +
      s"""$heatJson,"sf":$sfNum,"detail_file":"bench_out.json"}""")
  }
}
