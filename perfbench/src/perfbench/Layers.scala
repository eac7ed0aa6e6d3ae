package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The traced run's per-layer report: Spark job and stage spans from the
  * listener, single-layer probes, self time per layer and the tracing
  * overhead. */
object Layers {

  /** Every per-layer metric with its unit; a traced run reports all of them. */
  val units: Seq[(String, String)] = Seq(
    "core.seqfile.decode_rec_per_s" -> "rec/s",
    "core.seqfile.decode_keys_rec_per_s" -> "rec/s",
    "core.seqfile.frame_rec_per_s" -> "rec/s",
    "core.seqfile.snappy_decompress_mb_per_s" -> "MB/s",
    "core.seqfile.snappy_compress_mb_per_s" -> "MB/s",
    "core.seqfile.encode_rec_per_s" -> "rec/s",
    "core.seqfile.compressed_mb" -> "MB",
    "core.seqfile.raw_mb" -> "MB",
    "sources.seqfile.reader_rec_per_s" -> "rec/s",
    "sources.seqfile.plan_ms" -> "ms",
    "sources.seqfile.input_partitions" -> "count",
    "sources.seqfile.zone_blocks_read" -> "count/op",
    "sources.seqfile.zone_blocks_skipped" -> "count/op",
    "sources.seqfile.blocks_read_per_hit" -> "count/op",
    "sources.seqfile.blocks_read_per_miss" -> "count/op",
    "sources.seqfile.blocks_read_per_range" -> "count/op",
    "sources.seqfile.zone_candidates_per_miss" -> "count/op",
    "sources.seqfile.rows_scanned_per_row_returned" -> "ratio",
    "sources.seqfile.write_s" -> "s",
    "sources.seqfile.compact_s" -> "s",
    "sources.seqfile.sidecar_bytes" -> "bytes",
    "sources.seqfile.files_after_compact" -> "count",
    "functions.fingerprint64_docs_per_s" -> "doc/s",
    "functions.word_shingles_docs_per_s" -> "doc/s",
    "functions.minhash_sig_docs_per_s" -> "doc/s",
    "operators.dedup.exact_s" -> "s",
    "operators.dedup.minhash_s" -> "s",
    "operators.dedup.dup_groups" -> "count",
    "operators.dedup.pairs_out" -> "count",
    "spark.jobs" -> "count/op",
    "spark.tasks" -> "count/op",
    "spark.scheduler_delay_s" -> "s/op",
    "spark.executor_cpu_s" -> "s/op",
    "spark.cpu_util" -> "ratio",
    "spark.gc_s" -> "s/op",
    "spark.shuffle_write_mb" -> "MB/op",
    "spark.shuffle_read_mb" -> "MB/op",
    "spark.spill_mb" -> "MB/op",
    "spark.task_max_over_p50" -> "ratio",
    "trace.self_ms.bench" -> "ms/op",
    "trace.self_ms.phase" -> "ms/op",
    "trace.self_ms.spark.plan" -> "ms/op",
    "trace.self_ms.spark.driver" -> "ms/op",
    "trace.self_ms.spark.scheduler" -> "ms/op",
    "trace.self_ms.spark.executor" -> "ms/op",
    "trace.overhead_pct" -> "%")

  /** Layers an op's spans fall in, outermost first. */
  private val opLayers =
    Seq("bench", "phase", "spark.plan", "spark.driver", "spark.scheduler", "spark.executor")

  def report(ctx: Ctx, w: Workload, stats: SparkStats, recs: Seq[Main.OpRec],
             traceOut: String): Map[String, (Double, String)] = {
    val t = ctx.tracer
    stats.drain(ctx.spark)
    val tracedOps = recs.filter(_.traced)
    val opIds = tracedOps.map(_.op).toSet
    val nOps = math.max(1, tracedOps.size).toDouble

    // job spans under the innermost bench span of their op that was open at
    // job start; stage spans under their job
    val byOp = t.spans.filter(_.op >= 0).groupBy(_.op)
    val jobs = stats.synchronized(stats.jobs.toSeq).filter(j => opIds(j.op))
    val stages = stats.synchronized(stats.stages.toSeq).filter(s => opIds(s.op))
    val jobSpan = jobs.map { j =>
      val start = t.fromEpochMillis(j.start)
      val own = byOp.getOrElse(j.op, Nil)
      val parent = own.filter(s => s.start <= start && start <= s.end)
        .sortBy(s => -s.start).headOption.orElse(own.find(_.name == "op")).map(_.id).getOrElse(-1)
      j.jobId -> t.add(s"job ${j.jobId}", "spark.scheduler", parent, j.op, start,
        t.fromEpochMillis(j.end))
    }.toMap
    stages.foreach { s =>
      t.add(s"stage ${s.stageId}", "spark.executor", jobSpan.getOrElse(s.jobId, -1), s.op,
        t.fromEpochMillis(s.submitted), t.fromEpochMillis(s.completed))
    }

    // single-layer probes on the workload's own data, traced as spans
    t.on = true
    val probes = new Probes(ctx, w)
    val own = w.layerMetrics
    val probed = probes.codec() ++ probes.connectorReader() ++ probes.kernels() ++
      probes.connectorWrite() ++
      (if (own.contains("operators.dedup.exact_s")) Map.empty else probes.operators())

    val spans = t.spans
    val self = Trace.selfTimes(spans)
    val opSpans = spans.filter(s => s.op >= 0 && opIds(s.op))
    val selfMs = opLayers.map { l =>
      s"trace.self_ms.$l" -> opSpans.filter(_.layer == l).map(s => self(s.id)).sum / 1e3 / nOps
    }.toMap

    val plain = recs.filterNot(_.traced)
    val overheadPct = {
      val parts = tracedOps.groupBy(_.kind).toSeq.flatMap { case (k, tr) =>
        val pl = plain.filter(_.kind == k)
        if (pl.isEmpty) None
        else Some((Stats.median(tr.map(_.nanos.toDouble)) /
          Stats.median(pl.map(_.nanos.toDouble)) - 1) * 100 -> tr.size)
      }
      if (parts.isEmpty) 0.0 else parts.map { case (p, n) => p * n }.sum / parts.map(_._2).sum
    }

    val tracedNanos = tracedOps.map(_.nanos).sum.toDouble
    val taskSkew = stages.filter(_.taskMillis.size >= 2).map { s =>
      s.taskMillis.max / math.max(1.0, Stats.median(s.taskMillis.map(_.toDouble)))
    }
    val planMs = opSpans.filter(_.name == "plan").map(_.dur / 1e3)
    val engine = Map(
      "spark.jobs" -> jobs.size / nOps,
      "spark.tasks" -> stages.map(_.tasks).sum / nOps,
      "spark.scheduler_delay_s" -> stages.map(_.schedDelayMillis).sum / 1e3 / nOps,
      "spark.executor_cpu_s" -> stages.map(_.cpuNanos).sum / 1e9 / nOps,
      "spark.cpu_util" ->
        stages.map(_.cpuNanos).sum / math.max(1.0, tracedNanos * ctx.cores),
      "spark.gc_s" -> stages.map(_.gcMillis).sum / 1e3 / nOps,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1e6 / nOps,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / 1e6 / nOps,
      "spark.spill_mb" -> stages.map(_.spill).sum / 1e6 / nOps,
      "spark.task_max_over_p50" -> (if (taskSkew.isEmpty) 1.0 else Stats.median(taskSkew)),
      "sources.seqfile.plan_ms" -> (if (planMs.isEmpty) 0.0 else Stats.median(planMs)),
      "sources.seqfile.input_partitions" ->
        (if (ctx.inputPartitions.isEmpty) 0.0 else Stats.median(ctx.inputPartitions.map(_.toDouble).toSeq)))
    val pruningDefaults = units.map(_._1).filter(n =>
      n.startsWith("sources.seqfile.zone_") || n.startsWith("sources.seqfile.blocks_read_") ||
        n == "sources.seqfile.rows_scanned_per_row_returned").map(_ -> 0.0).toMap

    val values = pruningDefaults ++ probed ++ engine ++ selfMs ++ own +
      ("trace.overhead_pct" -> overheadPct)
    val missing = units.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"per-layer metrics not measured: ${missing.mkString(", ")}")

    // human-readable tables, printed and kept in the trace file
    val tables = scala.collection.mutable.ArrayBuffer.empty[String]
    def line(s: String): Unit = { tables += s; println(s) }
    w match {
      case sc: ScanWorkload =>
        // the first query of a scan op reads keys and values of every record
        val fullQueries = opIds.toSeq.flatMap(o =>
          opSpans.filter(s => s.op == o && s.name == "query").sortBy(_.start).headOption)
        val jobPerCore = Stats.median(fullQueries.map(s => sc.n / (s.dur / 1e6))) / ctx.cores
        line("gap table, key+value scan (rec/s per core):")
        Seq("core.seqfile decode, 1 thread" -> values("core.seqfile.decode_rec_per_s"),
          "sources.seqfile columnar reader, 1 thread" -> values("sources.seqfile.reader_rec_per_s"),
          s"spark job, per core of local[${ctx.cores}]" -> jobPerCore)
          .foreach { case (k, v) => line(f"  $k%-44s $v%14.0f") }
      case l: LookupWorkload =>
        line("lookup pruning by op kind (per op): ops zone_candidates blocks_read rows_scanned")
        l.pruningTable.foreach { case (k, n, z, b, r) => line(f"  $k%-6s $n%5d $z%8.3f $b%8.3f $r%10.1f") }
      case _ => ()
    }
    val layerSelf = Trace.layerSelfSeconds(spans)
    line("self time by layer (s, traced ops and probes):")
    layerSelf.toSeq.sortBy(-_._2).foreach { case (l, s) => line(f"  $l%-18s $s%9.3f") }
    line(f"tracing overhead: $overheadPct%.2f%% (traced vs untraced op latency, ${tracedOps.size} traced ops)")

    val trace = Json.obj(Seq(
      "spans" -> Json.arr(spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "op" -> s.op.toString, "start_us" -> s.start.toString,
        "end_us" -> s.end.toString, "self_us" -> self(s.id).toString)))),
      "layer_self_s" -> Json.obj(layerSelf.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "tables" -> Json.arr(tables.toSeq.map(Json.str)),
      "metrics" -> Json.obj(values.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(traceOut), trace.getBytes(StandardCharsets.UTF_8))
    println(s"probe checksum ${probes.consumed}")

    val unitOf = units.toMap
    values.filter { case (k, _) => unitOf.contains(k) }.map { case (k, v) => k -> (v -> unitOf(k)) }
  }
}
