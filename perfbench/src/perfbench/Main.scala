package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up, a closed loop of checked ops for a fixed
  * time with one client, and, when traced, spans plus single-layer probes.
  * Prints human-readable tables and then one `RESULT {json}` line; the
  * `run.py` wrapper turns that into the benchmark's result line.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --tmp DIR
  *            --cores K --trace-out FILE [--tiny] */
object Main {

  /** One measured op: wall time, the benchmark thread's CPU time, bytes
    * allocated by every thread, work units done, and the share of the
    * machine's CPU time the host stole while it ran. */
  final case class OpRec(op: Int, kind: String, nanos: Long, cpuNanos: Long, allocBytes: Long,
                         items: Long, traced: Boolean, steal: Double)

  /** An op's CPU cost. `cpuMs` is the benchmark thread's CPU (planning and
    * driver work) plus every task's. `pathMs` is the op's latency on an idle
    * machine as CPU time allows it: the benchmark thread's CPU plus, per
    * stage, the larger of its longest task and its tasks spread evenly over
    * the `cores` task slots; so it grows when work loses parallelism. On a
    * virtual machine, thread CPU time grows with the time the host steals
    * (measured: about 1 / (1 - steal share)), so both are scaled by
    * (1 - steal share) over the op. */
  final case class Cost(cpuMs: Double, pathMs: Double)
  object Cost {
    def apply(r: OpRec, stages: Seq[StageStats], cores: Int): Cost = {
      val tasks = stages.map(_.cpuNanos).sum
      val path = stages.map { s =>
        if (s.taskCpuNanos.isEmpty) 0L else math.max(s.taskCpuNanos.max, s.taskCpuNanos.sum / cores)
      }.sum
      val own = 1 - r.steal
      Cost((r.cpuNanos + tasks) * own / 1e6, (r.cpuNanos + path) * own / 1e6)
    }
  }

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat; (0, 0)
    * where there is no such file. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** Share of all CPU time stolen between two `cpuJiffies` readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val tmp = opt("--tmp")
    val cores = opt("--cores").toInt
    val tiny = args.contains("--tiny")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"jvm ${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")
    val sc = spark.sparkContext
    val tracer = new Tracer(false)
    val sparkStats = new SparkStats
    sc.addSparkListener(sparkStats)
    val ctx = new Ctx(spark, seed, tmp, tracer, cores, tiny)
    val w = Workloads(workload, ctx)

    // Set-up, repeated on the same generated inputs; the last copy is used.
    // Its time is CPU time: the benchmark thread's, the writer threads' and
    // that of any Spark task it starts (job group of op -100 - r).
    w.generate()
    val setupReps = 9
    val setupRuns = (0 until setupReps).map { r =>
      if (r > 0) Gen.deleteRecursively(new File(s"$tmp/data-${r - 1}"))
      sc.setJobGroup(s"op-${-100 - r}", s"perfbench $workload set-up $r")
      val j0 = cpuJiffies()
      val c0 = threads.getCurrentThreadCpuTime + Gen.workerCpuNanos.get
      val t0 = System.nanoTime()
      w.setup(s"$tmp/data-$r")
      val wall = System.nanoTime() - t0
      sc.clearJobGroup()
      (wall, threads.getCurrentThreadCpuTime + Gen.workerCpuNanos.get - c0,
        stealShare(j0, cpuJiffies()))
    }
    w.release()
    // flush the inputs now, so their write-back does not run during the ops
    Gen.fsyncTree(new File(s"$tmp/data-${setupReps - 1}"))

    val recs = mutable.ArrayBuffer.empty[OpRec]
    var attempted = 0L
    var failed = 0L
    def runOp(i: Int, measured: Boolean, trace: Boolean): Unit = {
      tracer.on = trace
      tracer.op = i
      sc.setJobGroup(s"op-$i", s"perfbench $workload op $i")
      val a0 = threads.getTotalThreadAllocatedBytes
      val j0 = cpuJiffies()
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val res =
        try tracer.span("op", "bench")(w.op(i))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"op $i failed: $e")
            OpResult("error", 0L, ok = false)
        }
      val dt = System.nanoTime() - t0
      val dc = threads.getCurrentThreadCpuTime - c0
      val da = threads.getTotalThreadAllocatedBytes - a0
      val steal = stealShare(j0, cpuJiffies())
      sc.clearJobGroup()
      tracer.on = false
      tracer.op = -1
      attempted += 1
      if (!res.ok) {
        failed += 1
        System.err.println(s"op $i (${res.kind}) returned a wrong result")
      }
      if (measured) recs += OpRec(i, res.kind, dt, dc, da, res.items, trace, steal)
    }

    // Warm-up on op indices the measured loop never uses, so the measured
    // op sequence depends on the seed alone. Op latencies still fall for
    // about 20 s after start-up while the JIT compiles the hot paths.
    val warmUntil = System.nanoTime() + (if (tiny) 0L else 25L * 1000 * 1000 * 1000)
    var wi = 0
    while (wi < 1 || System.nanoTime() < warmUntil) {
      runOp(1000000 + wi, measured = false, trace = false)
      wi += 1
    }

    // measured closed loop; a traced run traces every other op
    val minOps = if (traced) 2 else 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      runOp(i, measured = true, trace = traced && i % 2 == 1)
      i += 1
    }
    // what the ops left live on the heap
    System.gc()
    val heapLiveMb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    sparkStats.drain(spark)
    val stagesOf = sparkStats.synchronized(sparkStats.stages.toSeq).groupBy(_.op).withDefaultValue(Nil)
    val setupCpuS = setupRuns.zipWithIndex.map { case ((_, cpu, steal), r) =>
      (cpu + stagesOf(-100 - r).map(_.cpuNanos).sum) * (1 - steal) / 1e9
    }
    val plain = recs.filterNot(_.traced).toSeq
    val cost = plain.map(r => Cost(r, stagesOf(r.op), cores))
    val latMs = plain.map(_.nanos / 1e6)

    println(f"workload $workload seed $seed local[$cores] ops $attempted failed $failed " +
      f"fail_ratio ${failed.toDouble / math.max(1L, attempted)}%.4f")
    println(s"setup cpu s: ${setupCpuS.map(x => f"$x%.3f").mkString(" ")}; " +
      s"wall s: ${setupRuns.map(x => f"${x._1 / 1e9}%.3f").mkString(" ")}")
    plain.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ops) =>
      val ms = ops.map(_.nanos / 1e6)
      println(f"  op $k%-6s n=${ops.size}%5d wall p50=${Stats.median(ms)}%9.2f ms " +
        f"p90=${Stats.quantile(ms, 0.9)}%9.2f ms")
    }
    println(s"  wall ms, in order: ${latMs.map(x => f"$x%.0f").mkString(" ")}")
    println(s"  cpu ms, in order: ${cost.map(c => f"${c.cpuMs}%.0f").mkString(" ")}")
    println(s"  cpu path ms, in order: ${cost.map(c => f"${c.pathMs}%.0f").mkString(" ")}")
    println(s"  steal %, in order: ${plain.map(r => f"${r.steal * 100}%.1f").mkString(" ")}")
    println(f"  all ops n=${latMs.size} wall p90=${Stats.quantile(latMs, 0.9)}%.2f ms with " +
      s"${latMs.count(_ > Stats.quantile(latMs, 0.9))} samples beyond it")

    val metrics: Map[String, (Double, String)] =
      if (!traced) Map(
        "setup_s" -> (Stats.median(setupCpuS) -> "s"),
        "cpu_ms_per_op" -> (Stats.median(cost.map(_.cpuMs)) -> "ms"),
        "cpu_path_ms_per_op" -> (Stats.median(cost.map(_.pathMs)) -> "ms"),
        "alloc_mb_per_op" -> (Stats.median(plain.map(_.allocBytes / 1e6)) -> "MB"),
        "heap_live_mb" -> (heapLiveMb -> "MB"),
        "bytes_per_user_byte" -> (w.bytesPerUserByte -> "ratio"))
      else Layers.report(ctx, w, sparkStats, recs.toSeq, opt("--trace-out")) ++ Map(
        "bench.wall_p50_ms" -> (Stats.median(latMs) -> "ms"),
        "bench.wall_items_per_s" ->
          (plain.map(_.items).sum / (plain.map(_.nanos).sum / 1e9) -> "1/s"))

    val correct = failed == 0
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    spark.stop()
    println(s"RESULT {\"correct\": $correct, \"attempted\": $attempted, \"failed\": $failed, " +
      s"\"metrics\": {$body}}")
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

