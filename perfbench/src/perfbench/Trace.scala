package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** One traced interval. Times are microseconds since the tracer started;
  * `op` is the benchmark op the span belongs to (-1 for layer probes). */
final case class Span(id: Int, parent: Int, name: String, layer: String, op: Int,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. When off, `span` runs its body and records
  * nothing, so untraced runs pay no tracing cost. */
final class Tracer(var on: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** The op that spans and Spark jobs started now are charged to. */
  var op: Int = -1

  def nowMicros: Long = (System.nanoTime() - t0Nanos) / 1000
  /** Converts a Spark event time (epoch millis) to the tracer's clock. */
  def fromEpochMillis(ms: Long): Long = (ms - t0Millis) * 1000

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = nowMicros
      try body
      finally {
        stack = stack.tail
        recorded += Span(id, parent, name, layer, op, start, nowMicros)
      }
    }

  def add(name: String, layer: String, parent: Int, op: Int, start: Long, end: Long): Int = {
    val id = nextId
    nextId += 1
    recorded += Span(id, parent, name, layer, op, start, end)
    id
  }

  def spans: Seq[Span] = recorded.toSeq
}

object Trace {
  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  /** Sum of self time per layer, in seconds. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e6 }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The DSv2 scan nodes of an executed query (AQE stages included). */
  def scans(q: DataFrame): Seq[BatchScanExec] =
    PlanWalk.collect(q.queryExecution.executedPlan: SparkPlan) { case b: BatchScanExec => b }

  /** Sum of one SQL metric over the query's scan nodes (0 when absent). */
  def scanMetric(q: DataFrame, name: String): Long =
    scans(q).flatMap(_.metrics.get(name)).map(_.value).sum
}

/** Per-stage figures the listener keeps for ops it is told to watch. */
final case class StageStats(stageId: Int, op: Int, jobId: Int, submitted: Long, completed: Long,
                            tasks: Int, cpuNanos: Long, runMillis: Long, gcMillis: Long,
                            shuffleWrite: Long, shuffleRead: Long, spill: Long,
                            taskMillis: Seq[Long], taskCpuNanos: Seq[Long],
                            schedDelayMillis: Long)

final case class JobStats(jobId: Int, op: Int, start: Long, end: Long)

/** Spark engine counters, read through a listener. Jobs are tied to ops by
  * their job group `op-<n>`; jobs of other groups are ignored. */
final class SparkStats extends SparkListener {
  private val jobOf = mutable.Map.empty[Int, (Int, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val taskCpu = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val schedMs = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[JobStats]
  val stages = mutable.ArrayBuffer.empty[StageStats]
  private val markerJobs = mutable.Set.empty[Int]
  @volatile private var markerSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group match {
      case Some(g) if g.startsWith("op-") =>
        jobOf(e.jobId) = (g.stripPrefix("op-").toInt, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      case Some(SparkStats.DrainGroup) => markerJobs += e.jobId
      case _ => ()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.remove(e.jobId).foreach { case (op, start) => jobs += JobStats(e.jobId, op, start, e.time) }
    if (markerJobs.remove(e.jobId)) markerSeen = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskInfo != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val dur = e.taskInfo.duration
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += dur
      taskCpu.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorCpuTime
      val gettingResult =
        if (e.taskInfo.gettingResultTime > 0) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
        else 0L
      val delay = dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      schedMs(e.stageId) = schedMs.getOrElse(e.stageId, 0L) + math.max(0L, delay)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { jobId =>
      val op = jobOf.get(jobId).map(_._1).getOrElse(-1)
      val m = info.taskMetrics
      stages += StageStats(info.stageId, op, jobId,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L), info.numTasks,
        m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        taskMs.remove(info.stageId).map(_.toSeq).getOrElse(Nil),
        taskCpu.remove(info.stageId).map(_.toSeq).getOrElse(Nil),
        schedMs.remove(info.stageId).getOrElse(0L))
    }
  }

  /** Blocks until every event posted before this call was delivered: runs a
    * marker job outside any op group and waits for its end event, which the
    * listener bus delivers after all earlier events. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    markerSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup(SparkStats.DrainGroup, "drain listener events")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object SparkStats {
  val DrainGroup = "perfbench-drain"
}
