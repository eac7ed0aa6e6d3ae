package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-job breakdown of one or more SparkEntry gates: which Spark jobs a
  * gate launches and how long each takes — the guide-§1 "empirical" view
  * (Jobs tab equivalent) for a headless box. Usage:
  *   SPARK_GRAFT_PROFILE_ONLY=q_ann_ivfpq_index \
  *     sbt "runMain graft.tools.ProfileQuery"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_PROFILE_REPS (default 2; last rep is reported, earlier reps
  * warm codegen the way Bench's warmup pass does). */
object ProfileQuery {
  final case class JobRec(id: Int, desc: String, start: Long,
                          var end: Long = -1L, var nTasks: Int = 0,
                          stageIds: Seq[Int] = Nil)
  final case class StageRec(id: Int, name: String, tasks: Int, ms: Long,
                            shuffleReadMB: Double, shuffleWriteMB: Double,
                            runMs: Long = 0, deserMs: Long = 0, gcMs: Long = 0,
                            cpuMs: Long = 0, resSerMs: Long = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt.max(1)
    val only = graft.Harness.only("SPARK_GRAFT_PROFILE_ONLY")
    val spark = graft.Harness.session()

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val stages = mutable.Map.empty[Int, StageRec]
    // @volatile: written by the main thread, read on the listener-bus
    // thread — a plain var could miss the final rep's first jobs or
    // include warmup ones (r17 ADVICE)
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (capture) jobs.synchronized {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs += JobRec(js.jobId, desc, js.time,
            nTasks = js.stageInfos.map(_.numTasks).sum,
            stageIds = js.stageInfos.map(_.stageId))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == je.jobId).foreach(_.end = je.time)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (capture) jobs.synchronized {
          val si = sc.stageInfo
          val ms = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          val tm = si.taskMetrics
          stages(si.stageId) = StageRec(si.stageId, si.name, si.numTasks, ms,
            tm.shuffleReadMetrics.totalBytesRead / 1e6,
            tm.shuffleWriteMetrics.bytesWritten / 1e6,
            tm.executorRunTime, tm.executorDeserializeTime, tm.jvmGCTime,
            tm.executorCpuTime / 1000000L, tm.resultSerializationTime)
        }
    })

    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for ((name, fn) <- queries) {
      var wall = 0.0
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear(); stages.clear() }
        capture = rep == reps
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        System.gc()
      }
      capture = false
      val recs = jobs.synchronized(jobs.toVector)
      val jobSum = recs.map(r => (r.end - r.start).max(0L)).sum / 1e3
      println(f"== $name wall=$wall%.2fs jobs=${recs.size} jobtime=$jobSum%.2fs")
      val stMap = jobs.synchronized(stages.toMap)
      recs.sortBy(r => -(r.end - r.start)).take(20).foreach { r =>
        val d = (r.end - r.start).max(0L) / 1e3
        println(f"   ${d}%6.2fs tasks=${r.nTasks}%4d job#${r.id}%4d ${r.desc.take(90)}")
        r.stageIds.flatMap(stMap.get).sortBy(-_.ms).take(4).foreach { s =>
          println(f"        stage#${s.id}%4d ${s.ms / 1e3}%6.2fs t=${s.tasks}%4d " +
            f"sr=${s.shuffleReadMB}%.1fMB sw=${s.shuffleWriteMB}%.1fMB " +
            f"run=${s.runMs}%dms cpu=${s.cpuMs}%dms deser=${s.deserMs}%dms " +
            f"gc=${s.gcMs}%dms ser=${s.resSerMs}%dms")
        }
      }
    }
    spark.stop()
  }
}
