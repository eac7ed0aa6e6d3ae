package graft.util

/** Bounded-parallelism, order-preserving map for independent driver-side
  * I/O: the one way the engine overlaps driver round trips.
  *
  * The seqfile scan's block planner and both pushdowns look up each data
  * file's zone-map sidecar at PLANNING time (ZoneMapPruning.sidecars): one
  * `getFileStatus` while the driver's cache holds its parse
  * (SidecarCache), else the file header and the sidecar itself; tasks read
  * none. Done serially that is O(files) round-trips of driver I/O — fine
  * at thousands of files, minutes at a million-file lake. The ANN index lifecycle
  * (IndexRoot) overlaps its sidecar and table legs the same way, and
  * operators overlap their bounded collects. These calls are independent
  * and I/O-bound, so a thread pool turns them into O(n / parallelism)
  * wall-clock with no behavior change (results come back in input order;
  * an exception in any task propagates like the serial loop's would).
  *
  * Each call owns its pool and shuts it down on return, so a task that
  * itself calls mapOrdered gets a fresh pool: nested calls cannot deadlock
  * the way callers blocking on one shared fixed pool do.
  */
private[graft] object PlanParallel {

  /** Sidecar reads are latency-bound (open + tiny read), not CPU-bound, so
    * oversubscribe cores; capped to keep a million-file lake from spawning
    * an unbounded pool. */
  val Parallelism: Int =
    math.max(4, math.min(64, Runtime.getRuntime.availableProcessors * 2))

  def mapOrdered[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(Parallelism, xs.size))
      try {
        val tasks: java.util.List[java.util.concurrent.Callable[B]] =
          xs.map(x => new java.util.concurrent.Callable[B] {
            override def call(): B = f(x)
          }: java.util.concurrent.Callable[B]).asJava
        pool.invokeAll(tasks).asScala.toSeq.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw Option(e.getCause).getOrElse(e)
          }
        }
      } finally pool.shutdown()
    }
}
