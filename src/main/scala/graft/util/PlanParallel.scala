package graft.util

import java.util.concurrent.{Callable, ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.graftbridge.ThreadContext

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
  * the exception of the first failing element propagates like the serial
  * loop's would).
  *
  * Every call shares one cached pool of daemon threads named
  * `graft-plan-N`, so a lookup reuses the threads of the one before it
  * instead of starting its own. A call runs at most `Parallelism` workers
  * that take its elements in turn. The pool grows when all its threads are
  * busy, so a task that itself calls mapOrdered gets threads of its own:
  * nested calls cannot deadlock the way callers blocking on one shared
  * fixed pool do. Each worker runs under its caller's Spark thread context
  * (ThreadContext), as a thread started by the caller would.
  */
private[graft] object PlanParallel {

  /** Sidecar reads are latency-bound (open + tiny read), not CPU-bound, so
    * oversubscribe cores; capped to keep a million-file lake from spawning
    * an unbounded pool. */
  val Parallelism: Int =
    math.max(4, math.min(64, Runtime.getRuntime.availableProcessors * 2))

  private val pool: ExecutorService = Executors.newCachedThreadPool(new ThreadFactory {
    private val started = new AtomicInteger
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-plan-${started.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  def mapOrdered[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val in = xs.toIndexedSeq
      val out = new Array[Any](in.size)
      val failures = new Array[Throwable](in.size)
      val next = new AtomicInteger
      val failed = new AtomicBoolean
      val context = ThreadContext.capture()
      // after a failure, workers take no new element; those taken finish,
      // so every element before the first failing one has run
      val worker: Callable[Unit] = () => context.run {
        var i = next.getAndIncrement()
        while (i < in.size && !failed.get) {
          try out(i) = f(in(i))
          catch { case t: Throwable => failures(i) = t; failed.set(true) }
          i = next.getAndIncrement()
        }
      }
      Seq.fill(math.min(Parallelism, in.size))(pool.submit(worker)).foreach(_.get())
      failures.find(_ != null).foreach(t => throw t)
      out.toSeq.asInstanceOf[Seq[B]]
    }
}
