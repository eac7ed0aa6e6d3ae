package graft.util

import java.util.concurrent.{ConcurrentHashMap, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** PlanParallel.mapOrdered on its one shared pool: input order, the first
  * failure, the per-call cap, nested calls, thread reuse across calls and
  * the caller's Spark thread context. */
class PlanParallelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val P = PlanParallel.Parallelism

  test("results keep input order and the first failing element's exception propagates") {
    val xs = 0 until 5 * P
    assert(PlanParallel.mapOrdered(xs) { i => Thread.sleep((i * 7) % 5); i * i } === xs.map(i => i * i))
    val e = intercept[IllegalStateException](PlanParallel.mapOrdered(xs) { i =>
      if (i == 3) { Thread.sleep(50); throw new IllegalStateException("three") }
      if (i == 9) throw new IllegalStateException("nine")
      i
    })
    assert(e.getMessage === "three")
  }

  test("a call runs at most Parallelism elements at once") {
    val running, peak = new AtomicInteger
    PlanParallel.mapOrdered(0 until 4 * P) { _ =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      Thread.sleep(5)
      running.decrementAndGet()
    }
    assert(peak.get <= P && peak.get > 1)
  }

  test("a nested call completes while every outer worker waits on it") {
    // every outer worker blocks in an inner call at once: with a fixed
    // shared pool of P threads the inner elements would never run
    val barrier = new CyclicBarrier(P)
    val sums = PlanParallel.mapOrdered(0 until P) { i =>
      barrier.await(30, TimeUnit.SECONDS)
      PlanParallel.mapOrdered(0 until P)(j => i * P + j).sum
    }
    assert(sums === (0 until P).map(i => (0 until P).map(i * P + _).sum))
  }

  /** Names of the threads that ran a call of `n` elements, each element
    * held until all `n` run, so each runs on its own thread. */
  private def threadsOf(n: Int): Set[String] = {
    val barrier = new CyclicBarrier(n)
    PlanParallel.mapOrdered(0 until n) { _ =>
      barrier.await(30, TimeUnit.SECONDS)
      Thread.currentThread().getName
    }.toSet
  }

  test("a second call reuses the first call's threads") {
    val first = threadsOf(4)
    assert(first.size === 4 && first.forall(_.startsWith("graft-plan-")), first)
    Thread.sleep(200) // the workers return to the pool after their results
    val second = threadsOf(4)
    assert(second === first)
    val daemons = Thread.getAllStackTraces.keySet.asScala.filter(t => first.contains(t.getName))
    assert(daemons.nonEmpty && daemons.forall(_.isDaemon))
  }

  test("a worker runs under its caller's job group, on a reused thread too") {
    val sc = spark.sparkContext
    val seen = ConcurrentHashMap.newKeySet[String]()
    for (group <- Seq("first", "second")) {
      sc.setJobGroup(group, "plan parallel spec")
      try PlanParallel.mapOrdered(0 until 4)(_ =>
        seen.add(s"$group:${sc.getLocalProperty("spark.jobGroup.id")}"))
      finally sc.clearJobGroup()
    }
    assert(seen.asScala.toSet === Set("first:first", "second:second"))
  }
}
