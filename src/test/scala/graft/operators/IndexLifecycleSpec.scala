package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The shared index lifecycle (IndexRoot): its parallel legs nest without
  * deadlock, and a bands-only save claims the whole root like any save. */
class IndexLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // a seeded 400-vector corpus: enough for every LSH band to hold
  // neighbors, small enough for a quick spec
  lazy val emb = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 400L).map(i => (i, Array.fill(64)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }
  lazy val queries = emb.filter(col("vec_id") < 10)

  test("saveBandsOnly over a self-contained root sweeps the stale vectors") {
    def serve(ix: LshIndex) =
      SimilaritySearch.searchLshIndex(ix, queries, "vec_id", "embedding", 10,
          bitsPerBand = 12, numBands = 32, flipBits = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("lsh-bands-over").toString
    // a self-contained index over half the corpus occupies the root first
    SimilaritySearch.buildLshIndex(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", bitsPerBand = 12, numBands = 32).save(dir)
    val fresh = SimilaritySearch.buildLshIndex(emb, "vec_id", "embedding",
      bitsPerBand = 12, numBands = 32)
    fresh.saveBandsOnly(dir)
    // a plain load must not pair the new bands with the old root's vectors
    assert(!new java.io.File(s"$dir/vectors").exists(),
      "stale vectors/ survived a bands-only save")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      LshIndex.load(spark, dir)
    }
    assert(e.getMessage.contains("vectors"), e.getMessage)
    // the corpus-rebound load serves exactly what the in-memory index does
    val rebound = LshIndex.loadBandsOnly(spark, dir, emb, "vec_id", "embedding")
    val got = serve(rebound)
    assert(got.nonEmpty)
    assert(got === serve(fresh))
  }

  test("six parallel legs that each run parallel legs finish (no shared-pool deadlock)") {
    // a lifecycle leg may itself overlap legs (a load's table reads run
    // inside one of its legs); six outer legs blocked on inner work must
    // never starve that inner work of threads
    val done = new java.util.concurrent.atomic.AtomicInteger
    def leg(): Unit = { done.incrementAndGet(); () }
    val outer = (1 to 6).map(_ => () => IndexRoot.inParallel(() => leg(), () => leg()))
    val run = Future(IndexRoot.inParallel(outer: _*))(ExecutionContext.global)
    Await.result(run, 60.seconds)
    assert(done.get === 12)
  }
}
