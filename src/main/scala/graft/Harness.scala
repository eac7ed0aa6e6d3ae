package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession the harness mains build (Bench, Verify,
  * ProfileQuery, PlanDump, GenScale), so every number, dump and plan
  * comes from the same conf: `local[$SPARK_GRAFT_CPUS]` (default 32) with
  * as many shuffle partitions, no UI, parquet nanos read as Long, UTC and
  * AQE on. */
object Harness {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // ~150 gates × several codegen stages each overflow the default
      // 100-entry generated-class cache every interleaved round, so each
      // rep re-instantiates (and re-interprets, and re-JITs) every hot
      // pipeline from scratch — q_dedup_embedding_lsh measured 63 s as a
      // perpetually-cold class vs 19 s warm. A long-lived executor keeps
      // its classes; let the harness JVM do the same.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The gate names listed, comma-separated, in env var `env`; None (run
    * every gate) when it is unset. */
  def only(env: String): Option[Set[String]] =
    sys.env.get(env).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
}
