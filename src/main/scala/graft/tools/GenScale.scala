package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: replicate the driver-generated testdata
  * `factor`× with deterministic key offsets so every 100 TB design claim
  * gets at least one EXECUTED data point above the bench SF (the plan-shape
  * proofs in PlanGuardSpec/SCALE.md are necessary, not sufficient — only a
  * run surfaces constant-factor surprises).
  *
  * Replication is structure-preserving, not row-copying:
  *  - dimension constants (`region`, `nation`) stay as-is, like TPC-H;
  *  - every entity key (custkey, orderkey, partkey, suppkey, event/user id,
  *    doc_id, vec_id) is offset by `replica · 10^9`, and every foreign key
  *    is offset identically, so referential integrity and per-replica join
  *    fan-outs are exactly those of the source SF;
  *  - `documents.text` is perturbed per replica (a deterministic ~1/3 of
  *    tokens get a replica-tagged suffix): WITHIN a replica the planted
  *    duplicate/near-dup structure survives verbatim (both members of a dup
  *    pair get the same rewrite), while ACROSS replicas the Jaccard
  *    similarity drops to ~0.5/1.5 ≈ 0.35, far below the 0.8 dedup gates —
  *    a naive 10× text copy would instead multiply every near-dup cluster
  *    by the replica count and quadratically explode pair counts, which is
  *    NOT what a 10×-larger honest corpus looks like;
  *  - `embeddings.embedding` gets deterministic ±5% multiplicative jitter
  *    per replica so ANN neighborhoods stay locally meaningful without 10
  *    exact-tie copies of every vector.
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <outDir> <factor> [table...]
  * — trailing table names restrict output to just those tables (an
  * index-storage or ANN-exponent run only needs `embeddings`; skipping
  * the 100× lineitem replica saves most of the wall-clock and disk).
  */
object GenScale extends App {
  val Array(srcDir, outDir, factorStr) = args.take(3)
  val factor = factorStr.toInt
  require(factor >= 2 && factor <= 100, s"factor $factor")
  private val only: Set[String] = args.drop(3).toSet
  private val Off = 1000000000L // > any source key space

  val spark = graft.Harness.session()

  private def src(name: String): DataFrame =
    spark.read.parquet(s"$srcDir/$name.parquet")

  /** One scan producing `factor` replicas: explode a 0..factor-1 array. */
  private def replicate(df: DataFrame): DataFrame =
    df.withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))

  private def off(c: String) = (col(c) + col("__r") * lit(Off)).as(c)

  private def write(df: DataFrame, name: String): Unit =
    if (only.nonEmpty && !only.contains(name)) ()
    else {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"genscale wrote $name")
    }

  // dimension constants: unchanged
  write(src("region"), "region")
  write(src("nation"), "nation")

  write(replicate(src("customer")).select(
    off("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
    col("c_mktsegment")), "customer")

  write(replicate(src("supplier")).select(
    off("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal")),
    "supplier")

  write(replicate(src("part")).select(
    off("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
    col("p_size"), col("p_retailprice")), "part")

  write(replicate(src("orders")).select(
    off("o_orderkey"), off("o_custkey"), col("o_orderstatus"),
    col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")), "orders")

  write(replicate(src("lineitem")).select(
    off("l_orderkey"), off("l_partkey"), off("l_suppkey"),
    col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
    col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
    col("l_shipdate")), "lineitem")

  write(replicate(src("events")).select(
    off("event_id"), col("ts"), off("user_id"), col("event_type"),
    col("value"), col("props")), "events")

  // documents: replica-0 verbatim; replicas >0 rewrite a deterministic ~1/3
  // of tokens with a replica-tagged suffix (dup structure preserved within
  // a replica, cross-replica similarity pushed far below gate thresholds)
  private val newText = when(col("__r") === 0, col("text")).otherwise(
    array_join(transform(split(col("text"), "\\s+"), t =>
      when(pmod(xxhash64(t, col("__r")), lit(3)) === 0,
        concat(t, lit("~"), col("__r").cast("string"))).otherwise(t)), " "))
  write(replicate(src("documents")).select(
    off("doc_id"),
    newText.as("text"),
    col("lang"), col("source"),
    length(newText).cast("long").as("n_chars")), "documents")

  // embeddings: replica-0 verbatim; replicas >0 jitter each component by a
  // deterministic ±5% multiplicative factor (plus a tiny additive term so
  // zero components also move)
  private val newVec = when(col("__r") === 0, col("embedding").cast("array<double>"))
    .otherwise(zip_with(
      col("embedding").cast("array<double>"),
      transform(sequence(lit(0), size(col("embedding")) - 1), i => i),
      (x, i) => {
        val h = (pmod(xxhash64(col("vec_id"), col("__r"), i), lit(1000))
          .cast("double") / 1000.0 - 0.5)
        x * (lit(1.0) + h * 0.1) + h * 0.01
      }))
  write(replicate(src("embeddings")).select(
    off("vec_id"),
    newVec.cast("array<float>").as("embedding"),
    col("label")), "embeddings")

  println(s"genscale done: $srcDir -> $outDir x$factor")
  spark.stop()
}
