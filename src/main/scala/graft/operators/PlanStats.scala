package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-lifetime memoized `count()` per canonicalized logical plan,
  * for SIZING decisions only (see [[sizingCount]]).
  *
  * Several operators need ONE scalar — the corpus row count — purely to
  * SIZE something (a training-sample ratio, a tile/block grid, a
  * repartition width), and operators are routinely stacked on the same
  * corpus in one pipeline (pqTopK + buildIvfPqIndex + cosineNeardupPairs
  * over one embeddings table; bench reps re-invoke the same gate). Memoize
  * by the analyzed plan's canonical form so the count job runs once per
  * distinct input per session. */
private[operators] object PlanStats {
  private val cache =
    new java.util.LinkedHashMap[LogicalPlan, java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[LogicalPlan, java.lang.Long]): Boolean =
        size() > 64
    }

  /** Possibly-STALE row count of `df` — NEVER use the value semantically.
    *
    * Contract: the cache is session-lifetime and not invalidated when the
    * underlying files change, so a pipeline that overwrites and re-reads
    * the same path (a streaming ingest loop) can observe the PREVIOUS
    * count. That is safe for every existing consumer because a stale
    * count only shifts a partition/sample/tile SIZE, never a result
    * value. A caller that needs the true current count must call
    * `df.count()` directly. */
  def sizingCount(df: DataFrame): Long = {
    val key = df.queryExecution.analyzed.canonicalized
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) hit.longValue()
    else {
      val n = df.count()
      cache.synchronized(cache.put(key, java.lang.Long.valueOf(n)))
      n
    }
  }
}
