package graft.sources.seqfile

import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}

import graft.core.seqfile.{ZoneEntry, ZoneKey}

/** Top-N pushdown over zone-mapped files: for `ORDER BY key DESC LIMIT n`
  * (or ASC, or on `value`), per-block statistics select a provably
  * sufficient subset of blocks per file — on sorted-by-key data that is
  * ~one block per file instead of the whole corpus.
  *
  * Selection rule (DESC; ASC is the mirror on minima): walk a file's
  * blocks in kmax-descending order, maintaining how many keys are
  * GUARANTEED ≥ the next block's kmax — a block guarantees its `kmax` as
  * one real key always, and all `count` keys when its `kmin` clears the
  * bound. Once n keys are guaranteed, every later block (all of whose keys
  * are ≤ that bound) is provably outside the file's top n. The scan is
  * partially pushed: Spark still runs the global TakeOrdered over the
  * emitted superset, so correctness never depends on the rule — only
  * block I/O does.
  *
  * Only offered with no filters at all (Spark itself refuses to push TopN
  * below residual filters, and a filter would invalidate the rule: the
  * filtered top n may live in pruned blocks). */
object SeqFileTopNPushdown {

  final case class Key(col: String, descending: Boolean)

  def orderFor(orders: Array[SortOrder]): Option[Key] =
    if (orders.length != 1) None
    else {
      val o = orders.head
      val col = o.expression() match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          Some(f.fieldNames.head.toLowerCase)
        case _ => None
      }
      col.filter(c => c == "key" || c == "value")
        .map(c => Key(c, o.direction() == SortDirection.DESCENDING))
    }

  /** Offsets of the blocks of ONE file that can contain the file's top-n
    * under `key`; None when the file has no usable stats (caller declines
    * the whole pushdown). */
  def selectBlocks(entries: Seq[ZoneEntry], key: Key, n: Int)
      : Option[Seq[Long]] = {
    if (entries.isEmpty) return Some(Nil)
    val stats = entries.map { e =>
      val (a, b) = ZoneMapPruning.bounds(e, key.col).getOrElse(return None)
      (e.offset, e.count, a, b)
    }
    // normalize to "descending on best": best = max (DESC) or min (ASC);
    // worst = the other end. cmpBetter(a,b) > 0 when a is closer to the top.
    def better(a: ZoneKey, b: ZoneKey): Int =
      if (key.descending) a.cmp(b) else -a.cmp(b)
    val ordered = stats.sortWith { (x, y) =>
      val c = better(if (key.descending) x._4 else x._3,
        if (key.descending) y._4 else y._3)
      if (c != 0) c > 0 else x._1 < y._1
    }
    val selected = Seq.newBuilder[Long]
    var i = 0
    var done = false
    while (i < ordered.length && !done) {
      selected += ordered(i)._1
      // bound = the NEXT block's best end; count keys guaranteed better-or-
      // equal among blocks selected so far
      if (i + 1 < ordered.length) {
        val bound = if (key.descending) ordered(i + 1)._4 else ordered(i + 1)._3
        var guaranteed = 0L
        var j = 0
        while (j <= i) {
          val (_, cnt, mn, mx) = ordered(j)
          val worst = if (key.descending) mn else mx
          guaranteed += (if (better(worst, bound) >= 0) cnt else 1L)
          j += 1
        }
        if (guaranteed >= n) done = true
      }
      i += 1
    }
    Some(selected.result().sorted)
  }

  /** Per-file selected offsets for the whole table, in the order of
    * `sidecars`, or None when any file can't participate (missing/stale
    * sidecar, non-BLOCK layout, missing column stats). */
  def planFiles(sidecars: Seq[Option[ZoneMapPruning.Sidecar]], key: Key, n: Int)
      : Option[Seq[Seq[Long]]] = {
    val offsets = sidecars.map(_.flatMap(sc => selectBlocks(sc.entries, key, n)))
    if (offsets.exists(_.isEmpty)) None else Some(offsets.map(_.get))
  }
}
