package graft.sources.seqfile

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources._

import graft.core.seqfile.{KeyBloom, SeqCompression, SeqHeader, WritableType, ZoneEntry, ZoneKey, ZoneMap}

/** Executor-side zone-map pruning: evaluate pushed key predicates against a
  * part file's per-block [min, max] sidecar and return the exact offsets of
  * the blocks that might match. Everything here is conservative — a filter
  * shape or literal we can't map to the key's order returns "might match",
  * and Spark re-evaluates all filters on surviving rows regardless — so
  * pruning can only ever skip blocks that provably contain no match.
  */
object ZoneMapPruning {

  /** Cross-cutting counters for specs and local debugging; the production
    * surface for the same numbers is the scan's DSv2 custom task metrics
    * (visible per-query in the Spark UI). */
  val blocksSkipped = new java.util.concurrent.atomic.LongAdder
  val blocksPlanned = new java.util.concurrent.atomic.LongAdder

  /** Is `f` usable for zone pruning against column `col` ("key"/"value"):
    * references exactly that column and only shapes mightMatch
    * understands. */
  def usable(f: Filter, col: String = "key"): Boolean = {
    def refsColOnly = f.references.nonEmpty &&
      f.references.forall(_.equalsIgnoreCase(col))
    f match {
      case _: EqualTo | _: EqualNullSafe | _: In | _: GreaterThan |
           _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual |
           _: StringStartsWith | _: IsNull | _: IsNotNull => refsColOnly
      case And(l, r) => usable(l, col) && usable(r, col)
      case Or(l, r) => usable(l, col) && usable(r, col)
      case _ => false
    }
  }

  /** Usable against either data column (what the scan builder collects). */
  def usableAny(f: Filter): Boolean = usable(f, "key") || usable(f, "value")

  private def toKey(t: WritableType, v: Any): Option[ZoneKey] = (t, v) match {
    case (WritableType.ShortW | WritableType.IntW | WritableType.LongW,
          n: Number) => Some(ZoneKey.L(n.longValue()))
    case (WritableType.FloatW | WritableType.DoubleW,
          n: Number) => Some(ZoneKey.D(n.doubleValue()))
    case (WritableType.TextW, s: String) =>
      Some(ZoneKey.B(s.getBytes(StandardCharsets.UTF_8)))
    case (WritableType.BytesW, b: Array[Byte]) => Some(ZoneKey.B(b))
    case _ => None
  }

  /** Could any value in [min, max] satisfy `f`? Conservative true. */
  def mightMatch(f: Filter, min: ZoneKey, max: ZoneKey,
                 t: WritableType): Boolean = {
    def k(v: Any): Option[ZoneKey] = toKey(t, v)
    f match {
      case EqualTo(_, v) =>
        k(v).forall(x => x.cmp(min) >= 0 && x.cmp(max) <= 0)
      case EqualNullSafe(_, v) =>
        k(v).forall(x => x.cmp(min) >= 0 && x.cmp(max) <= 0)
      case In(_, vs) =>
        vs.isEmpty || // empty IN matches nothing, but stay conservative
          vs.exists(v => k(v).forall(x => x.cmp(min) >= 0 && x.cmp(max) <= 0))
      case GreaterThan(_, v) => k(v).forall(x => max.cmp(x) > 0)
      case GreaterThanOrEqual(_, v) => k(v).forall(x => max.cmp(x) >= 0)
      case LessThan(_, v) => k(v).forall(x => min.cmp(x) < 0)
      case LessThanOrEqual(_, v) => k(v).forall(x => min.cmp(x) <= 0)
      case StringStartsWith(_, prefix) =>
        (min, max) match {
          case (ZoneKey.B(lo), ZoneKey.B(hi)) =>
            val p = prefix.getBytes(StandardCharsets.UTF_8)
            // all values < prefix, or all values' prefix-length head > prefix
            !(ZoneKey.compareBytes(hi, p) < 0 ||
              ZoneKey.compareBytes(lo.take(p.length), p) > 0)
          case _ => true
        }
      // the format cannot encode a null within a column, so IsNull
      // matches no row of an ordered-typed column
      case IsNull(_) => false
      case IsNotNull(_) => true
      case And(l, r) => mightMatch(l, min, max, t) && mightMatch(r, min, max, t)
      case Or(l, r) => mightMatch(l, min, max, t) || mightMatch(r, min, max, t)
      case _ => true
    }
  }

  /** mightMatch against optional per-block stats (absent stats keep). */
  private def mightMatchOpt(f: Filter, min: Option[ZoneKey],
                            max: Option[ZoneKey], t: WritableType): Boolean =
    (min, max) match {
      case (Some(lo), Some(hi)) => mightMatch(f, lo, hi, t)
      case _ => true
    }

  /** Could the block's key Bloom filter admit `f`? Only equality shapes
    * consult the filter (a Bloom answers set membership, nothing else);
    * every other shape — and any literal we can't canonicalize — is a
    * conservative "maybe". This is what prunes point lookups on UNSORTED
    * data, where every block's [min, max] spans the domain. */
  def bloomMightMatch(f: Filter, bloom: KeyBloom, t: WritableType): Boolean = {
    def hit(v: Any): Boolean =
      toKey(t, v).forall(k => bloom.mightContain(KeyBloom.hashKey(k)))
    f match {
      case EqualTo(_, v) => hit(v)
      case EqualNullSafe(_, v) => hit(v)
      case In(_, vs) => vs.isEmpty || vs.exists(hit)
      case And(l, r) => bloomMightMatch(l, bloom, t) && bloomMightMatch(r, bloom, t)
      case Or(l, r) => bloomMightMatch(l, bloom, t) || bloomMightMatch(r, bloom, t)
      case _ => true
    }
  }

  /** One split's pruning outcome: exact offsets to read + how many owned
    * blocks the zone map proved unmatchable. */
  final case class PlannedBlocks(offsets: Array[Long], skipped: Long)

  /** Blocks of this split that survive the filters, or None when no pruning
    * applies (no usable filters, non-BLOCK layout, missing or stale
    * sidecar) — callers then stream the range normally. */
  def plannedOffsets(conf: Configuration, path: String, header: SeqHeader,
                     fileLen: Long, start: Long, end: Long,
                     filters: Seq[Filter]): Option[PlannedBlocks] = {
    val kt = header.keyType
    val vt = header.valueType
    val useK = filters.filter(usable(_, "key"))
    val useV = filters.filter(usable(_, "value"))
    if ((useK.isEmpty && useV.isEmpty) ||
        header.compression != SeqCompression.Block) return None
    ZoneMap.readValidated(conf, new Path(path), header.keyClass,
        header.valueClass, fileLen)
      .map { entries =>
        // split contract: this reader owns blocks whose escape starts in
        // [start, end) — identical to the sync-scan discovery rule
        val owned = entries.filter(e => e.offset >= start && e.offset < end)
        val kept = owned.filter(e =>
          useK.forall(mightMatchOpt(_, e.kmin, e.kmax, kt)) &&
            useK.forall(f => e.kbloom.forall(bloomMightMatch(f, _, kt))) &&
            useV.forall(mightMatchOpt(_, e.vmin, e.vmax, vt)))
        blocksPlanned.add(owned.size.toLong)
        blocksSkipped.add((owned.size - kept.size).toLong)
        PlannedBlocks(kept.map(_.offset).toArray, (owned.size - kept.size).toLong)
      }
  }
}

/** DSv2 custom metrics of the seqfile scan, summed over tasks (Spark UI,
  * `executedPlan` metrics): zone-map effectiveness, and what PERMISSIVE and
  * DROPMALFORMED dropped instead of failing the query. Spark instantiates
  * each metric class by name, so every one is its own no-argument class. */
object SeqScanMetrics {
  val ZoneBlocksSkipped = "seqfileZoneBlocksSkipped"
  val ZoneBlocksRead = "seqfileZoneBlocksRead"
  val MalformedBlocksDropped = "seqfileMalformedBlocksDropped"
  val UnreadableFilesSkipped = "seqfileUnreadableFilesSkipped"

  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new SeqZoneBlocksSkippedMetric, new SeqZoneBlocksReadMetric,
      new SeqMalformedBlocksDroppedMetric, new SeqUnreadableFilesSkippedMetric)

  /** One split's values; the zone-map pair only when pruning was planned. */
  def taskValues(planned: Option[ZoneMapPruning.PlannedBlocks], malformedBlocks: Long,
                 unreadableFiles: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    (planned.toSeq.flatMap(p => Seq(
      SeqScanTaskMetric(ZoneBlocksSkipped, p.skipped),
      SeqScanTaskMetric(ZoneBlocksRead, p.offsets.length.toLong))) ++ Seq(
      SeqScanTaskMetric(MalformedBlocksDropped, malformedBlocks),
      SeqScanTaskMetric(UnreadableFilesSkipped, unreadableFiles))).toArray
}

class SeqZoneBlocksSkippedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SeqScanMetrics.ZoneBlocksSkipped
  override def description(): String = "seqfile blocks skipped by zone map"
}

class SeqZoneBlocksReadMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SeqScanMetrics.ZoneBlocksRead
  override def description(): String = "seqfile blocks read after zone pruning"
}

class SeqMalformedBlocksDroppedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SeqScanMetrics.MalformedBlocksDropped
  override def description(): String = "seqfile malformed blocks dropped"
}

class SeqUnreadableFilesSkippedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SeqScanMetrics.UnreadableFilesSkipped
  override def description(): String = "seqfile unreadable files skipped"
}

case class SeqScanTaskMetric(metricName: String, v: Long)
  extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}
