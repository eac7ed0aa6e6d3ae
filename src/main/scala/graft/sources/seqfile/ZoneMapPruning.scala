package graft.sources.seqfile

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.sources._

import graft.core.seqfile.{KeyBloom, WritableType, ZoneEntry, ZoneKey}

/** Zone-map and Bloom pruning, planned on the driver: evaluate a query's
  * key and value predicates against each file's per-block sidecar and keep
  * the offsets of the blocks that might match. `SeqFileScan` is the only
  * caller; tasks decode exactly the blocks it hands them. Everything here is
  * conservative — a filter shape or literal we can't map to the column's
  * order returns "might match" — so pruning can only ever skip blocks that
  * provably contain no match. It must: the reader's exact key filters
  * (KeyFilters) are not re-evaluated by Spark, so a wrongly skipped block
  * would be a lost row. Comparisons follow Spark SQL's order (`sqlCmp`).
  */
object ZoneMapPruning {

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

  /** The filter literal `v` as a zone key of a `t` column, or None. For
    * pruning, which is conservative, a number of any width maps onto a
    * numeric column; with `exactType`, only a literal of the column's own
    * Spark type does, as the reader's exact key filters (KeyFilters) need. */
  private[seqfile] def toKey(t: WritableType, v: Any,
                             exactType: Boolean = false): Option[ZoneKey] = (t, v) match {
    case (WritableType.ShortW | WritableType.IntW | WritableType.LongW, n: Number)
        if !exactType || ofType(t, n) => Some(ZoneKey.L(n.longValue()))
    case (WritableType.FloatW | WritableType.DoubleW, n: Number)
        if !exactType || ofType(t, n) => Some(ZoneKey.D(n.doubleValue()))
    case (WritableType.TextW, s: String) =>
      Some(ZoneKey.B(s.getBytes(StandardCharsets.UTF_8)))
    case (WritableType.BytesW, b: Array[Byte]) => Some(ZoneKey.B(b))
    case _ => None
  }

  private def ofType(t: WritableType, n: Number): Boolean = (t, n) match {
    case (WritableType.ShortW, _: java.lang.Short) | (WritableType.IntW, _: java.lang.Integer) |
         (WritableType.LongW, _: java.lang.Long) | (WritableType.FloatW, _: java.lang.Float) |
         (WritableType.DoubleW, _: java.lang.Double) => true
    case _ => false
  }

  /** Spark SQL's order of two floating values (`SQLOrderingUtil`): -0.0
    * equals 0.0, NaN equals NaN and is above every other value. Pruning and
    * the reader's exact key filters both compare through it. */
  def compareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark SQL's order of two zone keys: as `cmp`, except that floating
    * -0.0 and 0.0 are equal. Zone bounds are kept in `cmp` order, which
    * refines this one, so a block's bounds also bound its values here. */
  def sqlCmp(a: ZoneKey, b: ZoneKey): Int = (a, b) match {
    case (ZoneKey.D(x), ZoneKey.D(y)) => compareDoubles(x, y)
    case _ => a.cmp(b)
  }

  /** Could any value in [min, max] satisfy `f`? Conservative true. */
  def mightMatch(f: Filter, min: ZoneKey, max: ZoneKey,
                 t: WritableType): Boolean = {
    def k(v: Any): Option[ZoneKey] = toKey(t, v)
    def within(x: ZoneKey) = sqlCmp(x, min) >= 0 && sqlCmp(x, max) <= 0
    f match {
      case EqualTo(_, v) => k(v).forall(within)
      case EqualNullSafe(_, v) => k(v).forall(within)
      case In(_, vs) =>
        vs.isEmpty || // empty IN matches nothing, but stay conservative
          vs.exists(v => k(v).forall(within))
      case GreaterThan(_, v) => k(v).forall(x => sqlCmp(max, x) > 0)
      case GreaterThanOrEqual(_, v) => k(v).forall(x => sqlCmp(max, x) >= 0)
      case LessThan(_, v) => k(v).forall(x => sqlCmp(min, x) < 0)
      case LessThanOrEqual(_, v) => k(v).forall(x => sqlCmp(min, x) <= 0)
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

  /** A block's [min, max] of column `col` ("key"/"value"), when its
    * sidecar entry records them. */
  def bounds(e: ZoneEntry, col: String): Option[(ZoneKey, ZoneKey)] =
    if (col == "key") e.kmin.zip(e.kmax) else e.vmin.zip(e.vmax)

  /** Could the block's key Bloom filter admit `f`? Only equality shapes
    * consult the filter (a Bloom answers set membership, nothing else);
    * every other shape — and any literal we can't canonicalize — is a
    * conservative "maybe". This is what prunes point lookups on UNSORTED
    * data, where every block's [min, max] spans the domain. */
  def bloomMightMatch(f: Filter, bloom: KeyBloom, t: WritableType): Boolean = {
    // the filter hashes a floating zero by its sign, which SQL equality ignores
    def hit(v: Any): Boolean = toKey(t, v).forall {
      case ZoneKey.D(0.0) =>
        bloom.mightContain(KeyBloom.hashKey(ZoneKey.D(0.0))) ||
          bloom.mightContain(KeyBloom.hashKey(ZoneKey.D(-0.0)))
      case k => bloom.mightContain(KeyBloom.hashKey(k))
    }
    f match {
      case EqualTo(_, v) => hit(v)
      case EqualNullSafe(_, v) => hit(v)
      case In(_, vs) => vs.isEmpty || vs.exists(hit)
      case And(l, r) => bloomMightMatch(l, bloom, t) && bloomMightMatch(r, bloom, t)
      case Or(l, r) => bloomMightMatch(l, bloom, t) || bloomMightMatch(r, bloom, t)
      case _ => true
    }
  }

  /** A file's validated sidecar entries, with the column types filter
    * literals compare in. */
  final case class Sidecar(keyType: WritableType, valueType: WritableType,
                           entries: Seq[ZoneEntry])

  /** One query's sidecars: every listed file's, in listing order (None for
    * a file that is not BLOCK-compressed, has an unreadable header, or
    * whose sidecar is missing or stale), and how many of them the driver's
    * cache served and how many were read from storage. */
  final case class Sidecars(byFile: Seq[Option[Sidecar]], cached: Long, read: Long)

  /** The sidecars of `files`, through the driver's cache (SidecarCache):
    * the one sidecar lookup of a query, shared by filter planning and both
    * pushdowns. */
  def sidecars(files: Seq[SeqFileDataSource.PartitionedFile],
               conf: Configuration): Sidecars =
    SidecarCache.Driver.sidecars(files, conf)

  /** Offsets of the file's blocks that survive every key/value filter: the
    * zone map's [min, max] (absent stats keep the block) and, for key
    * equality shapes, the block's Bloom filter. The planning entry point. */
  def surviving(sc: Sidecar, filters: Seq[Filter]): Seq[Long] = {
    val useK = filters.filter(usable(_, "key"))
    val useV = filters.filter(usable(_, "value"))
    def keeps(fs: Seq[Filter], e: ZoneEntry, col: String, t: WritableType): Boolean =
      bounds(e, col).forall { case (lo, hi) => fs.forall(mightMatch(_, lo, hi, t)) }
    sc.entries.filter(e =>
      keeps(useK, e, "key", sc.keyType) &&
        useK.forall(f => e.kbloom.forall(bloomMightMatch(f, _, sc.keyType))) &&
        keeps(useV, e, "value", sc.valueType)).map(_.offset)
  }
}

/** DSv2 custom metrics of the seqfile scan (Spark UI, `executedPlan`
  * metrics): zone-map effectiveness and where the plan's sidecars came
  * from (the driver's cache or storage), reported once by the driver's
  * block plan, and what PERMISSIVE and DROPMALFORMED dropped instead of failing
  * the query, summed over tasks. Spark instantiates each metric class by
  * name, so every one is its own no-argument class. */
object SeqScanMetrics {
  val ZoneBlocksSkipped = "seqfileZoneBlocksSkipped"
  val ZoneBlocksRead = "seqfileZoneBlocksRead"
  val MalformedBlocksDropped = "seqfileMalformedBlocksDropped"
  val UnreadableFilesSkipped = "seqfileUnreadableFilesSkipped"
  val SidecarsCached = "seqfileSidecarsCached"
  val SidecarsRead = "seqfileSidecarsRead"

  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new SeqZoneBlocksSkippedMetric, new SeqZoneBlocksReadMetric,
      new SeqSidecarsCachedMetric, new SeqSidecarsReadMetric,
      new SeqMalformedBlocksDroppedMetric, new SeqUnreadableFilesSkippedMetric)

  /** One split's values, reported by its task. */
  def taskValues(malformedBlocks: Long, unreadableFiles: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(SeqScanTaskMetric(MalformedBlocksDropped, malformedBlocks),
      SeqScanTaskMetric(UnreadableFilesSkipped, unreadableFiles))

  /** The zone-map pair of a planned scan and the sidecar counts of its
    * lookup (both 0 when it needed no sidecar), reported by the driver. */
  def driverValues(read: Long, skipped: Long, sidecarsCached: Long, sidecarsRead: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(SeqScanTaskMetric(ZoneBlocksSkipped, skipped),
      SeqScanTaskMetric(ZoneBlocksRead, read),
      SeqScanTaskMetric(SidecarsCached, sidecarsCached),
      SeqScanTaskMetric(SidecarsRead, sidecarsRead))
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

class SeqSidecarsCachedMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SeqScanMetrics.SidecarsCached
  override def description(): String = "seqfile sidecars served from the driver cache"
}

class SeqSidecarsReadMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SeqScanMetrics.SidecarsRead
  override def description(): String = "seqfile sidecars read"
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
