package graft.sources.seqfile

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.core.seqfile._

/** Key filters the reader evaluates exactly, so Spark keeps no `Filter`
  * for them: equality (`=`, `<=>`, `IN`) and order comparisons on `key`,
  * and `AND`s of those, with literals of the key column's own Spark type.
  * Every other shape, a value or partition filter, and a literal of another
  * type stay residual.
  *
  * Semantics are Spark SQL's, so a pushed filter returns the rows the
  * unpushed `Filter` would:
  * - floating keys compare as `SQLOrderingUtil` does: -0.0 = 0.0, NaN = NaN,
  *   and NaN is above every other value;
  * - Text and Bytes keys compare as unsigned bytes (UTF-8 for Text), which
  *   is `UTF8String`'s order, not `String.compareTo`'s;
  * - a null literal matches nothing, except inside an `IN` list, where the
  *   other literals still match; the format stores no null key.
  *
  * `select` applies them to each decoded block: it gathers the surviving
  * rows' fixed-width values and `starts`/`lens` slices, and never copies
  * value bytes. */
object KeyFilters {

  private def isKey(attr: String): Boolean = attr.equalsIgnoreCase("key")

  /** The key column's Writable type in a table schema; NullW without one. */
  def keyType(schema: StructType): WritableType =
    schema.fields.find(f => isKey(f.name))
      .flatMap(f => scala.util.Try(SeqFileSchema.writableFor(f.dataType)).toOption)
      .getOrElse(WritableType.NullW)

  /** The literal as a comparable key of column type `t`; None when it is
    * not of exactly that column's Spark type. */
  private def literal(t: WritableType, v: Any): Option[ZoneKey] =
    ZoneMapPruning.toKey(t, v, exactType = true)

  /** Can the reader evaluate `f` exactly on a key column of type `t`? */
  def exact(f: Filter, t: WritableType): Boolean = t != WritableType.NullW && {
    def lit(a: String, v: Any) = isKey(a) && (v == null || literal(t, v).nonEmpty)
    f match {
      case EqualTo(a, v) => lit(a, v)
      case EqualNullSafe(a, v) => lit(a, v)
      case In(a, vs) => isKey(a) && vs.forall(lit(a, _))
      case GreaterThan(a, v) => lit(a, v)
      case GreaterThanOrEqual(a, v) => lit(a, v)
      case LessThan(a, v) => lit(a, v)
      case LessThanOrEqual(a, v) => lit(a, v)
      case And(l, r) => exact(l, t) && exact(r, t)
      case _ => false
    }
  }

  /** Row i of `c` against literal `k`: negative, zero or positive. */
  private def comparator(c: ColumnData, k: ZoneKey): Int => Int = (c, k) match {
    case (ShortColumn(v), ZoneKey.L(x)) => i => java.lang.Long.compare(v(i).toLong, x)
    case (IntColumn(v), ZoneKey.L(x)) => i => java.lang.Long.compare(v(i).toLong, x)
    case (LongColumn(v), ZoneKey.L(x)) => i => java.lang.Long.compare(v(i), x)
    case (FloatColumn(v), ZoneKey.D(x)) => i => ZoneMapPruning.compareDoubles(v(i).toDouble, x)
    case (DoubleColumn(v), ZoneKey.D(x)) => i => ZoneMapPruning.compareDoubles(v(i), x)
    case (BinaryColumn(b, s, l), ZoneKey.B(x)) =>
      i => java.util.Arrays.compareUnsigned(b, s(i), s(i) + l(i), x, 0, x.length)
    case _ => throw new SeqFileFormatException(
      s"key column ${c.getClass.getSimpleName} does not compare with $k")
  }

  private val none: Int => Boolean = _ => false

  /** `f` as a predicate over the rows of key column `c`. */
  private def predicate(f: Filter, c: ColumnData, t: WritableType): Int => Boolean = {
    def cmp(v: Any)(test: Int => Boolean): Int => Boolean =
      if (v == null) none
      else {
        val rowVsLit = comparator(c, literal(t, v).get)
        i => test(rowVsLit(i))
      }
    f match {
      case EqualTo(_, v) => cmp(v)(_ == 0)
      case EqualNullSafe(_, v) => cmp(v)(_ == 0)
      case GreaterThan(_, v) => cmp(v)(_ > 0)
      case GreaterThanOrEqual(_, v) => cmp(v)(_ >= 0)
      case LessThan(_, v) => cmp(v)(_ < 0)
      case LessThanOrEqual(_, v) => cmp(v)(_ <= 0)
      case In(_, vs) =>
        // literals in ascending key order, probed by binary search
        val lits = vs.filter(_ != null).flatMap(literal(t, _))
          .sortWith((a, b) => ZoneMapPruning.sqlCmp(a, b) < 0)
        if (lits.isEmpty) none
        else {
          val rowVsLit = lits.map(comparator(c, _))
          i => {
            var lo = 0
            var hi = rowVsLit.length - 1
            var found = false
            while (!found && lo <= hi) {
              val mid = (lo + hi) >>> 1
              val d = rowVsLit(mid)(i)
              if (d == 0) found = true
              else if (d < 0) hi = mid - 1
              else lo = mid + 1
            }
            found
          }
        }
      case And(l, r) =>
        val (p, q) = (predicate(l, c, t), predicate(r, c, t))
        i => p(i) && q(i)
      case other => throw new IllegalArgumentException(s"not an exact key filter: $other")
    }
  }

  /** The rows of `block` whose key satisfies every filter in `filters`
    * (all `exact` for key type `t`; the block must hold its keys). A block
    * that keeps every row is returned as is; otherwise the result's columns
    * share the block's variable-width buffers, so it has the block's
    * lifetime. */
  def select(block: DecodedBlock, filters: Seq[Filter], t: WritableType): DecodedBlock =
    if (filters.isEmpty) block
    else {
      val keys = block.keys.getOrElse(
        throw new IllegalStateException("key filters need the block's keys"))
      val keep = filters.map(predicate(_, keys, t)).reduce((p, q) => (i: Int) => p(i) && q(i))
      val rows = new Array[Int](block.count)
      var m = 0
      var i = 0
      while (i < block.count) {
        if (keep(i)) { rows(m) = i; m += 1 }
        i += 1
      }
      if (m == block.count) block
      else DecodedBlock(m, Some(gather(keys, rows, m)), block.values.map(gather(_, rows, m)))
    }

  /** Rows `rows(0 until m)` of `c`. */
  private def gather(c: ColumnData, rows: Array[Int], m: Int): ColumnData = {
    def ints(v: Array[Int]): Array[Int] = {
      val out = new Array[Int](m)
      var j = 0
      while (j < m) { out(j) = v(rows(j)); j += 1 }
      out
    }
    c match {
      case NullColumn(_) => NullColumn(m)
      case ShortColumn(v) =>
        val out = new Array[Short](m)
        var j = 0
        while (j < m) { out(j) = v(rows(j)); j += 1 }
        ShortColumn(out)
      case IntColumn(v) => IntColumn(ints(v))
      case LongColumn(v) =>
        val out = new Array[Long](m)
        var j = 0
        while (j < m) { out(j) = v(rows(j)); j += 1 }
        LongColumn(out)
      case FloatColumn(v) =>
        val out = new Array[Float](m)
        var j = 0
        while (j < m) { out(j) = v(rows(j)); j += 1 }
        FloatColumn(out)
      case DoubleColumn(v) =>
        val out = new Array[Double](m)
        var j = 0
        while (j < m) { out(j) = v(rows(j)); j += 1 }
        DoubleColumn(out)
      case BinaryColumn(b, s, l) => BinaryColumn(b, ints(s), ints(l))
    }
  }
}
