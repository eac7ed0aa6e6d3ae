package graft.sources.seqfile

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.seqfile.ZoneKey

/** MIN/MAX/COUNT pushdown answered ENTIRELY from zone-map sidecars: a
  * `SELECT max(key), count(*) FROM seqfileTable` never opens a data file —
  * the per-block statistics the writer already persisted are exact (true
  * min/max/count per block, not samples), so folding them is the exact
  * answer. Partial-pushdown contract: the scan emits ONE partial row which
  * Spark's aggregate merges (so mixed plans and empty tables behave like
  * any other source).
  *
  * Pushdown is accepted only when every committed data file has a
  * VALIDATED sidecar carrying stats for every referenced column — one
  * sidecar lookup per file (ZoneMapPruning.sidecars, served from the
  * driver's cache while the files are unchanged); the payoff is skipping
  * the entire data scan. Queries with filters never reach this path: the
  * scan builder declines an aggregate under any pushed filter, exact key
  * filters included, since sidecar stats describe whole files. */
object SeqFileAggPushdown {

  sealed trait Spec
  final case class MinOf(col: String) extends Spec
  final case class MaxOf(col: String) extends Spec
  case object CountAll extends Spec

  private def colName(e: Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(f.fieldNames.head.toLowerCase)
    case _ => None
  }

  /** Map the aggregation to specs we can serve; None = not pushable. */
  def specsFor(agg: Aggregation, tableSchema: StructType): Option[Seq[Spec]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    def orderedDataCol(c: String): Boolean =
      (c == "key" || c == "value") && dataTypeOf(tableSchema, c) != NullType
    val specs = agg.aggregateExpressions.map {
      case m: Min => colName(m.column).filter(orderedDataCol).map(MinOf)
      case m: Max => colName(m.column).filter(orderedDataCol).map(MaxOf)
      case _: CountStar => Some(CountAll)
      case c: Count if !c.isDistinct =>
        // count(col) == count(*) for non-null-typed data columns: the
        // format has no null-within-column representation (a NullWritable
        // column reads as all-null NullType, where count(col) would be 0 —
        // excluded by orderedDataCol)
        colName(c.column).filter(orderedDataCol).map(_ => CountAll)
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some(specs.flatten.toSeq) else None
  }

  /** Catalyst type of each partial column, aligned with `specs`. */
  def schemaFor(specs: Seq[Spec], tableSchema: StructType): StructType =
    StructType(specs.zipWithIndex.map {
      case (MinOf(c), i) => StructField(s"min_$c$i", dataTypeOf(tableSchema, c))
      case (MaxOf(c), i) => StructField(s"max_$c$i", dataTypeOf(tableSchema, c))
      case (CountAll, i) => StructField(s"cnt$i", LongType, nullable = false)
    })

  private def dataTypeOf(schema: StructType, col: String): DataType =
    schema.fields.find(_.name.equalsIgnoreCase(col)).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(s"no column $col"))

  /** Fold every file's sidecar entries, in one pass, into one partial row.
    * None when any file lacks a valid sidecar with the needed stats (caller
    * then declines the pushdown); Some(null) for an empty table, which
    * emits no partial row. */
  def partialRow(sidecars: Seq[Option[ZoneMapPruning.Sidecar]], specs: Seq[Spec],
                 tableSchema: StructType): Option[InternalRow] = {
    if (sidecars.isEmpty) return Some(null)
    if (sidecars.exists(_.isEmpty)) return None
    val entries = sidecars.flatMap(_.get.entries)
    val cols = specs.collect { case MinOf(c) => c; case MaxOf(c) => c }.distinct
    var count = 0L
    val range = scala.collection.mutable.Map.empty[String, (ZoneKey, ZoneKey)]
    for (e <- entries) {
      count += e.count
      for (c <- cols) {
        val (lo, hi) = ZoneMapPruning.bounds(e, c).getOrElse(return None)
        range(c) = range.get(c).fold((lo, hi)) { case (l, h) =>
          (if (lo.cmp(l) < 0) lo else l, if (hi.cmp(h) > 0) hi else h)
        }
      }
    }
    if (!cols.forall(range.contains)) return None

    val row = new GenericInternalRow(specs.length)
    specs.zipWithIndex.foreach {
      case (CountAll, i) => row.update(i, count)
      case (MinOf(c), i) => row.update(i, catalystValue(range(c)._1, dataTypeOf(tableSchema, c)))
      case (MaxOf(c), i) => row.update(i, catalystValue(range(c)._2, dataTypeOf(tableSchema, c)))
    }
    Some(row)
  }

  private def catalystValue(k: ZoneKey, dt: DataType): Any = (k, dt) match {
    case (ZoneKey.L(v), ShortType) => v.toShort
    case (ZoneKey.L(v), IntegerType) => v.toInt
    case (ZoneKey.L(v), LongType) => v
    case (ZoneKey.D(v), FloatType) => v.toFloat
    case (ZoneKey.D(v), DoubleType) => v
    case (ZoneKey.B(v), StringType) => UTF8String.fromBytes(v)
    case (ZoneKey.B(v), BinaryType) => v
    case _ => throw new IllegalArgumentException(s"cannot map $k to $dt")
  }
}

/** Scan that serves a pushed aggregation: one partition, one partial row
  * (or zero rows for an empty table). */
class SeqFileAggScan(outputSchema: StructType, row: InternalRow,
                     description0: String)
  extends Scan with Batch {
  override def readSchema(): StructType = outputSchema
  override def description(): String = description0
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(SeqFileAggPartition(outputSchema,
      Option(row).map(_.copy()).orNull))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[SeqFileAggPartition]
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted || part.row == null) false
            else { emitted = true; true }
          override def get(): InternalRow = part.row
          override def close(): Unit = ()
        }
      }
    }
}

case class SeqFileAggPartition(schema: StructType, row: InternalRow)
  extends InputPartition
