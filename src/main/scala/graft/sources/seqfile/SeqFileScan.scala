package graft.sources.seqfile

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.core.seqfile.ZoneEntry

/** Scan builder with column pruning — the connector-level optimization the
  * reference cannot do (it always decodes both columns, reference:
  * Parser.hs:109-110): a keys-only query never snappy-decompresses the value
  * buffers, and a bare count() decompresses nothing at all — plus partition
  * pruning: filters over hive-style `k=v` directory columns skip whole
  * files at planning time (the "free from Spark's file index" assumption in
  * SURVEY §4 does NOT hold for a custom DSv2 connector; this supplies it). */
class SeqFileScanBuilder(tableSchema: StructType, paths: Seq[String],
                         options: CaseInsensitiveStringMap,
                         hadoopConf: Configuration = SeqFileHadoopConf.current())
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var partFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var dataFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var keyFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var aggScan: Option[SeqFileAggScan] = None

  /** The table's files under the static partition filters, and their
    * sidecars: each taken once per query, on first use, and shared by both
    * pushdowns and the scan. The sidecars come from the driver's cache
    * (SidecarCache) unless a file or its sidecar changed since they were
    * parsed. Spark pushes filters before aggregates and top-N, so the first
    * use sees the final partition filters. */
  private lazy val files = SeqFileDataSource.listPartitionedFiles(paths, hadoopConf)
    .filter(PartitionFilters.keep(partFilters.toSeq, _))
  private lazy val sidecars = ZoneMapPruning.sidecars(files, hadoopConf)

  private val keyType = KeyFilters.keyType(tableSchema)

  private val partCols: Set[String] =
    tableSchema.fieldNames.filterNot(n =>
      n.equalsIgnoreCase("key") || n.equalsIgnoreCase("value"))
      .map(_.toLowerCase).toSet

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Partition and key/value filters plan the files and blocks a query
    * reads. The key filters the reader evaluates exactly (KeyFilters) are
    * consumed; every other filter stays residual, and Spark re-evaluates it
    * on the rows read. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    partFilters = filters.filter(f =>
      f.references.forall(r => partCols.contains(r.toLowerCase))
        && PartitionFilters.supported(f))
    dataFilters = filters.filter(ZoneMapPruning.usableAny)
    val (exact, residual) = filters.partition(KeyFilters.exact(_, keyType))
    keyFilters = exact
    residual
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    partFilters ++ dataFilters

  /** ORDER BY key/value LIMIT n: zone maps select a provably sufficient
    * block subset per file (see SeqFileTopNPushdown) — partially pushed,
    * Spark's TakeOrdered still runs over the emitted superset. Offered only
    * with no filters and full sidecar coverage. */
  private var topN: Option[Seq[Seq[Long]]] = None

  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (partFilters.nonEmpty || dataFilters.nonEmpty || aggScan.nonEmpty)
      return false
    SeqFileTopNPushdown.orderFor(orders) match {
      case Some(key) if tableSchema.fields.exists(f =>
          f.name.equalsIgnoreCase(key.col) && f.dataType != NullType) =>
        topN = SeqFileTopNPushdown.planFiles(sidecars.byFile, key, limit)
        topN.nonEmpty
      case _ => false
    }
  }

  /** MIN/MAX/COUNT without groupBy, served exactly from zone-map sidecars —
    * the data files are never opened (see SeqFileAggPushdown). Partial
    * pushdown only: Spark's aggregate still merges, so empty tables and
    * mixed plans behave normally. Declined whenever any filter is present
    * or any file lacks validated stats. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // Spark pushes aggregates below fully consumed filters, which exact
    // key filters are; the sidecars answer only unfiltered aggregates
    if (partFilters.nonEmpty || dataFilters.nonEmpty) return false
    SeqFileAggPushdown.specsFor(agg, tableSchema) match {
      case Some(specs) if specs.nonEmpty =>
        val out = SeqFileAggPushdown.schemaFor(specs, tableSchema)
        aggScan = SeqFileAggPushdown.partialRow(sidecars.byFile, specs, tableSchema)
          .map(new SeqFileAggScan(out, _,
            s"seqfile agg-pushdown paths=${paths.mkString(",")} " +
              s"aggs=${specs.mkString(",")}"))
        aggScan.nonEmpty
      case _ => false
    }
  }

  /** A numeric read option that must be positive when set: a zero or
    * negative split size or trigger limit would read nothing, divide by
    * zero or never advance the stream. */
  private def positive[T](name: String, parse: String => T)(implicit num: Numeric[T]): Option[T] =
    Option(options.get(name)).map { s =>
      val v = parse(s)
      if (num.signum(v) <= 0)
        throw new IllegalArgumentException(s"seqfile option $name must be > 0, got $s")
      v
    }

  /** The sidecar aggregate, else a driver-local scan when the filters plan
    * few enough blocks (SeqFileScan.local), else the batch scan. */
  override def build(): Scan = {
    val maxSplitBytes = positive("maxSplitBytes", _.toLong).getOrElse(128L * 1024 * 1024)
    val maxFilesPerTrigger = positive("maxFilesPerTrigger", _.toInt)
    val maxBytesPerTrigger = positive("maxBytesPerTrigger", _.toLong)
    aggScan.getOrElse {
      val scan = new SeqFileScan(tableSchema, required, paths, files, sidecars,
        maxSplitBytes = maxSplitBytes,
        mode = ReadMode.parse(Option(options.get("mode")).getOrElse("FAILFAST")),
        dataFilters = dataFilters.toSeq,
        keyFilters = keyFilters.toSeq,
        topN = topN,
        maxFilesPerTrigger = maxFilesPerTrigger,
        maxBytesPerTrigger = maxBytesPerTrigger,
        hadoopConf = hadoopConf)
      scan.local.getOrElse(scan)
    }
  }
}

/** Evaluate pushed filters against a file's partition values. Only shapes
  * `supported` admits are ever evaluated, so evaluation is total; values
  * compare as strings (partition columns are StringType by construction). */
object PartitionFilters {
  import org.apache.spark.sql.sources._

  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: In | _: IsNull | _: IsNotNull |
         _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
         _: LessThanOrEqual | _: StringStartsWith => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  /** Does the file survive every filter? */
  def keep(filters: Seq[Filter], pf: SeqFileDataSource.PartitionedFile): Boolean = {
    val vals = pf.partitionValues.map { case (k, v) => k.toLowerCase -> v }.toMap
    filters.forall(eval(_, vals))
  }

  def eval(f: Filter, vals: Map[String, String]): Boolean = {
    def v(attr: String): Option[String] = vals.get(attr.toLowerCase)
    f match {
      case EqualTo(a, x) => v(a).contains(String.valueOf(x))
      case EqualNullSafe(a, x) => v(a).contains(String.valueOf(x))
      case In(a, xs) => v(a).exists(s => xs.exists(x => String.valueOf(x) == s))
      case IsNull(a) => v(a).isEmpty
      case IsNotNull(a) => v(a).nonEmpty
      case GreaterThan(a, x) => v(a).exists(_ > String.valueOf(x))
      case GreaterThanOrEqual(a, x) => v(a).exists(_ >= String.valueOf(x))
      case LessThan(a, x) => v(a).exists(_ < String.valueOf(x))
      case LessThanOrEqual(a, x) => v(a).exists(_ <= String.valueOf(x))
      case StringStartsWith(a, x) => v(a).exists(_.startsWith(x))
      case And(l, r) => eval(l, vals) && eval(r, vals)
      case Or(l, r) => eval(l, vals) || eval(r, vals)
      case Not(c) => !eval(c, vals)
      case _ => true // unreachable given `supported`; keep = never mis-prune
    }
  }
}

/** Malformed-record handling, mirroring Spark's JSON/CSV source modes.
  * FAILFAST is the reference's `failOnError` path (reference:
  * tests/Main.hs:35-37); PERMISSIVE reproduces the reference's `Foldable`
  * semantics, where a fold over the stream silently stops at the `Error`
  * cons cell (reference: SequenceFile.hs:74-76 — `foldMap` drops the error
  * tail); DROPMALFORMED goes beyond the reference: skip the corrupt block,
  * rescan for the next sync marker, and continue. Unlike the reference, both
  * count what they drop, as the scan metrics `seqfileMalformedBlocksDropped`
  * and `seqfileUnreadableFilesSkipped` (SeqScanMetrics). */
object ReadMode {
  val FailFast = "FAILFAST"
  val Permissive = "PERMISSIVE"
  val DropMalformed = "DROPMALFORMED"
  def parse(s: String): String = s.toUpperCase match {
    case m @ (FailFast | Permissive | DropMalformed) => m
    case other => throw new IllegalArgumentException(
      s"seqfile mode must be FAILFAST, PERMISSIVE or DROPMALFORMED, got $other")
  }
}

object SeqFileScan {
  private[seqfile] val log = org.slf4j.LoggerFactory.getLogger(classOf[SeqFileScan])

  /** The bound of a driver-local scan: a point lookup plans one block, or
    * none on a Bloom miss, and a short range one or two. */
  val LocalMaxBlocks = 2
  val LocalMaxBytes: Long = 1L << 20

  /** A block plan: the partitions, the zone-map and sidecar counts, and the
    * number and on-disk bytes of the blocks planned from sidecars;
    * `wholeFiles` when some file is read whole instead. */
  private[seqfile] final case class BlockPlan(parts: Seq[SeqFilePartition],
      metrics: Array[CustomTaskMetric], blocks: Long, bytes: Long, wholeFiles: Boolean)

  /** On-disk bytes of the blocks at `offsets` of a file of length `len`
    * whose sidecar `entries` are in file order, as the writer records them:
    * each block runs to the next entry's offset, the last to the end. */
  private[seqfile] def blockBytes(offsets: Seq[Long], entries: Seq[ZoneEntry], len: Long): Long =
    if (offsets.isEmpty) 0L
    else {
      val starts = entries.iterator.map(_.offset).toArray
      offsets.map { o =>
        val i = java.util.Arrays.binarySearch(starts, o)
        (if (i >= 0 && i + 1 < starts.length) starts(i + 1) else len) - o
      }.sum
    }
}

/** The batch and micro-batch scan of a seqfile table. `files` is the
  * builder's listing of `paths` under the static partition filters and
  * `sidecars` their sidecars, in the same order; both are taken on first
  * use, and an unfiltered scan without top-N never looks one up. */
class SeqFileScan(tableSchema: StructType, required: StructType,
                  paths: Seq[String], files: => Seq[SeqFileDataSource.PartitionedFile],
                  sidecars: => ZoneMapPruning.Sidecars,
                  maxSplitBytes: Long,
                  mode: String = ReadMode.FailFast,
                  dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                  keyFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
                  topN: Option[Seq[Seq[Long]]] = None,
                  maxFilesPerTrigger: Option[Int] = None,
                  maxBytesPerTrigger: Option[Long] = None,
                  hadoopConf: Configuration)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Storage-partitioned execution: a hive-partitioned lake reports
    * KeyGroupedPartitioning over its partition columns, so (with
    * spark.sql.sources.v2.bucketing.enabled) a groupBy on partition
    * columns runs shuffle-free and a join of two co-partitioned seqfile
    * lakes becomes a storage-partitioned join — at 100 TB the difference
    * between a full-corpus exchange and none. Unpartitioned tables report
    * UnknownPartitioning (grouping everything into one key would serialize
    * the scan). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val parts = planInputPartitions()
    val partCols = parts.headOption
      .map(_.asInstanceOf[SeqFilePartition].partValues.map(_._1))
      .getOrElse(Nil)
    if (partCols.nonEmpty)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partCols.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray,
        parts.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        parts.length)
  }

  /** Dynamic pruning: Spark may call filter() AFTER planning, with runtime
    * filters derived from a joined dimension (e.g. the join keys that
    * survived the dim's WHERE). Partition-column filters skip whole files;
    * key/value filters join the pushed ones in block planning (runtime
    * data skipping — the seqfile analog of DPP on a fact table joined by
    * key). Both compose with the static pushed filters and only ever SKIP
    * data; rows are still verified by the residual join/filter, so an
    * over-broad runtime filter can't break correctness. */
  private var runtimeFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil
  private var runtimeDataFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil

  private def isDataCol(n: String): Boolean =
    n.equalsIgnoreCase("key") || n.equalsIgnoreCase("value")

  // only columns present in the (pruned) output: Spark's pruning rules
  // resolve these refs against the scan output and throw on a column the
  // projection dropped
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = synchronized {
    // partition filters must reference ONLY partition columns — a filter on
    // `key` would evaluate as non-matching against partition values and
    // mis-prune whole files
    runtimeFilters = filters.toSeq.filter(f =>
      f.references.forall(r => !isDataCol(r)) && PartitionFilters.supported(f))
    runtimeDataFilters = filters.toSeq.filter(ZoneMapPruning.usableAny)
    plan = None
  }

  /** Size estimate so Catalyst's join planning can broadcast small seqfile
    * tables: on-disk bytes × a snappy decompression factor, scaled by the
    * fraction of columns read (pruned columns are never decompressed). */
  override def estimateStatistics(): Statistics = new Statistics {
    // partition-filter-aware: a scan of one partition out of hundreds
    // reports that partition's bytes, keeping it broadcast-eligible
    private val diskBytes =
      try files.map(_.status.getLen).sum
      catch { case _: Exception => -1L }
    override def sizeInBytes(): java.util.OptionalLong =
      if (diskBytes < 0) java.util.OptionalLong.empty()
      else {
        val colFraction =
          math.max(1, required.length).toDouble / math.max(1, tableSchema.length)
        java.util.OptionalLong.of((diskBytes * 3 * colFraction).toLong)
      }
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  override def readSchema(): StructType = required

  override def description(): String =
    s"seqfile paths=${paths.mkString(",")} columns=${required.fieldNames.mkString(",")} mode=$mode" +
      (if (keyFilters.isEmpty) "" else s" keyFilters=${keyFilters.mkString("[", ", ", "]")}")

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SeqFileMicroBatchStream(tableSchema, required, paths, maxSplitBytes, mode,
      checkpointLocation, maxFilesPerTrigger, maxBytesPerTrigger, hadoopConf)

  /** The plan for the current runtime filters: Spark and
    * `outputPartitioning()` each ask for it, and `filter()` clears it. */
  private var plan: Option[SeqFileScan.BlockPlan] = None

  private def planned = synchronized {
    if (plan.isEmpty) plan = Some(planBlocks())
    plan.get
  }

  override def planInputPartitions(): Array[InputPartition] = planned.parts.toArray

  /** The zone-map counts of the plan, so `executedPlan` metrics carry them
    * although no task prunes. */
  override def reportDriverMetrics(): Array[CustomTaskMetric] = planned.metrics

  /** This scan as a driver-local one (SeqFileLocalScan), when its filters
    * plan at most `SeqFileScan.LocalMaxBlocks` blocks of at most
    * `LocalMaxBytes` on-disk bytes, every file's from its sidecar. A scan
    * without filters, with top-N, or in a mode that counts dropped blocks
    * (PERMISSIVE, DROPMALFORMED; the counts are task metrics) stays a batch
    * scan. */
  private[seqfile] def local: Option[SeqFileLocalScan] =
    if (mode != ReadMode.FailFast || topN.nonEmpty || dataFilters.isEmpty) None
    else {
      val p = planned
      if (p.wholeFiles || p.blocks > SeqFileScan.LocalMaxBlocks ||
          p.bytes > SeqFileScan.LocalMaxBytes) None
      else Some(new SeqFileLocalScan(tableSchema, required, p.parts, keyFilters,
        hadoopConf, p.metrics, s"${description()} local blocks=${p.blocks}"))
    }

  /** The connector's one block planner. Per file, the blocks a query reads:
    * top-N's selection, or, with pushed or runtime key/value filters, the
    * blocks whose zone map and Bloom filter admit them all; a file without
    * either (or without a usable sidecar) is read whole. Each byte-range
    * split of a surviving file (SeqFilePartition.split) gets the planned
    * blocks it owns, those whose offset lies in its [start, end) — the
    * reader's own split rule — and a split that owns none gets no partition,
    * so a Bloom miss runs no task. */
  private def planBlocks(): SeqFileScan.BlockPlan = {
    val filters = dataFilters ++ runtimeDataFilters
    val used = if (topN.isEmpty && filters.isEmpty) None else Some(sidecars)
    // per file: the offsets to read and the sidecar's entries
    val blocks: Seq[Option[(Seq[Long], Seq[ZoneEntry])]] = (used, topN) match {
      case (Some(scs), Some(selected)) =>
        scs.byFile.zip(selected).map { case (sc, offs) => sc.map(s => (offs, s.entries)) }
      case (Some(scs), None) =>
        scs.byFile.map(_.map(s => (ZoneMapPruning.surviving(s, filters), s.entries)))
      case (None, _) => files.map(_ => None)
    }
    var read, skipped, bytes = 0L
    var wholeFiles = false
    val parts = files.zip(blocks).filter(fb => PartitionFilters.keep(runtimeFilters, fb._1))
      .flatMap { case (pf, sel) =>
        val len = pf.status.getLen
        val splits = SeqFilePartition.split(pf.status.getPath.toString, len,
          pf.partitionValues, maxSplitBytes)
        if (sel.isEmpty) wholeFiles = true
        sel.fold(splits) { case (offs, entries) =>
          read += offs.size
          skipped += entries.size - offs.size
          bytes += SeqFileScan.blockBytes(offs, entries, len)
          splits.flatMap { s =>
            val owned = offs.filter(o => o >= s.start && o < s.end)
            if (owned.isEmpty) None else Some(s.copy(fixedOffsets = Some(owned)))
          }
        }
      }
    SeqFileScan.BlockPlan(parts, SeqScanMetrics.driverValues(read, skipped,
      used.fold(0L)(_.cached), used.fold(0L)(_.read)), read, bytes, wholeFiles)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeqFileReaderFactory(tableSchema, required, mode,
      SeqFileHadoopConf.broadcast(hadoopConf), keyFilters)

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    SeqScanMetrics.supported
}

/** One task's byte range of a file. `fixedOffsets` are the blocks the
  * scan's planner chose in that range (all of them start in [start, end));
  * without them the reader streams every block the range owns. */
case class SeqFilePartition(path: String, start: Long, end: Long,
                            partValues: Seq[(String, String)] = Nil,
                            fixedOffsets: Option[Seq[Long]] = None)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Hive-partition values as the partition key (only consulted when the
    * scan reports KeyGroupedPartitioning, i.e. partValues nonEmpty). */
  override def partitionKey(): InternalRow =
    new GenericInternalRow(
      partValues.map(v => UTF8String.fromString(v._2): Any).toArray)
}

object SeqFilePartition {
  /** The split rule of batch and micro-batch scans alike: one partition per
    * `maxSplitBytes` byte range of a file. Ranges align themselves to
    * record-block boundaries at read time by scanning for the next sync
    * marker (semantics of reference: Parser.hs:93-101). At 100 TB this
    * yields ~800k splits of 128 MiB — Spark's scheduler handles that; tune
    * `maxSplitBytes` upward for very large clusters. */
  def split(path: String, len: Long, partValues: Seq[(String, String)],
            maxSplitBytes: Long): Seq[SeqFilePartition] = {
    val n = math.max(1L, (len + maxSplitBytes - 1) / maxSplitBytes)
    (0L until n).map { i =>
      SeqFilePartition(path, i * maxSplitBytes, math.min((i + 1) * maxSplitBytes, len),
        partValues)
    }
  }
}

/** Ships to executors with the query's Hadoop conf as one broadcast, so no
  * task builds its own (see SeqFileHadoopConf). Every partition reads
  * columnar: one ColumnarBatch per record block with zero-copy vectors (the
  * reference's columnar RecordBlock model), which Spark's vectorized
  * operators and ColumnarToRow consume directly. */
class SeqFileReaderFactory(tableSchema: StructType, required: StructType,
                           mode: String, conf: Broadcast[SerializableConfiguration],
                           keyFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new SeqFileColumnarPartitionReader(partition.asInstanceOf[SeqFilePartition],
      tableSchema, required, mode, conf.value.value, keyFilters)

  /** Row view over the columnar reader. Spark never calls it, since every
    * partition reads columnar. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val batches = createColumnarReader(partition)
      private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      private var row: InternalRow = null
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!batches.next()) return false
          rows = batches.get().rowIterator()
        }
        row = rows.next()
        true
      }
      override def get(): InternalRow = row
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        batches.currentMetricsValues()
      override def close(): Unit = batches.close()
    }
}
