package graft.sources.seqfile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}

/** What the seqfile scans of an executed query planned and reported: batch
  * scans from its executed plan (adaptive query stages included), and
  * driver-local scans, which keep their counts themselves, from its
  * optimized plan. */
object ScanPlans extends AdaptiveSparkPlanHelper {

  def scans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan: SparkPlan) { case b: BatchScanExec => b }

  def localScans(df: DataFrame): Seq[SeqFileLocalScan] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation => r.scan }
      .collect { case s: SeqFileLocalScan => s }

  /** Sum of one SQL metric over the query's scans (0 when absent). */
  def scanMetric(df: DataFrame, name: String): Long =
    scans(df).flatMap(_.metrics.get(name)).map(_.value).sum +
      localScans(df).flatMap(_.driverMetrics.get(name)).sum

  /** Blocks the zone map planned: read plus skipped. */
  def blocksPlanned(df: DataFrame): Long =
    scanMetric(df, SeqScanMetrics.ZoneBlocksRead) + scanMetric(df, SeqScanMetrics.ZoneBlocksSkipped)

  def blocksSkipped(df: DataFrame): Long = scanMetric(df, SeqScanMetrics.ZoneBlocksSkipped)

  /** The partitions the query's seqfile scans planned. */
  def partitions(df: DataFrame): Seq[SeqFilePartition] =
    scans(df).map(_.scan).collect { case s: SeqFileScan => s }
      .flatMap(_.planInputPartitions().map(_.asInstanceOf[SeqFilePartition])) ++
      localScans(df).flatMap(_.parts)

  /** Did top-N pushdown plan the scan: every partition reads only the
    * blocks the selection kept. */
  def topNPlanned(df: DataFrame): Boolean = {
    val parts = partitions(df)
    parts.nonEmpty && parts.forall(_.fixedOffsets.isDefined)
  }
}
