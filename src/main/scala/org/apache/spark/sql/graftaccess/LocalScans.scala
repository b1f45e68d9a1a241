package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.{CoalesceExec, LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.PruneFileSourcePartitions
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.internal.connector.SupportsMetadata
import org.apache.spark.sql.types.StructType

/** Planner strategy for the two scans of a graft table that need no
  * spread over the cluster:
  *
  *  - a [[LocalScan]] (a stats-answered `COUNT(*)`, a catalog metadata
  *    table): the projections and filters over it are folded on the
  *    driver by `ConvertToLocalRelation` into one `LocalTableScan`,
  *    which a collect answers without a Spark job. Left to Spark,
  *    `Project` over `LocalTableScan` runs under whole-stage codegen
  *    and starts a job. A strategy, not an optimizer rule: the
  *    optimizer batches open to extensions run before scan push-down
  *    creates the `LocalScan`.
  *  - a [[SingleTaskScan]] (files holding at most `openCostInBytes`
  *    that pack into one split, see [[HiddenPruneScans]]): the scan,
  *    with the projections and filters over it, is planned under
  *    `CoalesceExec(1)`. That node reports `SinglePartition`, so no
  *    Exchange goes above it and an aggregate
  *    or sort over a small table runs as one task in one job. A plan
  *    node is needed because a one-partition DSv2 scan does not report
  *    `SinglePartition` itself. */
object LocalScans extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _, r: DataSourceV2ScanRelation)
        if r.scan.isInstanceOf[LocalScan] =>
      val rows = LocalRelation(r.output,
        r.scan.asInstanceOf[LocalScan].rows().toSeq)
      fold(plan.transformUp { case `r` => rows }) match {
        case l: LocalRelation =>
          LocalTableScanExec(l.output, l.data, None) :: Nil
        case _ => Nil
      }
    case PhysicalOperation(_, _, r: DataSourceV2ScanRelation)
        if r.scan.isInstanceOf[SingleTaskScan] =>
      val plain = r.copy(scan = r.scan.asInstanceOf[SingleTaskScan].inner)
      // the optimizer's partition-filter push-down matches only a
      // file scan, so it runs here, on the unwrapped scan
      CoalesceExec(1, planLater(PruneFileSourcePartitions(
        plan.transformUp { case `r` => plain }))) :: Nil
    case _ => Nil
  }

  /** Fold until nothing changes: one pass folds only the operator
    * directly above the relation. */
  private def fold(p: LogicalPlan): LogicalPlan = {
    val q = ConvertToLocalRelation(p)
    if (q.fastEquals(p)) p else fold(q)
  }

  /** Add the strategy to a live session's planner. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.asInstanceOf[ClassicSession].experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(this)) ex.extraStrategies :+= this
    }
  }

  /** Whether the active session plans with this strategy, by
    * [[install]] or through `GraftExtensions`. A session without it
    * would plan a [[SingleTaskScan]] like any scan and lose the
    * partition-filter push-down, so no scan is marked there. */
  def active: Boolean =
    ClassicSession.getActiveSession
      .exists(_.sessionState.planner.strategies.contains(this))

  /** A scan whose files fit in one split. It reports what `inner`
    * reports (statistics, metrics, columnar mode, description), so join
    * and broadcast choices over it are unchanged; only this strategy
    * plans it differently. */
  final case class SingleTaskScan(inner: Scan)
      extends Scan with SupportsReportStatistics with SupportsMetadata {
    override def readSchema(): StructType = inner.readSchema()
    override def description(): String = inner.description()
    override def toBatch: Batch = inner.toBatch
    override def supportedCustomMetrics(): Array[CustomMetric] =
      inner.supportedCustomMetrics()
    override def reportDriverMetrics(): Array[CustomTaskMetric] =
      inner.reportDriverMetrics()
    override def columnarSupportMode(): Scan.ColumnarSupportMode =
      inner.columnarSupportMode()
    override def estimateStatistics(): Statistics = inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }
    override def getMetaData(): Map[String, String] = inner match {
      case m: SupportsMetadata => m.getMetaData()
      case _ => Map.empty
    }
  }
}
