package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Planner strategy: the projections and filters over a DSv2 scan whose
  * `Scan` is a [[LocalScan]] (a stats-answered `COUNT(*)`, a catalog
  * metadata table) are folded on the driver by `ConvertToLocalRelation`
  * into one `LocalTableScan`, which a collect answers without a Spark
  * job. Left to Spark, `Project` over `LocalTableScan` runs under
  * whole-stage codegen and starts a job. A strategy, not an optimizer
  * rule: the optimizer batches open to extensions run before scan
  * push-down creates the `LocalScan`. */
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
}
