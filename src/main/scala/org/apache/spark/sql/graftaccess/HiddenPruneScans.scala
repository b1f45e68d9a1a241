package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The deferred scan builder of every [[graft.catalog.GraftTable]] read:
  * the kept FILE LIST depends on the pushed filters, but a DSv2 builder
  * receives filters only after construction — so this wrapper records
  * pruning/filter calls, and at `build()` time prunes the file list
  * with the translated V1 filters (partition dirs, commit-time stats
  * records, bloom sidecars), constructs the real delegate stack over
  * the surviving files, replays the recorded calls onto it (parquet
  * row-group pruning still sees every filter) and builds. All filters
  * are returned as residual — same stance as the multi-generation
  * composite; data filters over parquet are always re-applied above
  * the scan anyway. Built once per query (no runtime re-filtering on
  * interactive scans), so the late delegate construction is
  * planning-time-only work.
  *
  * An aggregation made only of `COUNT(*)`, with no GROUP BY and no
  * filter, is answered by `countRows` (the pinned snapshot's summed
  * stats-record row counts) as a one-row [[LocalScan]]; when
  * `countRows` declines (None), Spark plans the normal scan. Any other
  * aggregate is offered to the delegate over every file. */
object HiddenPruneScans {

  final class Builder(
      allFiles: Seq[String],
      pruneFiles: (Seq[String], Seq[Filter]) => Seq[String],
      mkDelegate: Seq[String] => ScanBuilder,
      countRows: () => Option[Long])
      extends ScanBuilder
      with SupportsPushDownRequiredColumns
      with SupportsPushDownCatalystFilters
      with SupportsPushDownAggregates {

    private var required: Option[StructType] = None
    private var filters: Seq[Expression] = Seq.empty
    private var counted: Option[(Int, Long)] = None
    private lazy val recordedRows: Option[Long] = countRows()
    // The delegate over every file, built when Spark offers an
    // aggregate: it offers one only with no filter left above the scan,
    // and every filter stays above this builder, so none was pushed.
    private var unfiltered: Option[ScanBuilder] = None

    override def pruneColumns(requiredSchema: StructType): Unit =
      required = Some(requiredSchema)

    override def pushFilters(fs: Seq[Expression]): Seq[Expression] = {
      filters = fs
      fs // ALL residual: the delegate re-receives them at build
    }

    override def pushedFilters: Array[Predicate] = Array.empty

    /** The rows an aggregation made only of COUNT(*) returns, with no
      * GROUP BY and no filter; None when it is not one or the records
      * cannot answer it. */
    private def statsAnswer(agg: Aggregation): Option[Long] =
      if (filters.isEmpty && agg.groupByExpressions.isEmpty &&
          agg.aggregateExpressions.nonEmpty &&
          agg.aggregateExpressions.forall(_.isInstanceOf[CountStar]))
        recordedRows
      else None

    /** Aggregates the records cannot answer go to the delegate (a
      * parquet footer aggregate, when the session enables it). */
    private def delegateAggregates: Option[SupportsPushDownAggregates] =
      if (filters.nonEmpty) None
      else {
        if (unfiltered.isEmpty) unfiltered = Some(mkDelegate(allFiles))
        unfiltered.collect { case p: SupportsPushDownAggregates => p }
      }

    override def supportCompletePushDown(agg: Aggregation): Boolean =
      statsAnswer(agg).isDefined ||
        delegateAggregates.exists(_.supportCompletePushDown(agg))

    override def pushAggregation(agg: Aggregation): Boolean =
      statsAnswer(agg) match {
        case Some(n) =>
          counted = Some(agg.aggregateExpressions.length -> n)
          true
        case None => delegateAggregates.exists(_.pushAggregation(agg))
      }

    override def build(): Scan = counted match {
      case Some((width, n)) => new LocalScan {
        override def readSchema(): StructType = StructType((0 until width)
          .map(i => StructField(s"count$i", LongType, nullable = false)))
        override def rows(): Array[InternalRow] =
          Array(new GenericInternalRow(Array.fill[Any](width)(n)))
        override def description(): String = s"graft stats count ($n rows)"
      }
      case None =>
        val delegate = unfiltered.getOrElse {
          val v1 = filters.flatMap(f =>
            DataSourceStrategy.translateFilter(f,
              supportNestedPredicatePushdown = true))
          mkDelegate(pruneFiles(allFiles, v1))
        }
        delegate match {
          case p: SupportsPushDownCatalystFilters => p.pushFilters(filters)
          case _ => ()
        }
        delegate match {
          case p: SupportsPushDownRequiredColumns =>
            required.foreach(p.pruneColumns)
          case _ => ()
        }
        delegate.build()
    }
  }
}
