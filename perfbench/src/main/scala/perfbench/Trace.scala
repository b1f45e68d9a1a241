package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one statement share its id (the statement
  * handle, or the operator query run); `parent` names the enclosing span. */
final case class Span(id: String, name: String, startNs: Long, endNs: Long,
    parent: String)

/** In-memory span store, written out once when the run ends. With tracing
  * off nothing is recorded, so the end-to-end run pays only the clock reads
  * its own latency numbers need. */
object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()

  def add(id: String, name: String, startNs: Long, endNs: Long,
      parent: String = ""): Unit =
    if (on) spans.add(Span(id, name, startNs, endNs, parent))

  def timed[T](id: String, name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(id, name, t0, System.nanoTime(), parent)
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * child spans (same id, parent == this span's name) cover. The layer is
    * the span name up to the first '.'. */
  def selfMsByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(s => (s.id, s.parent))
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse((s.id, s.name), Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var cur = Long.MinValue
      kids.foreach { case (a, b) =>
        val lo = math.max(a, cur)
        if (b > lo) { covered += b - lo; cur = b }
      }
      out(s.name.takeWhile(_ != '.')) += (s.endNs - s.startNs - covered) / 1e6
    }
    out.toMap
  }
}

/** Per-stage and per-job records collected from Spark's listener bus,
  * keyed by job group (`graft-stmt-<handle>-<attempt>` for served
  * statements, `perfbench-op-<query>-<pass>` for operator queries). */
final class StageStat(val stageId: Int, val group: String) {
  var submitMs = 0L; var completeMs = 0L; var firstLaunchMs = Long.MaxValue
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
}

final class JobStat(val group: String, val startMs: Long) {
  var endMs = 0L
}

class SparkStats extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  val stages = new ConcurrentHashMap[Int, StageStat]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobStat(group, e.time))
    e.stageIds.foreach(stageGroup.put(_, group))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val s = stages.computeIfAbsent(i.stageId,
      id => new StageStat(id, stageGroup.getOrDefault(id, "")))
    s.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.synchronized { s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime) }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.synchronized {
        s.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
}

/** Catalyst phase times and executed-plan metrics of every query
  * execution, read from the `QueryPlanningTracker` each execution carries.
  * Registered through `spark.sql.queryExecutionListeners`, so every session
  * the engine creates reports here. */
final case class PlanRecord(phasesMs: Map[String, Double], maxNodeRows: Long,
    scanPartitions: Int, endMs: Long)

object PlanRecords {
  val records = new ConcurrentLinkedQueue[PlanRecord]()
}

class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = try {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(qe.executedPlan)
    def rows(p: SparkPlan): Long =
      p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
    val maxRows = (all.map(rows) :+ 0L).max
    val scans = all.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum
    PlanRecords.records.add(PlanRecord(phases, maxRows, scans,
      System.currentTimeMillis()))
  } catch { case _: Throwable => () }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
