package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One client operation as the client saw it. */
final case class Op(client: String, kind: String, startNs: Long, endNs: Long,
    ok: Boolean, bytes: Long = 0L, frames: Int = 0, rows: Long = 0L,
    id: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything a run reports back to the launcher, written as one JSON file. */
final class RunResult {
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  val setupS = mutable.ArrayBuffer.empty[Double]
  var windowStartNs = 0L
  var windowEndNs = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attemptedExtra = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
}

/** Peak heap occupancy right after a collection: every GC's notification
  * carries the pools' usage after it, which is what survived (not the
  * allocation churn between collections). */
final class HeapPeak {
  @volatile var peak = 0L
  private val listener: javax.management.NotificationListener = (n, _) =>
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
        .map(_.getUsed).sum
      synchronized { peak = math.max(peak, after) }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))
  def finish(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

object Main {
  val mapper = new ObjectMapper()

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Usage: Main <plan.json> <result.json> <sf-dir> <trace 0|1> <tmp-dir> */
  def main(args: Array[String]): Unit = {
    val Array(planPath, outPath, dataDir, traceFlag, tmpDir) = args
    Trace.on = traceFlag == "1"
    val plan = mapper.readTree(Files.readString(Paths.get(planPath)))
    val workload = plan.get("workload").asText
    val res = new RunResult
    val heap = new HeapPeak
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(workload, cores, Paths.get(tmpDir))
    val stats = if (Trace.on) {
      val l = new SparkStats
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val gc0 = gcMs()
    try {
      workload match {
        case "served_ingest_dashboard" =>
          new IngestDashboard(spark, plan, res, Paths.get(tmpDir), stats, cores).run()
        case "operator_pipeline" =>
          new OperatorPipeline(spark, plan, res, dataDir, stats, cores).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check("workload completed", ok = false, e.toString)
    }
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(200) // GC notifications arrive asynchronously
    heap.finish()
    if (Trace.on) {
      res.layers("jvm.gc_ms") = (gcMs() - gc0).toDouble
      val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      res.layers("jvm.retained_heap_mb") = mem.getUsed / 1e6
      Trace.selfMsByLayer().foreach { case (layer, ms) =>
        res.layers(s"trace.self_ms.$layer") = ms
      }
      writeSpans(Paths.get(outPath + ".spans.jsonl"))
    }
    write(Paths.get(outPath), workload, res, heap.peak, cores)
    phase("result written")
    spark.stop()
  }

  def session(workload: String, cores: Int, tmp: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("spark-warehouse").toString)
    if (workload == "operator_pipeline") {
      // graft.Bench's session settings, so operator lines are comparable
      // with its per-query ranking on the same box
      b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
    }
    if (workload == "served_ingest_dashboard") {
      b.config("spark.sql.catalog.wh", "graft.catalog.MetaCatalog")
        .config("spark.sql.catalog.wh.warehouse", tmp.resolve("wh").toString)
    }
    if (Trace.on)
      b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def writeSpans(p: Path): Unit = {
    val w = Files.newBufferedWriter(p)
    try Trace.spans.asScala.foreach { s =>
      w.write(mapper.createObjectNode().put("id", s.id).put("name", s.name)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
        .put("parent", s.parent).toString)
      w.newLine()
    } finally w.close()
  }

  private def write(p: Path, workload: String, res: RunResult, heapPeak: Long,
      cores: Int): Unit = {
    val root = mapper.createObjectNode()
    root.put("workload", workload).put("cores", cores)
      .put("heap_peak_mb", heapPeak / 1e6)
      .put("window_s", (res.windowEndNs - res.windowStartNs) / 1e9)
      .put("attempted_extra", res.attemptedExtra)
    val su = root.putArray("setup_s")
    res.setupS.foreach(x => su.add(x))
    val ops = root.putArray("ops")
    res.ops.asScala.foreach { o =>
      ops.addObject().put("client", o.client).put("kind", o.kind)
        .put("ms", o.ms).put("ok", o.ok).put("bytes", o.bytes)
        .put("frames", o.frames).put("rows", o.rows)
        .put("in_window", o.startNs >= res.windowStartNs &&
          o.endNs <= res.windowEndNs)
    }
    val checks = root.putArray("checks")
    res.checks.foreach { case (n, ok, d) =>
      checks.addObject().put("name", n).put("ok", ok).put("detail", d)
    }
    val layers = root.putObject("layers")
    res.layers.foreach { case (k, v) =>
      layers.put(k, if (v.isNaN || v.isInfinite) 0.0 else v)
    }
    Files.writeString(p, root.toString)
  }

  /** Aggregate the Spark listener records of the jobs and stages that
    * started inside the measured window [fromMs, toMs] (every client's,
    * the writer's ungrouped jobs included), per statement of the window. */
  def sparkLayers(res: RunResult, stats: SparkStats, cores: Int,
      fromMs: Long, toMs: Long, statements: Int): Unit = {
    def inWindow(ms: Long) = ms >= fromMs && ms <= toMs
    val jobs = stats.jobs.values.asScala.filter(j => inWindow(j.startMs)).toSeq
    val stages = stats.stages.values.asScala.filter(s => inWindow(s.submitMs)).toSeq
    val nStmt = math.max(1, statements).toDouble
    val tasks = stages.flatMap(_.taskMs)
    val taskSum = tasks.sum.toDouble
    val ratios = stages.filter(_.taskMs.size >= 2).map { s =>
      val m = median(s.taskMs.map(_.toDouble))
      if (m > 0) s.taskMs.max / m else 1.0
    }
    val waits = stages.filter(s => s.firstLaunchMs != Long.MaxValue && s.submitMs > 0)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs).toDouble)
    val walls = stages.filter(s => s.completeMs > 0 && s.submitMs > 0)
      .map(s => (s.completeMs - s.submitMs).toDouble)
    val L = res.layers
    L("spark.jobs_per_stmt") = jobs.size / nStmt
    L("spark.stages_per_stmt") = stages.size / nStmt
    L("spark.tasks_per_stmt") = tasks.size / nStmt
    L("spark.stage_wall_ms") = walls.sum / nStmt
    L("spark.task_ms_sum") = taskSum / nStmt
    L("spark.task_max_over_median") = median(ratios)
    L("spark.queue_wait_ms") = median(waits)
    L("spark.cpu_util") = stages.map(_.runMs).sum / math.max(1.0, (toMs - fromMs) * cores.toDouble)
    L("spark.shuffle_read_mb") = stages.map(_.shuffleRead).sum / 1e6 / nStmt
    L("spark.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / 1e6 / nStmt
    L("spark.spill_mb") = stages.map(_.spill).sum / 1e6 / nStmt
    L("spark.gc_ms") = stages.map(_.gcMs).sum.toDouble / nStmt
  }

  /** Catalyst phase medians over the plan records that ended inside
    * [fromMs, toMs], plus the codegen compile time per statement. */
  def catalystLayers(res: RunResult, fromMs: Long, toMs: Long,
      codegenNs: Long, nStmt: Int): Seq[PlanRecord] = {
    val recs = PlanRecords.records.asScala
      .filter(r => r.endMs >= fromMs && r.endMs <= toMs).toSeq
    def ph(k: String) = median(recs.flatMap(_.phasesMs.get(k)))
    res.layers("catalyst.parse_ms") = ph("parsing")
    res.layers("catalyst.analyze_ms") = ph("analysis")
    res.layers("catalyst.optimize_ms") = ph("optimization")
    res.layers("catalyst.plan_ms") = ph("planning")
    res.layers("catalyst.codegen_ms") = codegenNs / 1e6 / math.max(1, nStmt)
    recs
  }

  def codegenNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def nowMs(): Long = System.currentTimeMillis()

  def phase(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${jvmUptimeS()}%.1fs")

  def nsToEpochMs(ns: Long): Long =
    System.currentTimeMillis() - (System.nanoTime() - ns) / 1000000L

  def jvmUptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}
