package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** operator_pipeline: `graft.operators` queries from `SparkEntry.queries`,
  * run in-process through the noop sink with `graft.Bench`'s session
  * settings. Operators are not reachable from SQL, so this is the only
  * workload that measures them. */
final class OperatorPipeline(root: SparkSession, plan: JsonNode, res: RunResult,
    dataDir: String, stats: Option[SparkStats], cores: Int) {

  /** Output row count and digest of each query at sf0.1, with doubles
    * compared at 9 significant digits (aggregation order may move the last
    * bits between runs). */
  val pinned: Map[String, (Long, Long)] = Map(
    "q_dedup_cc_star" -> ((5000L, 436407863847022059L)),
    "q_pipeline_e2e" -> ((4479L, 4802322859543029849L)))

  private def canonRounded(v: Any): String = v match {
    case d: java.lang.Double => "%.9g".formatLocal(java.util.Locale.ROOT, d.doubleValue)
    case f: java.lang.Float => "%.6g".formatLocal(java.util.Locale.ROOT, f.doubleValue)
    case s: scala.collection.Seq[_] => s.map(canonRounded).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canonRounded).mkString("{", ",", "}")
    case other => Check.canon(other)
  }

  private val qs = graft.SparkEntry.queries

  /** Run one query the way graft.Bench does: noop sink inside the timer,
    * cache release and a full GC outside it. */
  private def runOnce(q: String, group: String): (Long, Long) = {
    val sc = root.sparkContext
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try qs(q)(root, dataDir).write.mode("overwrite").format("noop").save()
    finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    root.catalog.clearCache()
    System.gc()
    (t0, t1)
  }

  def run(): Unit = {
    val passes = plan.get("passes").asScala.toVector.map(_.asScala.toVector.map(_.asText))
    val names = passes.head.sorted
    names.foreach(q => require(qs.contains(q), s"unknown query $q"))
    Stack.upRepeated(res, 4) { r =>
      val s = if (r == 0) root else root.newSession()
      graft.Tables.register(s, dataDir)
      null
    }
    Main.phase("setup done")
    // untimed check and warm-up, one thread per query (each spends most of
    // its time planning and scheduling small jobs on one thread, so the two
    // overlap): each query's output against its pinned row count and
    // digest, then one noop run
    val outRows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val threads = names.map(q => new Thread(() => try {
      val sc = root.sparkContext
      sc.setJobGroup(s"perfbench-check-$q", q)
      val rows = try qs(q)(root, dataDir).collect() finally sc.clearJobGroup()
      val d = Check.digestRows(rows.iterator.map(r => r.toSeq.map(canonRounded)))
      outRows.put(q, rows.length.toLong)
      System.err.println(s"[perfbench] $q rows=${d.rows} digest=${d.sum}L")
      res.check(s"operator $q output", pinned.get(q).contains((d.rows, d.sum)),
        s"rows=${d.rows} digest=${d.sum}, pinned ${pinned.get(q)}")
      sc.setJobGroup(s"perfbench-warm-$q", q)
      try qs(q)(root, dataDir).write.mode("overwrite").format("noop").save()
      finally sc.clearJobGroup()
    } catch {
      case e: Exception => res.check(s"operator $q output", ok = false, e.toString)
    }, s"perfbench-check-$q"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    root.catalog.clearCache()
    System.gc()
    res.attemptedExtra += names.size
    Main.phase("check and warm-up passes done")

    val cg0 = Main.codegenNs()
    val startMs = Main.nowMs()
    res.windowStartNs = System.nanoTime()
    passes.indices.foreach { p =>
      passes(p).foreach { q =>
        val group = s"perfbench-op-$q-$p"
        val op = try {
          val (t0, t1) = runOnce(q, group)
          Op("operators", q, t0, t1, ok = true, id = group)
        } catch {
          case e: Exception =>
            res.check(s"operator $q pass $p", ok = false, e.toString)
            val t = System.nanoTime()
            Op("operators", q, t, t, ok = false, id = group)
        }
        res.ops.add(op)
        Trace.add(group, s"operator.$q", op.startNs, op.endNs)
      }
    }
    res.windowEndNs = System.nanoTime()
    val endMs = Main.nowMs()
    val cg = Main.codegenNs() - cg0

    if (Trace.on) {
      Thread.sleep(500)
      val ops = res.ops.asScala.toSeq
      val L = res.layers
      val recs = Main.catalystLayers(res, startMs, endMs, cg, ops.size)
      stats.foreach { st =>
        Main.sparkLayers(res, st, cores, startMs, endMs, ops.size)
        val jobs = st.jobs.values.asScala.toSeq
        val stages = st.stages.values.asScala.toSeq
        names.foreach { q =>
          val mine = ops.filter(_.kind == q)
          val groups = mine.map(_.id).toSet
          L(s"operators.${q}_s") = Main.median(mine.map(_.ms / 1e3))
          L(s"operators.$q.jobs") =
            jobs.count(j => groups.contains(j.group)).toDouble / math.max(1, mine.size)
          L(s"operators.$q.shuffle_mb") = stages.filter(s => groups.contains(s.group))
            .map(_.shuffleWrite).sum / 1e6 / math.max(1, mine.size)
          val wallMs = mine.map(o => (Main.nsToEpochMs(o.startNs), Main.nsToEpochMs(o.endNs)))
          val peak = recs.filter(r => wallMs.exists { case (a, b) =>
            r.endMs >= a - 50 && r.endMs <= b + 50 }).map(_.maxNodeRows)
          L(s"operators.$q.rows_peak_per_output") =
            (peak :+ 0L).max.toDouble / math.max(1L, outRows.getOrDefault(q, 0L))
        }
      }
    }
  }
}
