package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.engine.{Engine, SocketServer}

/** served_ingest_dashboard: one writer appends, deletes and compacts
  * through `execute_update` while three readers issue short dashboard
  * statements against the same `graft.catalog.MetaCatalog` table until the
  * writer is done. The writer's operations are fixed by the seed, so the
  * expected table at every snapshot version is known in advance and every
  * reader result is checked against the versions that were live while it
  * ran. */
final class IngestDashboard(root: SparkSession, plan: JsonNode, res: RunResult,
    tmp: Path, stats: Option[SparkStats], cores: Int) {

  private type Row4 = (Int, Long, String) // grp, amount, tag (keyed by id)
  private type State = TreeMap[Long, Row4]

  private final case class WriterOp(kind: String, sql: String,
      rows: Seq[(Long, Row4)], grp: Int, amountLt: Long)

  private val catalog = plan.get("catalog").asText
  private val table = plan.get("table").asText
  private val fq = s"$catalog.$table"
  private val readerSql = plan.get("reader_sql")
  private def rsql(k: String) = readerSql.get(k).asText

  private val ops: Vector[WriterOp] = plan.get("writer").asScala.toVector.map { o =>
    val rows = Option(o.get("rows")).map(_.asScala.toVector.map { r =>
      r.get(0).asLong -> ((r.get(1).asInt, r.get(2).asLong, r.get(3).asText))
    }).getOrElse(Vector.empty)
    WriterOp(o.get("op").asText, o.get("sql").asText, rows,
      Option(o.get("grp")).map(_.asInt).getOrElse(-1),
      Option(o.get("amount_lt")).map(_.asLong).getOrElse(0L))
  }

  /** states(v) = expected table contents at snapshot version v: version 1
    * is the empty table CREATE commits, op k commits version k + 1. */
  private val states: Vector[State] = ops.scanLeft(TreeMap.empty[Long, Row4]) {
    case (s, op) => op.kind match {
      case "insert" => s ++ op.rows
      case "delete" => s.filterNot { case (_, (g, a, _)) =>
        g == op.grp && a < op.amountLt }
      case _ => s
    }
  }.prepended(TreeMap.empty[Long, Row4])

  private val committed = new AtomicInteger(1)
  @volatile private var writerDone = false
  private val retries = new AtomicInteger(0)
  private val compactWindows =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val readerReplay =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String], Stack.Timing)]()

  private def canonRows(b: Array[Byte]): Vector[Seq[String]] =
    Check.arrowRows(b).map(_.map(Check.canon))

  private def pointRows(s: State, key: Long): Vector[Seq[String]] =
    s.get(key).map { case (g, a, t) =>
      Vector(Seq(key.toString, g.toString, a.toString, t)) }.getOrElse(Vector.empty)
  private def groupRows(s: State): Vector[Seq[String]] =
    s.values.groupBy(_._1).toVector.sortBy(_._1).map { case (g, rs) =>
      Seq(g.toString, rs.size.toString, rs.map(_._2).sum.toString) }
  private def countRows(s: State) = Vector(Seq(s.size.toString))
  private def versionRows(s: State) = Vector(Seq(s.size.toString,
    if (s.isEmpty) Check.canon(null) else s.values.map(_._2).sum.toString))

  /** A result is correct when it equals the expected result at some
    * version live during the statement: from the version committed when it
    * started to one past the version acknowledged when it ended (a commit
    * becomes visible just before the writer hears back). */
  private def inWindow(got: Vector[Seq[String]], lo: Int, hi: Int)(
      f: State => Vector[Seq[String]]): Boolean =
    (lo to math.min(hi + 1, states.size - 1)).exists(v => f(states(v)) == got)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(): Unit = {
    val seconds = plan.get("seconds").asDouble
    var setupClient: Client = null
    val stack = Stack.upRepeated(res, 4) { r =>
      val engine = new Engine(root)
      val st = new Stack(engine, new SocketServer(engine, 0))
      st.server.start()
      if (setupClient != null) setupClient.close()
      setupClient = new Client(st.port)
      val tok = setupClient.handshake()
      setupClient.executeUpdate("setup", tok,
        s"CREATE NAMESPACE IF NOT EXISTS $catalog.${table.takeWhile(_ != '.')}")
      setupClient.executeUpdate("setup", tok,
        plan.get("create_sql").asText.replace(fq, s"${fq}_setup$r"))
      st
    }
    setupClient.close()
    Main.phase("setup done")
    warmUp(stack.port)
    Main.phase("warm-up done")
    val c0 = new Client(stack.port)
    c0.executeUpdate("setup", c0.handshake(), plan.get("create_sql").asText)
    c0.close()

    val cg0 = Main.codegenNs()
    val startMs = Main.nowMs()
    res.windowStartNs = System.nanoTime()
    val writer = new Thread(() => writerLoop(stack.port), "perfbench-writer")
    val readers = plan.get("readers").asScala.toVector.map { r =>
      new Thread(() => readerLoop(stack.port, r), "perfbench-" + r.get("name").asText)
    }
    writer.start(); readers.foreach(_.start())
    // the window is the writer's fixed work; reader statements still in
    // flight when it ends are checked but not counted in it
    writer.join()
    res.windowEndNs = System.nanoTime()
    val endMs = Main.nowMs()
    writerDone = true
    readers.foreach(_.join())
    val cg = Main.codegenNs() - cg0

    Main.phase("window done")
    finalChecks()
    if (Trace.on) traceLayers(stack, seconds, startMs, endMs, cg)
    stack.stop()
  }

  /** Untimed: the workload's shape on a warm-up table — a writer and the
    * readers, concurrently, each statement at least once — so the measured
    * window does not start on cold code. */
  private def warmUp(port: Int): Unit = {
    val warm = s"${fq}_warm"
    def session[T](f: (Client, String) => T): T = {
      val c = new Client(port)
      val tok = c.handshake()
      try f(c, tok) finally { c.closeSession(tok); c.close() }
    }
    session((c, tok) =>
      c.executeUpdate("warm", tok, plan.get("create_sql").asText.replace(fq, warm)))
    val writer = new Thread(() => session { (c, tok) =>
      Seq("insert" -> 3, "delete" -> 1, "compact" -> 1).foreach { case (kind, n) =>
        ops.filter(_.kind == kind).take(n).foreach(o => c.executeUpdate("warm", tok,
          o.sql.replace(fq, warm).replace(s"'$table'", s"'${table}_warm'")))
      }
    })
    val readers = (1 to 3).map(_ => new Thread(() => session { (c, tok) =>
      Seq("point", "groupby", "count", "version").foreach { k =>
        val h = c.prepare(tok, rsql(k).replace(fq, warm).replace("{v}", "2"))
        if (k == "point") c.bind(h, Seq("1"))
        c.execute(h); c.fetchStream(h); c.closeStatement(h)
      }
      c.metadata("warm", "get_tables", tok)
      c.metadata("warm", "get_columns", tok)
    }))
    (writer +: readers).foreach(_.start())
    (writer +: readers).foreach(_.join())
  }

  private def writerLoop(port: Int): Unit = {
    val c = new Client(port)
    val tok = c.handshake()
    ops.zipWithIndex.foreach { case (op, k) =>
      val t0 = System.nanoTime()
      var ok = try { c.executeUpdate("writer", tok, op.sql); true }
      catch { case e: Exception =>
        res.check(s"writer op ${k + 1} ${op.kind}", ok = false, e.toString); false }
      if (!ok) { // one retry; the failed attempt stays counted
        retries.incrementAndGet()
        ok = try { c.executeUpdate("writer", tok, op.sql); true }
        catch { case _: Exception => false }
      }
      val t1 = System.nanoTime()
      if (op.kind == "compact") compactWindows.add((t0, t1))
      if (ok) committed.set(k + 2)
      res.ops.add(Op("writer", op.kind, t0, t1, ok,
        bytes = op.rows.map { case (_, (_, _, t)) => 20L + t.length }.sum))
    }
    c.closeSession(tok)
    c.close()
  }

  private def readerLoop(port: Int, spec: JsonNode): Unit = {
    val name = spec.get("name").asText
    val c = new Client(port)
    val tok = c.handshake()
    val point = c.prepare(tok, rsql("point"))
    val sequence = spec.get("sequence").asScala.toVector
    Iterator.continually(sequence).flatten.takeWhile(_ => !writerDone).foreach { s =>
      val kind = s.get("kind").asText
      val lo = committed.get()
      val t = new Stack.Timing
      val t0 = System.nanoTime()
      var ok = true; var detail = ""
      var sqlRun = ""; var params = Seq.empty[String]
      try {
        val got: Vector[Seq[String]] = kind match {
          case "point" =>
            val key = s.get("key").asText
            sqlRun = rsql("point"); params = Seq(key)
            c.bind(point, params)
            val t1 = System.nanoTime()
            t.rows = c.execute(point)
            val t2 = System.nanoTime()
            val (b, f) = c.fetchStream(point)
            t.bind = t1 - t0; t.execute = t2 - t1; t.fetch = System.nanoTime() - t2
            t.bytes = b.length; t.frames = f
            canonRows(b)
          case "get_tables" | "get_columns" =>
            val (n, b) = c.metadata(name, kind, tok)
            t.bytes = b.length
            val rows = canonRows(b)
            if (rows.size != n) { ok = false; detail = s"$n rows announced, ${rows.size} decoded" }
            rows
          case _ =>
            sqlRun =
              if (kind == "version")
                rsql("version").replace("{v}",
                  (1 + s.get("ordinal").asLong % lo).toString)
              else rsql(kind)
            val h = c.prepare(tok, sqlRun)
            val t1 = System.nanoTime()
            t.rows = c.execute(h)
            val t2 = System.nanoTime()
            val (b, f) = c.fetchStream(h)
            val t3 = System.nanoTime()
            c.closeStatement(h)
            t.prepare = t1 - t0; t.execute = t2 - t1; t.fetch = t3 - t2
            t.close = System.nanoTime() - t3
            t.bytes = b.length; t.frames = f
            Trace.add(h, "stmt", t0, System.nanoTime())
            canonRows(b)
        }
        val t1 = System.nanoTime()
        val hi = committed.get()
        if (ok) ok = kind match {
          case "point" => inWindow(got, lo, hi)(pointRows(_, s.get("key").asLong))
          case "groupby" => inWindow(got, lo, hi)(groupRows)
          case "count" => inWindow(got, lo, hi)(countRows)
          case "version" =>
            val v = (1 + s.get("ordinal").asLong % lo).toInt
            versionRows(states(v)) == got
          case _ => true
        }
        if (!ok && detail.isEmpty) detail = s"unexpected result ${got.take(3)} (versions $lo..$hi)"
        // the check above ran after t1 and is not part of the latency
        res.ops.add(Op(name, kind, t0, t1, ok, t.bytes, rows = t.rows))
        if (Trace.on && sqlRun.nonEmpty)
          readerReplay.add((sqlRun, params, t))
      } catch {
        case e: Exception =>
          ok = false; detail = e.toString
          res.ops.add(Op(name, kind, t0, System.nanoTime(), ok = false))
      }
      if (!ok) res.check(s"$name $kind", ok = false, detail)
    }
    c.closeStatement(point)
    c.closeSession(tok)
    c.close()
  }

  /** The table ends holding exactly the rows the writer had acknowledged,
    * each once, and its snapshot log is contiguous. */
  private def finalChecks(): Unit = {
    val last = states.size - 1
    val rows = root.sql(s"SELECT id, grp, amount, tag FROM $fq").collect()
    val ids = rows.map(_.getLong(0))
    res.check("final rows unique", ids.distinct.length == ids.length,
      s"${ids.length - ids.distinct.length} duplicated ids")
    val got = TreeMap(rows.map(r => r.getLong(0) ->
      ((r.getInt(1), r.getLong(2), r.getString(3)))): _*)
    res.check("final rows = acknowledged rows", got == states(last),
      s"${got.size} rows, expected ${states(last).size}")
    val versions = root.sql(s"SELECT version FROM $fq.snapshots ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    res.check("snapshot versions contiguous",
      versions == (1L to last.toLong), s"versions ${versions.take(5)}..${versions.takeRight(3)}")
    res.attemptedExtra += 3
  }

  private def traceLayers(stack: Stack, seconds: Double, startMs: Long,
      endMs: Long, codegen: Long): Unit = {
    val L = res.layers
    val w = res.ops.asScala.filter(_.client == "writer").toSeq
    def med(kind: String) = Main.median(w.filter(_.kind == kind).map(_.ms))
    L("catalog.commit_ms") = med("insert")
    L("catalog.delete_ms") = med("delete")
    L("catalog.compact_ms") = med("compact")
    val snaps = root.sql(s"SELECT version, n_files, total_bytes FROM $fq.snapshots " +
      "ORDER BY version").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val deltas = snaps.sliding(2).collect { case Array(a, b) => (b._1, b._3 - a._3) }.toMap
    val insertVersions = ops.zipWithIndex.filter(_._1.kind == "insert").map(_._2 + 2L)
    val compactVersions = ops.zipWithIndex.filter(_._1.kind == "compact").map(_._2 + 2L)
    L("catalog.bytes_written_per_commit") =
      Main.median(insertVersions.flatMap(deltas.get).map(_.toDouble))
    L("catalog.bytes_rewritten") =
      compactVersions.flatMap(v => snaps.find(_._1 == v)).map(_._3.toDouble).sum
    L("catalog.snapshots") = snaps.length.toDouble
    L("catalog.files_live") = snaps.lastOption.map(_._2.toDouble).getOrElse(0.0)
    L("catalog.commit_retries") = retries.get().toDouble
    val userBytes = w.map(_.bytes).sum.toDouble
    L("catalog.bytes_stored_per_user_byte") =
      dirBytes(tmp.resolve("wh").resolve(table.takeWhile(_ != '.'))
        .resolve(table.dropWhile(_ != '.').drop(1))) / math.max(1.0, userBytes)
    val wins = compactWindows.asScala.toSeq
    val rd = res.ops.asScala.filter(o => o.client.startsWith("reader") && o.ok).toSeq
    val (during, outside) = rd.partition(o =>
      wins.exists { case (a, b) => o.startNs < b && o.endNs > a })
    L("catalog.read_stall_ms") =
      if (during.isEmpty) 0.0 else Main.median(during.map(_.ms)) - Main.median(outside.map(_.ms))
    Thread.sleep(500)
    val recs = Main.catalystLayers(res, startMs, endMs, codegen,
      res.ops.asScala.count(_.client.startsWith("reader")))
    L("catalog.files_read_per_scan") =
      Main.median(recs.filter(_.scanPartitions > 0).map(_.scanPartitions.toDouble))
    stats.foreach(st => Main.sparkLayers(res, st, cores, startMs, endMs,
      res.ops.size))
    val ts = readerReplay.asScala.toSeq
    Stack.wireLayers(res, ts.map(_._3))
    Stack.replay(res, stack.engine, stack.port, ts.map { case (q, p, _) => (q, p) },
      seconds / 3, stats)
  }
}
