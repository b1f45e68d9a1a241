package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.engine.{Engine, SocketServer}

/** A served stack: engine + socket server on an ephemeral loopback port. */
final class Stack(val engine: Engine, val server: SocketServer) {
  def port: Int = server.port
  def stop(): Unit = server.stop()
}

object Stack {
  /** Bring the stack up `reps` times and keep the last one. Repetition 0
    * is timed from JVM start (it pays Spark start-up and class loading;
    * reported as `jvm.cold_start_s`); the later ones time the bring-up
    * alone and `setup_s` is their median. */
  def upRepeated(res: RunResult, reps: Int)(bringUp: Int => Stack): Stack = {
    var kept: Stack = null
    (0 until reps).foreach { r =>
      if (kept != null) kept.stop()
      val t0 = System.nanoTime()
      kept = bringUp(r)
      res.setupS += (if (r == 0) Main.jvmUptimeS() else (System.nanoTime() - t0) / 1e9)
    }
    kept
  }

  def stmtOfGroup(g: String): String =
    g.stripPrefix("graft-stmt-").reverse.dropWhile(_ != '-').drop(1).reverse

  /** Statement timings seen by the client (wire) and by a direct engine
    * replay of the same statement, in nanoseconds. */
  final class Timing {
    var prepare = 0L; var bind = 0L; var execute = 0L; var fetch = 0L
    var refetch = 0L; var close = 0L; var bytes = 0L; var rows = 0L
    var frames = 0
    def total: Long = prepare + bind + execute + fetch + close
  }

  /** One full served lifecycle (prepare, bind, execute, drain, close)
    * through `client`, timed per verb. */
  def served(client: Client, token: String, sql: String,
      params: Seq[String]): Timing = {
    val t = new Timing
    val t0 = System.nanoTime()
    val h = client.prepare(token, sql)
    val t1 = System.nanoTime()
    if (params.nonEmpty) client.bind(h, params)
    val t2 = System.nanoTime()
    t.rows = client.execute(h)
    val t3 = System.nanoTime()
    val (b, _) = client.fetchStream(h)
    val t4 = System.nanoTime()
    client.closeStatement(h)
    val t5 = System.nanoTime()
    t.prepare = t1 - t0; t.bind = t2 - t1; t.execute = t3 - t2
    t.fetch = t4 - t3; t.close = t5 - t4; t.bytes = b.length
    t
  }

  /** Replay statements in pairs: once served over the wire, then at once
    * through `Engine`'s public methods directly, so both sides run in the
    * same JVM state. The direct side gives the engine and arrow layer
    * metrics; the difference of the two is the wire overhead. */
  def replay(res: RunResult, engine: Engine, port: Int,
      stmts: Seq[(String, Seq[String])], budgetS: Double,
      stats: Option[SparkStats]): Unit = {
    val hs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val tok = engine.handshake("admin", "password").toOption.get
      Trace.add("replay", "engine.handshake", t0, System.nanoTime())
      (tok, System.nanoTime() - t0)
    }
    val token = hs.last._1
    val client = new Client(port)
    val clientToken = client.handshake()
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    val direct = mutable.ArrayBuffer.empty[(Timing, Timing, String)]
    val it = stmts.iterator
    while (it.hasNext && (direct.size < 3 || System.nanoTime() < deadline)) {
      val (sql, params) = it.next()
      // untimed first run: both timed sides then find the plan's generated
      // code cached, so neither pays the compile the other skips
      served(client, clientToken, sql, params)
      val wire = served(client, clientToken, sql, params)
      val d = new Timing
      val t0 = System.nanoTime()
      val (h, _) = engine.prepare(token, sql)
      val t1 = System.nanoTime()
      if (params.nonEmpty) engine.bind(h, params)
      val t2 = System.nanoTime()
      d.rows = engine.execute(h)
      val t3 = System.nanoTime()
      val (bytes, _) = engine.fetchArrowFramed(h)
      val t4 = System.nanoTime()
      engine.fetchArrowFramed(h)
      val t5 = System.nanoTime()
      engine.closeStatement(h)
      val t6 = System.nanoTime()
      d.prepare = t1 - t0; d.bind = t2 - t1; d.execute = t3 - t2
      d.fetch = t4 - t3; d.refetch = t5 - t4; d.close = t6 - t5
      d.bytes = bytes.length
      Trace.add(h, "engine.stmt", t0, t6)
      Trace.add(h, "engine.prepare", t0, t1, "engine.stmt")
      Trace.add(h, "engine.execute", t2, t3, "engine.stmt")
      Trace.add(h, "arrow.encode", t3, t4, "engine.stmt")
      Trace.add(h, "engine.fetch_cached", t4, t5, "engine.stmt")
      Trace.add(h, "engine.close", t5, t6, "engine.stmt")
      direct += ((d, wire, h))
    }
    client.closeSession(clientToken)
    client.close()
    engine.closeSession(token)
    Thread.sleep(300) // let the listener bus deliver the replay's job ends
    val L = res.layers
    def med(f: Timing => Long) = Main.median(direct.map(x => f(x._1) / 1e6))
    L("engine.handshake_ms") = Main.median(hs.map(_._2 / 1e6))
    L("engine.prepare_ms") = med(_.prepare)
    L("engine.execute_ms") = med(_.execute)
    L("engine.fetch_encode_ms") = med(_.fetch)
    L("engine.fetch_cached_ms") = med(_.refetch)
    L("engine.close_ms") = med(_.close)
    L("engine.collect_ms") = stats.map { st =>
      val byStmt = st.jobs.values.asScala.groupBy(j => stmtOfGroup(j.group))
      Main.median(direct.map { case (d, _, h) =>
        val wall = byStmt.getOrElse(h, Nil).filter(_.endMs > 0)
          .map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1)
        var covered = 0L; var cur = Long.MinValue
        wall.foreach { case (a, b) =>
          val lo = math.max(a, cur); if (b > lo) { covered += b - lo; cur = b }
        }
        math.max(0.0, d.execute / 1e6 - covered)
      })
    }.getOrElse(0.0)
    L("wire.overhead_ms") = Main.median(direct.map { case (d, w, _) =>
      (w.total - d.total) / 1e6 })
    val encNs = direct.map(_._1.fetch).sum
    val encBytes = direct.map(_._1.bytes).sum
    L("arrow.encode_ms") = med(_.fetch)
    L("arrow.encode_mb_per_s") = if (encNs > 0) encBytes / 1e6 / (encNs / 1e9) else 0.0
    L("arrow.bytes_per_row") = encBytes.toDouble / math.max(1L, direct.map(_._1.rows).sum)
    L("replay.statements") = direct.size.toDouble
  }

  /** Wire-side layer metrics from the client's own timings. */
  def wireLayers(res: RunResult, ts: Seq[Timing]): Unit = {
    val L = res.layers
    def med(f: Timing => Long) = Main.median(ts.filter(f(_) > 0).map(f(_) / 1e6))
    L("wire.prepare_ms") = med(_.prepare)
    L("wire.execute_ms") = med(_.execute)
    L("wire.fetch_ms") = med(_.fetch)
    L("wire.bytes_per_stmt") = Main.mean(ts.map(_.bytes.toDouble))
    L("wire.frames_per_fetch") = Main.mean(ts.map(_.frames.toDouble))
    val wall = ts.map(t => t.total).sum
    L("wire.fetch_mb_per_s") = if (wall > 0) ts.map(_.bytes).sum / 1e6 / (wall / 1e9) else 0.0
  }
}
