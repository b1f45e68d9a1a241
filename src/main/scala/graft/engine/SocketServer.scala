package graft.engine

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, IOException}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** TCP transport for [[Engine]] — the network face of the reference's
  * Flight SQL service on 0.0.0.0:31337
  * (iceberg-datafusion-arrow-flight-sql/src/main.rs:43, handshake
  * lib.rs:198-259, DoGet lib.rs:261-296). gRPC itself is out of scope
  * (SURVEY §0: Spark replaces the transport; `/opt/spark/jars` ships
  * arrow-vector/memory but no arrow-flight), so the wire protocol is
  * length-prefixed JSON frames carrying the SAME verb set and statement
  * lifecycle as the reference — handshake → prepare → bind → execute →
  * fetch_arrow → close — with Arrow IPC streams as the result payload:
  * byte-for-byte the batches a Flight `DoGet` would carry (lib.rs:288-295).
  *
  * Framing: 4-byte big-endian length + UTF-8 JSON body, both directions.
  * A `fetch_arrow` response is its JSON header frame (carrying the payload
  * size) followed by ONE raw frame of Arrow IPC bytes. A request frame
  * longer than [[SocketServer.MaxRequestBytes]] (or with a negative
  * length) is answered with an `ok: false` frame and the connection is
  * closed, since the stream is out of sync; a body that is not JSON is
  * answered with an `ok: false` frame and the connection stays open.
  *
  * Verbs (all responses carry `ok: Boolean`, failures add `error`):
  *  - handshake {user, password}        → {token}        (lib.rs:223-240)
  *  - prepare   {token, sql}            → {handle, schema (DDL)}
  *  - bind      {handle, params: [str]} → {}             (lib.rs:613-622)
  *  - execute   {handle}                → {rows}
  *  - execute_update {token, sql}       → {rows: -1}     (lib.rs:645-654)
  *  - fetch_arrow {handle}              → {bytes} + raw Arrow IPC frame
  *  - fetch_arrow_stream {handle, max_frames?, offset_frame?}
  *                                      → {bytes, frames, total_frames,
  *                next_frame} + one frame per IPC message (schema, then
  *                each record batch; EOS rides with the last) —
  *                concatenation = the fetch_arrow stream, the per-batch
  *                FlightData shape of DoGet (lib.rs:288-295). max_frames
  *                caps the frames per response; resume from next_frame
  *                via offset_frame (-1 = drained) — Flight's
  *                ticket-per-endpoint flow control (lib.rs:351-361)
  *  - get_catalogs {token}              → {rows, bytes} + Arrow IPC frame
  *  - get_db_schemas {token, catalog?, db_schema_pattern?}
  *                                      → {rows, bytes} + Arrow IPC frame
  *  - get_tables {token, catalog?, db_schema_pattern?, table_pattern?,
  *                table_types?: [str]}  → {rows, bytes} + Arrow IPC frame
  *  - get_columns {token, catalog?, db_schema_pattern?, table_pattern?,
  *                column_pattern?}      → {rows, bytes} + Arrow IPC frame
  *  - close_statement {handle} / close_session {token}   → {}
  *
  * The three get_* verbs are Flight SQL's get_flight_info metadata
  * commands (CommandGetCatalogs/DbSchemas/Tables) served over the
  * engine's information_schema snapshot — the reference leaves those
  * RPCs unimplemented and clients introspect via information_schema SQL
  * (lib.rs:92, lib.rs:382-482); here a fresh client gets the same
  * listing as Arrow batches without knowing the SQL dialect. Patterns
  * are SQL LIKE patterns, `catalog` filters exactly (Flight SQL filter
  * semantics).
  *
  * Connections are handled on daemon threads (one per client, like tonic's
  * per-connection tasks); all statement/session state lives in [[Engine]],
  * so concurrent clients share nothing but the SparkContext.
  */
final class SocketServer(engine: Engine, requestedPort: Int = 31337,
    tlsDomain: Option[String] = None,
    gcTtlMillis: Long = SocketServer.clampTtl(
      sys.env.get("GRAFT_STATEMENT_TTL_MS"), 3600000L),
    sessionTtlMillis: Long = SocketServer.clampTtl(
      sys.env.get("GRAFT_SESSION_TTL_MS"), 86400000L)) {

  private val mapper = new ObjectMapper()
  @volatile private var serverSocket: ServerSocket = _
  @volatile private var running = false

  /** Bound port (differs from requested when 0 = ephemeral, for tests). */
  def port: Int = serverSocket.getLocalPort

  def start(): Unit = {
    // same optional self-signed TLS as the reference's TLS_DOMAIN path
    // (sql main.rs:83-94): the framing/verbs are identical either way,
    // only the socket factory changes.
    serverSocket = tlsDomain match {
      case Some(domain) => Tls.serverSocket(domain, requestedPort)
      case None =>
        new ServerSocket(requestedPort, 50, InetAddress.getByName("0.0.0.0"))
    }
    running = true
    val t = new Thread(() => acceptLoop(), "graft-server-accept")
    t.setDaemon(true)
    t.start()
    // Periodic statement GC: a long-lived server must not rely on the
    // 1024-statement eviction cap alone — abandoned handles (client died
    // between prepare and close) pin their cached results in driver
    // memory until TTL. Sweep cadence is a fraction of the TTL so a
    // handle outlives its last touch by at most ~1.25×TTL.
    // The session sweep rides the same thread: a dead client's session
    // is never close_session'd (a socket disconnect closes nothing), so
    // without it the sessions map — and any operator-cache blocks its
    // re-prepared statements pin — grows forever.
    val sweeper = new Thread(() => {
      val interval = math.max(10L, math.min(gcTtlMillis / 4, 60000L))
      while (running) {
        try Thread.sleep(interval) catch { case _: InterruptedException => () }
        if (running) try {
          engine.gc(gcTtlMillis)
          engine.gcSessions(sessionTtlMillis)
        } catch { case _: Throwable => () }
      }
    }, "graft-server-gc")
    sweeper.setDaemon(true)
    sweeper.start()
  }

  def stop(): Unit = {
    running = false
    if (serverSocket != null) serverSocket.close()
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = serverSocket.accept()
        val t = new Thread(() => handle(sock), "graft-server-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException if !running => () // closed by stop()
        case _: Throwable if running => ()        // keep accepting
      }
    }

  /** Serves one connection until the client leaves. Responses go out
    * through one buffer and are flushed once each, with `TCP_NODELAY`
    * set: a frame split over two writes would otherwise hold its second
    * write (Nagle) until the client's delayed ACK of the first, ~40 ms
    * per verb. A socket that fails on either side (the client left
    * between frames, mid-body, or before its response was written) ends
    * the connection quietly. */
  private def handle(sock: Socket): Unit =
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(
        new BufferedInputStream(sock.getInputStream, SocketServer.BufferBytes))
      val out = new DataOutputStream(
        new BufferedOutputStream(sock.getOutputStream, SocketServer.BufferBytes))
      var open = true
      while (open) {
        val len = in.readInt()
        if (len < 0 || len > SocketServer.MaxRequestBytes) {
          // the body was not read, so the next frame boundary is unknown
          writeError(out, s"request frame length $len is outside " +
            s"0..${SocketServer.MaxRequestBytes}")
          open = false
        } else {
          val buf = new Array[Byte](len)
          in.readFully(buf)
          val req =
            try Some(mapper.readTree(new String(buf, UTF_8)))
            catch {
              case e: com.fasterxml.jackson.core.JsonProcessingException =>
                writeError(out, s"request is not JSON: ${e.getOriginalMessage}")
                None
            }
          req.foreach(respond(_, out))
        }
      }
    } catch {
      case _: IOException => () // EOF, reset, broken pipe, TLS failure
    } finally sock.close()

  /** Appends one frame to `out` without flushing: the response's last
    * frame is followed by the one flush in [[respond]] / [[writeError]]. */
  private def writeFrame(out: DataOutputStream, bytes: Array[Byte],
      from: Int, until: Int): Unit = {
    out.writeInt(until - from)
    out.write(bytes, from, until - from)
  }

  private def writeError(out: DataOutputStream, error: String): Unit = {
    val b = mapper.createObjectNode().put("ok", false)
      .put("error", error).toString.getBytes(UTF_8)
    writeFrame(out, b, 0, b.length)
    out.flush()
  }

  /** Answers one request: its JSON header frame, then the payload frames
    * (`cuts` are end offsets into `payload`, each closing one frame),
    * flushed once. */
  private def respond(req: JsonNode, out: DataOutputStream): Unit = {
    val res = mapper.createObjectNode()
    var payload: Array[Byte] = null
    var from = 0
    var cuts: Seq[Int] = Nil
    def text(field: String): String = {
      val n = req.get(field)
      require(n != null, s"missing field: $field")
      n.asText()
    }
    try {
      text("cmd") match {
        case "handshake" =>
          engine.handshake(text("user"), text("password")) match {
            case Right(t) => res.put("ok", true).put("token", t)
            case Left(e)  => res.put("ok", false).put("error", e)
          }
        case "prepare" =>
          val (h, schema) = engine.prepare(text("token"), text("sql"))
          res.put("ok", true).put("handle", h).put("schema", schema.toDDL)
        case "bind" =>
          val arr = req.get("params")
          val params = (0 until arr.size()).map(i => arr.get(i).asText())
          engine.bind(text("handle"), params)
          res.put("ok", true)
        case "execute" =>
          res.put("ok", true).put("rows", engine.execute(text("handle")))
        case "execute_update" =>
          res.put("ok", true)
            .put("rows", engine.executeUpdate(text("token"), text("sql")))
        case "fetch_arrow" =>
          payload = engine.fetchArrow(text("handle"))
          cuts = Seq(payload.length)
          res.put("ok", true).put("bytes", payload.length)
        case "fetch_arrow_stream" =>
          // Streamed variant of fetch_arrow — one frame per IPC message
          // (schema, then each record batch; EOS rides with the last),
          // the shape a Flight DoGet carries as successive FlightData
          // (lib.rs:288-295). Frames slice the CACHED encoding zero-copy;
          // concatenating them reassembles the exact fetch_arrow stream.
          //
          // Flow control (Flight's ticket-per-endpoint shape,
          // lib.rs:351-361): optional `max_frames` caps the frames THIS
          // response carries, `offset_frame` resumes at a frame index —
          // each call is an independent ticket into the same cached
          // encoding, so a slow client paces itself verb-by-verb
          // instead of backpressuring a server writing everything
          // eagerly into TCP. Header: `frames` (this response),
          // `total_frames`, `next_frame` (resume index; -1 = drained).
          // Concatenating every frame across calls in order rebuilds
          // the exact fetch_arrow stream.
          val (bytes, offsets) = engine.fetchArrowFramed(text("handle"))
          val total = offsets.length
          val start = math.min(math.max(
            Option(req.get("offset_frame")).map(_.asInt()).getOrElse(0), 0),
            total)
          val maxF = Option(req.get("max_frames")).map(_.asInt())
            .filter(_ > 0).getOrElse(total)
          val end = math.min(start + maxF, total)
          val lo = if (start == 0) 0 else offsets(start - 1)
          val hi = if (end == 0) 0 else offsets(end - 1)
          res.put("ok", true).put("bytes", hi - lo)
            .put("frames", end - start).put("total_frames", total)
            .put("next_frame", if (end < total) end else -1)
          payload = bytes
          from = lo
          cuts = offsets.slice(start, end).toSeq
        case cmd @ ("get_catalogs" | "get_db_schemas" | "get_tables" |
            "get_columns") =>
          val token = text("token")
          def opt(f: String): Option[String] =
            Option(req.get(f)).map(_.asText()).filter(_.nonEmpty)
          val r = cmd match {
            case "get_catalogs" => engine.getCatalogs(token)
            case "get_db_schemas" =>
              engine.getDbSchemas(token, opt("catalog"),
                opt("db_schema_pattern"))
            case "get_columns" =>
              engine.getColumns(token, opt("catalog"),
                opt("db_schema_pattern"), opt("table_pattern"),
                opt("column_pattern"))
            case _ =>
              val types = Option(req.get("table_types"))
                .map(a => (0 until a.size()).map(a.get(_).asText()).toSeq)
                .getOrElse(Nil)
              engine.getTables(token, opt("catalog"),
                opt("db_schema_pattern"), opt("table_pattern"), types)
          }
          payload = r.ipc
          cuts = Seq(payload.length)
          res.put("ok", true).put("rows", r.rowCount)
            .put("bytes", payload.length)
        case "cancel_query" =>
          // Flight SQL CancelQuery (the reference's
          // do_action_cancel_query is Status::unimplemented,
          // lib.rs:781-787): abort the statement's running Spark jobs
          // from ANOTHER connection; the handle stays valid.
          engine.cancelQuery(text("handle"))
          res.put("ok", true)
        case "close_statement" =>
          engine.closeStatement(text("handle"))
          res.put("ok", true)
        case "close_session" =>
          engine.closeSession(text("token"))
          res.put("ok", true)
        case other =>
          res.put("ok", false).put("error", s"unknown command: $other")
      }
    } catch {
      case e: Throwable =>
        res.removeAll()
        res.put("ok", false)
          .put("error", Option(e.getMessage).getOrElse(e.getClass.getName))
        cuts = Nil
    }
    val header = res.toString.getBytes(UTF_8)
    writeFrame(out, header, 0, header.length)
    cuts.foreach { until =>
      writeFrame(out, payload, from, until)
      from = until
    }
    out.flush()
  }
}

object SocketServer {
  /** Largest request frame the server reads. Requests carry SQL text and
    * a few fields, so 16 MiB is far above any real one; without a bound a
    * client's 4-byte header alone would choose the server's allocation. */
  val MaxRequestBytes: Int = 16 << 20

  /** Size of each connection's read and write buffer. */
  private val BufferBytes = 1 << 16

  /** Env-driven TTLs are clamped to >= 1s with a parse-failure fallback,
    * like GRAFT_MAX_STATEMENTS: an unvalidated `0`/negative value would
    * make the sweeper run every 10 ms with `cutoff >= now` — collecting
    * statements actively between execute and fetch, i.e. an env typo
    * renders the server unusable — and a non-numeric value would throw
    * at construction. */
  private[graft] def clampTtl(raw: Option[String], default: Long): Long =
    raw.flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .map(math.max(1000L, _)).getOrElse(default)
}

/** Server binary — the analogue of the reference's `main.rs:41-100`:
  * boot Spark, wire the env-driven object store (inside
  * [[Engine.handshake]]), listen on GRAFT_PORT (default 31337 — the
  * reference's port, main.rs:43) until killed. Optional argv(0) = a
  * testdata dir registered as GLOBAL temp views (global_temp.<table>) so
  * every client session sees the tables. */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // long-lived service: many distinct statements overflow the
      // 100-entry generated-class cache default — size for a service
      // workload
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption.foreach { sfDir =>
      graft.Tables.register(spark, sfDir)
      graft.Tables.names.foreach { t =>
        spark.table(t).createOrReplaceGlobalTempView(t)
      }
    }
    val port = sys.env.getOrElse("GRAFT_PORT", "31337").toInt
    val tls = sys.env.get("TLS_DOMAIN").filter(_.nonEmpty)
    val server = new SocketServer(new Engine(spark), port, tls)
    server.start()
    System.err.println(s"graft server listening on 0.0.0.0:${server.port}" +
      tls.map(d => s" (TLS, self-signed for $d)").getOrElse(""))
    Thread.currentThread().join() // serve until killed, like main.rs:94
  }
}
