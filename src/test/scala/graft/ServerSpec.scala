package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Engine, SocketServer}

/** End-to-end transport parity: a real client on a real localhost TCP
  * socket drives handshake → prepare → bind → execute → fetch_arrow →
  * close against [[SocketServer]], decoding the Arrow IPC payload exactly
  * as a Flight DoGet consumer would (reference lifecycle:
  * lib.rs:198-296). */
class ServerSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private lazy val spark = TestSpark.spark

  /** Writes each request frame in one write, with `TCP_NODELAY`, so a
    * request never waits on the server's delayed ACK. */
  private class Client(sock: Socket) {
    def this(port: Int) = this(new Socket("127.0.0.1", port))
    sock.setTcpNoDelay(true)
    private val out = new DataOutputStream(
      new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    private val in = new DataInputStream(
      new BufferedInputStream(sock.getInputStream, 1 << 16))
    def call(fields: (String, Any)*): JsonNode = {
      send(fields: _*)
      mapper.readTree(new String(readFrame(), UTF_8))
    }
    /** Writes one request frame without reading the response. */
    def send(fields: (String, Any)*): Unit = {
      val node = mapper.createObjectNode()
      fields.foreach {
        case (k, v: String) => node.put(k, v)
        case (k, vs: Seq[_]) =>
          val arr = node.putArray(k)
          vs.foreach(x => arr.add(x.toString))
        case (k, v) => node.put(k, String.valueOf(v))
      }
      val b = node.toString.getBytes(UTF_8)
      out.writeInt(b.length); out.write(b); out.flush()
    }
    def readFrame(): Array[Byte] = {
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      buf
    }
    def close(): Unit = sock.close()
  }

  private def withServer(f: (SocketServer, Client) => Unit): Unit = {
    val server = new SocketServer(new Engine(spark), 0) // ephemeral port
    server.start()
    val c = new Client(server.port)
    try f(server, c)
    finally { c.close(); server.stop() }
  }

  private def auth(c: Client): String = {
    val r = c.call("cmd" -> "handshake", "user" -> "admin",
      "password" -> "password")
    assert(r.get("ok").asBoolean, r.toString)
    r.get("token").asText
  }

  /** Half the 40 ms delayed-ACK floor, so a loaded machine still passes. */
  private val RoundTripMs = 20.0

  /** Asserts that 40 sequential `bind` round trips, and 40 4-frame
    * `fetch_arrow_stream` ones, each have a median under [[RoundTripMs]].
    * A response the server writes in pieces without `TCP_NODELAY` waits
    * for the client's delayed ACK (at least 40 ms on Linux); one flush
    * per response does not. */
  private def assertOneRoundTrip(c: Client, token: String): Unit = {
    assert(c.call("cmd" -> "execute_update", "token" -> token,
      "sql" -> "SET spark.sql.execution.arrow.maxRecordsPerBatch=100")
      .get("ok").asBoolean)
    val handle = c.call("cmd" -> "prepare", "token" -> token,
      "sql" -> "SELECT id FROM range(250)").get("handle").asText
    assert(c.call("cmd" -> "execute", "handle" -> handle)
      .get("rows").asLong == 250L)
    def ms(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    val times = (1 to 40).map { _ =>
      val bind = ms(assert(c.call("cmd" -> "bind", "handle" -> handle,
        "params" -> Seq.empty[String]).get("ok").asBoolean))
      val fetch = ms {
        val st = c.call("cmd" -> "fetch_arrow_stream", "handle" -> handle)
        assert(st.get("frames").asInt == 4, st.toString)
        (1 to 4).foreach(_ => c.readFrame())
      }
      (bind, fetch)
    }
    assert(c.call("cmd" -> "close_statement", "handle" -> handle)
      .get("ok").asBoolean)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val (bind, fetch) = (median(times.map(_._1)), median(times.map(_._2)))
    val medians = f"median bind $bind%.2f ms, fetch_arrow_stream $fetch%.2f ms"
    info(medians)
    assert(bind < RoundTripMs && fetch < RoundTripMs, medians)
  }

  test("full q1_agg lifecycle over localhost TCP with Arrow IPC payload") {
    withServer { (_, c) =>
      // bad credentials rejected with the reference's wording
      val bad = c.call("cmd" -> "handshake", "user" -> "admin",
        "password" -> "nope")
      assert(!bad.get("ok").asBoolean)
      assert(bad.get("error").asText.contains("Invalid credentials"))

      val token = auth(c)
      val up = c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> ("CREATE OR REPLACE TEMPORARY VIEW lineitem USING parquet " +
          "OPTIONS (path '/root/testdata/sf0.001/lineitem.parquet')"))
      assert(up.get("ok").asBoolean && up.get("rows").asLong == -1L)

      val prep = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> ("SELECT l_returnflag, sum(l_quantity) AS sum_qty " +
          "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))
      assert(prep.get("ok").asBoolean, prep.toString)
      val handle = prep.get("handle").asText
      assert(prep.get("schema").asText.contains("l_returnflag"))

      val nRows = c.call("cmd" -> "execute", "handle" -> handle)
        .get("rows").asLong
      assert(nRows > 0)

      val fa = c.call("cmd" -> "fetch_arrow", "handle" -> handle)
      assert(fa.get("ok").asBoolean)
      val arrowBytes = c.readFrame()
      assert(arrowBytes.length == fa.get("bytes").asInt)

      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(arrowBytes), alloc)
      try {
        var total = 0L
        while (reader.loadNextBatch())
          total += reader.getVectorSchemaRoot.getRowCount
        assert(total == nRows)
        val fields = reader.getVectorSchemaRoot.getSchema.getFields
        assert(fields.get(0).getName == "l_returnflag")
        assert(fields.get(1).getName == "sum_qty")
      } finally { reader.close(); alloc.close() }

      assert(c.call("cmd" -> "close_statement", "handle" -> handle)
        .get("ok").asBoolean)
      assert(c.call("cmd" -> "close_session", "token" -> token)
        .get("ok").asBoolean)
      // the session is really gone: further work on the token fails
      val gone = c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> "SELECT 1")
      assert(!gone.get("ok").asBoolean)
    }
  }

  test("full lifecycle over TLS: self-signed TLS_DOMAIN cert, same protocol") {
    val domain = "graft.test"
    val server = new SocketServer(new Engine(spark), 0, Some(domain))
    server.start()
    val sock = graft.engine.Tls.trustAllSocket("127.0.0.1", server.port)
    val c = new Client(sock)
    try {
      val token = auth(c)
      // the negotiated session serves the self-signed cert FOR THE DOMAIN
      val cert = sock.getSession.getPeerCertificates.head
        .asInstanceOf[java.security.cert.X509Certificate]
      assert(cert.getSubjectX500Principal.getName.contains(s"CN=$domain"))
      assert(cert.getIssuerX500Principal == cert.getSubjectX500Principal)
      // full statement lifecycle over the encrypted transport
      val prep = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT 40 + 2 AS answer")
      assert(prep.get("ok").asBoolean, prep.toString)
      val handle = prep.get("handle").asText
      assert(c.call("cmd" -> "execute", "handle" -> handle)
        .get("rows").asLong == 1L)
      val fa = c.call("cmd" -> "fetch_arrow", "handle" -> handle)
      assert(fa.get("ok").asBoolean)
      val bytes = c.readFrame()
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        assert(reader.loadNextBatch())
        assert(reader.getVectorSchemaRoot.getVector("answer")
          .asInstanceOf[org.apache.arrow.vector.IntVector].get(0) == 42)
      } finally { reader.close(); alloc.close() }
      assert(c.call("cmd" -> "close_statement", "handle" -> handle)
        .get("ok").asBoolean)
      // each verb is one round trip over TLS too
      assertOneRoundTrip(c, token)
      assert(c.call("cmd" -> "close_session", "token" -> token)
        .get("ok").asBoolean)
      // a PLAINTEXT client against the TLS port fails the handshake
      // instead of silently talking through it
      val plain = new Socket("127.0.0.1", server.port)
      try {
        val pout = new DataOutputStream(plain.getOutputStream)
        val pin = new DataInputStream(plain.getInputStream)
        val msg = """{"cmd":"handshake","user":"admin","password":"password"}"""
          .getBytes(UTF_8)
        pout.writeInt(msg.length); pout.write(msg); pout.flush()
        intercept[java.io.IOException] {
          val n = pin.readInt()
          val buf = new Array[Byte](n)
          pin.readFully(buf)
          // a JSON frame implies the server answered plaintext — wrong
          assert(!new String(buf, UTF_8).contains("ok"))
        }
      } finally plain.close()
    } finally { c.close(); server.stop() }
  }

  test("bind over the wire; protocol errors surface as ok=false frames") {
    withServer { (_, c) =>
      val token = auth(c)
      val prep = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT ? AS a, upper(?) AS b")
      // parameterized text still reports its schema (Utf8 placeholders)
      assert(prep.get("schema").asText.contains("a"))
      val handle = prep.get("handle").asText
      assert(c.call("cmd" -> "bind", "handle" -> handle,
        "params" -> Seq("hello", "world")).get("ok").asBoolean)
      assert(c.call("cmd" -> "execute", "handle" -> handle)
        .get("rows").asLong == 1L)
      val fa = c.call("cmd" -> "fetch_arrow", "handle" -> handle)
      assert(fa.get("ok").asBoolean)
      val bytes = c.readFrame()
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        assert(reader.loadNextBatch())
        val root = reader.getVectorSchemaRoot
        val a = root.getVector("a")
          .asInstanceOf[org.apache.arrow.vector.VarCharVector]
        val b = root.getVector("b")
          .asInstanceOf[org.apache.arrow.vector.VarCharVector]
        assert(new String(a.get(0), UTF_8) == "hello")
        assert(new String(b.get(0), UTF_8) == "WORLD")
      } finally { reader.close(); alloc.close() }

      // malformed / failing requests answer in-band, connection stays up
      assert(!c.call("cmd" -> "execute", "handle" -> "nope")
        .get("ok").asBoolean)
      assert(!c.call("cmd" -> "warp", "x" -> "y").get("ok").asBoolean)
      assert(c.call("cmd" -> "close_statement", "handle" -> handle)
        .get("ok").asBoolean)
    }
  }

  test("request frames outside 0..MaxRequestBytes get an error frame and " +
      "a close; a non-JSON body gets an error frame and the socket stays") {
    withServer { (server, _) =>
      // every read times out instead of hanging if the server never answers
      def connect(): Socket = {
        val s = new Socket("127.0.0.1", server.port)
        s.setSoTimeout(20000)
        s
      }
      for (len <- Seq(SocketServer.MaxRequestBytes + 1, -1)) {
        val sock = connect()
        val c = new Client(sock)
        try {
          new DataOutputStream(sock.getOutputStream).writeInt(len)
          val r = mapper.readTree(new String(c.readFrame(), UTF_8))
          assert(!r.get("ok").asBoolean, r.toString)
          assert(r.get("error").asText.contains(len.toString), r.toString)
          assert(sock.getInputStream.read() == -1,
            s"the server must close the connection after length $len")
        } finally c.close()
        // the server still serves a new client
        val fresh = new Client(connect())
        try auth(fresh) finally fresh.close()
      }
      val sock = connect()
      val c = new Client(sock)
      try {
        val body = "{not json".getBytes(UTF_8)
        val out = new DataOutputStream(sock.getOutputStream)
        out.writeInt(body.length); out.write(body); out.flush()
        val r = mapper.readTree(new String(c.readFrame(), UTF_8))
        assert(!r.get("ok").asBoolean, r.toString)
        // same socket, next frame: served normally
        auth(c)
      } finally c.close()
    }
  }

  test("reference parity details pinned to their lib.rs anchors (PROTOCOL.md)") {
    withServer { (_, c) =>
      // handshake failure wording — lib.rs:237-240
      val bad = c.call("cmd" -> "handshake", "user" -> "admin",
        "password" -> "wrong")
      assert(!bad.get("ok").asBoolean)
      assert(bad.get("error").asText.contains("Invalid credentials!"))
      val token = auth(c)

      // DDL/DML through execute_update returns -1, never a row count —
      // lib.rs:653
      val ddl = c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> "CREATE OR REPLACE TEMP VIEW parity_v AS SELECT 1 AS x")
      assert(ddl.get("ok").asBoolean, ddl.toString)
      assert(ddl.get("rows").asLong == -1L, s"DDL must report -1: $ddl")

      // the literal 'rollback' is answered with a one-row VALUES plan,
      // not parsed — lib.rs:677, 683-696
      val rb = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "rollback")
      assert(rb.get("ok").asBoolean, rb.toString)
      val rbh = rb.get("handle").asText
      assert(c.call("cmd" -> "execute", "handle" -> rbh)
        .get("rows").asLong == 1L)
      c.call("cmd" -> "close_statement", "handle" -> rbh)

      // an EMPTY result still fetches schema-only Arrow IPC bytes — the
      // schema message a Flight DoGet would open with (lib.rs:288-295)
      val prep = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT 1 AS a WHERE 1 = 0")
      val h = prep.get("handle").asText
      assert(c.call("cmd" -> "execute", "handle" -> h)
        .get("rows").asLong == 0L)
      val f1 = c.call("cmd" -> "fetch_arrow", "handle" -> h)
      assert(f1.get("ok").asBoolean)
      val bytes1 = c.readFrame()
      assert(bytes1.nonEmpty, "empty result must still carry schema bytes")
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes1), alloc)
      try {
        val schema = reader.getVectorSchemaRoot.getSchema
        assert(schema.getFields.get(0).getName == "a")
        assert(!reader.loadNextBatch() ||
          reader.getVectorSchemaRoot.getRowCount == 0)
      } finally { reader.close(); alloc.close() }

      // repeated fetch serves the SAME cached bytes (encode-once result
      // cache — lib.rs:333-344)
      val f2 = c.call("cmd" -> "fetch_arrow", "handle" -> h)
      assert(f2.get("ok").asBoolean)
      val bytes2 = c.readFrame()
      assert(java.util.Arrays.equals(bytes1, bytes2),
        "re-fetch must return the identical cached encoding")

      // close_statement frees the handle — lib.rs:718-730
      assert(c.call("cmd" -> "close_statement", "handle" -> h)
        .get("ok").asBoolean)
      assert(!c.call("cmd" -> "fetch_arrow", "handle" -> h)
        .get("ok").asBoolean, "a closed handle must not fetch")
    }
  }

  test("over-limit execute surfaces the GRAFT_MAX_RESULT_ROWS " +
      "diagnostic in-band; the connection survives (VERDICT r12 #2)") {
    sys.props("graft.max.result.rows") = "10"
    try withServer { (_, c) =>
      val token = auth(c)
      val prep = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT id FROM range(11)")
      val handle = prep.get("handle").asText
      val res = c.call("cmd" -> "execute", "handle" -> handle)
      assert(!res.get("ok").asBoolean)
      assert(res.get("error").asText.contains("GRAFT_MAX_RESULT_ROWS=10"),
        res.get("error").asText)
      // connection stays usable; an under-limit statement runs
      val prep2 = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT id FROM range(10)")
      assert(c.call("cmd" -> "execute",
        "handle" -> prep2.get("handle").asText).get("rows").asLong == 10L)
      c.call("cmd" -> "close_session", "token" -> token)
    } finally sys.props.remove("graft.max.result.rows")
  }

  test("cancel_query verb is wired: ok on an idle statement, handle " +
      "stays executable (reference stubs it, lib.rs:781-787)") {
    withServer { (_, c) =>
      val token = auth(c)
      val prep = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT 1 AS v")
      val handle = prep.get("handle").asText
      // cancel with no active job: a no-op, not an error (the
      // cross-thread abort semantics are EngineSpec's cancel test)
      assert(c.call("cmd" -> "cancel_query", "handle" -> handle)
        .get("ok").asBoolean)
      assert(c.call("cmd" -> "execute", "handle" -> handle)
        .get("rows").asLong == 1L)
      // unknown handle surfaces as ok=false, like other verbs
      assert(!c.call("cmd" -> "cancel_query", "handle" -> "nope")
        .get("ok").asBoolean)
      c.call("cmd" -> "close_session", "token" -> token)
    }
  }

  test("catalog introspection verbs list catalogs/schemas/tables (VERDICT r7 #6)") {
    withServer { (_, c) =>
      val token = auth(c)
      // a fresh client registers a table, then discovers it through the
      // get_* verbs alone — no dialect knowledge needed
      assert(c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> ("CREATE OR REPLACE TEMPORARY VIEW introspect_probe " +
          "AS SELECT 1 AS v")).get("ok").asBoolean)

      def arrowRows(header: JsonNode): Seq[Seq[String]] = {
        assert(header.get("ok").asBoolean, header.toString)
        val bytes = c.readFrame()
        assert(bytes.length == header.get("bytes").asInt)
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new java.io.ByteArrayInputStream(bytes), alloc)
        try {
          val rows = Seq.newBuilder[Seq[String]]
          while (reader.loadNextBatch()) {
            val root = reader.getVectorSchemaRoot
            for (i <- 0 until root.getRowCount)
              rows += (0 until root.getFieldVectors.size()).map { j =>
                String.valueOf(root.getVector(j).getObject(i))
              }
          }
          val out = rows.result()
          assert(out.length == header.get("rows").asInt)
          out
        } finally { reader.close(); alloc.close() }
      }

      val cats = arrowRows(c.call("cmd" -> "get_catalogs", "token" -> token))
      assert(cats.flatten.contains("spark_catalog"))

      val schemas = arrowRows(c.call("cmd" -> "get_db_schemas",
        "token" -> token, "catalog" -> "spark_catalog"))
      assert(schemas.nonEmpty && schemas.forall(_.head == "spark_catalog"))

      // LIKE pattern narrows to exactly the probe view
      val tabs = arrowRows(c.call("cmd" -> "get_tables", "token" -> token,
        "table_pattern" -> "introspect_prob%",
        "table_types" -> Seq("TEMPORARY")))
      assert(tabs.map(_(2)) == Seq("introspect_probe"), tabs.toString)
      assert(tabs.head(3) == "TEMPORARY")

      // a pattern matching nothing returns an EMPTY Arrow stream, not
      // an error
      val none = arrowRows(c.call("cmd" -> "get_tables", "token" -> token,
        "table_pattern" -> "no_such_table_%"))
      assert(none.isEmpty)
    }
  }

  test("write-audit-publish drives end-to-end over the wire protocol") {
    withServer { (_, c) =>
      val token = auth(c)
      val wh = java.nio.file.Files.createTempDirectory("graft_wh_wire")
      def sql(q: String): Unit =
        assert(c.call("cmd" -> "execute_update", "token" -> token,
          "sql" -> q).get("ok").asBoolean, q)
      sql(s"SET spark.sql.catalog.gwire=graft.catalog.MetaCatalog")
      sql(s"SET spark.sql.catalog.gwire.warehouse=$wh")
      sql("CREATE NAMESPACE IF NOT EXISTS gwire.db")
      sql("CREATE TABLE gwire.db.wt (a INT)")            // v1
      sql("INSERT INTO gwire.db.wt VALUES (1)")          // v2
      sql("CALL gwire.system.create_branch('db.wt', 'audit', 2)")
      sql("INSERT INTO gwire.db.wt.branch_audit VALUES (2), (3)")
      def count(rel: String): Long = {
        val prep = c.call("cmd" -> "prepare", "token" -> token,
          "sql" -> s"SELECT count(*) FROM $rel")
        val handle = prep.get("handle").asText
        assert(c.call("cmd" -> "execute", "handle" -> handle)
          .get("ok").asBoolean)
        val header = c.call("cmd" -> "fetch_arrow", "handle" -> handle)
        assert(header.get("ok").asBoolean, header.toString)
        val bytes = c.readFrame()
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
          new java.io.ByteArrayInputStream(bytes), alloc)
        try {
          assert(reader.loadNextBatch())
          val v = reader.getVectorSchemaRoot.getVector(0).getObject(0)
            .toString.toLong
          v
        } finally { reader.close(); alloc.close() }
      }
      // isolation visible to a WIRE client: main 1 row, branch 3
      assert(count("gwire.db.wt") == 1L)
      assert(count("gwire.db.wt.branch_audit") == 3L)
      sql("CALL gwire.system.fast_forward('db.wt', 'audit')")
      assert(count("gwire.db.wt") == 3L)
    }
  }

  test("fetch_arrow_stream frames a multi-batch result per IPC message; " +
      "concatenation is the fetch_arrow stream (VERDICT r8 #3)") {
    withServer { (_, c) =>
      val token = auth(c)
      // small Arrow batches → a 250-row result spans 3 record batches
      assert(c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> "SET spark.sql.execution.arrow.maxRecordsPerBatch=100")
        .get("ok").asBoolean)
      val handle = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT id FROM range(250)").get("handle").asText
      assert(c.call("cmd" -> "execute", "handle" -> handle)
        .get("rows").asLong == 250L)

      val st = c.call("cmd" -> "fetch_arrow_stream", "handle" -> handle)
      assert(st.get("ok").asBoolean, st.toString)
      val frames = st.get("frames").asInt
      assert(frames == 4, s"schema + 3 batches expected, got $frames")
      val parts = (1 to frames).map(_ => c.readFrame())
      assert(parts.map(_.length).sum == st.get("bytes").asInt)

      // successive frames ARE the stream: feed them to one reader as a
      // DoGet consumer would reassemble FlightData payloads
      val whole = parts.reduce(_ ++ _)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(whole), alloc)
      try {
        var total = 0L
        var batches = 0
        while (reader.loadNextBatch()) {
          batches += 1; total += reader.getVectorSchemaRoot.getRowCount
        }
        assert(batches == 3 && total == 250L)
      } finally { reader.close(); alloc.close() }

      // the plain verb still serves the SAME bytes in one frame
      val fa = c.call("cmd" -> "fetch_arrow", "handle" -> handle)
      assert(fa.get("ok").asBoolean)
      val single = c.readFrame()
      assert(java.util.Arrays.equals(single, whole))
      assert(c.call("cmd" -> "close_statement", "handle" -> handle)
        .get("ok").asBoolean)
    }
  }

  test("fetch_arrow_stream paces a slow client with max_frames + " +
      "offset_frame continuation (VERDICT r10 #8)") {
    withServer { (_, c) =>
      val token = auth(c)
      assert(c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> "SET spark.sql.execution.arrow.maxRecordsPerBatch=100")
        .get("ok").asBoolean)
      val handle = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT id FROM range(250)").get("handle").asText
      assert(c.call("cmd" -> "execute", "handle" -> handle)
        .get("rows").asLong == 250L)

      // ticket 1: frames [0, 3) of 4
      val t1 = c.call("cmd" -> "fetch_arrow_stream", "handle" -> handle,
        "max_frames" -> 3)
      assert(t1.get("ok").asBoolean, t1.toString)
      assert(t1.get("frames").asInt == 3)
      assert(t1.get("total_frames").asInt == 4)
      assert(t1.get("next_frame").asInt == 3)
      val p1 = (1 to 3).map(_ => c.readFrame())
      assert(p1.map(_.length).sum == t1.get("bytes").asInt)

      // ticket 2: resume at next_frame, drain the rest
      val t2 = c.call("cmd" -> "fetch_arrow_stream", "handle" -> handle,
        "max_frames" -> 3, "offset_frame" -> 3)
      assert(t2.get("frames").asInt == 1)
      assert(t2.get("next_frame").asInt == -1, "stream must be drained")
      val p2 = (1 to 1).map(_ => c.readFrame())

      // the two tickets concatenate to the EXACT one-shot stream
      val whole = (p1 ++ p2).reduce(_ ++ _)
      assert(c.call("cmd" -> "fetch_arrow", "handle" -> handle)
        .get("ok").asBoolean)
      assert(java.util.Arrays.equals(c.readFrame(), whole))

      // a resume past the end is an empty, drained response (no frames)
      val t3 = c.call("cmd" -> "fetch_arrow_stream", "handle" -> handle,
        "offset_frame" -> 99)
      assert(t3.get("ok").asBoolean)
      assert(t3.get("frames").asInt == 0 && t3.get("next_frame").asInt == -1)
      assert(c.call("cmd" -> "close_statement", "handle" -> handle)
        .get("ok").asBoolean)
    }
  }

  test("get_columns lists name/type/nullability for a table (VERDICT r8 #7)") {
    withServer { (_, c) =>
      val token = auth(c)
      assert(c.call("cmd" -> "execute_update", "token" -> token,
        "sql" -> ("CREATE OR REPLACE TEMPORARY VIEW col_probe AS " +
          "SELECT 1 AS id, CAST('x' AS STRING) AS name, " +
          "CAST(NULL AS DOUBLE) AS score")).get("ok").asBoolean)

      val hdr = c.call("cmd" -> "get_columns", "token" -> token,
        "table_pattern" -> "col_probe")
      assert(hdr.get("ok").asBoolean, hdr.toString)
      val bytes = c.readFrame()
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      val rows =
        try {
          val acc = Seq.newBuilder[Seq[String]]
          while (reader.loadNextBatch()) {
            val root = reader.getVectorSchemaRoot
            for (i <- 0 until root.getRowCount)
              acc += (0 until root.getFieldVectors.size()).map { j =>
                String.valueOf(root.getVector(j).getObject(i))
              }
          }
          acc.result()
        } finally { reader.close(); alloc.close() }
      // GetColumns shape: ordinal-ordered (name, position, type, nullable)
      assert(rows.map(r => (r(3), r(4), r(5))) == Seq(
        ("id", "1", "int"), ("name", "2", "string"), ("score", "3", "double")),
        rows.toString)
      // a narrowing column pattern filters within the table
      val hdr2 = c.call("cmd" -> "get_columns", "token" -> token,
        "table_pattern" -> "col_probe", "column_pattern" -> "na%")
      assert(hdr2.get("ok").asBoolean)
      assert(hdr2.get("rows").asInt == 1)
      c.readFrame()
    }
  }

  test("periodic GC sweeps an abandoned handle after TTL; a touched one " +
      "survives (VERDICT r8 #4)") {
    val engine = new Engine(spark)
    val server = new SocketServer(engine, 0, None, gcTtlMillis = 400)
    server.start()
    val c = new Client(server.port)
    try {
      val token = auth(c)
      val abandoned = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT 1 AS v").get("handle").asText
      val active = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT 2 AS v").get("handle").asText
      // keep `active` warm past several sweep intervals while `abandoned`
      // idles; the daemon sweeper (TTL 400ms, sweep every 100ms) must
      // collect only the idle one
      val deadline = System.currentTimeMillis() + 1500
      while (System.currentTimeMillis() < deadline) {
        assert(c.call("cmd" -> "bind", "handle" -> active,
          "params" -> Seq.empty[String]).get("ok").asBoolean)
        Thread.sleep(50)
      }
      assert(c.call("cmd" -> "execute", "handle" -> active)
        .get("ok").asBoolean, "touched handle must survive GC")
      val dead = c.call("cmd" -> "execute", "handle" -> abandoned)
      assert(!dead.get("ok").asBoolean, "abandoned handle must be swept")
      assert(dead.get("error").asText.contains("unknown statement handle"))
    } finally { c.close(); server.stop() }
  }

  test("two concurrent clients get isolated sessions") {
    withServer { (server, c1) =>
      val c2 = new Client(server.port)
      try {
        val t1 = auth(c1)
        val t2 = auth(c2)
        assert(t1 != t2)
        c1.call("cmd" -> "execute_update", "token" -> t1,
          "sql" -> "CREATE OR REPLACE TEMPORARY VIEW wire_probe AS SELECT 7 AS v")
        // c2's session must not see c1's temp view
        val p2 = c2.call("cmd" -> "prepare", "token" -> t2,
          "sql" -> "SELECT v FROM wire_probe")
        val h2 = p2.get("handle").asText
        assert(!c2.call("cmd" -> "execute", "handle" -> h2).get("ok").asBoolean)
        // while c1 executes it fine
        val h1 = c1.call("cmd" -> "prepare", "token" -> t1,
          "sql" -> "SELECT v FROM wire_probe").get("handle").asText
        assert(c1.call("cmd" -> "execute", "handle" -> h1)
          .get("rows").asLong == 1L)
      } finally c2.close()
    }
  }

  test("TTL env values are clamped and parse-safe — a typo must not " +
      "turn the sweeper hostile (ADVICE r9)") {
    // 0 / negative: clamped to the 1s floor, never `cutoff >= now`
    assert(SocketServer.clampTtl(Some("0"), 3600000L) == 1000L)
    assert(SocketServer.clampTtl(Some("-5"), 3600000L) == 1000L)
    assert(SocketServer.clampTtl(Some("999"), 3600000L) == 1000L)
    // non-numeric: fall back to the default instead of throwing at
    // server construction
    assert(SocketServer.clampTtl(Some("garbage"), 3600000L) == 3600000L)
    assert(SocketServer.clampTtl(Some(""), 3600000L) == 3600000L)
    assert(SocketServer.clampTtl(None, 3600000L) == 3600000L)
    // sane values pass through (whitespace tolerated)
    assert(SocketServer.clampTtl(Some(" 7200000 "), 3600000L) == 7200000L)
  }

  test("periodic sweep also reclaims idle sessions — a dead client's " +
      "token does not live forever (VERDICT r10 #1)") {
    val engine = new Engine(spark)
    // sweep interval is gcTtl/4 = 500ms; session TTL 400ms
    val server = new SocketServer(engine, 0, None,
      gcTtlMillis = 2000, sessionTtlMillis = 400)
    server.start()
    val c = new Client(server.port)
    try {
      val token = auth(c)
      // client "dies": the socket stays open but sends nothing (a probe
      // would TOUCH the session and keep it alive — exactly the bug
      // class this sweep exists for). Wait out TTL + sweep + margin,
      // then the one probe must find the token gone.
      Thread.sleep(1600)
      val res = c.call("cmd" -> "prepare", "token" -> token,
        "sql" -> "SELECT 1 AS v")
      assert(!res.get("ok").asBoolean,
        "idle session must be swept by the session TTL")
      assert(res.get("error").asText.contains("no session"))
    } finally { c.close(); server.stop() }
  }

  test("a client that disconnects mid-body ends its connection quietly; " +
      "the next connection is served") {
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) => uncaught.add(e))
    try {
      withServer { (server, _) =>
        val sock = new Socket("127.0.0.1", server.port)
        val out = new DataOutputStream(sock.getOutputStream)
        out.writeInt(100); out.write(new Array[Byte](50)); out.flush()
        sock.close()
        val fresh = new Client(server.port)
        try auth(fresh) finally fresh.close()
      }
      // every connection is closed now: wait for their threads to end
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName == "graft-server-conn").foreach(_.join(10000))
      assert(uncaught.isEmpty, uncaught.asScala.mkString("; "))
    } finally Thread.setDefaultUncaughtExceptionHandler(prev)
  }

  test("a verb costs one round trip: bind and a multi-frame " +
      "fetch_arrow_stream answer without waiting on a delayed ACK") {
    withServer { (_, c) =>
      val token = auth(c)
      assertOneRoundTrip(c, token)
      c.call("cmd" -> "close_session", "token" -> token)
    }
  }

  test("a client that resets its connection before its response is " +
      "written ends its connection quietly; the next connection is served") {
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) => uncaught.add(e))
    try {
      withServer { (server, _) =>
        val sock = new Socket("127.0.0.1", server.port)
        val c = new Client(sock)
        val token = auth(c)
        val handle = c.call("cmd" -> "prepare", "token" -> token,
          "sql" -> "SELECT count(*) AS n FROM range(1000000)")
          .get("handle").asText
        c.send("cmd" -> "execute", "handle" -> handle)
        // close with an RST while the server is still executing, so its
        // response write meets a reset connection
        sock.setSoLinger(true, 0)
        sock.close()
        val fresh = new Client(server.port)
        try auth(fresh) finally fresh.close()
      }
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName == "graft-server-conn").foreach(_.join(10000))
      assert(uncaught.isEmpty, uncaught.asScala.mkString("; "))
    } finally Thread.setDefaultUncaughtExceptionHandler(prev)
  }
}
