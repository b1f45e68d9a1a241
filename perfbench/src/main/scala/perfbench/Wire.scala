package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Client of `graft.engine.SocketServer`'s framed-JSON protocol (4-byte
  * big-endian length + body). Every verb is timed into a `wire.<verb>` span
  * under the statement id the caller passes. */
final class Client(port: Int) {
  private val mapper = new ObjectMapper()
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val out = new DataOutputStream(
    new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  private val in = new DataInputStream(
    new BufferedInputStream(sock.getInputStream, 1 << 16))

  private def send(n: ObjectNode): Unit = {
    val b = n.toString.getBytes(UTF_8)
    out.writeInt(b.length); out.write(b); out.flush()
  }
  private def frame(): Array[Byte] = {
    val buf = new Array[Byte](in.readInt())
    in.readFully(buf)
    buf
  }
  private def reply(): JsonNode = {
    val r = mapper.readTree(new String(frame(), UTF_8))
    if (!r.path("ok").asBoolean(false))
      throw new IllegalStateException(
        "server error: " + r.path("error").asText("(none)"))
    r
  }
  private def req(cmd: String): ObjectNode = mapper.createObjectNode().put("cmd", cmd)
  private def call(id: String, verb: String, n: ObjectNode): JsonNode =
    Trace.timed(id, "wire." + verb, "stmt") { send(n); reply() }

  def handshake(): String =
    call("session", "handshake", req("handshake")
      .put("user", "admin").put("password", "password")).get("token").asText

  def prepare(token: String, sql: String): String = {
    val t0 = System.nanoTime()
    send(req("prepare").put("token", token).put("sql", sql))
    val h = reply().get("handle").asText
    Trace.add(h, "wire.prepare", t0, System.nanoTime(), "stmt")
    h
  }

  def bind(h: String, params: Seq[String]): Unit = {
    val n = req("bind").put("handle", h)
    val arr = n.putArray("params")
    params.foreach(arr.add)
    call(h, "bind", n)
  }

  def execute(h: String): Long = call(h, "execute", req("execute").put("handle", h))
    .get("rows").asLong

  def executeUpdate(id: String, token: String, sql: String): Unit =
    call(id, "execute_update",
      req("execute_update").put("token", token).put("sql", sql))

  /** Drain a result with `fetch_arrow_stream` (`max_frames` 0: every
    * remaining frame in one response); returns the concatenated IPC stream
    * and the frame count. */
  def fetchStream(h: String): (Array[Byte], Int) =
    Trace.timed(h, "wire.fetch", "stmt") {
      val buf = new ByteArrayOutputStream()
      var next = 0; var frames = 0
      while (next >= 0) {
        send(req("fetch_arrow_stream").put("handle", h)
          .put("max_frames", 0).put("offset_frame", next))
        val r = reply()
        val n = r.get("frames").asInt
        var i = 0
        while (i < n) { buf.write(frame()); i += 1 }
        frames += n
        next = r.get("next_frame").asInt
      }
      (buf.toByteArray, frames)
    }

  /** get_tables / get_columns: metadata listing as one Arrow IPC frame. */
  def metadata(id: String, verb: String, token: String): (Long, Array[Byte]) = {
    val r = call(id, verb, req(verb).put("token", token))
    (r.get("rows").asLong, frame())
  }

  def closeStatement(h: String): Unit =
    call(h, "close", req("close_statement").put("handle", h))

  def closeSession(token: String): Unit =
    call("session", "close_session", req("close_session").put("token", token))

  def close(): Unit = sock.close()
}
