package graft.catalog

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** REST catalog — the analogue of the reference's SECOND binary, which
  * wires an Iceberg REST catalog client into the same engine
  * (`iceberg-datafusion-arrow-flight-rest/src/main.rs:42-117`: REST
  * `CatalogClient` → `IcebergCatalogProvider` → SessionContext). The
  * reference serves the FULL catalog through `ctx.sql` (main.rs:90-117),
  * so CREATE TABLE / INSERT work against it — this client does the same:
  * DDL goes through the catalog endpoints, and `loadTable` returns the
  * write-capable [[GraftTable]], whose snapshot-commit protocol gives
  * REST-loaded tables the same isolation as [[MetaCatalog]] ones.
  *
  * The endpoint shape follows the public Iceberg REST spec:
  *
  *   GET    /v1/config
  *   GET    /v1/namespaces                  → {"namespaces": [["db"], ...]}
  *   POST   /v1/namespaces                  ← {"namespace": ["db"]}
  *   GET    /v1/namespaces/{ns}             → 200 / 404
  *   DELETE /v1/namespaces/{ns}
  *   GET    /v1/namespaces/{ns}/tables      → {"identifiers": [...]}
  *   POST   /v1/namespaces/{ns}/tables      ← {"name", "schema-json", ...}
  *   GET    /v1/namespaces/{ns}/tables/{t}  → {"metadata": {"location",
  *                                             "schema-json", "partition-cols",
  *                                             "properties"}}
  *   DELETE /v1/namespaces/{ns}/tables/{t}
  *
  * with multi-level namespaces joined by the spec's 0x1F unit separator.
  * Like Iceberg REST, the catalog serves POINTERS: `loadTable` fetches
  * metadata (location + schema) and the engine then scans/commits the data
  * files directly — the catalog server never sits on the data path, which
  * is what lets one tiny REST service front a 100 TB warehouse. Scans
  * reuse [[GraftTable]], so pushdown/pruning behave exactly as for
  * [[MetaCatalog]] tables.
  *
  * Auth mirrors the reference's env contract (`rest main.rs:48-53`):
  * `ICEBERG_CATALOG_BEARER_TOKEN`, then `ICEBERG_CATALOG_OAUTH_TOKEN`,
  * then `ICEBERG_CATALOG_USERNAME`/`ICEBERG_CATALOG_PASSWORD` (basic);
  * catalog options `token` / `username`+`password` take precedence over
  * the environment so one JVM can talk to differently-secured catalogs.
  */
class RestCatalog extends TableCatalog with SupportsNamespaces {

  private val mapper = new ObjectMapper()
  private var name0: String = _
  private var uri: String = _
  private var authHeader: Option[String] = None
  private val http = HttpClient.newHttpClient()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    name0 = name
    uri = Option(options.get("uri")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.uri is required for the REST catalog"))
      .stripSuffix("/")
    authHeader = RestAuth.header(
      Option(options.get("token")),
      Option(options.get("username")), Option(options.get("password")),
      sys.env)
  }

  override def name(): String = name0

  private def nsPart(namespace: Array[String]): String =
    java.net.URLEncoder.encode(namespace.mkString("\u001f"), "UTF-8")

  private def send(method: String, path: String,
      body: Option[String]): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(s"$uri$path"))
    authHeader.foreach(h => b = b.header("Authorization", h))
    b = body match {
      case Some(j) => b.header("Content-Type", "application/json")
        .method(method, HttpRequest.BodyPublishers.ofString(j))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    val res = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
    if (res.statusCode() == 401 || res.statusCode() == 403)
      throw new IllegalStateException(
        s"REST catalog $name0: $method $path → HTTP ${res.statusCode()} " +
          "(unauthorized; configure token or username/password — options " +
          "or ICEBERG_CATALOG_* environment)")
    res
  }

  private def get(path: String): Option[JsonNode] = {
    val res = send("GET", path, None)
    if (res.statusCode() == 200) Some(mapper.readTree(res.body()))
    else if (res.statusCode() == 404) None
    else throw new IllegalStateException(
      s"REST catalog $name0: GET $path → HTTP ${res.statusCode()}")
  }

  private def expect(method: String, path: String, body: Option[String],
      codes: Set[Int]): HttpResponse[String] = {
    val res = send(method, path, body)
    if (!codes.contains(res.statusCode())) throw new IllegalStateException(
      s"REST catalog $name0: $method $path → HTTP ${res.statusCode()}: ${res.body()}")
    res
  }

  // --- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    get("/v1/namespaces").map { j =>
      j.get("namespaces").elements().asScala.map { ns =>
        ns.elements().asScala.map(_.asText()).toArray
      }.toArray
    }.getOrElse(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    get(s"/v1/namespaces?parent=${nsPart(namespace)}").map { j =>
      j.get("namespaces").elements().asScala.map { ns =>
        ns.elements().asScala.map(_.asText()).toArray
      }.toArray
    }.getOrElse(throw new NoSuchNamespaceException(name0 +: namespace))

  override def namespaceExists(namespace: Array[String]): Boolean =
    get(s"/v1/namespaces/${nsPart(namespace)}").isDefined

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    get(s"/v1/namespaces/${nsPart(namespace)}") match {
      case Some(_) => java.util.Collections.emptyMap()
      case None => throw new NoSuchNamespaceException(name0 +: namespace)
    }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    expect("POST", "/v1/namespaces", Some(mapper.writeValueAsString(
      Map("namespace" -> namespace).asJava)), Set(200))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = ()

  override def dropNamespace(namespace: Array[String], cascade: Boolean)
      : Boolean = {
    val res = send("DELETE",
      s"/v1/namespaces/${nsPart(namespace)}?cascade=$cascade", None)
    res.statusCode() match {
      case 200 => true
      case 404 => false
      case 409 => throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} not empty")
      case c => throw new IllegalStateException(
        s"REST catalog $name0: DELETE namespace → HTTP $c")
    }
  }

  // --- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    get(s"/v1/namespaces/${nsPart(namespace)}/tables").map { j =>
      j.get("identifiers").elements().asScala.map { id =>
        val ns = id.get("namespace").elements().asScala.map(_.asText()).toArray
        Identifier.of(ns, id.get("name").asText())
      }.toArray
    }.getOrElse(throw new NoSuchNamespaceException(name0 +: namespace))

  override def tableExists(ident: Identifier): Boolean =
    get(s"/v1/namespaces/${nsPart(ident.namespace())}/tables/${ident.name()}")
      .isDefined

  /** The handle loads from the reported `location`, through the same
    * loader as [[MetaCatalog]]: schema, spec, properties, field-id
    * generations and spec eras all come from one read of the table's
    * own metadata (a handle lacking the generations would read renamed
    * columns as NULL). */
  private def tableFromMeta(ident: Identifier, j: JsonNode): GraftTable =
    TableMeta.load(
      s"$name0.${ident.namespace().mkString(".")}.${ident.name()}",
      Paths.get(j.get("metadata").get("location").asText()), None)

  override def loadTable(ident: Identifier): Table = {
    val j = get(
      s"/v1/namespaces/${nsPart(ident.namespace())}/tables/${ident.name()}")
      .getOrElse(throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq))
    tableFromMeta(ident, j)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    // the same named-transform parse MetaCatalog.createTable does,
    // shipped as per-transform spec strings; the server validates and
    // creates through the same TableMeta.create
    val partSpec: Seq[PartitionTransforms.T] =
      PartitionTransforms.fromSparkTransforms(partitions.toSeq)
    // pin the CLIENT session's zone for calendar-transform boundaries —
    // the writers live client-side, the server only stores metadata
    val needsZone = PartitionTransforms.needsPinnedZone(partSpec, schema)
    val props = new java.util.HashMap[String, String](properties)
    if (needsZone && !props.containsKey(PartitionTransforms.ZoneKey))
      props.put(PartitionTransforms.ZoneKey, org.apache.spark.sql.internal
        .SQLConf.get.sessionLocalTimeZone)
    val body = mapper.writeValueAsString(Map(
      "name" -> ident.name(),
      "schema-json" -> schema.json,
      "partition-cols" -> partSpec.map(_.spec).toArray,
      "properties" -> props).asJava)
    val res = expect("POST",
      s"/v1/namespaces/${nsPart(ident.namespace())}/tables", Some(body),
      Set(200, 409))
    if (res.statusCode() == 409) throw new TableAlreadyExistsException(
      (ident.namespace() :+ ident.name()).toSeq)
    tableFromMeta(ident, mapper.readTree(res.body()))
  }

  override def dropTable(ident: Identifier): Boolean =
    send("DELETE",
      s"/v1/namespaces/${nsPart(ident.namespace())}/tables/${ident.name()}",
      None).statusCode() == 200

  /** Schema evolution over REST: the REST catalog serves POINTERS and
    * every scan and snapshot commit already runs client-side against
    * the table LOCATION, so the ALTER metadata transaction does too — the same [[AlterOps]] transaction
    * [[MetaCatalog]] runs, under the same per-table lock, with the
    * full guard set (field-id generations, promotion legality,
    * eq-sidecar/branch/partition-source rejections). The server reads
    * the table metadata fresh per request, so the next REST loadTable
    * serves the evolved schema with no cache invalidation. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val j = get(
      s"/v1/namespaces/${nsPart(ident.namespace())}/tables/${ident.name()}")
      .getOrElse(throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq))
    val dir = Paths.get(j.get("metadata").get("location").asText())
    val full = s"$name0.${ident.namespace().mkString(".")}.${ident.name()}"
    Snapshots.withRefsLock(dir) {
      AlterOps.applyChanges(dir, full, changes)
    }
    loadTable(ident)
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE over the REST catalog is not supported")
}

/** Shared auth-header derivation: explicit options beat the environment;
  * bearer beats OAuth beats basic (the reference's precedence,
  * `rest main.rs:48-53`). */
object RestAuth {
  def header(token: Option[String], user: Option[String],
      pass: Option[String], env: Map[String, String]): Option[String] = {
    val bearer = token
      .orElse(env.get("ICEBERG_CATALOG_BEARER_TOKEN"))
      .orElse(env.get("ICEBERG_CATALOG_OAUTH_TOKEN"))
    val basic = (user.orElse(env.get("ICEBERG_CATALOG_USERNAME")),
      pass.orElse(env.get("ICEBERG_CATALOG_PASSWORD"))) match {
      case (Some(u), Some(p)) => Some("Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(UTF_8)))
      case _ => None
    }
    bearer.map("Bearer " + _).orElse(basic)
  }
}

/** In-process REST catalog server over a MetaCatalog warehouse directory —
  * the test/offline stand-in for an Iceberg REST service. Serves the
  * endpoint surface [[RestCatalog]] consumes, read AND write; table
  * metadata is the warehouse's own ([[TableMeta]]), created through the
  * same [[TableMeta.create]] as MetaCatalog's, and the reported
  * `location` lets the engine
  * scan and commit data files directly (the server never sits on the data
  * path). When `requiredAuth` is set, every request must carry that exact
  * Authorization header or it is rejected with 401 before routing. */
final class RestCatalogServer(warehouse: Path, requestedPort: Int = 0,
    requiredAuth: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private var server: com.sun.net.httpserver.HttpServer = _

  def port: Int = server.getAddress.getPort

  private def isTable(p: Path): Boolean = TableMeta.exists(p)

  private def childDirs(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else scala.util.Using.resource(Files.list(p)) { st =>
      st.iterator().asScala.filter(Files.isDirectory(_)).toSeq
        .sortBy(_.getFileName.toString)
    }

  private def nsOf(encoded: String): Seq[String] =
    java.net.URLDecoder.decode(encoded, "UTF-8").split('\u001f').toSeq

  private def json(obj: Any): String = mapper.writeValueAsString(obj)

  def start(): Unit = {
    server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", requestedPort), 0)
    server.createContext("/v1", handler _)
    server.setExecutor(null)
    server.start()
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def handler(ex: com.sun.net.httpserver.HttpExchange): Unit = {
    val authorized = requiredAuth.forall(expected =>
      Option(ex.getRequestHeaders.getFirst("Authorization"))
        .exists(got => java.security.MessageDigest.isEqual(
          got.getBytes(UTF_8), expected.getBytes(UTF_8))))
    val (code, body) =
      if (!authorized) (401, """{"error":"unauthorized"}""")
      else {
        val reqBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        try route(ex.getRequestMethod, ex.getRequestURI.getPath,
          Option(ex.getRequestURI.getQuery), reqBody)
        catch {
          case e: IllegalArgumentException => (400, error(e))
          case e: Throwable => (500, error(e))
        }
      }
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def error(e: Throwable): String =
    json(Map("error" -> String.valueOf(e.getMessage)).asJava)

  private def tableMetaResponse(dir: Path): String = {
    val m = TableMeta.read(dir)
    val meta = Map(
      "location" -> dir.toString,
      "schema-json" -> m.schema.json,
      "partition-cols" -> m.partitionCols.toArray,
      "properties" -> m.props.asJava)
    s"""{"metadata-location":${json(dir.toString)},""" +
      s""""metadata":${json(meta.asJava)}}"""
  }

  private def deleteRecursively(p: Path): Unit = {
    import java.nio.file.FileVisitResult
    import java.nio.file.attribute.BasicFileAttributes
    Files.walkFileTree(p, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.delete(f); FileVisitResult.CONTINUE
      }
      override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
        Files.delete(d); FileVisitResult.CONTINUE
      }
    })
  }

  private def route(method: String, path: String, query: Option[String],
      body: String): (Int, String) = {
    val segs = path.stripPrefix("/v1").stripPrefix("/").split('/').toSeq
      .filter(_.nonEmpty)
    (method, segs) match {
      case ("GET", Seq("config")) =>
        (200, """{"defaults":{},"overrides":{}}""")

      case ("GET", Seq("namespaces")) =>
        val parent = query.flatMap(_.split('&').find(_.startsWith("parent=")))
          .map(q => nsOf(q.stripPrefix("parent=")))
        val base = parent.foldLeft(warehouse)((p, ns) =>
          ns.foldLeft(p)(_.resolve(_)))
        if (parent.isDefined && !Files.isDirectory(base)) (404, "{}")
        else {
          // spec semantics = IMMEDIATE children only, both with and
          // without parent= (clients recurse themselves; returning the
          // whole tree here would make a recursive client double-count)
          val out = parent match {
            case Some(ns) => childDirs(base).filterNot(isTable)
              .map(d => ns :+ d.getFileName.toString)
            case None => childDirs(warehouse).filterNot(isTable)
              .map(d => Seq(d.getFileName.toString))
          }
          (200, "{\"namespaces\":" +
            json(out.map(_.toArray).toArray) + "}")
        }

      case ("POST", Seq("namespaces")) =>
        val ns = mapper.readTree(body).get("namespace")
          .elements().asScala.map(_.asText()).toSeq
        require(ns.nonEmpty && ns.forall(s => s.nonEmpty && !s.contains("/")
          && !s.contains("..")), s"bad namespace $ns")
        Files.createDirectories(ns.foldLeft(warehouse)(_.resolve(_)))
        (200, s"""{"namespace":${json(ns.toArray)},"properties":{}}""")

      case ("GET", Seq("namespaces", ns)) =>
        val dir = nsOf(ns).foldLeft(warehouse)(_.resolve(_))
        if (Files.isDirectory(dir) && !isTable(dir))
          (200, s"""{"namespace":${json(nsOf(ns).toArray)},"properties":{}}""")
        else (404, "{}")

      case ("DELETE", Seq("namespaces", ns)) =>
        val cascade = query.exists(_.contains("cascade=true"))
        val dir = nsOf(ns).foldLeft(warehouse)(_.resolve(_))
        if (!Files.isDirectory(dir) || isTable(dir)) (404, "{}")
        else if (!cascade && childDirs(dir).nonEmpty)
          (409, """{"error":"namespace not empty"}""")
        else { deleteRecursively(dir); (200, "{}") }

      case ("GET", Seq("namespaces", ns, "tables")) =>
        val parts = nsOf(ns)
        val dir = parts.foldLeft(warehouse)(_.resolve(_))
        if (!Files.isDirectory(dir)) (404, "{}")
        else {
          val ids = childDirs(dir).filter(isTable).map { d =>
            s"""{"namespace":${json(parts.toArray)},"name":${json(d.getFileName.toString)}}"""
          }
          (200, s"""{"identifiers":[${ids.mkString(",")}]}""")
        }

      case ("POST", Seq("namespaces", ns, "tables")) =>
        val nsDir = nsOf(ns).foldLeft(warehouse)(_.resolve(_))
        if (!Files.isDirectory(nsDir)) (404, "{}")
        else {
          val req = mapper.readTree(body)
          val t = req.get("name").asText()
          require(t.nonEmpty && !t.contains("/") && !t.contains(".."),
            s"bad table name $t")
          val dir = nsDir.resolve(t)
          if (isTable(dir)) (409, """{"error":"table exists"}""")
          else {
            val schema = DataType.fromJson(req.get("schema-json").asText())
              .asInstanceOf[StructType]
            val spec = Option(req.get("partition-cols")).toSeq
              .flatMap(_.elements().asScala.map(_.asText())).filter(_.nonEmpty)
              .map(PartitionTransforms.parse)
            val props = Option(req.get("properties")).toSeq
              .flatMap(_.properties().asScala)
              .map(e => e.getKey -> e.getValue.asText()).toMap
            // the Spark client always pins its session zone; a raw HTTP
            // client that leaves a zoned calendar transform unpinned gets
            // UTC rather than a per-session zone
            TableMeta.create(dir, schema, spec, props, "UTC")
            (200, tableMetaResponse(dir))
          }
        }

      case ("GET", Seq("namespaces", ns, "tables", t)) =>
        val dir = nsOf(ns).foldLeft(warehouse)(_.resolve(_)).resolve(t)
        if (!isTable(dir)) (404, "{}")
        else (200, tableMetaResponse(dir))

      case ("DELETE", Seq("namespaces", ns, "tables", t)) =>
        val dir = nsOf(ns).foldLeft(warehouse)(_.resolve(_)).resolve(t)
        if (!isTable(dir)) (404, "{}")
        else { deleteRecursively(dir); (200, "{}") }

      case _ => (404, "{}")
    }
  }
}

/** Second server binary, mirroring the reference's two-binary shape:
  * serve a warehouse directory as a REST catalog on GRAFT_REST_PORT
  * (default 8181, the Iceberg REST convention). Honors the same
  * ICEBERG_CATALOG_* auth environment as the client: when configured,
  * requests must present the matching bearer/basic Authorization
  * header (reference `rest main.rs:48-53`). */
object RestCatalogServerMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: RestCatalogServerMain <warehouseDir>")
    val auth = RestAuth.header(None, None, None, sys.env)
    val srv = new RestCatalogServer(Paths.get(args(0)),
      sys.env.getOrElse("GRAFT_REST_PORT", "8181").toInt, auth)
    srv.start()
    System.err.println(s"graft REST catalog serving ${args(0)} on :${srv.port}" +
      (if (auth.isDefined) " (auth required)" else ""))
    Thread.currentThread().join()
  }
}
