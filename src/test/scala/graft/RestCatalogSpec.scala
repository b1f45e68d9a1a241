package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.RestCatalogServer

/** REST catalog (the reference's second binary wires an Iceberg REST
  * catalog client into the same engine — rest/src/main.rs:42-117, serving
  * the full catalog incl. CREATE/INSERT through ctx.sql, main.rs:90-117):
  * a MetaCatalog warehouse is served over HTTP by [[RestCatalogServer]]
  * and consumed read-write through `graft.catalog.RestCatalog`, with
  * bearer/basic auth per the reference's ICEBERG_CATALOG_* contract. */
class RestCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val wh: String = {
    val w = Files.createTempDirectory("graft_rest_wh").toString
    spark.conf.set("spark.sql.catalog.rsrc", "graft.catalog.MetaCatalog")
    spark.conf.set("spark.sql.catalog.rsrc.warehouse", w)
    spark.sql("CREATE NAMESPACE rsrc.db")
    spark.sql("CREATE NAMESPACE rsrc.db.deep")
    spark.sql("CREATE TABLE rsrc.db.t (id BIGINT, name STRING)")
    spark.sql("INSERT INTO rsrc.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("CREATE TABLE rsrc.db.deep.u (k INT)")
    spark.sql("INSERT INTO rsrc.db.deep.u VALUES (42)")
    w
  }

  private def withServer(f: Int => Unit): Unit = {
    val srv = new RestCatalogServer(Paths.get(wh), 0)
    srv.start()
    try f(srv.port) finally srv.stop()
  }

  test("SQL reads a REST-served warehouse: namespaces, tables, data, pushdown") {
    withServer { port =>
      spark.conf.set("spark.sql.catalog.rcat", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rcat.uri", s"http://127.0.0.1:$port")
      try {
        val ns = spark.sql("SHOW NAMESPACES IN rcat").collect()
          .map(_.getString(0)).toSet
        assert(ns.contains("db"))
        // top-level listing only — a recursive response would make
        // recursive clients (information_schema) double-count children
        assert(!ns.contains("db.deep"), ns.toString)
        val tables = spark.sql("SHOW TABLES IN rcat.db").collect()
          .map(_.getString(1)).toSet
        assert(tables == Set("t"))
        // data round-trips through the REST pointer + direct parquet scan
        val rows = spark.sql("SELECT id, name FROM rcat.db.t ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
        // nested namespace table resolves too
        assert(spark.sql("SELECT k FROM rcat.db.deep.u").collect()
          .head.getInt(0) == 42)
        // pushdown survives the REST indirection (same GraftTable scan)
        val plan = spark.sql("SELECT id FROM rcat.db.t WHERE id > 1")
          .queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters"), plan.take(600))
        assert(plan.contains("GreaterThan(id,1)"), plan.take(600))
      } finally {
        spark.conf.unset("spark.sql.catalog.rcat")
        spark.conf.unset("spark.sql.catalog.rcat.uri")
      }
    }
  }

  test("write path: create + append + read back through REST, snapshots preserved") {
    withServer { port =>
      spark.conf.set("spark.sql.catalog.rcat2", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rcat2.uri", s"http://127.0.0.1:$port")
      try {
        spark.sql("CREATE NAMESPACE rcat2.wdb")
        spark.sql("CREATE TABLE rcat2.wdb.w (id BIGINT, v STRING)")
        spark.sql("INSERT INTO rcat2.wdb.w VALUES (1, 'x'), (2, 'y')")
        spark.sql("INSERT INTO rcat2.wdb.w VALUES (3, 'z')")
        // appends, not overwrites — both commits visible
        val rows = spark.sql("SELECT id, v FROM rcat2.wdb.w ORDER BY id")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((1L, "x"), (2L, "y"), (3L, "z")))
        // snapshot isolation preserved: the direct-commit protocol left
        // the full history (v1 empty + one per INSERT) in the warehouse
        val dir = Paths.get(wh).resolve("wdb").resolve("w")
        val snaps = graft.catalog.Snapshots.list(dir)
        assert(snaps.length == 3, snaps.map(_.version).toString)
        assert(snaps.last.files.length > snaps(1).files.length)
        // DDL round-trip: drop removes it from the served listing
        spark.sql("DROP TABLE rcat2.wdb.w")
        assert(spark.sql("SHOW TABLES IN rcat2.wdb").collect().isEmpty)
        val m = intercept[Exception] {
          spark.sql("SELECT * FROM rcat2.wdb.nope").collect()
        }
        assert(m.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
          m.getMessage.toLowerCase.contains("not found"), m.getMessage.take(300))
      } finally {
        spark.conf.unset("spark.sql.catalog.rcat2")
        spark.conf.unset("spark.sql.catalog.rcat2.uri")
      }
    }
  }

  test("ALTER parity over REST: rename/add/widen created and read purely " +
      "via REST, with the full guard set (round-16 stretch)") {
    withServer { port =>
      spark.conf.set("spark.sql.catalog.rcat3", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rcat3.uri", s"http://127.0.0.1:$port")
      try {
        spark.sql("CREATE NAMESPACE rcat3.adb")
        spark.sql("CREATE TABLE rcat3.adb.a (k INT, v DOUBLE)")       // v1
        spark.sql("INSERT INTO rcat3.adb.a VALUES (1, 1.5), (2, 2.5)") // v2
        // rename: old bytes under the new name, purely via REST
        spark.sql("ALTER TABLE rcat3.adb.a RENAME COLUMN v TO w")
        spark.sql("INSERT INTO rcat3.adb.a VALUES (3, 3.5)")          // v3
        assert(spark.sql("SELECT k, w FROM rcat3.adb.a ORDER BY k")
          .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
          Seq((1, 1.5), (2, 2.5), (3, 3.5)))
        // add + widen through the same path
        spark.sql("ALTER TABLE rcat3.adb.a ADD COLUMN note STRING")
        spark.sql("ALTER TABLE rcat3.adb.a ALTER COLUMN k TYPE BIGINT")
        spark.sql("INSERT INTO rcat3.adb.a VALUES (3000000000, 9.5, 'wide')")
        val rows = spark.sql(
          "SELECT k, w, note FROM rcat3.adb.a ORDER BY k").collect()
          .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2))))
          .toSeq
        assert(rows == Seq((1L, 1.5, None), (2L, 2.5, None),
          (3L, 3.5, None), (3000000000L, 9.5, Some("wide"))))
        // the guard set rides along: illegal widening rejects via REST
        val e = intercept[Exception] {
          spark.sql("ALTER TABLE rcat3.adb.a ALTER COLUMN note TYPE INT")
        }
        assert(e.getMessage.contains("widening") ||
          e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
      } finally {
        spark.conf.unset("spark.sql.catalog.rcat3")
        spark.conf.unset("spark.sql.catalog.rcat3.uri")
      }
    }
  }

  test("transform-partitioned tables round-trip over REST (the spec " +
      "string carries commas inside parens; r16 review)") {
    // created via the OWNING catalog (REST create stays identity-only),
    // then read AND written through REST
    spark.sql("""CREATE TABLE rsrc.db.bktt (k BIGINT, v STRING)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql("INSERT INTO rsrc.db.bktt VALUES (1, 'a'), (2, 'b')")
    withServer { port =>
      spark.conf.set("spark.sql.catalog.rcat4", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rcat4.uri", s"http://127.0.0.1:$port")
      try {
        assert(spark.sql("SELECT v FROM rcat4.db.bktt WHERE k = 2")
          .collect().map(_.getString(0)).toSeq == Seq("b"))
        spark.sql("INSERT INTO rcat4.db.bktt VALUES (3, 'c')")
        assert(spark.sql("SELECT k FROM rcat4.db.bktt ORDER BY k")
          .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      } finally {
        spark.conf.unset("spark.sql.catalog.rcat4")
        spark.conf.unset("spark.sql.catalog.rcat4.uri")
      }
    }
  }

  test("CREATE TABLE with transform partitioning PURELY over REST " +
      "(r17, VERDICT r16 #6): create, write, prune and spec round-trip " +
      "without touching the owning catalog") {
    withServer { port =>
      spark.conf.set("spark.sql.catalog.rcat5", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rcat5.uri", s"http://127.0.0.1:$port")
      try {
        spark.sql("""CREATE TABLE rcat5.db.evrest
          (k BIGINT, ts TIMESTAMP, v STRING)
          PARTITIONED BY (bucket(8, k), days(ts))""")
        spark.sql("""INSERT INTO rcat5.db.evrest
          SELECT id, timestamp_seconds(1700000000 + (id % 3) * 86400 + id),
                 concat('v', CAST(id AS STRING))
          FROM range(0, 30)""")
        // point lookup on the bucket source + a day range both work
        assert(spark.sql("SELECT v FROM rcat5.db.evrest WHERE k = 7")
          .collect().map(_.getString(0)).toSeq == Seq("v7"))
        assert(spark.sql("""SELECT count(*) FROM rcat5.db.evrest
          WHERE ts < timestamp_seconds(1700086400)""").collect()
          .head.getLong(0) == 30 / 3)
        // the derived layout really landed (both transforms nested)
        val dataDir = java.nio.file.Paths.get(wh, "db", "evrest", "data")
        val buckets = scala.jdk.CollectionConverters.IteratorHasAsScala(
          java.nio.file.Files.list(dataDir).iterator()).asScala
          .map(_.getFileName.toString).filter(_.startsWith("k_bucket="))
          .toSeq
        assert(buckets.nonEmpty, "bucket dirs missing")
        // spec + pinned zone round-trip through table properties
        val p = new java.util.Properties()
        val in = java.nio.file.Files.newInputStream(java.nio.file.Paths
          .get(wh, "db", "evrest", "_graft_props.properties"))
        try p.load(in) finally in.close()
        assert(p.getProperty("graft.partition.columns") ==
          "bucket(8,k);days(ts)")
        assert(p.getProperty(
          graft.catalog.PartitionTransforms.ZoneKey) != null)
        // the owning catalog reads the same table identically
        assert(spark.sql("SELECT count(*) FROM rsrc.db.evrest").collect()
          .head.getLong(0) == 30)
        // validation parity: wrong-typed transform source rejects
        val e = intercept[Exception] {
          spark.sql("""CREATE TABLE rcat5.db.badrest (s STRING)
            PARTITIONED BY (days(s))""")
        }
        assert(e.getMessage.contains("timestamp/date"))
      } finally {
        spark.conf.unset("spark.sql.catalog.rcat5")
        spark.conf.unset("spark.sql.catalog.rcat5.uri")
      }
    }
  }

  /** Run `f` with a REST client catalog named `cat` over a served `wh`. */
  private def withRestCatalog(cat: String)(f: => Unit): Unit =
    withServer { port =>
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.RestCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.uri", s"http://127.0.0.1:$port")
      try f finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.uri")
      }
    }

  test("CREATE TABLE over REST rejects a reserved column name, like " +
      "the owning catalog, and leaves no table behind") {
    withRestCatalog("rcat6") {
      val e = intercept[Exception] {
        spark.sql("CREATE TABLE rcat6.db.absent (__graft_absent_1 INT)")
      }
      assert(e.getMessage.contains("reserved"), e.getMessage)
      assert(!Files.exists(Paths.get(wh, "db", "absent")))
      assert(!spark.sql("SHOW TABLES IN rcat6.db").collect()
        .exists(_.getString(1) == "absent"))
    }
  }

  test("a raw REST create with an invalid transform is rejected before " +
      "anything is written") {
    withServer { port =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = mapper.writeValueAsString(java.util.Map.of(
        "name", "rawbad",
        "schema-json", new org.apache.spark.sql.types.StructType()
          .add("s", org.apache.spark.sql.types.StringType).json,
        "partition-cols", java.util.List.of("days(s)")))
      val http = java.net.http.HttpClient.newHttpClient()
      val url = s"http://127.0.0.1:$port/v1/namespaces/db/tables"
      val post = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(url))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() != 200, post.body())
      assert(post.body().contains("timestamp/date"), post.body())
      val get = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"$url/rawbad")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 404, get.body())
      assert(!Files.exists(Paths.get(wh, "db", "rawbad")))
    }
  }

  test("REST and the owning catalog agree on a fully evolved table: " +
      "field-id generation, spec era, write order, pinned zone, v2 bucket") {
    spark.sql("""CREATE TABLE rsrc.db.evo (k INT, ts TIMESTAMP, v STRING)
      PARTITIONED BY (bucket(4, k), days(ts))
      TBLPROPERTIES ('graft.write.ordered-by'='k')""")
    def insert(cat: String, from: Int, to: Int): Unit =
      spark.sql(s"""INSERT INTO $cat.db.evo
        SELECT CAST(id AS INT), timestamp_seconds(1700000000 + id * 7200),
               concat('v', CAST(id AS STRING))
        FROM range($from, $to)""")
    insert("rsrc", 0, 10)
    spark.sql("ALTER TABLE rsrc.db.evo RENAME COLUMN v TO w")
    insert("rsrc", 10, 20)
    spark.sql("CALL rsrc.system.add_partition_field('db.evo', 'hours(ts)')")
    insert("rsrc", 20, 30)
    withRestCatalog("rcat7") {
      val queries = Seq(
        "SELECT k, ts, w FROM %s.db.evo ORDER BY k",
        "SELECT w FROM %s.db.evo WHERE k = 13",
        "SELECT count(*) FROM %s.db.evo WHERE ts < timestamp_seconds(1700050000)")
      def agree(): Unit = queries.foreach { q =>
        val meta = spark.sql(q.format("rsrc")).collect().toSeq
        assert(spark.sql(q.format("rcat7")).collect().toSeq == meta, q)
        assert(meta.nonEmpty, q)
      }
      agree()
      insert("rcat7", 30, 40)
      agree()
      assert(spark.sql("SELECT count(*) FROM rsrc.db.evo").collect()
        .head.getLong(0) == 40)
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("db"), "evo")
      def handle(cat: String) = spark.sessionState.catalogManager
        .catalog(cat)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(ident)
      val (viaMeta, viaRest) = (handle("rsrc"), handle("rcat7"))
      assert(viaRest.partitioning().map(_.toString).toSeq ==
        viaMeta.partitioning().map(_.toString).toSeq)
      assert(viaRest.partitioning().map(_.toString).toSeq ==
        Seq("bucket(4, k)", "days(ts)", "hours(ts)"))
      assert(viaRest.properties() == viaMeta.properties())
      val props = viaRest.properties()
      assert(props.get("graft.write.ordered-by") == "k")
      assert(props.get("graft.bucket.derivation") == "v2")
      assert(props.get(graft.catalog.PartitionTransforms.ZoneKey) != null)
      assert(viaRest.schema() == viaMeta.schema())
    }
  }

  test("auth: configured server rejects missing/wrong credentials, accepts bearer and basic") {
    val tok = "sekrit-token-123"
    val srv = new RestCatalogServer(Paths.get(wh), 0, Some(s"Bearer $tok"))
    srv.start()
    try {
      val port = srv.port
      // no credentials → 401 surfaces as a clear error
      spark.conf.set("spark.sql.catalog.rnoauth", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rnoauth.uri", s"http://127.0.0.1:$port")
      val e = intercept[Exception] {
        spark.sql("SHOW NAMESPACES IN rnoauth").collect()
      }
      assert(e.getMessage.contains("401") ||
        e.getMessage.toLowerCase.contains("unauthorized"), e.getMessage.take(300))
      // wrong token → still rejected
      spark.conf.set("spark.sql.catalog.rbad", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rbad.uri", s"http://127.0.0.1:$port")
      spark.conf.set("spark.sql.catalog.rbad.token", "wrong")
      val e2 = intercept[Exception] {
        spark.sql("SHOW NAMESPACES IN rbad").collect()
      }
      assert(e2.getMessage.contains("401") ||
        e2.getMessage.toLowerCase.contains("unauthorized"), e2.getMessage.take(300))
      // right token → full surface works
      spark.conf.set("spark.sql.catalog.rauth", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rauth.uri", s"http://127.0.0.1:$port")
      spark.conf.set("spark.sql.catalog.rauth.token", tok)
      assert(spark.sql("SELECT count(*) FROM rauth.db.t").collect()
        .head.getLong(0) == 3L)
      spark.conf.unset("spark.sql.catalog.rnoauth")
      spark.conf.unset("spark.sql.catalog.rnoauth.uri")
      spark.conf.unset("spark.sql.catalog.rbad")
      spark.conf.unset("spark.sql.catalog.rbad.uri")
      spark.conf.unset("spark.sql.catalog.rbad.token")
      spark.conf.unset("spark.sql.catalog.rauth")
      spark.conf.unset("spark.sql.catalog.rauth.uri")
      spark.conf.unset("spark.sql.catalog.rauth.token")
    } finally srv.stop()

    // basic auth: username/password options produce the matching header
    val basic = graft.catalog.RestAuth
      .header(None, Some("alice"), Some("pw"), Map.empty).get
    val srv2 = new RestCatalogServer(Paths.get(wh), 0, Some(basic))
    srv2.start()
    try {
      spark.conf.set("spark.sql.catalog.rbasic", "graft.catalog.RestCatalog")
      spark.conf.set("spark.sql.catalog.rbasic.uri", s"http://127.0.0.1:${srv2.port}")
      spark.conf.set("spark.sql.catalog.rbasic.username", "alice")
      spark.conf.set("spark.sql.catalog.rbasic.password", "pw")
      assert(spark.sql("SELECT count(*) FROM rbasic.db.t").collect()
        .head.getLong(0) == 3L)
    } finally {
      srv2.stop()
      spark.conf.unset("spark.sql.catalog.rbasic")
      spark.conf.unset("spark.sql.catalog.rbasic.uri")
      spark.conf.unset("spark.sql.catalog.rbasic.username")
      spark.conf.unset("spark.sql.catalog.rbasic.password")
    }
  }
}
