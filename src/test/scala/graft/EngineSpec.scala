package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine

/** Lifecycle parity with the reference service (SURVEY §2.13, §5.5):
  * auth, per-token session isolation, prepare/bind/execute/fetch/close,
  * the "rollback" special case, DDL rowcount -1, information_schema.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val engine = new Engine(TestSpark.spark)
  private lazy val token = engine.handshake("admin", "password").toOption.get

  test("handshake rejects bad credentials like lib.rs:237-240") {
    assert(engine.handshake("admin", "wrong").isLeft)
    assert(engine.handshake("nobody", "password").isLeft)
  }

  test("prepare returns the result schema without executing") {
    val (h, schema) = engine.prepare(token, "SELECT 1 AS one, 'x' AS s")
    assert(schema.fieldNames.toSeq == Seq("one", "s"))
    engine.closeStatement(h)
  }

  test("prepare → execute → fetch round-trip") {
    val (h, _) = engine.prepare(token,
      "SELECT id, id * 2 AS twice FROM range(5) ORDER BY id")
    assert(engine.execute(h) == 5)
    val (schema, rows) = engine.fetch(h)
    assert(schema.fieldNames.toSeq == Seq("id", "twice"))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    engine.closeStatement(h)
  }

  test("string parameter binding (Utf8-only, lib.rs:613-622)") {
    val (h, _) = engine.prepare(token, "SELECT ? AS a, ? AS b")
    engine.bind(h, Seq("hello", "world"))
    engine.execute(h)
    val (_, rows) = engine.fetch(h)
    assert(rows.head.getString(0) == "hello" && rows.head.getString(1) == "world")
    engine.closeStatement(h)
  }

  test("literal 'rollback' short-circuits to a one-row plan (lib.rs:677)") {
    val (_, rows) = engine.executeQuery(token, "  ROLLBACK  ")
    assert(rows.length == 1 && rows.head.getString(0) == "ROLLBACK")
  }

  test("DDL goes through executeUpdate and reports -1 (lib.rs:653)") {
    assert(engine.executeUpdate(token,
      "CREATE OR REPLACE TEMPORARY VIEW ddl_probe AS SELECT 42 AS v") == -1L)
    val (_, rows) = engine.executeQuery(token, "SELECT v FROM ddl_probe")
    assert(rows.head.getInt(0) == 42)
  }

  test("sessions are isolated per token (temp views don't leak)") {
    val token2 = engine.handshake("admin", "password").toOption.get
    engine.executeUpdate(token,
      "CREATE OR REPLACE TEMPORARY VIEW leak_probe AS SELECT 1 AS v")
    val failed = scala.util.Try(
      engine.executeQuery(token2, "SELECT * FROM leak_probe")).isFailure
    assert(failed)
    engine.closeSession(token2)
  }

  test("information_schema.tables is queryable via SQL (lib.rs:92)") {
    engine.executeUpdate(token,
      "CREATE OR REPLACE TEMPORARY VIEW info_probe AS SELECT 1 AS v")
    val (_, rows) = engine.executeQuery(token,
      "SELECT table_name FROM information_schema.tables " +
        "WHERE table_name = 'info_probe'")
    assert(rows.length == 1)
  }

  test("information_schema.columns and df_settings") {
    val (_, cols) = engine.executeQuery(token,
      "SELECT column_name, data_type FROM information_schema.columns " +
        "WHERE table_name = 'info_probe' ORDER BY ordinal_position")
    assert(cols.head.getString(0) == "v" && cols.head.getString(1) == "int")
    val (_, conf) = engine.executeQuery(token,
      "SELECT value FROM information_schema.df_settings " +
        "WHERE name = 'spark.sql.session.timeZone'")
    assert(conf.head.getString(0) == "UTC")
  }

  test("executeUpdate rewrites information_schema like prepare/execute") {
    engine.executeUpdate(token,
      "CREATE OR REPLACE TEMPORARY VIEW info_upd_src AS SELECT 1 AS v")
    engine.executeUpdate(token, "CREATE OR REPLACE TEMPORARY VIEW " +
      "info_upd_tv AS SELECT table_name FROM information_schema.tables")
    val (_, rows) = engine.executeQuery(token,
      "SELECT count(*) FROM info_upd_tv")
    assert(rows.head.getLong(0) > 0)
  }

  test("unknown statement handle raises") {
    assert(scala.util.Try(engine.execute("nope")).isFailure)
  }

  test("concurrent sessions execute independently without cross-talk") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 6).map { i =>
      Future {
        val t = engine.handshake("admin", "password").toOption.get
        engine.executeUpdate(t,
          s"CREATE OR REPLACE TEMPORARY VIEW conc_$i AS SELECT $i AS v")
        val (_, rows) = engine.executeQuery(t,
          s"SELECT v * 10 FROM conc_$i")
        engine.closeSession(t)
        rows.head.getInt(0)
      }
    }
    assert(Await.result(Future.sequence(futures), 120.seconds) ==
      (1 to 6).map(_ * 10))
  }

  test("GraftExtensions injects the full DFCompat surface at config time") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val names = org.apache.spark.sql.graftaccess.Internals
      .injectedFunctionNames(ext)
    assert(names.contains("date_bin") && names.contains("strpos") &&
      names.contains("regexp_match") && names.size >= 30)
  }

  test("GraftExtensions plans a stats-answered count(*) and a metadata " +
      "table projection as one LocalTableScan") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.LocalTableScanExec
    TestSpark.spark // the new session shares the running SparkContext
    val (default, active) = (SparkSession.getDefaultSession,
      SparkSession.getActiveSession)
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions()).create()
    try {
      s.conf.set("spark.sql.catalog.gx", "graft.catalog.MetaCatalog")
      s.conf.set("spark.sql.catalog.gx.warehouse",
        java.nio.file.Files.createTempDirectory("graft_wh_gx").toString)
      s.sql("CREATE NAMESPACE gx.db")
      s.sql("CREATE TABLE gx.db.t (id BIGINT)")
      s.sql("INSERT INTO gx.db.t VALUES (1), (2), (3)")
      def local(sql: String): Boolean =
        s.sql(sql).queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]
      assert(local("SELECT count(*) AS n FROM gx.db.t"))
      assert(s.sql("SELECT count(*) AS n FROM gx.db.t").collect().head
        .getLong(0) == 3L)
      assert(local("SELECT version + 1 AS v FROM gx.db.t.snapshots"))
      assert(!local("SELECT count(*) AS n FROM gx.db.t WHERE id > 1"))
    } finally {
      // later suites resolve SparkSession.active to the shared session
      default.fold(SparkSession.clearDefaultSession())(
        SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
    }
  }

  test("empty results still carry their schema (lib.rs:282-286)") {
    val (_, rows) = engine.executeQuery(token,
      "SELECT id AS a, 'x' AS b FROM range(10) WHERE id < 0")
    assert(rows.isEmpty)
    val (h, schema) = engine.prepare(token,
      "SELECT id AS a, 'x' AS b FROM range(10) WHERE id < 0")
    assert(schema.fieldNames.toSeq == Seq("a", "b"))
    engine.closeStatement(h)
  }

  test("per-session scalar UDF registration (§2.12 surface)") {
    engine.session(token).udf.register("plus_one", (x: Int) => x + 1)
    val (_, rows) = engine.executeQuery(token, "SELECT plus_one(41) AS v")
    assert(rows.head.getInt(0) == 42)
  }

  test("env-backed current_schema/current_database shims (lib.rs:106-128)") {
    val (_, rows) = engine.executeQuery(token,
      "SELECT current_schema() AS cs, current_database() AS cd")
    assert(rows.head.getString(0) == sys.env.getOrElse("CURRENT_SCHEMA", "public"))
    assert(rows.head.getString(1) == sys.env.getOrElse("CURRENT_DATABASE", "datafusion"))
  }

  test("object-store env contract maps onto s3a conf (main.rs:46-71)") {
    import graft.engine.ObjectStoreConf
    val env = Map(
      "BUCKET" -> "lake", "AWS_ACCESS_KEY_ID" -> "ak",
      "AWS_SECRET_ACCESS_KEY" -> "sk", "AWS_ENDPOINT" -> "http://minio:9000",
      "AWS_ALLOW_HTTP" -> "TRUE")
    val applied = ObjectStoreConf.applyEnv(engine.session(token), env).toMap
    assert(applied("fs.s3a.access.key") == "ak")
    assert(applied("fs.s3a.endpoint") == "http://minio:9000")
    assert(applied("fs.s3a.connection.ssl.enabled") == "false")
    val hc = engine.session(token).sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.secret.key") == "sk")
    assert(ObjectStoreConf.warehouseRoot(env) == "s3a://lake/warehouse")
    // missing creds → local fallback, nothing applied (reference: InMemory)
    assert(ObjectStoreConf.applyEnv(engine.session(token), Map("BUCKET" -> "x")).isEmpty)
    assert(!ObjectStoreConf.warehouseRoot(Map.empty).startsWith("s3a://"))
  }

  test("EXPLAIN ANALYZE executes and reports runtime metrics per node") {
    val (_, rows) = engine.executeQuery(token,
      "EXPLAIN ANALYZE SELECT id FROM range(100) WHERE id > 50")
    val text = rows.map(_.getString(0)).mkString("\n")
    assert(text.contains("numOutputRows="), text.take(400))
    assert(text.contains("Range"), text.take(400))
    // the metric VALUES are real (the filter's input range produced 100)
    assert(text.contains("numOutputRows=100"), text.take(400))
  }

  test("prepare reports the result schema for parameterized text (lib.rs:702-708)") {
    // Reference returns the plan's schema at prepare even with $n
    // placeholders (typed Utf8); here the text plans with Utf8 dummies.
    val (h, schema) = engine.prepare(token,
      "SELECT ? AS a, upper(?) AS b, length(?) AS c")
    assert(schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(schema("a").dataType.typeName == "string")
    engine.closeStatement(h)
    // placeholders inside string literals don't count
    val (h2, s2) = engine.prepare(token, "SELECT '?' AS lit, ? AS p")
    assert(s2.fieldNames.toSeq == Seq("lit", "p"))
    engine.closeStatement(h2)
    // genuinely unplannable text still degrades to an empty schema
    val (h3, s3) = engine.prepare(token, "SELECT * FROM no_such_table_xyz")
    assert(s3.isEmpty)
    engine.closeStatement(h3)
  }

  test("prepare of parameterized DML must not execute (no dummy-bind writes)") {
    engine.executeUpdate(token,
      "CREATE OR REPLACE TEMPORARY VIEW dml_probe_src AS SELECT 1 AS v")
    val dir = java.nio.file.Files.createTempDirectory("graft_dml_probe")
    engine.executeUpdate(token,
      s"CREATE TABLE dml_probe (v INT) USING parquet LOCATION '$dir'")
    try {
      // prepare alone must leave the table untouched (commands execute
      // eagerly at sql(), so dummy-binding INSERT text would write rows)
      val (h, schema) = engine.prepare(token,
        "INSERT INTO dml_probe SELECT length(?) AS v")
      assert(schema.isEmpty) // DML: schema stays empty, like before
      val (_, rows0) = engine.executeQuery(token,
        "SELECT count(*) AS n FROM dml_probe")
      assert(rows0.head.getLong(0) == 0L,
        "prepare must not have inserted anything")
      engine.closeStatement(h)
    } finally engine.executeUpdate(token, "DROP TABLE IF EXISTS dml_probe")
  }

  test("GCS env contract maps onto gs conf; S3 wins when both present (Cargo.toml:11)") {
    import graft.engine.ObjectStoreConf
    val gcsEnv = Map("BUCKET" -> "lake",
      "GOOGLE_SERVICE_ACCOUNT" -> "/secrets/sa.json")
    val applied = ObjectStoreConf.applyEnv(engine.session(token), gcsEnv).toMap
    assert(applied("fs.gs.auth.service.account.json.keyfile") == "/secrets/sa.json")
    assert(applied.contains("fs.gs.impl"))
    assert(ObjectStoreConf.warehouseRoot(gcsEnv) == "gs://lake/warehouse")
    // aws-before-gcp builder order: the S3 triple takes precedence
    val both = gcsEnv ++ Map("AWS_ACCESS_KEY_ID" -> "ak",
      "AWS_SECRET_ACCESS_KEY" -> "sk")
    assert(ObjectStoreConf.warehouseRoot(both) == "s3a://lake/warehouse")
    assert(!ObjectStoreConf.applyEnv(engine.session(token), both).toMap
      .contains("fs.gs.impl"))
    // a service account without a bucket is NOT enough
    assert(ObjectStoreConf.applyEnv(engine.session(token),
      Map("GOOGLE_SERVICE_ACCOUNT" -> "/x.json")).isEmpty)
  }

  test("TIME type rejects with a clean diagnostic (SURVEY §1.2: no TIME in Spark)") {
    val e = intercept[Exception] {
      engine.executeQuery(token, "SELECT TIME'12:34:56' AS t")
    }
    assert(e.getMessage.contains("UNSUPPORTED_TIME_TYPE"),
      s"expected the documented rejection, got: ${e.getMessage.take(200)}")
  }

  test("Decimal256 precision rejects with Spark's clean diagnostic " +
      "(SURVEY §1.2: max precision 38 = Decimal128)") {
    val e = intercept[Exception] {
      engine.executeQuery(token, "SELECT CAST(1 AS DECIMAL(50, 2)) AS d")
    }
    assert(e.getMessage.contains("DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION"),
      s"expected the max-precision rejection, got: ${e.getMessage.take(200)}")
  }

  test("SIMILAR TO rewrites to anchored RLIKE with SQL-standard semantics") {
    def vals(sql: String): Seq[String] =
      engine.executeQuery(token, sql)._2.map(_.getString(0)).toSeq
    // % and _ are wildcards; the match is full-string
    assert(vals("SELECT v FROM VALUES ('abc'),('a.c'),('axcy'),('ac') AS " +
      "t(v) WHERE v SIMILAR TO 'a%c' ORDER BY v") == Seq("a.c", "abc", "ac"))
    // '.' is a LITERAL character, unlike a bare regex
    assert(vals("SELECT v FROM VALUES ('abc'),('a.c') AS t(v) " +
      "WHERE v SIMILAR TO 'a.c'") == Seq("a.c"))
    // alternation, bracket classes, _ keep their meaning; NOT negates
    assert(vals("SELECT v FROM VALUES ('grape'),('green'),('bloke'),('glue') " +
      "AS t(v) WHERE v SIMILAR TO '(gr|bl)[a-u]_e' ORDER BY v") ==
      Seq("bloke", "grape"))
    assert(vals("SELECT v FROM VALUES ('abc'),('xyz') AS t(v) " +
      "WHERE v NOT SIMILAR TO '%b%'") == Seq("xyz"))
    // text without the operator is untouched
    assert(Engine.rewriteSimilarTo("SELECT 'SIMILAR' AS s") ==
      "SELECT 'SIMILAR' AS s")
  }

  test("SIMILAR TO rewrite is literal-, identifier- and comment-aware") {
    // operator text INSIDE a string literal passes through unchanged
    val lit = "SELECT 'a SIMILAR TO ''b''' AS s"
    assert(Engine.rewriteSimilarTo(lit) == lit)
    val lineC = "SELECT 1 AS x -- note: SIMILAR TO 'y' here\nFROM t"
    assert(Engine.rewriteSimilarTo(lineC) == lineC)
    val blockC = "SELECT 1 AS x /* v SIMILAR TO 'y' */ FROM t"
    assert(Engine.rewriteSimilarTo(blockC) == blockC)
    val quotedId = "SELECT \"v SIMILAR TO 'y'\" FROM t"
    assert(Engine.rewriteSimilarTo(quotedId) == quotedId)
    // a REAL operator after a literal containing the text still rewrites
    val mixed = Engine.rewriteSimilarTo(
      "SELECT v FROM t WHERE note = 'x SIMILAR TO y' AND v SIMILAR TO 'a%'")
    assert(mixed.contains("note = 'x SIMILAR TO y'"), mixed)
    // a backslash-escaped quote must not end the literal span early
    // (Spark's default parser accepts 'don\'t'): the literal is copied
    // verbatim, the REAL operator after it still rewrites
    val bs = Engine.rewriteSimilarTo(
      "SELECT v FROM t WHERE note = 'don\\'t SIMILAR TO y' AND v SIMILAR TO 'a%'")
    assert(bs.contains("note = 'don\\'t SIMILAR TO y'"), bs)
    assert(bs.contains("RLIKE"), bs)
    assert(mixed.contains("RLIKE") && !mixed.toLowerCase.endsWith("'a%'"), mixed)
    // word boundary: `dissimilar` is not the keyword
    val wb = Engine.rewriteSimilarTo("SELECT dissimilar FROM t WHERE v SIMILAR TO 'a'")
    assert(wb.startsWith("SELECT dissimilar FROM t WHERE v RLIKE"), wb)
    // end-to-end through the engine: the literal survives execution
    val (_, rows) = engine.executeQuery(token, "SELECT 'a SIMILAR TO b' AS s")
    assert(rows.head.getString(0) == "a SIMILAR TO b")
  }

  test("SIMILAR TO ESCAPE clause declares the escape character") {
    def vals(sql: String): Seq[String] =
      engine.executeQuery(token, sql)._2.map(_.getString(0)).toSeq
    // '#'-escaped % is a literal percent, not a wildcard
    assert(vals("SELECT v FROM VALUES ('a%c'),('abc') AS t(v) " +
      "WHERE v SIMILAR TO 'a#%c' ESCAPE '#'") == Seq("a%c"))
    // escape + escape = the literal escape character
    assert(vals("SELECT v FROM VALUES ('a#c'),('abc') AS t(v) " +
      "WHERE v SIMILAR TO 'a##c' ESCAPE '#'") == Seq("a#c"))
    // under a custom escape, a bare backslash is an ordinary character
    assert(vals("SELECT v FROM VALUES (concat('a', chr(92), 'c')),('abc') " +
      "AS t(v) WHERE v SIMILAR TO 'a\\c' ESCAPE '#'") == Seq("a\\c"))
    // a quoted quote inside the pattern round-trips (doubled encoding)
    assert(vals("SELECT v FROM VALUES ('it''s'),('its') AS t(v) " +
      "WHERE v SIMILAR TO 'it''s'") == Seq("it's"))
  }

  test("SIMILAR TO bracket classes handle the ]-forms") {
    def vals(sql: String): Seq[String] =
      engine.executeQuery(token, sql)._2.map(_.getString(0)).toSeq
    // POSIX literal-] form: `[]]` is a class containing one `]`
    assert(vals("SELECT v FROM VALUES (']'),('x') AS t(v) " +
      "WHERE v SIMILAR TO '[]]'") == Seq("]"))
    // negated form `[^]]`: any single char except `]`
    assert(vals("SELECT v FROM VALUES (']'),('x') AS t(v) " +
      "WHERE v SIMILAR TO '[^]]'") == Seq("x"))
    // escaped `]` inside a class does NOT close it
    assert(vals("SELECT v FROM VALUES ('a'),(']'),('c') AS t(v) " +
      "WHERE v SIMILAR TO '[a\\]b]' ORDER BY v") == Seq("]", "a"))
  }

  test("fetchArrow returns a readable Arrow IPC stream (lib.rs:288-295)") {
    val (h, _) = engine.prepare(token,
      "SELECT id, concat('n', CAST(id AS STRING)) AS name FROM range(5)")
    engine.execute(h)
    val bytes = engine.fetchArrow(h)
    engine.closeStatement(h)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      assert(reader.loadNextBatch())
      val root = reader.getVectorSchemaRoot
      assert(root.getRowCount == 5)
      assert(root.getSchema.getFields.size() == 2)
      val ids = root.getVector("id").asInstanceOf[org.apache.arrow.vector.BigIntVector]
      assert((0 until 5).map(ids.get) == Seq(0L, 1L, 2L, 3L, 4L))
      val names = root.getVector("name").asInstanceOf[org.apache.arrow.vector.VarCharVector]
      assert(new String(names.get(3)) == "n3")
      assert(!reader.loadNextBatch()) // EOS after the single batch
    } finally { reader.close(); alloc.close() }
  }

  test("fetchArrow chunks large results into multiple record batches") {
    engine.session(token).conf
      .set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try {
      val (h, _) = engine.prepare(token, "SELECT id FROM range(250)")
      engine.execute(h)
      val bytes = engine.fetchArrow(h)
      engine.closeStatement(h)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        var batches = 0
        var total = 0L
        while (reader.loadNextBatch()) {
          batches += 1
          total += reader.getVectorSchemaRoot.getRowCount
        }
        assert(batches == 3, s"expected 100+100+50 batches, got $batches")
        assert(total == 250L)
      } finally { reader.close(); alloc.close() }
    } finally engine.session(token).conf
      .unset("spark.sql.execution.arrow.maxRecordsPerBatch")
  }

  test("fetchArrow encodes ONCE: repeat fetches return the cached bytes; " +
      "re-execute invalidates (VERDICT r8 #3)") {
    engine.session(token).conf
      .set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try {
      val (h, _) = engine.prepare(token, "SELECT id FROM range(250)")
      engine.execute(h)
      val first = engine.fetchArrow(h)
      // the SAME array instance — the encode ran once, later fetches are
      // cache hits (the reference caches encoded batches, lib.rs:333-344)
      assert(engine.fetchArrow(h) eq first)
      val (bytes, offsets) = engine.fetchArrowFramed(h)
      assert(bytes eq first)
      // frame boundaries: schema message + 3 batches (100+100+50, EOS on
      // the last) — strictly increasing, ending at the stream length
      assert(offsets.length == 4, offsets.mkString(","))
      assert(offsets.last == bytes.length)
      assert(offsets.toSeq == offsets.toSeq.sorted.distinct)
      // each slice is a standalone IPC message; concatenation decodes as
      // the identical stream (what a DoGet client reassembles)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        var total = 0L
        var batches = 0
        while (reader.loadNextBatch()) {
          batches += 1; total += reader.getVectorSchemaRoot.getRowCount
        }
        assert(batches == 3 && total == 250L)
      } finally { reader.close(); alloc.close() }
      // re-execute refreshes the result → the cached encoding is dropped
      engine.execute(h)
      assert(!(engine.fetchArrow(h) eq first))
      engine.closeStatement(h)
    } finally engine.session(token).conf
      .unset("spark.sql.execution.arrow.maxRecordsPerBatch")
  }

  /** Call sites of every Spark job started while `body` runs. The
    * listener bus is async but FIFO: a uniquely-described marker job is
    * run after `body`, and once its start event is visible every event
    * from `body` has been delivered too. */
  private def jobCallSitesDuring(body: => Unit): Seq[String] =
    jobsDuring(body)._1.map(_._1)

  /** The jobs `body` started, by listener — (call site, description)
    * each — and the number of tasks they ran. A marker job flushes the
    * listener bus; its own job and tasks are not counted. */
  private def jobsDuring(body: => Unit): (Seq[(String, String)], Int) = {
    import scala.jdk.CollectionConverters._
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Seq[Int])]()
    val taskStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((
          Option(js.properties.getProperty("callSite.short")).getOrElse(""),
          Option(js.properties.getProperty("spark.job.description")).getOrElse(""),
          js.stageIds))
      override def onTaskStart(
          ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        taskStages.add(ts.stageId)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("graft-bus-marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2 == "graft-bus-marker") &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      val (marker, real) = seen.asScala.toSeq.partition(_._2 == "graft-bus-marker")
      val markerStages = marker.flatMap(_._3).toSet
      (real.map(j => (j._1, j._2)),
        taskStages.asScala.count(s => !markerStages.contains(s)))
    } finally sc.removeSparkListener(listener)
  }

  test("fetchArrow serves the cached execute() result — repeatable read, " +
      "no second execution (lib.rs:288-295)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fetch_cache")
    engine.executeUpdate(token,
      s"CREATE TABLE fetch_cache_t (v INT) USING parquet LOCATION '$dir'")
    try {
      engine.executeUpdate(token, "INSERT INTO fetch_cache_t VALUES (1), (2), (3)")
      val (h, _) = engine.prepare(token, "SELECT v FROM fetch_cache_t ORDER BY v")
      assert(engine.execute(h) == 3)
      // mutate the table AFTER execute: the cached result must not move
      engine.executeUpdate(token, "INSERT INTO fetch_cache_t VALUES (99)")
      var bytes: Array[Byte] = null
      val jobs = jobCallSitesDuring { bytes = engine.fetchArrow(h) }
      assert(jobs.isEmpty, s"fetchArrow must not launch Spark jobs, saw: $jobs")
      engine.closeStatement(h)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        assert(reader.loadNextBatch())
        val root = reader.getVectorSchemaRoot
        val vs = root.getVector("v").asInstanceOf[org.apache.arrow.vector.IntVector]
        assert((0 until root.getRowCount).map(vs.get) == Seq(1, 2, 3),
          "fetchArrow must encode the pre-mutation cache, not re-execute")
      } finally { reader.close(); alloc.close() }
      // a fresh statement DOES see the mutation (the cache is per-statement)
      val (_, after) = engine.executeQuery(token,
        "SELECT count(*) AS n FROM fetch_cache_t")
      assert(after.head.getLong(0) == 4L)
    } finally engine.executeUpdate(token, "DROP TABLE IF EXISTS fetch_cache_t")
  }

  test("fetchArrow before execute raises like fetch") {
    val (h, _) = engine.prepare(token, "SELECT 1 AS v")
    intercept[IllegalStateException] { engine.fetchArrow(h) }
    engine.closeStatement(h)
  }

  test("one cached result form: repeat fetches return the same bytes; " +
      "row fetch decodes them to the collected values") {
    val sql = "SELECT id, CAST(id AS STRING) AS s, id * 2.5 AS d, " +
      "id % 2 = 0 AS b, array(id, id + 1) AS arr FROM range(37)"
    val (h, _) = engine.prepare(token, sql)
    engine.execute(h)
    val collected = engine.session(token).sql(sql)
    val (schema0, before) = (collected.schema, collected.collect())
    val first = engine.fetchArrow(h)
    // repeat fetches serve the identical cached bytes
    assert(engine.fetchArrow(h) eq first)
    assert(engine.fetchArrowFramed(h)._1 eq first)
    // row-shaped fetch: decoded from the bytes, value- and
    // schema-identical to Spark's own collect of the same text
    val (schema1, after) = engine.fetch(h)
    assert(schema1 == schema0)
    assert(after.length == before.length)
    before.zip(after).foreach { case (a, b) =>
      assert(a.toSeq.map {
        case arr: scala.collection.Seq[_] => arr.toSeq
        case v => v
      } == b.toSeq.map {
        case arr: scala.collection.Seq[_] => arr.toSeq
        case v => v
      })
    }
    // a row fetch leaves the cached bytes as they were
    assert(engine.fetchArrow(h) eq first)
    // re-execute replaces the result with a new encoding
    engine.execute(h)
    assert(!(engine.fetchArrow(h) eq first))
    engine.closeStatement(h)
  }

  test("executeUpdate never materializes result rows on the driver") {
    // query-shaped text runs distributed and drains on the executors:
    // a job starts, but never a driver-side `collect at` one
    val jobs = jobCallSitesDuring {
      assert(engine.executeUpdate(token, "SELECT id FROM range(100000)") == -1L)
    }
    assert(jobs.nonEmpty, "the statement must actually run")
    assert(!jobs.exists(_.startsWith("collect")),
      s"executeUpdate must not collect to the driver, saw: $jobs")
    // DML goes through the same path: the INSERT's own write job runs
    // (eagerly at sql()), with no collect job appended
    val dir = java.nio.file.Files.createTempDirectory("graft_upd_nocollect")
    engine.executeUpdate(token,
      s"CREATE TABLE upd_noc_t (v INT) USING parquet LOCATION '$dir'")
    try {
      val dmlJobs = jobCallSitesDuring {
        assert(engine.executeUpdate(token,
          "INSERT INTO upd_noc_t SELECT CAST(id AS INT) FROM range(1000)") == -1L)
      }
      assert(!dmlJobs.exists(_.startsWith("collect")),
        s"INSERT must not collect its command result, saw: $dmlJobs")
      val (_, n) = engine.executeQuery(token, "SELECT count(*) AS n FROM upd_noc_t")
      assert(n.head.getLong(0) == 1000L)
    } finally engine.executeUpdate(token, "DROP TABLE IF EXISTS upd_noc_t")
  }

  test("statement GC sweeps idle statements; fresh ones survive") {
    val (stale, _) = engine.prepare(token, "SELECT 1 AS a")
    Thread.sleep(30)
    val (fresh, _) = engine.prepare(token, "SELECT 2 AS b")
    assert(engine.gc(ttlMillis = 20) >= 1)
    intercept[IllegalArgumentException] { engine.execute(stale) }
    engine.execute(fresh) // still alive
    engine.closeStatement(fresh)
  }

  test("closing a session drops its statements and cached results") {
    val Right(t2) = engine.handshake("admin", "password")
    val (h, _) = engine.prepare(t2, "SELECT 42 AS v")
    engine.execute(h)
    engine.closeSession(t2)
    intercept[IllegalArgumentException] { engine.fetch(h) }
  }

  test("closeStatement auto-unpersists operator cache blocks (VERDICT r7 #4)") {
    import graft.operators.{Dedup, OperatorCache}
    val Right(t2) = engine.handshake("admin", "password")
    val s = engine.session(t2)
    import s.implicits._
    // a q_dedup_minhash-shaped corpus on the ENGINE's session, with a
    // join above it (unknown size) forcing the large-corpus path that
    // persists the candidate-pair block on top of the signature table
    val docs = (0L until 300L).map { i =>
      val fam = i % 3
      (i, s"alpha beta gamma delta epsilon zeta eta theta fam$fam " +
        s"iota kappa lambda mu nu xi omicron pi word${i % 5}")
    }.toDF("doc_id", "text")
    val rddsBefore = s.sparkContext.getPersistentRDDs.size
    val pairs = Dedup.minhashLshPairs(TestSpark.joinedAbove(docs, "doc_id"),
      "doc_id", "text", threshold = 0.5)
    pairs.createOrReplaceTempView("minhash_dups")
    assert(OperatorCache.trackedCount(s) > 0,
      "operator persists must register against the engine session")
    val (h, _) = engine.prepare(t2, "SELECT count(*) AS c FROM minhash_dups")
    assert(engine.execute(h) == 1L)
    assert(s.sparkContext.getPersistentRDDs.size > rddsBefore,
      "execute must have materialized cached blocks")
    engine.closeStatement(h)
    // every tracked block is dropped — executor storage back to baseline
    assert(OperatorCache.trackedCount(s) == 0)
    assert(s.sparkContext.getPersistentRDDs.size == rddsBefore)
    // recompute safety: the view still answers after the release
    val (_, rows) = engine.executeQuery(t2, "SELECT count(*) AS c FROM minhash_dups")
    assert(rows.head.getLong(0) >= 0L)
    assert(OperatorCache.trackedCount(s) == 0) // executeQuery closed its statement
    engine.closeSession(t2)
  }

  test("exact-multiple batch count: EOS rides the last batch frame, " +
      "no EOS-only tail frame (VERDICT r10 #4)") {
    engine.session(token).conf
      .set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try {
      val (h, _) = engine.prepare(token, "SELECT id FROM range(300)")
      engine.execute(h)
      val (bytes, offsets) = engine.fetchArrowFramed(h)
      // schema frame + 3 full batches of 100 — the LAST frame carries
      // both the final record batch and the EOS marker, per the
      // documented fetch_arrow_stream contract
      assert(offsets.length == 4, offsets.mkString(","))
      assert(offsets.last == bytes.length)
      // the final frame is a real batch (an EOS-only frame is 8 bytes)
      assert(offsets.last - offsets(offsets.length - 2) > 8)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        var total = 0L; var batches = 0
        while (reader.loadNextBatch()) {
          batches += 1; total += reader.getVectorSchemaRoot.getRowCount
        }
        assert(batches == 3 && total == 300L)
      } finally { reader.close(); alloc.close() }
      engine.closeStatement(h)
    } finally engine.session(token).conf
      .unset("spark.sql.execution.arrow.maxRecordsPerBatch")
  }

  test("concurrent fetches read the one cached result safely — " +
      "one encode, no crash") {
    val (h, _) = engine.prepare(token,
      "SELECT id, CAST(id AS STRING) AS s FROM range(5000)")
    engine.execute(h)
    val n = 16
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(n)
    (1 to n).foreach { i =>
      val t = new Thread(() => {
        try {
          start.await()
          // odd threads interleave a row-shaped fetch (which decodes
          // the cached bytes) with the arrow fetches
          if (i % 2 == 1) engine.fetch(h)
          results.add(engine.fetchArrow(h))
        } catch { case t: Throwable => errors.add(t) }
        finally done.countDown()
      })
      t.setDaemon(true); t.start()
    }
    start.countDown()
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"concurrent fetch crashed: ${errors.peek()}")
    // every thread observed the SAME cached encoding — exactly one encode
    val first = results.peek()
    results.forEach(b => assert(b eq first))
    engine.closeStatement(h)
  }

  test("statement GC releases the operator-cache blocks of swept " +
      "statements — dead-client reclamation (VERDICT r10 #1)") {
    import graft.operators.{Dedup, OperatorCache}
    val Right(t2) = engine.handshake("admin", "password")
    val s = engine.session(t2)
    import s.implicits._
    val docs = (0L until 300L).map { i =>
      val fam = i % 3
      (i, s"alpha beta gamma delta epsilon zeta eta theta fam$fam " +
        s"iota kappa lambda mu nu xi omicron pi word${i % 5}")
    }.toDF("doc_id", "text")
    val rddsBefore = s.sparkContext.getPersistentRDDs.size
    val pairs = Dedup.minhashLshPairs(TestSpark.joinedAbove(docs, "doc_id"),
      "doc_id", "text", threshold = 0.5)
    pairs.createOrReplaceTempView("gc_minhash_dups")
    val (h, _) = engine.prepare(t2, "SELECT count(*) AS c FROM gc_minhash_dups")
    assert(engine.execute(h) == 1L)
    assert(s.sparkContext.getPersistentRDDs.size > rddsBefore,
      "execute must have materialized cached blocks")
    // the client dies HERE: no close_statement, no close_session, and a
    // socket disconnect closes nothing — the TTL sweep is the only path
    // back to baseline executor storage
    Thread.sleep(30)
    assert(engine.gc(ttlMillis = 20) >= 1)
    assert(OperatorCache.trackedCount(s) == 0,
      "gc must release the swept statement's operator cache")
    assert(s.sparkContext.getPersistentRDDs.size == rddsBefore,
      "executor storage must return to baseline after gc")
    intercept[IllegalArgumentException] { engine.fetch(h) }
    engine.closeSession(t2)
  }

  test("idle sessions are reclaimed by gcSessions; touched ones survive " +
      "(VERDICT r10 #1 session TTL)") {
    val Right(idle) = engine.handshake("admin", "password")
    val (orphan, _) = engine.prepare(idle, "SELECT 1 AS v")
    engine.execute(orphan)
    val Right(active) = engine.handshake("admin", "password")
    val Right(busy) = engine.handshake("admin", "password")
    val (bh, _) = engine.prepare(busy, "SELECT 2 AS v")
    engine.execute(bh) // run the job BEFORE the idle window
    Thread.sleep(350)
    // keep-alives AFTER the idle window — all cheap (no Spark jobs, so
    // none can stale past the TTL): a verb touch on the suite session
    // and `active`, and a STATEMENT touch on `busy` (statement activity
    // must count as session activity); `idle` gets nothing
    engine.session(token)
    engine.session(active)
    engine.bind(bh, Nil)
    assert(engine.gcSessions(ttlMillis = 300) >= 1)
    intercept[IllegalArgumentException] { engine.session(idle) }
    // the idle session's statements went with it (closeSession path)
    intercept[IllegalArgumentException] { engine.fetch(orphan) }
    engine.session(active) // survives: touched after the cutoff
    engine.fetch(bh)       // survives: statement touch after the cutoff
    engine.closeSession(active)
    engine.closeSession(busy)
  }

  test("cancel_query aborts a running statement from another thread " +
      "(reference stubs do_action_cancel_query, lib.rs:781-787)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // ~2·10^9 cheap evaluations pinned to TWO partitions: minutes
    // uncancelled (so a prompt return proves the cancel, not query
    // completion) while leaving 30 cores free — suites run in parallel
    // in this JVM and a 32-core storm here starves the TTL-timing tests
    val (h, _) = engine.prepare(token,
      "SELECT max(xxhash64(a.id * b.id)) AS m " +
        "FROM range(0, 20000000, 1, 2) a CROSS JOIN range(100) b")
    val started = System.nanoTime()
    val running = Future(engine.execute(h))
    // wait until the statement's job group has an active job
    val sc = TestSpark.spark.sparkContext
    val group = Engine.jobGroup(h) + "-1" // first execute attempt
    var waited = 0
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && waited < 200) {
      Thread.sleep(50); waited += 1
    }
    assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty,
      "statement job never started")
    engine.cancelQuery(h)
    val err = intercept[Exception] { Await.result(running, 60.seconds) }
    val elapsedSec = (System.nanoTime() - started) / 1e9
    assert(elapsedSec < 60, s"cancel took ${elapsedSec}s")
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(err).toLowerCase.contains("cancel"), err.toString)
    // the handle survives cancellation and can run a fresh query
    engine.bind(h, Nil)
    intercept[IllegalStateException] { engine.fetch(h) } // never executed
    engine.closeStatement(h)
  }

  test("GRAFT_MAX_RESULT_ROWS fails an over-limit execute with a named " +
      "diagnostic; under-limit results are untouched (VERDICT r12 #2)") {
    sys.props("graft.max.result.rows") = "100"
    try {
      val (big, _) = engine.prepare(token, "SELECT id FROM range(101)")
      val err = intercept[IllegalStateException] { engine.execute(big) }
      assert(err.getMessage.contains("GRAFT_MAX_RESULT_ROWS=100"),
        err.getMessage)
      intercept[IllegalStateException] { engine.fetch(big) } // no result cached
      engine.closeStatement(big)
      val (ok, _) = engine.prepare(token,
        "SELECT id FROM range(100) ORDER BY id")
      assert(engine.execute(ok) == 100)
      val (_, rows) = engine.fetch(ok)
      assert(rows.map(_.getLong(0)).toSeq == (0L until 100L))
      engine.closeStatement(ok)
    } finally sys.props.remove("graft.max.result.rows")
  }

  test("GRAFT_MAX_RESULT_BYTES fails an oversized result before it " +
      "enters the statement cache") {
    sys.props("graft.max.result.bytes") = "4096"
    try {
      val (big, _) = engine.prepare(token,
        "SELECT repeat('x', 1000) AS s FROM range(100)")
      val err = intercept[IllegalStateException] { engine.execute(big) }
      assert(err.getMessage.contains("GRAFT_MAX_RESULT_BYTES=4096"),
        err.getMessage)
      engine.closeStatement(big)
      val (ok, _) = engine.prepare(token, "SELECT 1 AS one")
      assert(engine.execute(ok) == 1)
      engine.closeStatement(ok)
    } finally sys.props.remove("graft.max.result.bytes")
  }

  test("GRAFT_MAX_RESULT_BYTES compares the exact encoded length: a cap " +
      "equal to it passes, one byte less fails") {
    val sql = "SELECT 1 AS one"
    val (h, _) = engine.prepare(token, sql)
    engine.execute(h)
    val n = engine.fetchArrow(h).length
    engine.closeStatement(h)
    try {
      sys.props("graft.max.result.bytes") = n.toString
      val (ok, _) = engine.prepare(token, sql)
      assert(engine.execute(ok) == 1)
      assert(engine.fetchArrow(ok).length == n)
      engine.closeStatement(ok)
      sys.props("graft.max.result.bytes") = (n - 1).toString
      val (big, _) = engine.prepare(token, sql)
      val err = intercept[IllegalStateException] { engine.execute(big) }
      assert(err.getMessage.contains(s"GRAFT_MAX_RESULT_BYTES=${n - 1}"),
        err.getMessage)
      engine.closeStatement(big)
    } finally sys.props.remove("graft.max.result.bytes")
  }

  test("unlimited by default: a 200k-row result executes (reference " +
      "parity, lib.rs:333-344)") {
    val (h, _) = engine.prepare(token, "SELECT id FROM range(200000)")
    assert(engine.execute(h) == 200000)
    engine.closeStatement(h)
  }

  test("one-shot statements are never registered: at the statement cap, " +
      "get_tables and executeQuery evict no client handle") {
    val capped = new Engine(TestSpark.spark, 3)
    val t = capped.handshake("admin", "password").toOption.get
    val handles = (1 to 3).map { i =>
      val (h, _) = capped.prepare(t, s"SELECT $i AS v")
      capped.execute(h)
      h
    }
    capped.getTables(t)
    capped.executeQuery(t, "SELECT 0 AS v")
    handles.zipWithIndex.foreach { case (h, i) =>
      assert(capped.fetch(h)._2.head.getInt(0) == i + 1)
    }
    capped.closeSession(t)
  }

  test("the information_schema rewrite skips literals and comments, and " +
      "text that only quotes it walks no catalog") {
    val Right(t2) = engine.handshake("admin", "password")
    val (_, rows) = engine.executeQuery(t2,
      "SELECT 'information_schema.tables' AS s -- information_schema.views")
    assert(rows.head.getString(0) == "information_schema.tables")
    assert(!engine.session(t2).catalog.tableExists("__infoschema_tables"),
      "a quoted mention must not refresh the information_schema views")
    val (_, both) = engine.executeQuery(t2,
      "SELECT 'information_schema.tables' AS s, count(*) AS n " +
        "FROM information_schema.tables")
    assert(both.head.getString(0) == "information_schema.tables")
    assert(engine.session(t2).catalog.tableExists("__infoschema_tables"),
      "the unquoted qualifier must still rewrite and refresh")
    engine.closeSession(t2)
  }

  test("a nested struct with duplicate field names fails execute with " +
      "DUPLICATED_FIELD_NAME_IN_ARROW_STRUCT; the handle stays usable") {
    val (h, _) = engine.prepare(token, "SELECT named_struct('a', 1, ?, 2) AS s")
    engine.bind(h, Seq("a"))
    val e = intercept[Exception](engine.execute(h))
    assert(e.getMessage.contains("DUPLICATED_FIELD_NAME_IN_ARROW_STRUCT"),
      e.getMessage)
    engine.bind(h, Seq("b"))
    assert(engine.execute(h) == 1)
    assert(engine.fetch(h)._2.head.getStruct(0).getInt(1) == 2)
    engine.closeStatement(h)
  }

  // ---- catalog metadata verbs: driver-side listing -------------------

  private def rowsOf(r: Engine.Result): Seq[org.apache.spark.sql.Row] =
    org.apache.spark.sql.graftaccess.Internals.arrowIpcToRows(r.schema, r.ipc)
      .toSeq

  /** Each verb's meaning as information_schema SQL: the oracle its
    * driver-side result must equal, schema and row order included. */
  private object VerbSql {
    private def lit(s: String): String = "'" + s.replace("'", "''") + "'"
    private def where(conds: Seq[String]): String =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val catalogs: String =
      "SELECT DISTINCT table_catalog AS catalog_name " +
        "FROM information_schema.tables ORDER BY catalog_name"
    def dbSchemas(catalog: Option[String], schema: Option[String]): String =
      "SELECT DISTINCT table_catalog AS catalog_name, " +
        "table_schema AS db_schema_name FROM information_schema.tables" +
        where(catalog.map(c => s"table_catalog = ${lit(c)}").toSeq ++
          schema.map(p => s"table_schema LIKE ${lit(p)}")) +
        " ORDER BY catalog_name, db_schema_name"
    def tables(catalog: Option[String], schema: Option[String],
        table: Option[String], types: Seq[String]): String =
      "SELECT table_catalog AS catalog_name, " +
        "table_schema AS db_schema_name, table_name, table_type " +
        "FROM information_schema.tables" +
        where(catalog.map(c => s"table_catalog = ${lit(c)}").toSeq ++
          schema.map(p => s"table_schema LIKE ${lit(p)}") ++
          table.map(p => s"table_name LIKE ${lit(p)}") ++
          (if (types.isEmpty) None
           else Some(types.map(lit).mkString("table_type IN (", ", ", ")")))) +
        " ORDER BY catalog_name, db_schema_name, table_name"
    def columns(catalog: Option[String], schema: Option[String],
        table: Option[String], column: Option[String]): String =
      "SELECT table_catalog AS catalog_name, " +
        "table_schema AS db_schema_name, table_name, column_name, " +
        "ordinal_position, data_type, is_nullable " +
        "FROM information_schema.columns" +
        where(catalog.map(c => s"table_catalog = ${lit(c)}").toSeq ++
          schema.map(p => s"table_schema LIKE ${lit(p)}") ++
          table.map(p => s"table_name LIKE ${lit(p)}") ++
          column.map(p => s"column_name LIKE ${lit(p)}")) +
        " ORDER BY catalog_name, db_schema_name, table_name, ordinal_position"
  }

  /** A fresh session with a graft.catalog.MetaCatalog named `catalog`
    * over a temp warehouse. */
  private def metaSession(catalog: String): String = {
    val t = engine.handshake("admin", "password").toOption.get
    val s = engine.session(t)
    s.conf.set(s"spark.sql.catalog.$catalog", "graft.catalog.MetaCatalog")
    s.conf.set(s"spark.sql.catalog.$catalog.warehouse",
      java.nio.file.Files.createTempDirectory(s"graft_wh_$catalog").toString)
    t
  }

  test("the engine's __infoschema_ views never show in a listing: two " +
      "get_tables in a fresh session return the same bytes") {
    val t = engine.handshake("admin", "password").toOption.get
    def sqlNames(): Seq[String] = engine.executeQuery(t,
      "SELECT table_name FROM information_schema.columns")._2
      .map(_.getString(0)).toSeq
    // the first query registers the views, so every listing after it
    // runs while they exist
    val before = sqlNames()
    val first = engine.getTables(t)
    val second = engine.getTables(t)
    assert(java.util.Arrays.equals(first.ipc, second.ipc),
      s"${rowsOf(first)} vs ${rowsOf(second)}")
    val names = before ++ rowsOf(second).map(_.getString(2)) ++ sqlNames()
    assert(!names.exists(_.startsWith("__infoschema_")), names)
    engine.closeSession(t)
  }

  test("each get_* verb returns what its information_schema text returns " +
      "(schema with nullability, rows in order) and starts no Spark job") {
    val t = metaSession("vq")
    val sessionDir = java.nio.file.Files.createTempDirectory("graft_vq_sc")
    def ddl(sql: String): Unit = engine.executeUpdate(t, sql)
    ddl("CREATE NAMESPACE vq.outer")
    ddl("CREATE NAMESPACE vq.outer.inner")
    ddl("CREATE TABLE vq.outer.inner.live_score (id BIGINT NOT NULL, v DOUBLE)")
    ddl("CREATE TABLE vq.outer.liveXscore (vid INT, d STRING)")
    ddl("CREATE TABLE vq_session_t (a INT, vd STRING) USING parquet " +
      s"LOCATION '$sessionDir'")
    ddl("CREATE OR REPLACE TEMPORARY VIEW live_s_view AS " +
      "SELECT 1 AS v, 'x' AS dv")
    // U+FB01 sorts before U+1F600 in UTF-8 byte order (Spark's string
    // order) but after it in UTF-16 order (java.lang.String's)
    ddl("CREATE OR REPLACE TEMPORARY VIEW `vq_ﬁ` AS SELECT 1 AS v")
    ddl("CREATE OR REPLACE TEMPORARY VIEW `vq_😀` AS SELECT 1 AS v")
    try {
      def same(label: String, sql: String)(
          verb: => Engine.Result): Seq[org.apache.spark.sql.Row] = {
        var r: Engine.Result = null
        val jobs = jobCallSitesDuring { r = verb }
        assert(jobs.isEmpty, s"$label started Spark jobs: $jobs")
        val (schema, rows) = engine.executeQuery(t, sql)
        assert(r.schema == schema, s"$label schema")
        assert(rowsOf(r) == rows.toSeq, s"$label rows")
        rows.toSeq
      }
      def names(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
        rows.map(_.getString(2))
      same("catalogs", VerbSql.catalogs)(engine.getCatalogs(t))
      val N = Option.empty[String]
      for ((c, p) <- Seq(N -> N, Some("vq") -> N, N -> Some("out%"),
          Some("spark_catalog") -> Some("defaul_"), Some("no_such") -> N))
        same(s"db_schemas $c $p", VerbSql.dbSchemas(c, p))(
          engine.getDbSchemas(t, c, p))
      assert(names(same("escaped _", VerbSql.tables(N, N,
        Some("live\\_s%"), Nil))(engine.getTables(t, N, N,
        Some("live\\_s%")))) == Seq("live_s_view", "live_score"))
      assert(names(same("wildcard _", VerbSql.tables(N, N,
        Some("live_s%"), Nil))(engine.getTables(t, N, N,
        Some("live_s%")))) == Seq("live_s_view", "liveXscore", "live_score"))
      assert(names(same("temporary vq_", VerbSql.tables(N, N,
        Some("vq_%"), Seq("TEMPORARY")))(engine.getTables(t, N, N,
        Some("vq_%"), Seq("TEMPORARY")))) == Seq("vq_ﬁ", "vq_😀"))
      for ((c, sc, tb, ty) <- Seq(
          (N, N, N, Nil),
          (Some("vq"), N, N, Nil),
          (N, Some("outer._nner"), Some("%"), Nil),
          (N, N, Some("no_such_%"), Nil),
          (N, N, N, Seq("TEMPORARY")),
          (N, N, N, Seq("MANAGED")),
          (N, N, Some("vq_%"), Seq("TEMPORARY", "MANAGED")),
          (Some("vq"), Some("outer%"), Some("live%"), Nil)))
        same(s"tables $c $sc $tb $ty", VerbSql.tables(c, sc, tb, ty))(
          engine.getTables(t, c, sc, tb, ty))
      for ((c, sc, tb, col) <- Seq(
          (N, N, N, N),
          (N, N, Some("live%"), N),
          (N, N, N, Some("v%")),
          (N, N, N, Some("_d")),
          (Some("vq"), Some("outer.inner"), N, N),
          (N, N, Some("live\\_s%"), Some("%v%")),
          (N, N, N, Some("no_such_%"))))
        same(s"columns $c $sc $tb $col", VerbSql.columns(c, sc, tb, col))(
          engine.getColumns(t, c, sc, tb, col))
    } finally {
      ddl("DROP TABLE IF EXISTS vq_session_t")
      engine.closeSession(t)
    }
  }

  test("the session-catalog listing equals Spark's catalog.listTables() and " +
      "listColumns rows, with no Spark job") {
    val t = engine.handshake("admin", "password").toOption.get
    val s = engine.session(t)
    val dir = java.nio.file.Files.createTempDirectory("graft_ls_ext")
    engine.executeUpdate(t, "CREATE TABLE ls_managed (a INT, b VARCHAR(8)) " +
      "USING parquet")
    engine.executeUpdate(t, "CREATE TABLE ls_external (x DOUBLE) USING " +
      s"parquet LOCATION '$dir'")
    engine.executeUpdate(t, "CREATE VIEW ls_view AS SELECT a FROM ls_managed")
    engine.executeUpdate(t, "CREATE OR REPLACE TEMPORARY VIEW ls_temp AS " +
      "SELECT CAST(NULL AS DECIMAL(10, 2)) AS d, array(1.0f) AS fs, " +
      "named_struct('k', 1) AS st")
    try {
      var listed: (Seq[graft.engine.InfoSchema.TableRow],
        Seq[graft.engine.InfoSchema.ColumnRow]) = null
      val jobs = jobCallSitesDuring {
        listed = graft.engine.InfoSchema.list(s)
      }
      assert(jobs.isEmpty, s"the listing started Spark jobs: $jobs")
      val (tables, columns) = listed
      val spark = s.catalog.listTables().collect().toSeq
      assert(tables.filter(_.catalog == "spark_catalog").map(t =>
        (t.schema, t.name, t.tableType, t.isTemporary)) ==
        spark.map(t => (Option(t.database).getOrElse(""), t.name,
          t.tableType, t.isTemporary)))
      assert(tables.exists(t => t.name == "ls_external" &&
        t.tableType == "EXTERNAL"))
      assert(tables.exists(t => t.name == "ls_view" && t.tableType == "VIEW"))
      for (name <- Seq("ls_managed", "ls_external", "ls_view", "ls_temp")) {
        val ident = if (name == "ls_temp") name else s"default.$name"
        assert(columns.filter(_.table == name).map(c =>
          (c.column, c.dataType, c.nullable)) ==
          s.catalog.listColumns(ident).collect().toSeq.map(c =>
            (c.name, c.dataType, c.nullable)), name)
      }
    } finally {
      Seq("VIEW ls_view", "TABLE ls_managed", "TABLE ls_external").foreach(
        o => engine.executeUpdate(t, s"DROP $o"))
      engine.closeSession(t)
    }
  }

  test("listings are fresh: a CREATE, an ALTER … ADD COLUMN and a DROP " +
      "between two get_tables / get_columns calls show in the second") {
    val t = metaSession("vf")
    def tables(): Seq[String] =
      rowsOf(engine.getTables(t, Some("vf"))).map(_.getString(2))
    def columns(table: String): Seq[String] =
      rowsOf(engine.getColumns(t, Some("vf"), None, Some(table)))
        .map(_.getString(3))
    engine.executeUpdate(t, "CREATE NAMESPACE vf.db")
    engine.executeUpdate(t, "CREATE TABLE vf.db.keep (id BIGINT)")
    assert(tables() == Seq("keep"))
    engine.executeUpdate(t, "CREATE TABLE vf.db.added (id BIGINT)")
    assert(tables() == Seq("added", "keep"))
    assert(columns("added") == Seq("id"))
    engine.executeUpdate(t, "ALTER TABLE vf.db.added ADD COLUMN note STRING")
    assert(columns("added") == Seq("id", "note"))
    engine.executeUpdate(t, "DROP TABLE vf.db.added")
    assert(tables() == Seq("keep"))
    assert(columns("added").isEmpty)
    engine.closeSession(t)
  }

  test("a temp view is listed only in the session that created it") {
    val a = engine.handshake("admin", "password").toOption.get
    val b = engine.handshake("admin", "password").toOption.get
    engine.executeUpdate(a,
      "CREATE OR REPLACE TEMPORARY VIEW only_in_a AS SELECT 1 AS v")
    def listed(tok: String): Seq[String] =
      rowsOf(engine.getTables(tok, tablePattern = Some("only_in_a")))
        .map(_.getString(2))
    assert(listed(a) == Seq("only_in_a"))
    assert(listed(b).isEmpty)
    assert(rowsOf(engine.getColumns(b, tablePattern = Some("only_in_a")))
      .isEmpty)
    Seq(a, b).foreach(engine.closeSession)
  }

  test("GRAFT_MAX_RESULT_BYTES one byte below a verb's result fails the " +
      "verb; at the exact length it passes") {
    val n = engine.getTables(token).ipc.length
    try {
      sys.props("graft.max.result.bytes") = n.toString
      assert(engine.getTables(token).ipc.length == n)
      sys.props("graft.max.result.bytes") = (n - 1).toString
      val err = intercept[IllegalStateException](engine.getTables(token))
      assert(err.getMessage.contains(s"GRAFT_MAX_RESULT_BYTES=${n - 1}"),
        err.getMessage)
    } finally sys.props.remove("graft.max.result.bytes")
  }

  /** `SELECT count(*)` over `table` through the engine: its value and
    * the call sites of the Spark jobs it started. */
  private def countWithJobs(t: String, table: String): (Long, Seq[String]) = {
    var n = -1L
    val jobs = jobCallSitesDuring {
      n = engine.executeQuery(t, s"SELECT count(*) AS n FROM $table")
        ._2.head.getLong(0)
    }
    (n, jobs)
  }

  /** The row count a scan computes (`sum(1)` is no `COUNT(*)`). */
  private def scannedCount(t: String, table: String): Long =
    engine.executeQuery(t,
      s"SELECT coalesce(sum(1), 0) AS n FROM $table")._2.head.getLong(0)

  private def warehouse(t: String, catalog: String): java.nio.file.Path =
    java.nio.file.Paths.get(engine.session(t).conf
      .get(s"spark.sql.catalog.$catalog.warehouse"))

  test("an unfiltered count(*) is answered from the stats records with " +
      "no Spark job: after INSERT, COW DELETE, compact, RENAME, VERSION " +
      "AS OF, on a branch and on an empty table") {
    val t = metaSession("sc")
    def ddl(sql: String): Unit = engine.executeUpdate(t, sql)
    def fromStats(table: String, expected: Long): Unit = {
      val (n, jobs) = countWithJobs(t, table)
      assert(jobs.isEmpty, s"$table started jobs: $jobs")
      assert(n == expected && n == scannedCount(t, table), s"$table: $n")
    }
    try {
      ddl("CREATE NAMESPACE sc.db")
      ddl("CREATE TABLE sc.db.c (id BIGINT, k STRING)")            // v1
      fromStats("sc.db.c", 0L)
      ddl("INSERT INTO sc.db.c VALUES (1, 'a'), (2, 'b'), (3, 'c')") // v2
      ddl("INSERT INTO sc.db.c VALUES (4, 'd'), (5, 'e')")         // v3
      fromStats("sc.db.c", 5L)
      ddl("DELETE FROM sc.db.c WHERE id = 2")                      // v4
      fromStats("sc.db.c", 4L)
      ddl("CALL sc.system.compact('db.c', 'id', 2)")               // v5
      fromStats("sc.db.c", 4L)
      ddl("ALTER TABLE sc.db.c RENAME COLUMN k TO tag")
      ddl("INSERT INTO sc.db.c VALUES (6, 'f')")                   // v6
      fromStats("sc.db.c", 5L)
      fromStats("sc.db.c VERSION AS OF 2", 3L)
      fromStats("sc.db.c VERSION AS OF 1", 0L)
      ddl("CALL sc.system.create_branch('db.c', 'stage', 3)")
      ddl("INSERT INTO sc.db.c.branch_stage VALUES (7, 'g'), (8, 'h')")
      fromStats("sc.db.c.branch_stage", 7L)
      fromStats("sc.db.c VERSION AS OF 'stage'", 7L)
      fromStats("sc.db.c", 5L)
      // several COUNT(*) columns share the one answer
      val (_, both) = engine.executeQuery(t,
        "SELECT count(*) AS a, count(1) AS b FROM sc.db.c")
      assert(both.head.getLong(0) == 5L && both.head.getLong(1) == 5L)
      val plan = engine.executeQuery(t,
        "EXPLAIN SELECT count(*) AS n FROM sc.db.c")._2
        .map(_.getString(0)).mkString("\n")
      assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        plan)
    } finally engine.closeSession(t)
  }

  test("count(*) falls back to a scan, with the right answer, under a " +
      "merge-on-read DELETE, an equality delete and a file whose stats " +
      "record was removed") {
    val t = metaSession("sf")
    def ddl(sql: String): Unit = engine.executeUpdate(t, sql)
    def scanned(table: String, expected: Long): Unit = {
      val (n, jobs) = countWithJobs(t, table)
      assert(jobs.nonEmpty, s"$table was answered without a scan")
      assert(n == expected && n == scannedCount(t, table), s"$table: $n")
    }
    try {
      ddl("CREATE NAMESPACE sf.db")
      ddl("CREATE TABLE sf.db.m (id BIGINT, k STRING) " +
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
      ddl("INSERT INTO sf.db.m VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      ddl("DELETE FROM sf.db.m WHERE id = 2")
      scanned("sf.db.m", 2L)
      ddl("CREATE TABLE sf.db.e (id BIGINT, k STRING)")
      ddl("INSERT INTO sf.db.e VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      ddl("CALL sf.system.delete_by_key('db.e', 'id', '1,3')")
      scanned("sf.db.e", 1L)
      ddl("CREATE TABLE sf.db.r (id BIGINT)")
      ddl("INSERT INTO sf.db.r VALUES (1), (2)")
      ddl("INSERT INTO sf.db.r VALUES (3)")
      val (n, jobs) = countWithJobs(t, "sf.db.r")
      assert(n == 3L && jobs.isEmpty, s"$n $jobs")
      // drop the newest commit's record: its file has no stats now
      val statsDir = warehouse(t, "sf").resolve("db/r/_graft_filestats")
      val newest = scala.util.Using.resource(
        java.nio.file.Files.list(statsDir))(_.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.endsWith(".tsv")).maxBy(_.toString)
      java.nio.file.Files.delete(newest)
      scanned("sf.db.r", 3L)
    } finally engine.closeSession(t)
  }

  /** Rows of `sql` in an engine session, with the jobs and tasks the
    * statement started and whether its plan holds an Exchange. */
  private def runCounted(t: String, sql: String)
      : (Seq[String], Int, Int, Boolean, Seq[String]) = {
    var rows = Seq.empty[String]
    val (jobs, tasks) = jobsDuring {
      rows = engine.executeQuery(t, sql)._2.map(_.toString).toSeq
    }
    val plan = engine.executeQuery(t, s"EXPLAIN $sql")._2
      .map(_.getString(0)).mkString("\n")
    (rows, jobs.size, tasks, plan.contains("Exchange"), jobs.map(_._2))
  }

  private val groupBySql = "SELECT k, count(*) AS n, sum(v) AS s " +
    "FROM %s GROUP BY k ORDER BY k"

  /** What [[groupBySql]] returns over `id` in [0, n) with k = id % 7. */
  private def groupByExpected(n: Long): Seq[String] =
    (0L until n).groupBy(_ % 7).toSeq.sortBy(_._1).map { case (k, ids) =>
      org.apache.spark.sql.Row(k, ids.size.toLong, ids.sum).toString
    }

  test("a GROUP BY … ORDER BY and a VERSION AS OF aggregate over a small " +
      "recorded table run as one task in one job, with no Exchange") {
    val t = metaSession("one")
    def ddl(sql: String): Unit = engine.executeUpdate(t, sql)
    try {
      ddl("CREATE NAMESPACE one.db")
      ddl("CREATE TABLE one.db.g (k BIGINT, v BIGINT)")
      (0 until 12).foreach { i =>
        ddl(s"INSERT INTO one.db.g SELECT id % 7, id FROM " +
          s"range(${i * 10}, ${i * 10 + 10}, 1, 1)")
      }
      assert(graft.catalog.Snapshots.latest(warehouse(t, "one")
        .resolve("db/g")).get.dataFiles.size == 12)
      val (rows, jobs, tasks, exchange, _) =
        runCounted(t, groupBySql.format("one.db.g"))
      assert(rows == groupByExpected(120))
      assert(jobs == 1 && tasks == 1 && !exchange, s"$jobs jobs, $tasks tasks")
      // v13 holds the first 12 inserts' 120 rows; a later insert is not read
      ddl("INSERT INTO one.db.g VALUES (0, 1000)")
      val (vrows, vjobs, vtasks, vexchange, _) = runCounted(t,
        "SELECT count(v) AS n, sum(v) AS s FROM one.db.g VERSION AS OF 13")
      assert(vrows == Seq(org.apache.spark.sql.Row(120L, 7140L).toString))
      assert(vjobs == 1 && vtasks == 1 && !vexchange, s"$vjobs jobs, $vtasks tasks")
    } finally engine.closeSession(t)
  }

  test("a scan keeps its multi-task plan, with the same answer, when a " +
      "file has no stats record, when maxPartitionBytes is lowered, when " +
      "its files hold more than openCostInBytes and over 40 files, which " +
      "it plans without a listing job") {
    val t = metaSession("many")
    def ddl(sql: String): Unit = engine.executeUpdate(t, sql)
    def spread(table: String, n: Long): Seq[String] = {
      val (rows, jobs, tasks, exchange, descs) =
        runCounted(t, groupBySql.format(table))
      assert(rows == groupByExpected(n), table)
      assert(exchange && tasks > 1, s"$table: $jobs jobs, $tasks tasks")
      descs
    }
    try {
      ddl("CREATE NAMESPACE many.db")
      ddl("CREATE TABLE many.db.r (k BIGINT, v BIGINT)")
      ddl("INSERT INTO many.db.r SELECT id % 7, id FROM range(0, 60, 1, 2)")
      ddl("INSERT INTO many.db.r SELECT id % 7, id FROM range(60, 120, 1, 2)")
      // the newest commit's record is gone: its files' sizes are unknown
      val statsDir = warehouse(t, "many").resolve("db/r/_graft_filestats")
      val newest = scala.util.Using.resource(
        java.nio.file.Files.list(statsDir))(_.iterator().asScala.toSeq)
        .filter(_.getFileName.toString.endsWith(".tsv")).maxBy(_.toString)
      java.nio.file.Files.delete(newest)
      spread("many.db.r", 120)

      ddl("CREATE TABLE many.db.s (k BIGINT, v BIGINT)")
      ddl("INSERT INTO many.db.s SELECT id % 7, id FROM range(0, 120, 1, 4)")
      ddl("SET spark.sql.files.maxPartitionBytes=4096")
      try spread("many.db.s", 120)
      finally ddl("RESET spark.sql.files.maxPartitionBytes")
      val (_, _, tasks, exchange, _) = runCounted(t, groupBySql.format("many.db.s"))
      assert(tasks == 1 && !exchange, "default maxPartitionBytes: one split")

      ddl("CREATE TABLE many.db.p (k BIGINT, v BIGINT, pad STRING)")
      // 64 hex chars per row barely compress: ~6 MB in 4 files, which
      // would pack into one split but hold more than Spark's smallest one
      ddl("INSERT INTO many.db.p SELECT id % 7, id, " +
        "sha2(CAST(id AS STRING), 256) FROM range(0, 100000, 1, 4)")
      val pDir = warehouse(t, "many").resolve("db/p")
      val pFiles = graft.catalog.Snapshots.latest(pDir).get.dataFiles
      val pStats = graft.catalog.FileStatsCache.load(pDir)
      assert(pFiles.forall(pStats.contains), "every file has a record")
      val bytes = pFiles.map(pStats(_).bytes).sum
      val conf = engine.session(t).sessionState.conf
      assert(bytes > conf.filesOpenCostInBytes &&
        bytes + conf.filesOpenCostInBytes * pFiles.size <=
          conf.filesMaxPartitionBytes, s"$bytes bytes in ${pFiles.size} files")
      spread("many.db.p", 100000)

      ddl("CREATE TABLE many.db.w (k BIGINT, v BIGINT)")
      ddl("INSERT INTO many.db.w SELECT id % 7, id FROM range(0, 400, 1, 40)")
      assert(graft.catalog.Snapshots.latest(warehouse(t, "many")
        .resolve("db/w")).get.dataFiles.size == 40)
      val descs = spread("many.db.w", 400)
      assert(!descs.exists(_.startsWith("Listing leaf files")), descs)
      // the scan's splits carry each file's real size and mtime
      val plan = engine.session(t).sql("SELECT * FROM many.db.w")
        .queryExecution.executedPlan
      val files = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.toBatch.planInputPartitions().toSeq
      }.flatten.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.toSeq
      }
      assert(files.size == 40)
      files.foreach { f =>
        val local = new java.io.File(f.toPath.toUri)
        assert(f.fileSize == local.length() &&
          f.modificationTime == local.lastModified(), f)
      }
    } finally engine.closeSession(t)
  }

  test("an INSERT … VALUES of 40 rows commits one data file") {
    val t = metaSession("ins")
    def ddl(sql: String): Unit = engine.executeUpdate(t, sql)
    try {
      ddl("CREATE NAMESPACE ins.db")
      ddl("CREATE TABLE ins.db.v (id BIGINT, s STRING)")
      ddl("INSERT INTO ins.db.v VALUES " +
        (0 until 40).map(i => s"($i, 's$i')").mkString(", "))
      val dir = warehouse(t, "ins").resolve("db/v")
      assert(graft.catalog.Snapshots.latest(dir).get.dataFiles.size == 1)
      assert(engine.executeQuery(t, "SELECT sum(id) AS s FROM ins.db.v")
        ._2.head.getLong(0) == 780L)
    } finally engine.closeSession(t)
  }
}
