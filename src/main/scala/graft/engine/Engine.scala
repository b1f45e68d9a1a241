package graft.engine

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftaccess.Internals

import graft.DFCompat

/** Session → prepare → bind → execute → fetch statement lifecycle, the
  * semantic core of the reference's Flight SQL service
  * (iceberg-datafusion-arrow-flight/src/lib.rs:198-730) re-expressed on
  * Spark, minus the gRPC/Arrow-IPC transport (SURVEY §2.13):
  *
  *  - handshake: basic-auth against FLIGHT_USER/FLIGHT_PASSWORD env
  *    (lib.rs:223-240), mint a UUID bearer token, one isolated session per
  *    token (lib.rs:80, lib.rs:244) → `SparkSession.newSession()` (shared
  *    SparkContext, isolated SQL conf + temp views).
  *  - prepare: SQL → analyzed plan + result schema under a UUID handle
  *    (lib.rs:667-716); the literal query "rollback" returns a one-row
  *    VALUES plan instead of parsing (lib.rs:677, lib.rs:683-696).
  *  - bind: positional string parameters (the reference binds Utf8 scalars
  *    only, lib.rs:613-633) → Spark parameterized SQL.
  *  - execute: materialize and cache the full result before fetch,
  *    exactly like the reference's collect-then-cache (lib.rs:333-344).
  *  - executeUpdate: DDL/DML/SET acknowledged with rowcount -1
  *    (lib.rs:645-654).
  */
final class Engine private[graft] (root: SparkSession, maxStatements: Int) {
  import Engine.{CatalogsSchema, ColumnsSchema, DbSchemasSchema, StringOrder,
    TablesSchema, like}

  /** Cached results live in driver memory (collect-then-cache, like the
    * reference's server-side cache at lib.rs:333-344) — a long-lived
    * service must bound them. Prepare evicts the oldest-idle statement
    * beyond GRAFT_MAX_STATEMENTS (default 1024); [[gc]] sweeps
    * idle/orphaned ones. */
  def this(root: SparkSession) = this(root,
    math.max(1, sys.env.getOrElse("GRAFT_MAX_STATEMENTS", "1024").toInt))

  final case class Statement(
      session: SparkSession,
      token: String,
      sql: String,
      var params: Seq[String] = Nil,
      // The last successful execute's result, published in one write:
      // readers take the whole immutable value or None, never a mix of
      // two executes, so fetches need no lock.
      @volatile var result: Option[Engine.Result] = None,
      var touchedMs: Long = System.currentTimeMillis()) {
    // Per-execute job-group suffix: cancelQuery is STICKY (future jobs
    // of the cancelled group fail too, closing the AQE inter-job gap
    // race), so each execute runs under a fresh attempt id to stay
    // re-executable after a cancel.
    val executeAttempt = new java.util.concurrent.atomic.AtomicInteger(0)
    // The attempts whose workers are CURRENTLY running: the cancel
    // targets. executeAttempt alone is not enough: a concurrent
    // re-execute increments it before its worker starts, so a cancel
    // aimed at running attempt N could sticky-cancel the just-started
    // N+1 instead and leave N running. A SET, not a scalar: two
    // overlapping executes of one handle are supported, and a single
    // slot would lose attempt N when N+1 finishes first and clears it.
    // Workers add themselves before their first job and remove on finish.
    val runningAttempts =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  }

  private val sessions = new ConcurrentHashMap[String, SparkSession]()
  private val statements = new ConcurrentHashMap[String, Statement]()
  // last activity per session token — statement touches count, so a
  // session is "idle" only when NOTHING of it has been used (gcSessions)
  private val sessionTouched = new ConcurrentHashMap[String, Long]()

  /** Result-size guards on every result ([[capped]]). The reference
    * materializes results unbounded (lib.rs:333-344) and so does the
    * default here — but at 100× data a runaway `SELECT *` OOMs the
    * DRIVER with only the statement-count cap standing between, so a
    * deployment should set
    * GRAFT_MAX_RESULT_ROWS (enforced BEFORE materialization: the collect
    * runs under a limit probe of cap+1 rows, so an over-limit result
    * never becomes resident) and/or GRAFT_MAX_RESULT_BYTES (the exact
    * length of the encoded Arrow IPC stream — the bytes the statement
    * holds and a client receives — checked before it enters the
    * statement cache). Read per result — system properties override
    * env as the test hook. */
  private def sizeGuard(prop: String, env: String): Option[Long] =
    sys.props.get(prop).orElse(sys.env.get(env)).map(_.trim.toLong)
      .filter(_ > 0)
  private def maxResultRows: Option[Long] =
    sizeGuard("graft.max.result.rows", "GRAFT_MAX_RESULT_ROWS")
  private def maxResultBytes: Option[Long] =
    sizeGuard("graft.max.result.bytes", "GRAFT_MAX_RESULT_BYTES")

  /** Basic auth (env-driven like lib.rs:223-226); returns bearer token. */
  def handshake(user: String, password: String): Either[String, String] = {
    val expUser = sys.env.getOrElse("FLIGHT_USER", "admin")
    val expPass = sys.env.getOrElse("FLIGHT_PASSWORD", "password")
    if (user == expUser && password == expPass) {
      val token = UUID.randomUUID().toString
      val s = root.newSession()
      DFCompat.install(s)
      org.apache.spark.sql.graftaccess.LocalScans.install(s)
      // env-driven object store, exactly like the reference's server
      // bootstrap (main.rs:46-71): S3 when the credential triple is
      // present, local-FS fallback otherwise.
      ObjectStoreConf.applyEnv(s)
      sessions.put(token, s)
      sessionTouched.put(token, System.currentTimeMillis())
      Right(token)
    } else Left("Invalid credentials!")  // lib.rs:237-240 wording
  }

  def session(token: String): SparkSession = {
    val s = sessions.get(token)
    if (s == null) throw new IllegalArgumentException(s"no session for token")
    sessionTouched.computeIfPresent(token,
      (_, _) => System.currentTimeMillis())
    s
  }

  private val ExplainAnalyze = "(?is)^\\s*EXPLAIN\\s+ANALYZE\\s+(.*)$".r

  private def plan(st: Statement): DataFrame = {
    if (st.sql.trim.equalsIgnoreCase("rollback"))
      return st.session.sql("SELECT 'ROLLBACK' AS `rollback`")  // lib.rs:683-696
    st.sql match {
      // DataFusion's EXPLAIN ANALYZE (served through ctx.sql in the
      // reference): execute fully, report the plan tree with runtime
      // metric values, one row per node.
      case ExplainAnalyze(body) =>
        val lines = Internals.explainAnalyze(plan(st.copy(sql = body)))
        val s = st.session
        import s.implicits._
        return lines.toDF("plan_with_metrics")
      case _ => ()
    }
    val sql = sparkSql(st.session, st.sql)
    if (st.params.nonEmpty) st.session.sql(sql, st.params.toArray[Any])
    else st.session.sql(sql)
  }

  /** The text Spark parses for `sql`, on every path that runs
    * statements: information_schema references point at the session's
    * views (registered afresh when the text names them), and SIMILAR TO
    * becomes an anchored RLIKE. */
  private def sparkSql(session: SparkSession, sql: String): String = {
    val infoSql = InfoSchema.rewrite(sql)
    if (infoSql != sql) InfoSchema.refresh(session)
    Engine.rewriteSimilarTo(infoSql)
  }

  /** Serializes prepare's evict+put tail: check-then-act over the
    * ConcurrentHashMap would let two concurrent prepares race past the
    * size check, and eviction could drop a handle a peer just created
    * (surfacing as a spurious "unknown statement handle"). */
  private val prepareLock = new Object

  /** `?` placeholders outside literals, quoted identifiers and
    * comments ([[Engine.skipQuoted]]). */
  private def countPlaceholders(sql: String): Int = {
    var n = 0; var i = 0
    while (i < sql.length) {
      val j = Engine.skipQuoted(sql, i)
      if (j > i) i = j
      else { if (sql.charAt(i) == '?') n += 1; i += 1 }
    }
    n
  }

  /** Statements safe to PLAN with dummy bindings at prepare: queries
    * only. Spark executes commands (INSERT/CREATE/SET/...) eagerly at
    * `sql()`, so dummy-binding a parameterized DML would WRITE dummy
    * rows at prepare time. */
  private def isQueryText(sql: String): Boolean = {
    val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
    head == "SELECT" || head == "WITH" || head == "VALUES" || head == "TABLE"
  }

  /** SQL → handle + result schema (plan analyzed eagerly, not executed).
    * Parameterized QUERY text still reports its result schema, like the
    * reference (lib.rs:702-708, where $n placeholders are typed Utf8 at
    * prepare): the text is planned once with Utf8 dummy bindings, which
    * matches the engine's Utf8-only bind surface. Parameterized DML is
    * NOT dummy-planned (commands execute eagerly) — empty schema, like
    * before. EXPLAIN ANALYZE short-circuits to its constant schema
    * instead of executing the analyzed query at prepare time. */
  def prepare(token: String, sql: String): (String, StructType) = {
    val st = Statement(session(token), token, sql)
    val handle = UUID.randomUUID().toString
    val schema =
      if (ExplainAnalyze.matches(sql))
        StructType(Seq(org.apache.spark.sql.types.StructField(
          "plan_with_metrics", org.apache.spark.sql.types.StringType)))
      else scala.util.Try(plan(st).schema).orElse(scala.util.Try {
        val n = countPlaceholders(sql)
        require(n > 0 && isQueryText(sql)) // else keep the empty schema
        plan(Statement(st.session, token, sql, Seq.fill(n)(""))).schema
      }).getOrElse(StructType(Nil))
    prepareLock.synchronized {
      while (statements.size() >= maxStatements) evictOldest()
      statements.put(handle, st)
    }
    (handle, schema)
  }

  private def evictOldest(): Unit = {
    import scala.jdk.CollectionConverters._
    statements.entrySet().asScala.minByOption(_.getValue.touchedMs)
      .foreach(e => removeReleasing(Seq(e.getKey)))
  }

  /** Remove statement handles AND release the operator cache of each
    * affected session — the same reclamation [[closeStatement]] performs.
    * Sweeping a handle without the release would leak the LSH/dedup
    * persisted blocks the statement's plan pinned: for a dead client the
    * matching closeStatement never arrives, so the executor storage
    * would stay pinned until closeSession — which never arrives either
    * (a socket disconnect closes nothing). Release is recompute-safe, so
    * a LIVE statement of the same session at worst recomputes. */
  private def removeReleasing(handles: Seq[String]): Unit = {
    val swept = handles.flatMap(h => Option(statements.remove(h)))
    swept.map(_.session).distinct
      .foreach(graft.operators.OperatorCache.release)
  }

  /** Drop statements idle longer than `ttlMillis` and statements whose
    * session has been closed, releasing their sessions' operator cache
    * blocks (see [[removeReleasing]]). Returns how many were collected. */
  def gc(ttlMillis: Long): Int = {
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - ttlMillis
    val live = sessions.values().asScala.toSet
    val dead = statements.entrySet().asScala.filter { e =>
      e.getValue.touchedMs < cutoff || !live.contains(e.getValue.session)
    }.map(_.getKey).toSeq
    removeReleasing(dead)
    dead.length
  }

  /** Reclaim sessions with NO activity (handshake/verb/statement touch)
    * for `ttlMillis` — the session-level half of dead-client reclamation:
    * a client that vanishes never sends close_session, and nothing else
    * removes a token from `sessions`, so without this sweep an abandoned
    * session (and any statements it re-prepares) lives forever. Each
    * reclaimed session goes through [[closeSession]] — statements
    * dropped, operator cache released. Returns how many were closed. */
  def gcSessions(ttlMillis: Long): Int = {
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - ttlMillis
    val idle = sessionTouched.entrySet().asScala
      .filter(_.getValue < cutoff).map(_.getKey).toSeq
    idle.foreach(closeSession)
    idle.length
  }

  /** Bind positional string parameters (Utf8-only, like lib.rs:613-622). */
  def bind(handle: String, params: Seq[String]): Unit =
    statement(handle).params = params

  /** Execute and cache the full result (collect-then-cache semantics of
    * lib.rs:333-344 — by design, NOT a streaming fetch; the distributed
    * heavy lifting still happens on executors, only the final result
    * lands in driver memory, same as the reference's server memory).
    * The collected rows are encoded to Arrow IPC once, here, and the
    * statement holds only those bytes — the reference likewise caches
    * the `Vec<RecordBatch>` its collect returns and serves every later
    * `do_get` from it (lib.rs:82, 288-295). Returns the row count. */
  def execute(handle: String): Long = run(statement(handle), handle).rowCount

  /** Plan, collect and encode `st`; `handle` names its Spark job group. */
  private def run(st: Statement, handle: String): Engine.Result = {
    // every Spark job this statement submits carries its handle as the
    // job group, so cancelQuery from ANOTHER connection can abort it —
    // the verb the reference leaves Status::unimplemented
    // (do_action_cancel_query, lib.rs:781-787). The group is set
    // BEFORE plan(): session.sql() runs commands (INSERT/CTAS/DELETE)
    // and EXPLAIN ANALYZE eagerly, and those long writes are exactly
    // what a client most wants to cancel. The attempt value must be
    // the LOCAL incrementAndGet result — re-reading the counter would
    // let two concurrent executes of one handle share a suffix.
    //
    // The group property is set on a DEDICATED pool thread, not the
    // caller: Spark job-group properties are InheritableThreadLocal, so
    // any thread born while the caller held the group (e.g. a fork-join
    // compensation thread spawned by the blocking collect) would
    // inherit it — and after a STICKY cancel such a zombie property
    // poisons every unrelated job that thread later submits. Pool
    // threads set the group per task and CLEAR it in finally, so no
    // value outlives its execute; the pool bounds worker threads under
    // load where thread-per-execute was unbounded.
    val attempt = st.executeAttempt.incrementAndGet()
    val outcome = new java.util.concurrent.atomic.AtomicReference[
      Either[Throwable, Engine.Result]]()
    val task: Runnable = () => {
      val sc = st.session.sparkContext
      sc.setJobGroup(Engine.jobGroup(handle) + "-" + attempt,
        s"graft statement $handle", interruptOnCancel = true)
      st.runningAttempts.add(attempt)
      try { // the old result stays fetchable until the new one publishes
        val d = plan(st)
        // limit-probe: under a row cap, collect at most cap+1 rows — an
        // over-limit result FAILS without ever being driver-resident (the
        // CollectLimit stops executors early); an under-limit result is
        // byte-identical to the unguarded collect
        val rows = Internals.collectInternalRows(maxResultRows.fold(d) { cap =>
          d.limit(math.min(cap, Int.MaxValue.toLong - 1).toInt + 1)
        })
        outcome.set(Right(
          capped(st.session, d.schema, rows, s"statement $handle")))
      } catch { case e: Throwable => outcome.set(Left(e)) }
      finally {
        st.runningAttempts.remove(attempt)
        sc.clearJobGroup()
      }
    }
    val fut = Engine.execPool.submit(task)
    try fut.get()
    catch {
      case ie: InterruptedException =>
        // The CALLER was interrupted (client gone, server shutting
        // down): without this, the worker's Spark jobs would run to
        // completion unobserved, their result discarded.
        // Sticky-cancel the attempt's group — the worker unwinds with a
        // cancellation SparkException and releases its pool slot.
        st.session.sparkContext.cancelJobGroupAndFutureJobs(
          Engine.jobGroup(handle) + "-" + attempt)
        throw ie
    }
    val r = outcome.get() match {
      case Left(e) => throw e
      case Right(r) => r
    }
    st.result = Some(r)
    r
  }

  /** Cancel a RUNNING statement's Spark jobs (`cancel_query` verb —
    * Flight SQL's ActionCancelQueryRequest; the reference stubs it,
    * lib.rs:781-787). STICKY (`cancelJobGroupAndFutureJobs`): an AQE
    * collect runs several sequential jobs with gaps between them, so a
    * non-sticky cancel landing in a gap would kill nothing and the
    * remaining jobs would run to completion. The blocked `execute`
    * fails with a cancellation SparkException; the statement handle
    * itself stays valid — the old cached result (if any) remains
    * fetchable, and a NEW execute clears the sticky flag by running
    * under a fresh attempt-suffixed group. */
  def cancelQuery(handle: String): Unit = {
    val st = statement(handle)
    // Target every RUNNING attempt, not the latest allocated one: a
    // concurrent re-execute bumps executeAttempt before its worker
    // starts, and a cancel aimed at running attempt N must not land on
    // the fresh N+1 instead; with overlapping executes of one handle,
    // BOTH in-flight attempts are this statement's query and both are
    // cancelled. executeAttempt.get() is ALWAYS unioned in (not only
    // when the running set is empty): with one attempt running and a
    // second freshly allocated but not yet in runningAttempts (the
    // window between incrementAndGet and the pool worker's add, which
    // includes any pool-queue wait), both are this statement's query; a
    // sticky cancel on a not-yet-started group is harmless and attempt
    // ids are never reused.
    import scala.jdk.CollectionConverters._
    val targets =
      (st.runningAttempts.asScala.toSeq :+ st.executeAttempt.get())
        .distinct.sorted
    targets.foreach { a =>
      st.session.sparkContext.cancelJobGroupAndFutureJobs(
        Engine.jobGroup(handle) + "-" + a)
    }
  }

  private def result(st: Statement): Engine.Result =
    st.result.getOrElse(throw new IllegalStateException("statement not executed"))

  private def decode(r: Engine.Result): (StructType, Array[Row]) =
    (r.schema, Internals.arrowIpcToRows(r.schema, r.ipc))

  /** Row-shaped fetch, decoded from the cached Arrow bytes. */
  def fetch(handle: String): (StructType, Array[Row]) =
    decode(result(statement(handle)))

  /** Result as ONE Arrow IPC stream — the reference's actual wire format
    * (`do_get_fallback` serves cached batches, lib.rs:288-295). Returns
    * the bytes [[execute]] encoded — NO second execution, no Spark job,
    * no encode: a fetch always returns exactly the rows execute()
    * counted, even if the underlying table mutated in between
    * (repeatable read within one statement lifecycle, like the
    * reference's server-side cache), and every fetch returns the same
    * array until a re-execute replaces it. */
  def fetchArrow(handle: String): Array[Byte] = result(statement(handle)).ipc

  /** [[fetchArrow]] plus the IPC message-boundary offsets: slicing the
    * stream at the offsets gives schema-message / record-batch frames a
    * Flight `DoGet` would carry one FlightData each — the transport can
    * frame per-batch with zero copies. */
  def fetchArrowFramed(handle: String): (Array[Byte], Array[Int]) = {
    val r = result(statement(handle))
    (r.ipc, r.offsets)
  }

  /** Rows → the cached result form: the one Arrow IPC encode, under the
    * result-size guards — more rows than GRAFT_MAX_RESULT_ROWS or more
    * encoded bytes than GRAFT_MAX_RESULT_BYTES fail `what`. */
  private def capped(s: SparkSession, schema: StructType,
      rows: Array[InternalRow], what: String): Engine.Result = {
    maxResultRows.foreach { cap =>
      if (rows.length > cap) throw new IllegalStateException(
        s"result exceeds GRAFT_MAX_RESULT_ROWS=$cap for $what; " +
          "narrow the query or raise the cap")
    }
    val (ipc, offsets) = Internals.encodeArrowIpc(s, schema, rows.iterator)
    maxResultBytes.foreach { cap =>
      if (ipc.length > cap) throw new IllegalStateException(
        s"result of ${ipc.length} Arrow IPC bytes exceeds " +
          s"GRAFT_MAX_RESULT_BYTES=$cap for $what; " +
          "narrow the query or raise the cap")
    }
    Engine.Result(schema, rows.length.toLong, ipc, offsets)
  }

  /** One-shot convenience: prepare + execute + fetch, planned and run
    * once and never registered, so it neither counts against the
    * statement cap nor evicts a client's handle. */
  def executeQuery(token: String, sql: String): (StructType, Array[Row]) =
    decode(run(Statement(session(token), token, sql),
      UUID.randomUUID().toString))

  /** A metadata verb's result: `rows` picks, filters and orders values
    * of the session's [[InfoSchema.list]] on the driver — no Spark job,
    * no statement — and they are encoded once under the size guards. */
  private def listing(token: String, verb: String, schema: StructType)(
      rows: (Seq[InfoSchema.TableRow], Seq[InfoSchema.ColumnRow]) =>
        Seq[Seq[Any]]): Engine.Result = {
    val s = session(token)
    val (tables, columns) = InfoSchema.list(s)
    val internal = rows(tables, columns).map { r =>
      InternalRow.fromSeq(r.map {
        case v: String => UTF8String.fromString(v)
        case v => v
      })
    }.toArray
    capped(s, schema, internal, verb)
  }

  /** The verbs' shared filter over (catalog, schema, table): `catalog`
    * exactly, the patterns with Spark's `LIKE`; an absent one keeps all. */
  private def located(catalog: Option[String],
      schemaPattern: Option[String], tablePattern: Option[String] = None)
      : (String, String, String) => Boolean = {
    val (schemaOk, tableOk) = (like(schemaPattern), like(tablePattern))
    (c, s, t) => catalog.forall(_ == c) && schemaOk(s) && tableOk(t)
  }

  /** Flight SQL's catalog metadata surface (CommandGetCatalogs shape).
    * The reference leaves the catalog metadata RPCs unimplemented
    * (lib.rs:382-482) and clients introspect through information_schema
    * SQL instead (lib.rs:92); these verbs serve exactly that listing —
    * the rows information_schema.tables / .columns show, Flight SQL's
    * column names, sorted as ORDER BY sorts them — so a fresh client can
    * discover catalogs/schemas/tables without knowing the dialect. */
  def getCatalogs(token: String): Engine.Result =
    listing(token, "get_catalogs", CatalogsSchema) { (tables, _) =>
      tables.map(_.catalog).distinct.sorted(StringOrder).map(Seq(_))
    }

  /** CommandGetDbSchemas shape: `catalog` filters exactly,
    * `schemaPattern` is a SQL LIKE pattern (`%`/`_`, escape `\`), both
    * optional — Flight SQL's filter semantics. */
  def getDbSchemas(token: String, catalog: Option[String] = None,
      schemaPattern: Option[String] = None): Engine.Result = {
    val keep = located(catalog, schemaPattern)
    listing(token, "get_db_schemas", DbSchemasSchema) { (tables, _) =>
      tables.filter(t => keep(t.catalog, t.schema, t.name))
        .map(t => (t.catalog, t.schema)).distinct
        .sorted(Ordering.Tuple2(StringOrder, StringOrder))
        .map { case (c, sc) => Seq(c, sc) }
    }
  }

  /** CommandGetTables shape: exact `catalog`, LIKE patterns for schema
    * and table name, and an optional `tableTypes` allowlist matched
    * against the engine's table_type values (MANAGED/EXTERNAL/VIEW/
    * TEMPORARY, as information_schema.tables reports them). */
  def getTables(token: String, catalog: Option[String] = None,
      schemaPattern: Option[String] = None,
      tablePattern: Option[String] = None,
      tableTypes: Seq[String] = Nil): Engine.Result = {
    val keep = located(catalog, schemaPattern, tablePattern)
    listing(token, "get_tables", TablesSchema) { (tables, _) =>
      tables
        .filter(t => keep(t.catalog, t.schema, t.name) &&
          (tableTypes.isEmpty || tableTypes.contains(t.tableType)))
        .sortBy(t => (t.catalog, t.schema, t.name))(
          Ordering.Tuple3(StringOrder, StringOrder, StringOrder))
        .map(t => Seq(t.catalog, t.schema, t.name, t.tableType))
    }
  }

  /** GetColumns shape (JDBC/ADBC's column listing; Flight SQL serves it
    * as CommandGetTables with include_schema=true — same filter
    * semantics): exact `catalog`, LIKE patterns for schema / table /
    * column name, over the rows information_schema.columns shows.
    * Ordinal position and nullability come from the live table schema
    * (InfoSchema reads the loaded table, not DESCRIBE strings). */
  def getColumns(token: String, catalog: Option[String] = None,
      schemaPattern: Option[String] = None,
      tablePattern: Option[String] = None,
      columnPattern: Option[String] = None): Engine.Result = {
    val (keep, columnOk) =
      (located(catalog, schemaPattern, tablePattern), like(columnPattern))
    listing(token, "get_columns", ColumnsSchema) { (_, columns) =>
      columns
        .filter(c => keep(c.catalog, c.schema, c.table) && columnOk(c.column))
        .sortBy(c => (c.catalog, c.schema, c.table, c.ordinal))(
          Ordering.Tuple4(StringOrder, StringOrder, StringOrder, Ordering.Int))
        .map(c => Seq(c.catalog, c.schema, c.table, c.column, c.ordinal,
          c.dataType, c.nullable))
    }
  }

  /** DDL/DML/SET path: runs the statement, returns -1 (lib.rs:653).
    * Result rows are NEVER materialized on the driver: commands execute
    * eagerly at `sql()`, query-shaped text drains on the executors. */
  def executeUpdate(token: String, sql: String): Long = {
    val s = session(token)
    Internals.runWithoutCollect(s.sql(sparkSql(s, sql)))
    -1L
  }

  /** Closing a statement also releases the operator cache blocks its
    * session accumulated ([[graft.operators.OperatorCache]]): operators
    * like Dedup/LmScore persist heavy intermediates behind lazy
    * DataFrames, and the statement close is the engine-side point where
    * "the caller's last action ran" is known — executor storage returns
    * to baseline here. Unpersist is recompute-safe, so a
    * concurrent statement of the same session at worst recomputes. */
  def closeStatement(handle: String): Unit = {
    val st = statements.remove(handle)
    if (st != null) graft.operators.OperatorCache.release(st.session)
  }

  /** Closing a session also drops its statements — their cached results
    * are unreachable once the token is gone — and releases its tracked
    * operator cache blocks. */
  def closeSession(token: String): Unit = {
    import scala.jdk.CollectionConverters._
    sessionTouched.remove(token)
    val s = sessions.remove(token)
    if (s != null) {
      statements.entrySet().asScala.filter(_.getValue.session eq s)
        .map(_.getKey).toSeq.foreach(statements.remove)
      graft.operators.OperatorCache.release(s)
    }
  }

  private def statement(handle: String): Statement = {
    val st = statements.get(handle)
    if (st == null) throw new IllegalArgumentException("unknown statement handle")
    st.touchedMs = System.currentTimeMillis()
    // statement activity keeps its session alive (gcSessions reclaims
    // only sessions where NOTHING has been touched)
    sessionTouched.computeIfPresent(st.token, (_, _) => st.touchedMs)
    st
  }
}

object Engine {

  /** A statement's cached result: the Arrow IPC stream [[Engine.execute]]
    * encoded once, with its schema, row count and the message-boundary
    * offsets (see `Internals.encodeArrowIpc`). Immutable; `ipc.length` is
    * the result's size in bytes, in driver memory and on the wire. */
  final case class Result(schema: StructType, rowCount: Long,
      ipc: Array[Byte], offsets: Array[Int])

  private def strings(names: String*): Seq[StructField] =
    names.map(StructField(_, StringType))
  // The metadata verbs' result schemas: what their information_schema
  // text returned (strings nullable, ordinal and nullability not).
  private val CatalogsSchema = StructType(strings("catalog_name"))
  private val DbSchemasSchema =
    StructType(strings("catalog_name", "db_schema_name"))
  private val TablesSchema = StructType(strings("catalog_name",
    "db_schema_name", "table_name", "table_type"))
  private val ColumnsSchema = StructType(strings("catalog_name",
    "db_schema_name", "table_name", "column_name") ++ Seq(
    StructField("ordinal_position", IntegerType, nullable = false),
    StructField("data_type", StringType),
    StructField("is_nullable", BooleanType, nullable = false)))

  /** Spark's string order (`UTF8String.compareTo`, UTF-8 byte order),
    * the order ORDER BY gives a string column. */
  private val StringOrder: Ordering[String] =
    Ordering.by(UTF8String.fromString)

  /** Spark's `LIKE` with escape `\` (`StringUtils.escapeLikeRegex`, the
    * pattern compilation of Spark's `Like`); no pattern matches all. */
  private def like(pattern: Option[String]): String => Boolean =
    pattern.fold((_: String) => true) { p =>
      val re = java.util.regex.Pattern.compile(
        org.apache.spark.sql.catalyst.util.StringUtils.escapeLikeRegex(p, '\\'))
      s => re.matcher(s).matches()
    }

  /** Spark job-group name tagging every job a statement submits —
    * the cancellation key for [[Engine.cancelQuery]]. */
  private[graft] def jobGroup(handle: String): String = s"graft-stmt-$handle"

  /** Bounded worker pool for [[Engine.execute]] (a thread per execute
    * is unbounded under load). Daemon threads, shared by
    * all engines in the JVM — they carry no state between tasks (the
    * job-group property is set per task and cleared in its finally).
    * Sized by GRAFT_EXEC_THREADS (floor 1, default 16 — matches the
    * reference's tokio worker default, a handful of concurrent
    * statements per process). */
  private[engine] lazy val execPool: java.util.concurrent.ExecutorService = {
    val n = math.max(1, sys.env.get("GRAFT_EXEC_THREADS")
      .flatMap(_.toIntOption).getOrElse(16))
    java.util.concurrent.Executors.newFixedThreadPool(n,
      new java.util.concurrent.ThreadFactory {
        private val i = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-exec-${i.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
  }

  /** `[NOT] SIMILAR TO '<pattern>' [ESCAPE '<c>']` with literal pattern
    * and escape — the shim's supported shape (no computed patterns).
    * Anchored at the scan position via `lookingAt`. */
  private val SimilarToRe = java.util.regex.Pattern.compile(
    "(?is)(NOT\\s+)?SIMILAR\\s+TO\\s+'((?:[^']|'')*)'" +
      "(?:\\s+ESCAPE\\s+'([^']|'')')?")

  private[engine] def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** The one SQL lexing rule every text pass of the engine shares: if a
    * string literal or quoted identifier (`'…'`, `"…"`, backticks;
    * doubled quotes stay inside the span, and in `'` / `"` literals a
    * backslash escapes the next char, as Spark's default parser reads
    * them), a `--` line comment or a block comment starts at `i`, the
    * index just past its end; otherwise `i`. Placeholder counting, the
    * information_schema rewrite and the SIMILAR TO rewrite all scan with
    * it, so none of them acts on text inside a literal or a comment. */
  private[engine] def skipQuoted(sql: String, i: Int): Int = {
    val n = sql.length
    sql.charAt(i) match {
      case c @ ('\'' | '"' | '`') =>
        var j = i + 1
        var done = false
        while (!done && j < n) {
          val cj = sql.charAt(j)
          if (cj == '\\' && c != '`' && j + 1 < n) j += 2
          else if (cj == c) {
            if (j + 1 < n && sql.charAt(j + 1) == c) j += 2 else done = true
          } else j += 1
        }
        math.min(j + 1, n)
      case '-' if i + 1 < n && sql.charAt(i + 1) == '-' =>
        val nl = sql.indexOf('\n', i + 2)
        if (nl < 0) n else nl
      case '/' if i + 1 < n && sql.charAt(i + 1) == '*' =>
        val close = sql.indexOf("*/", i + 2)
        if (close < 0) n else close + 2
      case _ => i
    }
  }

  /** `sql` with `at`'s replacements applied: `at(i)` is asked only at
    * positions outside literals, quoted identifiers and comments
    * ([[skipQuoted]]) and returns the text to emit plus the index to
    * resume at, or None to keep the char. */
  private[engine] def rewriteOutsideQuotes(sql: String)(
      at: Int => Option[(String, Int)]): String = {
    val n = sql.length
    // java.lang.StringBuilder: the 3-arg subsequence append (Scala's
    // would auto-tuple a 3-arg call into append(Any))
    val out = new java.lang.StringBuilder(n + 16)
    var i = 0
    while (i < n) {
      val j = skipQuoted(sql, i)
      if (j > i) { out.append(sql, i, j); i = j }
      else at(i) match {
        case Some((text, end)) => out.append(text); i = end
        case None => out.append(sql.charAt(i)); i += 1
      }
    }
    out.toString
  }

  /** Rewrite SQL's `SIMILAR TO` (in the reference's grammar via
    * sqlparser — iceberg-datafusion-arrow-flight consumes it through
    * `ctx.sql`, lib.rs:678) into Spark's `RLIKE`. Spark has no SIMILAR
    * TO; the operator is a full-string regex match over a pattern
    * language that is POSIX regex EXCEPT:
    *   - `%` / `_` are the LIKE wildcards (→ `.*` / `.`),
    *   - `.` / `^` / `$` are literal characters (→ escaped),
    *   - alternation/quantifiers/groups/bracket classes keep their
    *     regex meaning, and the match is anchored at both ends,
    *   - `ESCAPE '<c>'` declares the escape character (default
    *     backslash, PostgreSQL-style); escape + any char is that
    *     literal char.
    * Literal-pattern occurrences only; applied in the Engine's
    * prepare/plan path so every service entry point sees it.
    *
    * The scan is quote/comment-aware ([[rewriteOutsideQuotes]]):
    * `SIMILAR TO` text inside a literal, a quoted identifier or a
    * comment is never rewritten — only the keyword occurrence in actual
    * SQL position is. */
  def rewriteSimilarTo(sql: String): String = {
    if (sql.toLowerCase(java.util.Locale.ROOT).indexOf("similar") < 0)
      return sql
    val m = SimilarToRe.matcher(sql)
    rewriteOutsideQuotes(sql) { i =>
      val c = sql.charAt(i)
      val atWord = "nNsS".indexOf(c.toInt) >= 0 &&
        (i == 0 || !isWordChar(sql.charAt(i - 1)))
      if (atWord && { m.region(i, sql.length); m.lookingAt() }) {
        val not = if (m.group(1) == null) "" else "NOT "
        val esc = m.group(3) match {
          case null => '\\' // PostgreSQL's default SIMILAR TO escape
          case "''" => '\''
          case s => s.charAt(0)
        }
        Some((s"${not}RLIKE '${similarToRegex(m.group(2), esc)}'", m.end()))
      } else None
    }
  }

  /** SIMILAR TO pattern → anchored Java regex, escaped for a Spark SQL
    * single-quoted literal (backslashes doubled — Spark's legacy literal
    * parser processes `\x` escapes; doubled `''` pass through as the
    * literal-quote encoding). `esc` is the declared ESCAPE character
    * (default backslash, PostgreSQL-style); with a custom escape a bare
    * backslash is an ordinary literal character. */
  private[engine] def similarToRegex(pattern: String,
      esc: Char = '\\'): String = {
    val RegexSpecial = "\\^$.|?*+()[]{}&-"
    // the raw group still carries SQL's doubled-quote encoding — undo it
    // here (the scan below works on LOGICAL pattern chars) and re-double
    // any quote emitted into the output literal (see emit)
    val p = pattern.replace("''", "'")
    val raw = new StringBuilder
    var i = 0
    var inClass = false
    // true right after `[` or `[^` — a `]` there is the POSIX literal-`]`
    // form (`[]]`), which Java regex needs escaped
    var classOpening = false
    // append one char as-is, re-encoding a quote for the SQL literal
    def emit(ch: Char): Unit =
      if (ch == '\'') raw.append("''") else raw.append(ch)
    // append one LITERAL character into the regex (escaping as needed)
    def literal(ch: Char): Unit = {
      if (RegexSpecial.indexOf(ch.toInt) >= 0) raw.append('\\')
      emit(ch)
    }
    while (i < p.length) {
      val c = p.charAt(i)
      if (inClass) {
        if (c == esc && i + 1 < p.length) {
          // escaped char inside the class is literal (an escaped `]`
          // must NOT close the class)
          literal(p.charAt(i + 1))
          classOpening = false
          i += 2
        } else {
          if (c == ']') {
            if (classOpening) raw.append("\\]")
            else { raw.append(']'); inClass = false }
          } else if (c == '\\') raw.append("\\\\") // literal under custom esc
          else emit(c)
          classOpening = classOpening && c == '^'
          i += 1
        }
      } else {
        if (c == esc && i + 1 < p.length) {
          // SIMILAR TO escape: next char is literal
          literal(p.charAt(i + 1))
          i += 2
        } else c match {
          case '%' => raw.append(".*"); i += 1
          case '_' => raw.append('.'); i += 1
          case '[' =>
            raw.append('['); inClass = true; classOpening = true; i += 1
          case '.' | '^' | '$' => raw.append('\\').append(c); i += 1
          case '\\' => raw.append("\\\\"); i += 1 // literal under custom esc
          case other => emit(other); i += 1
        }
      }
    }
    ("^(?:" + raw.toString + ")$").replace("\\", "\\\\")
  }
}
