package org.apache.spark.sql.graftaccess

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Narrow bridge to session-internal registries.
  *
  * Spark's public runtime API (`spark.udf.register`) only accepts
  * black-box Scala functions, which break whole-stage codegen and hide
  * expressions from Catalyst. To register native `Expression` builders
  * (foldable, codegen'd, optimizer-visible) on an already-running session
  * we need `sessionState.functionRegistry`, which is `private[sql]` —
  * hence this accessor living under `org.apache.spark.sql`.
  */
object Internals {
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  def functionExists(spark: SparkSession, name: String): Boolean =
    spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name))

  /** Wrap a raw Catalyst Expression as a user-facing Column (Spark 4 has
    * no public constructor for this). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A DataFrame's analyzed logical plan (custom-LogicalPlan composition
    * point — `queryExecution` is public but classic-typed). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution.analyzed

  /** DSv2 runtime-filter `Predicate`s → V1 `sources.Filter`s
    * (`PredicateUtils` is private[sql]); untranslatable predicates drop
    * out, which is the conservative direction for stats-based pruning. */
  def predicatesToV1(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Seq[org.apache.spark.sql.sources.Filter] =
    ps.flatMap(p =>
      org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)).toSeq

  /** Wrap a (possibly custom) logical plan as a DataFrame —
    * `Dataset.ofRows` is private[sql]. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[ClassicSession], plan)

  /** DataFrame over a DSv2 Table handle directly — lets maintenance jobs
    * read EXACTLY a pinned snapshot through the table's own scan
    * (generation-aware column mapping, MOR delete masking) without a
    * catalog round-trip. */
  def tableDf(spark: SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table)
      : org.apache.spark.sql.DataFrame =
    ofRows(spark, org.apache.spark.sql.execution.datasources.v2
      .DataSourceV2Relation.create(table, None, None))

  /** Run a DataFrame's plan and collect its result as `InternalRow`s —
    * `Dataset.collect` without the Row deserializer. Runs under
    * `SQLExecution.withNewExecutionId` exactly as `collect` does, so SQL
    * listeners (UI, QueryExecutionListener, tracing) see the same
    * execution. `executeCollect` returns an independent copy per row. */
  def collectInternalRows(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
        qe, Some("collect")) {
      org.apache.spark.sql.execution.QueryExecution.withInternalError(
          """The "collect" action failed.""") {
        qe.executedPlan.resetMetrics()
        qe.executedPlan.executeCollect()
      }
    }
  }

  /** Encode rows as ONE Arrow IPC stream (schema message + record
    * batches + EOS) — the wire format of the reference's Flight `do_get`
    * (lib.rs:288-295). `offsets` are the byte positions after the schema
    * message and after each record-batch message (the final entry is the
    * total length, i.e. the EOS marker rides with the last batch).
    * Slicing the stream at these offsets yields frames a Flight `DoGet`
    * would carry one FlightData each: a server can frame per-batch with
    * zero copies (`write(bytes, off, len)`) and a client reassembles the
    * identical stream by concatenation. Launches no Spark job. */
  def encodeArrowIpc(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : (Array[Byte], Array[Int]) = {
    val conf = spark.asInstanceOf[ClassicSession].sessionState.conf
    val arrowSchema = org.apache.spark.sql.util.ArrowUtils.toArrowSchema(
      schema, conf.sessionLocalTimeZone,
      errorOnDuplicatedFieldNames = true, largeVarTypes = false)
    val allocator = org.apache.spark.sql.util.ArrowUtils.rootAllocator
      .newChildAllocator("graft-ipc", 0, Long.MaxValue)
    val root = org.apache.arrow.vector.VectorSchemaRoot.create(arrowSchema, allocator)
    try {
      val writer = org.apache.spark.sql.execution.arrow.ArrowWriter.create(root)
      val out = new java.io.ByteArrayOutputStream()
      val sw = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null,
        java.nio.channels.Channels.newChannel(out))
      // Spark contract: maxRecordsPerBatch <= 0 means unlimited.
      val confMax = conf.arrowMaxRecordsPerBatch
      val maxRecords = if (confMax <= 0) Int.MaxValue else confMax
      sw.start()
      val offsets = Array.newBuilder[Int]
      offsets += out.size() // end of the schema message
      // Streaming write: write() copies values into the Arrow vectors
      // immediately, so the input iterator may reuse one mutable row.
      var total = 0L
      var inBatch = 0
      while (rows.hasNext) {
        writer.write(rows.next())
        total += 1; inBatch += 1
        if (inBatch == maxRecords) {
          writer.finish(); sw.writeBatch(); writer.reset(); inBatch = 0
          // no boundary after the FINAL batch: when rowCount is an exact
          // multiple of maxRecords, sw.end()'s EOS must ride with that
          // batch's frame (the documented contract) — an in-loop offset
          // here would carve the EOS into its own 8-byte frame
          if (rows.hasNext) offsets += out.size()
        }
      }
      if (inBatch > 0 || total == 0) { // at least one (empty) batch before EOS
        writer.finish(); sw.writeBatch(); writer.reset()
      }
      sw.end(); sw.close()
      offsets += out.size() // last batch + EOS
      (out.toByteArray, offsets.result().distinct)
    } finally { root.close(); allocator.close() }
  }

  /** Inverse of [[encodeArrowIpc]]: decode an Arrow IPC stream back to
    * external Rows. Lets the engine keep ONE resident form of a cached
    * result (the encoded bytes) and still serve the row-shaped fetch
    * verb by transiently rebuilding the rows. */
  def arrowIpcToRows(
      schema: org.apache.spark.sql.types.StructType,
      bytes: Array[Byte]): Array[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    val allocator = org.apache.spark.sql.util.ArrowUtils.rootAllocator
      .newChildAllocator("graft-ipc-read", 0, Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), allocator)
    try {
      val deser = org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      val out = Array.newBuilder[org.apache.spark.sql.Row]
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val cols = root.getFieldVectors.asScala.map(v =>
          new org.apache.spark.sql.vectorized.ArrowColumnVector(v)
            : org.apache.spark.sql.vectorized.ColumnVector).toArray
        val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(
          cols, root.getRowCount)
        // the deserializer materializes every value into the produced
        // Row, so the mutable batch cursor never escapes
        batch.rowIterator().asScala.foreach(r => out += deser(r))
      }
      out.result()
    } finally { reader.close(); allocator.close() }
  }

  /** Run a statement for its side effects WITHOUT materializing result
    * rows on the driver. Spark executes commands (INSERT/CREATE/SET/...)
    * eagerly at `sql()` — for those nothing further is needed; replaying
    * the local [[CommandResult]] would be a pointless job. Query-shaped
    * text is drained partition-by-partition on the executors, same
    * technique as [[explainAnalyze]]. */
  def runWithoutCollect(df: org.apache.spark.sql.DataFrame): Unit = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].queryExecution
    qe.commandExecuted match {
      case _: org.apache.spark.sql.catalyst.plans.logical.CommandResult => ()
      case _ => qe.toRdd.foreachPartition(
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
          while (it.hasNext) it.next())
    }
  }

  /** The session's name resolver (case-insensitive under the default
    * spark.sql.caseSensitive=false) — private[sql] via sessionState. */
  def resolver(spark: SparkSession): (String, String) => Boolean =
    spark.asInstanceOf[ClassicSession].sessionState.conf.resolver

  /** What `SHOW TABLES` lists in the session catalog (the current
    * database's tables and views plus the session's local temp views),
    * read from the catalog itself, so no Spark job runs: Spark's own
    * `catalog.listTables()` collects a SHOW TABLES plan. Per entry:
    * database ("" for a local temp view), name, table type (TEMPORARY
    * for a temp view, else MANAGED / EXTERNAL / VIEW) and schema. An
    * entry whose metadata cannot be read is left out, as
    * `listTables()` leaves it out. */
  def sessionTables(spark: SparkSession)
      : Seq[(String, String, String, org.apache.spark.sql.types.StructType)] = {
    val catalog = spark.asInstanceOf[ClassicSession].sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase).flatMap { id =>
      scala.util.Try(catalog.getTempViewOrPermanentTableMetadata(id)).toOption
        .map { meta =>
          val tableType =
            if (catalog.isTempView(id)) "TEMPORARY" else meta.tableType.name
          (id.database.getOrElse(""), id.table, tableType, meta.schema)
        }
    }
  }

  /** A configured DSv2 catalog plugin by name (CatalogManager is
    * private[sql]); loads the catalog on first access like any query
    * referencing it would. */
  def catalogPlugin(spark: SparkSession, name: String)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.asInstanceOf[ClassicSession].sessionState.catalogManager
      .catalog(name)

  /** A batch parquet relation over exactly `paths`, wrapped as an
    * isStreaming LogicalRelation — the construction FileStreamSource
    * uses for its own micro-batches; required because
    * MicroBatchExecution asserts that V1 `Source.getBatch` DataFrames
    * carry isStreaming=true. */
  def streamingParquetDf(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): org.apache.spark.sql.DataFrame = {
    val cs = spark.asInstanceOf[ClassicSession]
    val relation = org.apache.spark.sql.execution.datasources.DataSource(
      cs, className = "parquet", paths = paths,
      userSpecifiedSchema = Some(schema)).resolveRelation(checkFilesExist = false)
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        relation, isStreaming = true))
  }

  /** Render an arbitrary (batch) DataFrame as a STREAMING frame for a
    * V1 Source.getBatch: Spark's MicroBatchExecution asserts
    * `isStreaming` on the returned plan, but a changelog micro-batch is
    * a join/union plan, not a file list — so plan it here (driver-side,
    * lazily) and wrap the resulting RDD as a streaming LogicalRDD. The
    * RDD executes only when the micro-batch runs. */
  def streamingDfFromPlan(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    val cs = ds.sparkSession
    cs.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema,
      isStreaming = true)
  }

  /** Execute a DataFrame's physical plan fully and render the tree with
    * its RUNTIME metric values — the analogue of DataFusion's
    * `EXPLAIN ANALYZE` (which the reference serves through `ctx.sql`).
    * Executes THIS QueryExecution instance so the SQLMetrics read back
    * non-zero; AQE wrappers are unwrapped to the final adapted plan. */
  def explainAnalyze(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    val root = ds.queryExecution.executedPlan
    // force full execution WITHOUT collecting rows to the driver (an
    // executeCollect here would OOM on large results just to read
    // metrics); each partition's iterator is drained on its executor —
    // physical operators compute lazily, so the pull is what runs them
    root.execute().foreachPartition(
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        while (it.hasNext) it.next())
    val out = Seq.newBuilder[String]
    def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
      out += ("  " * depth) + p.nodeName + (if (ms.isEmpty) "" else s" [$ms]")
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(root, 0)
    out.result()
  }

  /** Apply a SparkSessionExtensions' injected functions to a scratch
    * registry and list them (test support — `registerFunctions` is
    * private[sql]). */
  def injectedFunctionNames(
      ext: org.apache.spark.sql.SparkSessionExtensions): Seq[String] = {
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName)
  }
}
