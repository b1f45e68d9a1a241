package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured-Streaming bridge over MetaCatalog tables: tail an
  * APPEND-ONLY table as a stream — every INSERT's data files arrive as a
  * micro-batch, so one table serves both the batch backfill
  * (`spark.read.table`) and the live tail (`readTable` here), the
  * two-audience pattern a 100 TB training-data pipeline needs.
  *
  * Micro-batches are driven by the SNAPSHOT LOG ([[SnapshotStreamSource]]),
  * not a file glob: only files referenced by committed snapshots are ever
  * delivered (a crash between a data-file move and its snapshot commit
  * leaks nothing into the stream), and a DELETE / OVERWRITE / compaction
  * committed after stream start fails the stream at its next batch
  * instead of silently re-delivering rewritten survivor files. */
object CatalogStreams {

  /** `spark.readStream` over `cat.ns.table`. Unpartitioned, append-only
    * tables only. `options` pass through to the source — notably the
    * admission controls `maxSnapshotsPerTrigger` / `maxFilesPerTrigger`
    * (a lagging stream catches up in bounded micro-batches instead of
    * one unbounded catch-up batch). */
  def readTable(spark: SparkSession, ident: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val dir = Maintenance.tableDir(spark, ident)
    require(TableMeta.exists(dir), s"no such table $ident")
    val meta = TableMeta.read(dir)
    require(meta.partitionCols.isEmpty,
      s"streaming reads of partitioned table $ident are not supported")
    // Fail fast when history is ALREADY non-append (the source re-checks
    // every micro-batch, so a mid-stream rewrite also fails the stream).
    val snaps = Snapshots.list(dir)
    snaps.sliding(2).foreach {
      case Seq(a, b) =>
        require(b.files.toSet.intersect(a.files.toSet) == a.files.toSet,
          s"table $ident has non-append history (snapshot v${b.version} " +
            "drops files); streaming reads require append-only commits")
      case _ => ()
    }
    // merge-on-read sidecars are logical row drops — the same
    // non-append class (the source also fails mid-stream MOR commits).
    // Compaction alone cannot unblock this: HISTORICAL snapshots keep
    // referencing the sidecars (and compact's own file drops trip the
    // sliding check above) — only expiring the affected history does.
    require(!snaps.exists(_.deleteFiles.nonEmpty),
      s"table $ident has merge-on-read delete sidecars in its history; " +
        "append-only streaming reads reject it (compact, then " +
        "expire_snapshots past the affected versions) — or tail " +
        "CatalogStreams.readChangelog, which serves deletes as row events")
    spark.readStream
      .format(classOf[SnapshotStreamProvider].getName)
      .schema(meta.schema)
      .options(options)
      .option("tableDir", dir.toString)
      .load()
  }

  /** Stream the ROW-LEVEL CHANGELOG of a MetaCatalog table: each
    * micro-batch delivers the
    * [[Changelog.read]] rows of the newly committed snapshot range —
    * table columns plus `_change_type` ('insert' | 'delete') and
    * `_commit_version`. Unlike [[readTable]], NON-APPEND history is the
    * point: merge-on-read position/equality deletes arrive as row-exact
    * 'delete' events, COW rewrites as file-level delete+insert pairs
    * (net them downstream with the [[Changelog.netChanges]] semantics
    * if needed), so a pipeline that MOR-deletes daily can tail its own
    * table instead of being rejected. Offsets are snapshot versions and
    * the changelog is a pure function of the log — a replayed batch
    * reproduces identical rows (exactly-once with a checkpointed sink);
    * expiring a snapshot a lagging stream still needs fails the stream
    * loudly. Admission control options apply as in [[readTable]]. */
  def readChangelog(spark: SparkSession, ident: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val dir = Maintenance.tableDir(spark, ident)
    require(TableMeta.exists(dir), s"no such table $ident")
    val out = TableMeta.readSchema(dir)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
    spark.readStream
      .format(classOf[SnapshotStreamProvider].getName)
      .schema(out)
      .options(options)
      .option("tableDir", dir.toString)
      .option("mode", "changelog")
      .option("ident", ident)
      .load()
  }

  /** Idempotent foreachBatch APPEND into a MetaCatalog table:
    * Structured Streaming's foreachBatch is at-least-once — a
    * crash between the sink write and the checkpoint's batch commit
    * RE-DELIVERS the batch on restart, and a plain append would then
    * double-ingest. The public recipe (the Delta idempotent-writes
    * pattern) keys the write on `batchId`: stamp every row with the
    * batch id, and make delivery a DELETE-where-batchId + APPEND pair.
    * Each of the two commits is snapshot-atomic here (COW delete, one
    * commit; append, one commit), so every interleaving of crash +
    * re-delivery converges to exactly-once rows:
    *
    *  - crash before the delete: re-delivery re-runs both (delete is a
    *    no-op on an absent batch);
    *  - crash between delete and append: re-delivery deletes nothing
    *    and appends once;
    *  - crash after the append: re-delivery deletes the first copy and
    *    appends the second — one copy survives.
    *
    * The target table must carry `batchIdCol` (BIGINT). Usage:
    *
    * {{{
    *   ds.writeStream.foreachBatch(
    *     CatalogStreams.idempotentAppend("cat.ns.sink") _).start()
    * }}}
    *
    * Derived ingest state (novelty filters, IVF index deltas, CC label
    * merges) composes the same way: make the batch's effect a pure
    * function of (table state WITHOUT this batchId, batch rows) and the
    * delete-first replay is exact. NOTE the non-append commits make the
    * sink table unsuitable for [[readTable]] tailing — idempotent sinks
    * are terminal tables by design. A further caveat: the
    * DELETE and APPEND are TWO snapshot commits, so during a replay a
    * concurrent reader of the CURRENT snapshot can transiently observe
    * the batch's rows absent (after the delete, before the re-append) —
    * batch-atomic visibility for concurrent readers needs a
    * multi-operation transaction the catalog does not have; readers that
    * need a stable view should pin a snapshot (`VERSION AS OF`). */
  def idempotentAppend(ident: String, batchIdCol: String = "_batch_id")(
      df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DELETE FROM $ident WHERE $batchIdCol = $batchId")
    df.withColumn(batchIdCol,
        org.apache.spark.sql.functions.lit(batchId))
      .writeTo(ident).append()
  }
}
