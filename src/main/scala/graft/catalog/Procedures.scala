package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** `CALL <catalog>.system.<proc>(...)` surface over [[Maintenance]] —
  * the Spark-4 DSv2 `ProcedureCatalog` rendering of Iceberg's stored
  * procedures (`rewrite_data_files`, `expire_snapshots`): table
  * maintenance becomes plain SQL, so an operator of the reference can
  * run compaction from any SQL client, no Scala entry point needed.
  *
  * The heavy lifting stays in [[Maintenance]] (distributed
  * read→shuffle→write rewrites committing ONE snapshot); a procedure
  * call returns its summary counts as a one-row `LocalScan` — driver
  * metadata only, no executor work for the result. */
object Procedures {

  val Namespace: Array[String] = Array("system")

  def list(): Array[Identifier] =
    Array("compact", "zorder", "expire_snapshots", "add_blooms",
      "create_tag", "drop_tag", "changes",
      "create_branch", "drop_branch", "fast_forward", "rollback_to_version",
      "remove_orphan_files", "rewrite_position_deletes", "delete_by_key",
      "add_partition_field", "drop_partition_field", "repartition_table")
      .map(n => Identifier.of(Namespace, n))

  def load(catalogName: String, ident: Identifier): UnboundProcedure = {
    if (!java.util.Arrays.equals(
        ident.namespace.asInstanceOf[Array[AnyRef]],
        Namespace.asInstanceOf[Array[AnyRef]]))
      throw new IllegalArgumentException(
        s"unknown procedure namespace ${ident.namespace.mkString(".")} " +
          s"(procedures live under $catalogName.system)")
    def s(r: InternalRow, i: Int): String = r.getUTF8String(i).toString
    def cols(r: InternalRow, i: Int): Seq[String] =
      s(r, i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def full(r: InternalRow): String = s"$catalogName.${s(r, 0)}"
    ident.name match {
      case "compact" => proc(
        "compact",
        "rewrite the current snapshot into target_files sort-clustered " +
          "files (Iceberg rewrite_data_files, sort strategy)",
        Array(
          ProcedureParameter.in("table", StringType)
            .comment("table as <namespace>.<name> within this catalog").build(),
          ProcedureParameter.in("sort_cols", StringType)
            .comment("comma-separated sort/cluster columns").build(),
          ProcedureParameter.in("target_files", IntegerType).build()),
        StructType(Seq(StructField("files_before", IntegerType),
          StructField("files_after", IntegerType)))) { in =>
        val (before, after) = Maintenance.compact(
          SparkSession.active, full(in), cols(in, 1), in.getInt(2))
        Array(new GenericInternalRow(Array[Any](before, after)))
      }
      case "zorder" => proc(
        "zorder",
        "rewrite the current snapshot Z-ORDER-clustered on z_cols " +
          "(Iceberg rewrite_data_files, zorder strategy)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("z_cols", StringType)
            .comment("comma-separated Z-order dimensions").build(),
          ProcedureParameter.in("target_files", IntegerType).build()),
        StructType(Seq(StructField("files_before", IntegerType),
          StructField("files_after", IntegerType)))) { in =>
        val (before, after) = Maintenance.compactZOrder(
          SparkSession.active, full(in), cols(in, 1), in.getInt(2))
        Array(new GenericInternalRow(Array[Any](before, after)))
      }
      case "rewrite_position_deletes" => proc(
        "rewrite_position_deletes",
        "rewrite merge-on-read position-delete sidecars without touching " +
          "data files: drop dangling entries, coalesce into target_files " +
          "(Iceberg rewrite_position_delete_files)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_files", IntegerType).build()),
        StructType(Seq(StructField("sidecars_before", IntegerType),
          StructField("sidecars_after", IntegerType),
          StructField("positions_before", LongType),
          StructField("positions_after", LongType)))) { in =>
        val (sb, sa, pb, pa) = Maintenance.rewritePositionDeletes(
          SparkSession.active, full(in), in.getInt(1))
        Array(new GenericInternalRow(Array[Any](sb, sa, pb, pa)))
      }
      case "expire_snapshots" => proc(
        "expire_snapshots",
        "drop all but the newest keep_last snapshots and delete " +
          "unreferenced data files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep_last", IntegerType).build()),
        StructType(Seq(StructField("snapshots_dropped", IntegerType),
          StructField("files_deleted", IntegerType)))) { in =>
        val (dropped, deleted) = Maintenance.expireSnapshots(
          SparkSession.active, full(in), in.getInt(1))
        Array(new GenericInternalRow(Array[Any](dropped, deleted)))
      }
      case "create_tag" => proc(
        "create_tag",
        "pin an immutable named tag to a snapshot version — readable " +
          "via VERSION AS OF '<name>', protected from expire_snapshots " +
          "(Iceberg refs)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", IntegerType).build()),
        StructType(Seq(StructField("name", StringType),
          StructField("version", LongType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        val ref = Snapshots.createTag(dir, s(in, 1), in.getInt(2).toLong)
        Array(new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(ref.name),
          ref.version)))
      }
      case "drop_tag" => proc(
        "drop_tag",
        "remove a named tag (the snapshot stays; it just loses expiry " +
          "protection)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("existed", BooleanType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        Array(new GenericInternalRow(Array[Any](
          Snapshots.dropTag(dir, s(in, 1)))))
      }
      case "remove_orphan_files" => proc(
        "remove_orphan_files",
        "delete data files no snapshot (main or branch) references — " +
          "dropped-branch leftovers, lost-CAS write attempts; " +
          "older_than_hours guards in-flight writes (Iceberg " +
          "remove_orphan_files)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_hours", IntegerType).build()),
        StructType(Seq(StructField("files_deleted", IntegerType)))) { in =>
        // the mtime cutoff is the ONLY in-flight-write guard (commits
        // take the CAS, not the refs lock) — the SQL surface refuses a
        // cutoff that could race a live writer
        require(in.getInt(1) >= 1,
          "older_than_hours must be >= 1: a zero cutoff can delete " +
            "files a concurrent writer moved but has not committed yet")
        Array(new GenericInternalRow(Array[Any](
          Maintenance.removeOrphanFiles(SparkSession.active, full(in),
            in.getInt(1).toLong * 3600 * 1000))))
      }
      case "rollback_to_version" => proc(
        "rollback_to_version",
        "restore an older snapshot's content as the next main snapshot " +
          "(append-only: history is never rewritten — Iceberg " +
          "rollback_to_snapshot)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", IntegerType).build()),
        StructType(Seq(StructField("restored_version", LongType),
          StructField("new_version", LongType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        val snap = Snapshots.rollbackTo(dir, in.getInt(1).toLong)
        Array(new GenericInternalRow(Array[Any](
          in.getInt(1).toLong, snap.version)))
      }
      case "create_branch" => proc(
        "create_branch",
        "fork a mutable branch from a snapshot version — stage writes " +
          "via INSERT INTO t.branch_<name>, audit via VERSION AS OF " +
          "'<name>', publish via fast_forward (Iceberg WAP)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", IntegerType).build()),
        StructType(Seq(StructField("name", StringType),
          StructField("forked_at", LongType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        val ref = Snapshots.createBranch(dir, s(in, 1), in.getInt(2).toLong)
        Array(new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(ref.name),
          ref.version)))
      }
      case "drop_branch" => proc(
        "drop_branch",
        "remove a branch ref and its staged (unpublished) snapshot log; " +
          "staged data files become orphans",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("existed", BooleanType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        Array(new GenericInternalRow(Array[Any](
          Snapshots.dropBranch(dir, s(in, 1)))))
      }
      case "fast_forward" => proc(
        "fast_forward",
        "publish a branch: append its head as the next main snapshot " +
          "(fails if main moved past the fork point) — the publish of " +
          "write-audit-publish",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("published_version", LongType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        Array(new GenericInternalRow(Array[Any](
          Snapshots.fastForward(dir, s(in, 1)).version)))
      }
      case "add_blooms" => proc(
        "add_blooms",
        "build per-(file, column) bloom sidecars for the current " +
          "snapshot — point-lookup file skipping where footer min/max " +
          "can't prune (Iceberg puffin blob stats)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("cols", StringType)
            .comment("comma-separated point-lookup columns").build()),
        StructType(Seq(StructField("sidecars_written", IntegerType)))) { in =>
        val written = Maintenance.addBlooms(
          SparkSession.active, full(in), cols(in, 1))
        Array(new GenericInternalRow(Array[Any](written)))
      }
      case "changes" => proc(
        "changes",
        "per-snapshot file-level change summary between versions " +
          "(from_version, to_version] — the metadata half of the " +
          "Changelog scan (Iceberg table_changes planning)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("from_version", IntegerType).build(),
          ProcedureParameter.in("to_version", IntegerType).build()),
        StructType(Seq(StructField("version", LongType),
          StructField("ts_millis", LongType),
          StructField("files_added", IntegerType),
          StructField("files_removed", IntegerType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        Changelog.fileChanges(dir, in.getInt(1).toLong, in.getInt(2).toLong)
          .map { case (s, added, removed) =>
            new GenericInternalRow(Array[Any](
              s.version, s.tsMillis, added.size, removed.size))
              : InternalRow
          }.toArray
      }
      case "delete_by_key" => proc(
        "delete_by_key",
        "commit an EQUALITY-delete sidecar masking every pre-existing " +
          "row whose key column equals one of the given values — " +
          "O(keys) metadata, no data read or rewrite (Iceberg v2 " +
          "equality deletes); rows inserted later are untouched",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("key_col", StringType).build(),
          ProcedureParameter.in("values", StringType)
            .comment("comma-separated key values, parsed as the " +
              "column's declared type; a value containing a comma or " +
              "quote must be double-quoted CSV-style (\"a,b\", " +
              "\"say \"\"hi\"\"\")").build()),
        StructType(Seq(StructField("keys_deleted", LongType)))) { in =>
        val active = SparkSession.active
        val table = full(in)
        val keyCol = s(in, 1)
        val raw = splitKeyValues(s(in, 2))
        // parse values as the table's declared type for the column
        val dir = Maintenance.tableDir(active, table)
        val dt = TableMeta.readSchema(dir).fields.find(_.name == keyCol)
          .map(_.dataType).getOrElse(throw new IllegalArgumentException(
            s"delete_by_key: no column $keyCol in $table"))
        import org.apache.spark.sql.functions.col
        import active.implicits._
        val keysDf = raw.toDF(keyCol).select(col(keyCol).cast(dt).as(keyCol))
        if (!keysDf.where(col(keyCol).isNull).isEmpty)
          throw new IllegalArgumentException(
            s"delete_by_key: some values failed to parse as " +
              s"${dt.simpleString}: ${raw.mkString(", ")}")
        Array(new GenericInternalRow(Array[Any](
          Maintenance.deleteByKey(active, table, keysDf))))
      }
      case "add_partition_field" => proc(
        "add_partition_field",
        "evolve the partition spec: new writes lay out the added hidden " +
          "transform's dirs, old files keep pruning under their own " +
          "era's spec (Iceberg spec evolution); compact migrates to the " +
          "latest spec",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("field", StringType)
            .comment("hidden transform, e.g. 'hours(ts)' or " +
              "'bucket(16,k)' (identity fields are data-layout-bearing " +
              "and cannot evolve)").build()),
        StructType(Seq(StructField("spec_before", StringType),
          StructField("spec_after", StringType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        val (before, after) =
          SpecEras.addPartitionField(dir, full(in), s(in, 1))
        Array(new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(before),
          org.apache.spark.unsafe.types.UTF8String.fromString(after))))
      }
      case "drop_partition_field" => proc(
        "drop_partition_field",
        "evolve the partition spec: new writes stop laying out the " +
          "field's dirs, old files keep pruning under their own era's " +
          "spec; accepts the transform spelling ('days(ts)') or its " +
          "dir column ('ts_day')",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("field", StringType).build()),
        StructType(Seq(StructField("spec_before", StringType),
          StructField("spec_after", StringType)))) { in =>
        val dir = Maintenance.tableDir(SparkSession.active, full(in))
        val (before, after) =
          SpecEras.dropPartitionField(dir, full(in), s(in, 1))
        Array(new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(before),
          org.apache.spark.unsafe.types.UTF8String.fromString(after))))
      }
      case "repartition_table" => proc(
        "repartition_table",
        "REPLACE the partition spec wholesale — identity fields may " +
          "appear or disappear (unlike ADD/DROP PARTITION FIELD, which " +
          "are metadata-only and reject identity): seals a new spec " +
          "era, then compact()s so every live file is rewritten under " +
          "the new layout in one call; history keeps serving old eras " +
          "under their own specs",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("spec", StringType)
            .comment("full new spec, comma-separated transforms — " +
              "e.g. 'region, days(ts)' or '' to unpartition").build(),
          ProcedureParameter.in("sort_cols", StringType)
            .comment("comma-separated sort/cluster columns for the " +
              "migrating rewrite").build(),
          ProcedureParameter.in("target_files", IntegerType).build()),
        StructType(Seq(StructField("spec_before", StringType),
          StructField("spec_after", StringType),
          StructField("files_rewritten", IntegerType)))) { in =>
        val spark = SparkSession.active
        val dir = Maintenance.tableDir(spark, full(in))
        // paren-aware comma split: 'bucket(4,k), days(ts)' is two
        // transforms (the comma inside bucket's parens is an argument
        // separator); ';' works too (the stored-property format)
        val fields = {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          val cur = new StringBuilder
          var depth = 0
          s(in, 1).foreach {
            case '(' => depth += 1; cur += '('
            case ')' => depth -= 1; cur += ')'
            case ',' | ';' if depth == 0 => out += cur.result(); cur.clear()
            case c => cur += c
          }
          out += cur.result()
          out.toSeq.map(_.trim).filter(_.nonEmpty)
        }
        // validate the COMPACT arguments BEFORE sealing the era: a seal
        // followed by a failed compact would strand the table mid-
        // migration with the procedure itself unable to retry (the
        // no-op guard would reject the re-seal) — review finding
        val sortCols = cols(in, 2)
        require(sortCols.nonEmpty,
          "repartition_table: sort_cols must name at least one column " +
            "for the migrating rewrite")
        val meta = TableMeta.read(dir)
        val declared = meta.schema.fieldNames
        sortCols.foreach(c => require(declared.contains(c),
          s"repartition_table: sort column '$c' is not in the schema"))
        require(in.getInt(3) >= 1,
          "repartition_table: target_files must be >= 1")
        // RESUMABLE: a re-run whose requested spec already IS the
        // current spec AND whose table still holds older-era live files
        // (a prior call sealed, then its compact failed transiently)
        // skips the seal and just finishes the migration; the same call
        // on a fully-migrated table stays a loud no-op rejection
        val curSpec = meta.partitionCols
        val stranded =
          fields.map(PartitionTransforms.parse).map(_.spec) == curSpec && {
            val eras = meta.eras.getOrElse(Seq.empty)
            eras.size > 1 && {
              val seen = FieldIds.firstSeen(dir)
              val latest = eras.last.activeFrom
              Snapshots.latest(dir).toSeq.flatMap(_.dataFiles).exists(f =>
                SpecEras.eraFor(eras,
                  seen.getOrElse(f, Long.MaxValue)).activeFrom != latest)
            }
          }
        val (before, after) =
          if (stranded) {
            val cur = PartitionTransforms.formatSpec(
              curSpec.map(PartitionTransforms.parse))
            (cur, cur)
          } else SpecEras.repartitionSpec(dir, full(in), fields)
        val (filesBefore, _) = Maintenance.compact(
          spark, full(in), sortCols, in.getInt(3))
        Array(new GenericInternalRow(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(before),
          org.apache.spark.unsafe.types.UTF8String.fromString(after),
          filesBefore)))
      }
      case other => throw new IllegalArgumentException(
        s"unknown procedure $catalogName.system.$other " +
          s"(available: ${list().map(_.name).mkString(", ")})")
    }
  }

  /** Split `delete_by_key`'s values parameter. Plain tokens split on
    * bare commas (the historical format — exact for every non-string
    * type); a DOUBLE-QUOTED token carries literal commas, with `""`
    * escaping a quote (CSV quoting) — without this, a string key
    * containing a comma would silently split into two WRONG keys and
    * mask the wrong rows. A lone `"` inside an unquoted
    * token or an unterminated quote fails loudly. */
  private[catalog] def splitKeyValues(input: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false    // currently inside "..."
    var wasQuoted = false // this token used quoting (keep even if empty)
    var closed = false    // a quoted token ended; only spaces may follow
    var i = 0
    def flush(): Unit = {
      val t = if (wasQuoted) cur.toString else cur.toString.trim
      if (t.nonEmpty || wasQuoted) out += t
      cur.clear(); wasQuoted = false; closed = false
    }
    while (i < input.length) {
      val c = input.charAt(i)
      if (quoted) {
        if (c == '"') {
          if (i + 1 < input.length && input.charAt(i + 1) == '"') {
            cur.append('"'); i += 1 // "" = escaped quote
          } else { quoted = false; closed = true }
        } else cur.append(c)
      } else c match {
        case ',' => flush()
        // after a closing quote, only whitespace may precede the comma —
        // silently appending junk would corrupt the key
        case w if closed && w.isWhitespace => ()
        case _ if closed => throw new IllegalArgumentException(
          s"delete_by_key: unexpected character '$c' after a closing " +
            s"quote at offset $i (quote the WHOLE token CSV-style)")
        case '"' if cur.toString.trim.isEmpty && !wasQuoted =>
          quoted = true; wasQuoted = true; cur.clear()
        case '"' => throw new IllegalArgumentException(
          s"delete_by_key: stray quote at offset $i in values " +
            "(quote the WHOLE token CSV-style: \"a,b\")")
        case other => cur.append(other)
      }
      i += 1
    }
    if (quoted) throw new IllegalArgumentException(
      "delete_by_key: unterminated quoted value in " + input)
    flush()
    out.toSeq
  }

  private def proc(procName: String, desc: String,
      params: Array[ProcedureParameter], outSchema: StructType)(
      body: InternalRow => Array[InternalRow]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = desc
          override def parameters(): Array[ProcedureParameter] = params
          // procedures mutate table state — never cache/reuse the call
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            val result = body(input)
            java.util.List.of[Scan](new LocalScan {
              override def readSchema(): StructType = outSchema
              override def rows(): Array[InternalRow] = result
            }).iterator()
          }
        }
    }
}
