package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** Incremental changelog over a MetaCatalog table's snapshot log — the
  * rebuild of Iceberg's changelog scan (`table_changes` /
  * `create_changelog_view`) for copy-on-write tables (the reference's
  * tables are exactly this shape via `datafusion_iceberg`,
  * Cargo.lock:1341). An ingest pipeline tails this instead of
  * re-reading the table: "give me everything that changed since the
  * snapshot I last processed".
  *
  * Semantics (Iceberg's, for COW): for every snapshot v in
  * (fromVersion, toVersion], each file ADDED at v emits its rows as
  * (`_change_type`='insert', `_commit_version`=v) and each file
  * REMOVED at v emits its rows as 'delete'. Append commits are pure
  * inserts; a COW DELETE/MERGE/OVERWRITE produces whole-file
  * delete+insert pairs — file-level CDC, exactly what Iceberg emits
  * for copy-on-write (row-level diffing needs merge-on-read deletes).
  *
  * Scale shape: planning is a metadata-only snapshot-log diff; data
  * reads touch ONLY the changed files (never the table), one
  * distributed parquet scan per (version, change-type) file set,
  * unioned. The snapshot-log tail [[SnapshotStream]] is the streaming
  * rendering of the same contract; this is the batch one.
  */
object Changelog {

  /** Per-version file-level diff: (version, tsMillis, added, removed). */
  def fileChanges(tableDir: java.nio.file.Path, fromVersion: Long,
      toVersion: Long): Seq[(Snapshots.Snap, Seq[String], Seq[String])] = {
    val snaps = Snapshots.list(tableDir)
    snaps.zip(None +: snaps.map(Some(_))).collect {
      case (s, prev) if s.version > fromVersion && s.version <= toVersion =>
        val before = prev.map(_.files.toSet).getOrElse(Set.empty[String])
        val now = s.files.toSet
        (s, s.files.filterNot(before), // added, keep snapshot file order
          prev.map(_.files.filterNot(now)).getOrElse(Seq.empty)) // removed
    }
  }

  /** The changelog rows for `ident` (= `cat.ns.table`) between snapshot
    * versions (fromVersion, toVersion]: table columns plus
    * `_change_type` ('insert' | 'delete') and `_commit_version`.
    *
    * MERGE-ON-READ commits make this genuinely ROW-LEVEL (the semantics
    * copy-on-write alone cannot express, and the reason Iceberg's
    * changelog needs position deletes for row-level precision):
    *
    *  - a data file ADDED at v emits its rows MINUS the positions v's
    *    sidecars mask in it, as 'insert';
    *  - a data file REMOVED at v emits its rows MINUS the positions the
    *    PREVIOUS snapshot masked (already-dead rows were never visible,
    *    so a later rewrite must not report them deleted twice);
    *  - a delete sidecar ADDED at v emits exactly the NEWLY-masked rows
    *    (its positions, minus positions already covered at v-1,
    *    restricted to data files still present) as 'delete' — the
    *    row-level DELETE event, read from only the referenced files;
    *  - a delete sidecar REMOVED at v (rollback) emits the rows that
    *    are no longer masked by any sidecar at v as 'insert'. */
  def read(spark: SparkSession, ident: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changelog: fromVersion $fromVersion > toVersion $toVersion")
    val dir = Maintenance.tableDir(spark, ident)
    val meta = TableMeta.read(dir)
    val schema = meta.schema

    // The raw reads below map columns by PHYSICAL name: a file from an
    // older field-id generation (pre-RENAME, or pre-drop with a
    // re-added same-named column) would silently serve renamed columns
    // as NULL — or worse, resurrect a dropped column's bytes. Reject
    // loudly; compact() rewrites history's files... but old SNAPSHOTS
    // keep referencing the old files, so the guard covers every file
    // any snapshot in the requested range references.
    meta.fieldMeta.foreach { m =>
      val rangeFiles = Snapshots.list(dir)
        .filter(s => s.version >= fromVersion && s.version <= toVersion)
        .flatMap(_.dataFiles).distinct
      if (FieldIds.hasOldGenFiles(dir, m, rangeFiles))
        throw new UnsupportedOperationException(
          s"$ident: the changelog range ($fromVersion, $toVersion] " +
            "references data files from an older schema generation " +
            "(RENAME/DROP COLUMN); read a post-compact range, or " +
            "compact() and expire the pre-rename history first")
    }

    // align to the DECLARED schema: files written before an ALTER ADD
    // COLUMN lack the new column (read NULL); dropped columns hide
    def align(raw: DataFrame, typ: String, v: Long): DataFrame = {
      val have = raw.columns.toSet
      val aligned = schema.fields.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      raw.select(aligned.toIndexedSeq: _*)
        .withColumn("_change_type", lit(typ))
        .withColumn("_commit_version", lit(v))
    }

    // EXPLICIT declared schema: a file set can span a type
    // promotion (narrow + wide files in one read) — schema inference
    // would pick one file's physical type and break on the others;
    // Spark's parquet reader natively widens narrow files under the
    // declared type, files lacking a later-ADDed column read NULL, and
    // the old-generation guard above already rejects files whose NAMES
    // don't translate. Identity partition columns resolve from dir
    // names via basePath, same as an inferred read.
    def readRaw(fs: Seq[String]): DataFrame =
      // one basePath read per spec era: a rollback diff can
      // re-reference files from several eras whose dir depths differ,
      // which Spark's partition inference rejects outright; the pinned
      // zone governs TIMESTAMP identity dir-value parsing
      SpecEras.fileGroups(dir, fs, meta.eras).map { eraFs =>
        val r0 = spark.read
          .option("basePath", dir.resolve("data").toString)
          .schema(schema)
        meta.props.get(PartitionTransforms.ZoneKey)
          .fold(r0)(z => r0.option("timeZone", z))
          .parquet(eraFs.map(f => dir.resolve(f).toString): _*)
          // select the DECLARED columns per era frame: partition
          // inference appends each era's hidden dir columns and the
          // union sides would disagree. `_metadata` rides along — the
          // mask joins key on file_path/row_index and the pseudo-column
          // only resolves on the direct file relation.
          .select(schema.fieldNames.map(col).toIndexedSeq :+
            col("_metadata"): _*)
      }.reduce(_ unionByName _)

    def positions(deleteFiles: Seq[String]): DataFrame =
      DeleteSidecars.positionsDf(spark, dir, deleteFiles)

    lazy val firstSeen = FieldIds.firstSeen(dir)
    val maxKeys = spark.conf.getOption(EqualityDeletes.MaxKeysKey)
      .map(_.toLong).getOrElse(EqualityDeletes.MaxKeysDefault)

    // data-file change: serve its rows minus what `mask` sidecars
    // (BOTH types) cover
    def maskedRows(fs: Seq[String], mask: Seq[String], typ: String,
        v: Long): DataFrame =
      align(EqualityDeletes.applyAll(readRaw(fs), spark, dir, schema, fs,
        mask), typ, v)

    // position-sidecar change: the rows at `pos` (file, pos) pairs that
    // live in still-present data files — reads ONLY those files.
    // `alsoMask`: sidecars whose masks must ALSO not cover the row (a
    // position newly masked was no visible-row change if an equality
    // batch already masked it; an un-deleted position is no insert if
    // an equality batch still masks it).
    def rowsAtPositions(present: Set[String], pos: DataFrame,
        alsoMask: Seq[String], typ: String, v: Long): Option[DataFrame] = {
      import spark.implicits._
      val fs = pos.select("file").distinct().as[String].collect() // small
        .filter(present.contains).toSeq
      if (fs.isEmpty) None
      else {
        val mapDf = spark.createDataFrame(
          fs.map(f => DeleteSidecars.sparkFileUri(dir.resolve(f)) -> f))
          .toDF("__uri", "file")
        val posUri = pos.join(broadcast(mapDf), "file")
          .select(col("__uri"), col("pos"))
        val rows = readRaw(fs).join(broadcast(posUri),
          col("_metadata.file_path") === col("__uri") &&
            col("_metadata.row_index") === col("pos"),
          "left_semi")
        Some(align(
          EqualityDeletes.applyAll(rows, spark, dir, schema, fs, alsoMask), typ, v))
      }
    }

    // equality-sidecar change: the rows the given eq sidecars MATCH
    // (per their strict first-seen-before-version rule) among `present`
    // data files, deduplicated by row identity, minus whatever
    // `alsoMask` sidecars cover. Reads only files the version rule
    // subjects (stats pruning of key envelopes left to the parquet
    // row-group layer — eq batches are small by contract).
    def rowsMatchingEq(present: Seq[String], eqFiles: Seq[String],
        alsoMask: Seq[String], typ: String, v: Long): Option[DataFrame] = {
      val batches = EqualityDeletes.loadBatches(spark, dir, schema, eqFiles,
        f => firstSeen.getOrElse(f, Long.MaxValue), maxKeys)
      val maxV = batches.map(_.version).maxOption.getOrElse(Long.MinValue)
      val subject = present.filter(f =>
        firstSeen.getOrElse(f, Long.MaxValue) < maxV)
      if (subject.isEmpty || batches.forall(_.keys.isEmpty)) return None
      val uriToSeen = subject.map(rel =>
        DeleteSidecars.sparkFileUri(dir.resolve(rel)) ->
          firstSeen.getOrElse(rel, Long.MaxValue))
      val seenDf = spark.createDataFrame(uriToSeen).toDF("__uri", "__fseen")
      val tagged = readRaw(subject)
        .join(broadcast(seenDf),
          col("_metadata.file_path") === col("__uri"), "left")
      val matched = batches.filter(_.keys.nonEmpty).map { b =>
        val scalaRows = b.keys.toSeq.map { t =>
          Row.fromSeq(t.zip(b.types).map { case (value, dt) =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToScala(value, dt)
          })
        }
        val keysDf = spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(scalaRows).asJava,
          org.apache.spark.sql.types.StructType(b.cols.zip(b.types).map {
            case (c, t) => org.apache.spark.sql.types.StructField(c, t) }))
        val cond = b.cols.map(c => tagged(c) <=> keysDf(c)).reduce(_ && _) &&
          col("__fseen") < lit(b.version)
        tagged.join(broadcast(keysDf), cond, "left_semi")
      }.reduce(_ unionByName _)
        .withColumn("__rid_uri", col("_metadata.file_path"))
        .withColumn("__rid_pos", col("_metadata.row_index"))
        .dropDuplicates("__rid_uri", "__rid_pos")
        .drop("__rid_uri", "__rid_pos", "__uri", "__fseen")
      Some(align(
        EqualityDeletes.applyAll(matched, spark, dir, schema, subject,
          alsoMask),
        typ, v))
    }

    val snaps = Snapshots.list(dir)
    val batches = snaps.zip(None +: snaps.map(Some(_))).collect {
      case (s, prev) if s.version > fromVersion && s.version <= toVersion =>
        val before = prev.map(_.files.toSet).getOrElse(Set.empty[String])
        val now = s.files.toSet
        val added = s.files.filterNot(before)
        val removed = prev.map(_.files.filterNot(now)).getOrElse(Seq.empty)
        val (addedDel, addedData) = added.partition(Snapshots.isDeleteFile)
        val (removedDel, removedData) = removed.partition(Snapshots.isDeleteFile)
        val (addedEq, addedPos) =
          addedDel.partition(Snapshots.isEqualityDeleteFile)
        val (removedEq, removedPos) =
          removedDel.partition(Snapshots.isEqualityDeleteFile)
        val prevDels = prev.map(_.deleteFiles).getOrElse(Seq.empty)
        val prevPos = prevDels.filterNot(Snapshots.isEqualityDeleteFile)
        val prevEq = prevDels.filter(Snapshots.isEqualityDeleteFile)

        val inserts =
          if (addedData.isEmpty) None
          else Some(maskedRows(addedData, s.deleteFiles, "insert", s.version))
        val deletes =
          if (removedData.isEmpty) None
          else Some(maskedRows(removedData, prevDels, "delete", s.version))
        val morDeletes = // newly POSITION-masked, visible at prev
          if (addedPos.isEmpty) None
          else rowsAtPositions(s.dataFiles.toSet,
            positions(addedPos).join(positions(prevPos),
              Seq("file", "pos"), "left_anti"),
            prevEq, "delete", s.version)
        val morUndeletes = // position rollback, not still masked at s
          if (removedPos.isEmpty) None
          else rowsAtPositions(s.dataFiles.toSet,
            positions(removedPos).join(positions(s.posDeleteFiles),
              Seq("file", "pos"), "left_anti"),
            s.eqDeleteFiles, "insert", s.version)
        val eqDeletes = // newly EQUALITY-masked, visible at prev
          if (addedEq.isEmpty) None
          else rowsMatchingEq(s.dataFiles, addedEq, prevDels,
            "delete", s.version)
        val eqUndeletes = // equality rollback, not still masked at s
          if (removedEq.isEmpty) None
          else rowsMatchingEq(s.dataFiles, removedEq, s.deleteFiles,
            "insert", s.version)
        Seq(inserts, deletes, morDeletes, morUndeletes,
          eqDeletes, eqUndeletes).flatten
    }.flatten
    if (batches.isEmpty) {
      val out = schema.add("_change_type", StringType)
        .add("_commit_version", LongType)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], out)
    } else batches.reduce(_ unionByName _)
  }

  /** NET row-level changes — Iceberg's changelog CARRY-OVER REMOVAL
    * (`create_changelog_view(remove_carryovers => true)`): a COW
    * rewrite emits whole-file delete+insert pairs even for rows the
    * command never touched; per (row content, commit version) the
    * carried-over copies cancel (multiset semantics: n inserts − n
    * deletes), leaving exactly the rows that logically changed, with
    * `n_copies` carrying the surviving multiplicity. A downstream
    * incremental consumer applies THIS, not the raw file-level feed.
    *
    * Scale shape: one aggregate over the changed-file rows only (the
    * [[read]] scan never touches unchanged files); the shuffle key is
    * the full row content + version, i.e. exactly the dedup-by-content
    * exchange the cancellation needs. */
  def netChanges(spark: SparkSession, ident: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val raw = read(spark, ident, fromVersion, toVersion)
    val keys = raw.columns.filterNot(_ == "_change_type")
    // content grouping needs orderable columns and owns the output name
    // 'n_copies' (plus the internal aggregate alias); fail with a named
    // error instead of an ambiguous analysis exception mid-plan. Name
    // checks are CASE-INSENSITIVE — Spark resolution is, by default.
    val net = "__graft_net"
    Seq("n_copies", net).foreach { reserved =>
      require(!keys.exists(_.equalsIgnoreCase(reserved)),
        s"netChanges: $ident has a column named '$reserved' (any case), " +
          "which collides with the net-changes output")
    }
    def hasMap(dt: DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    raw.schema.fields.filter(f => keys.contains(f.name)).foreach { f =>
      require(!hasMap(f.dataType),
        s"netChanges: column '${f.name}' contains a map type (possibly " +
          "nested) and cannot be grouped by content (Spark restriction); " +
          "use the file-level read")
    }
    // backtick-quote key references: a legal column name may contain
    // dots, which a bare col() would mis-parse as nested-field access
    def keyCol(k: String) = col(s"`${k.replace("`", "``")}`")
    raw.groupBy(keys.map(keyCol).toIndexedSeq: _*)
      .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .as(net))
      .where(col(net) =!= 0L)
      .select(keys.map(keyCol) :+
        when(col(net) > 0, "insert").otherwise("delete")
          .as("_change_type") :+
        abs(col(net)).as("n_copies"): _*)
  }
}
