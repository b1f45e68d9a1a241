package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance surface for MetaCatalog tables — the rebuild of
  * Iceberg's `expire_snapshots` / orphan-file cleanup (the operational
  * half of snapshot-based tables: without expiry, copy-on-write DELETE and
  * OVERWRITE grow storage forever; at 100 TB this runs as a scheduled
  * metadata-only job, never a data scan). */
object Maintenance {

  /** Resolve `cat.ns....table` to its directory under the catalog's
    * configured warehouse. */
  private[graft] def tableDir(spark: SparkSession, ident: String): Path = {
    val parts = ident.split("\\.")
    require(parts.length >= 3, s"need cat.ns.table, got $ident")
    val wh = spark.conf.get(s"spark.sql.catalog.${parts.head}.warehouse")
    parts.tail.foldLeft(Paths.get(wh))((p, n) => p.resolve(n))
  }

  /** Compact + sort-cluster a table's current snapshot — the rebuild of
    * Iceberg's `rewrite_data_files` with a sort strategy: many small
    * commit-sized files become `targetFiles` range-partitioned,
    * internally sorted files, so Parquet row-group min/max stats actually
    * prune on `sortCols` predicates (the data-skipping layout that turns
    * a 100 TB scan into a range read). Runs as one distributed
    * read→shuffle→write; commits ONE new snapshot (old files stay for
    * time travel until [[expireSnapshots]]). Returns (files before,
    * files after). */
  def compact(spark: SparkSession, ident: String, sortCols: Seq[String],
      targetFiles: Int): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    require(targetFiles >= 1 && sortCols.nonEmpty)
    rewriteClustered(spark, ident) { pinned =>
      pinned
        .repartitionByRange(targetFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    }
  }

  /** [[compact]] with a Z-ORDER layout instead of a linear sort: rows
    * cluster along the Morton curve over `zCols`
    * ([[graft.operators.ZOrder]]), so every output file covers a small
    * hyper-rectangle and footer min/max stats prune on ANY of the
    * z-columns — the multi-predicate data-skipping layout
    * (Iceberg's rewrite_data_files zorder strategy). A linear sort
    * clusters only its leading column; its files span the full range of
    * every other dimension and never prune on them. Per-dimension
    * [lo, hi] comes from one metadata-cheap min/max aggregate over the
    * pinned snapshot. */
  def compactZOrder(spark: SparkSession, ident: String, zCols: Seq[String],
      targetFiles: Int, bits: Int = 16): (Int, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min}
    require(targetFiles >= 1 && zCols.nonEmpty)
    rewriteClustered(spark, ident) { pinned =>
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
      val mm = pinned.agg(aggs.head, aggs.tail: _*).head()
      // an all-NULL z-column has no [lo, hi] — fail with the column name
      // rather than an opaque NULL-primitive getDouble error
      zCols.zipWithIndex.foreach { case (c, i) =>
        if (mm.isNullAt(2 * i) || mm.isNullAt(2 * i + 1))
          throw new IllegalArgumentException(
            s"z-order column '$c' is entirely NULL in $ident; " +
              "pick a populated column or compact() on another key")
      }
      val ranges = zCols.indices.map(i => (mm.getDouble(2 * i), mm.getDouble(2 * i + 1)))
      val zk = graft.operators.ZOrder.zkeyFor(zCols.map(col), ranges, bits)
      // rows with a NULL in any z-column get a NULL key; pin them to a
      // sentinel below every real key (keys are non-negative) so they
      // form one deterministic leading range instead of relying on the
      // range partitioner's NULL placement
      pinned.withColumn("__z", coalesce(zk, lit(-1L)))
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
    }
  }

  /** MERGE INTO (upsert) as a copy-on-write rewrite — the classic
    * `WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *`
    * shape (Iceberg's copy-on-write MERGE; the reference engine stops at
    * INSERT/DELETE, this goes beyond parity): every target row whose key
    * appears in `source` is replaced by the source row, unmatched source
    * rows append, all in ONE snapshot commit with the same stale-base
    * abort the DELETE path has.
    *
    * Scale shape: only files whose footer key-range overlaps the
    * source's [min, max] key envelope are rewritten ([[ParquetStats]]
    * pruning — after [[compact]] clusters on the key, an upsert of a
    * narrow key range rewrites O(1) files out of a 100 TB table); the
    * matched-row drop is one left-anti join of the touched files against
    * the source keys (broadcast when the source is small). Returns
    * (filesRewritten, filesInBaseSnapshot).
    *
    * `source` must carry the table schema's columns (any order) and at
    * most one row per key; null keys are rejected — both checks are one
    * cheap aggregate over the source. The source plan is evaluated
    * several times (stats, distinct-keys check, anti-join, final union)
    * — persist() an expensive source before calling. */
  def upsert(spark: SparkSession, ident: String, source: DataFrame,
      keyCols: Seq[String]): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val dir = tableDir(spark, ident)
    val base = Snapshots.latest(dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for $ident"))
    val table = TableMeta.load(ident, dir, None)
    val schema = table.schema()
    require(keyCols.forall(schema.fieldNames.contains),
      s"key columns ${keyCols.mkString(",")} must exist in ${ident}")
    // Align source TYPES to the declared schema, not just names: a
    // wide-typed source (e.g. LongType for an INT column) would
    // otherwise be written VERBATIM — committing INT64 parquet files
    // under an int-declared column that every later read fails on.
    // Loss-free up-casts (canUpCast) apply silently, like SQL INSERT's
    // store assignment; anything else rejects loudly.
    // source fields resolve with the SESSION resolver (case-insensitive
    // by default)
    val resolve = org.apache.spark.sql.graftaccess.Internals.resolver(spark)
    val src = source.select(schema.fields.map { f =>
      val in = source.schema.fields.find(i => resolve(i.name, f.name))
        .getOrElse(throw new IllegalArgumentException(
          s"upsert source is missing column ${f.name} of $ident"))
      if (in.dataType == f.dataType) col(in.name).as(f.name)
      else if (org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(in.dataType, f.dataType))
        col(in.name).cast(f.dataType).as(f.name)
      else throw new IllegalArgumentException(
        s"upsert source column ${f.name} is ${in.dataType.simpleString} " +
          s"but $ident declares ${f.dataType.simpleString}; cast the " +
          "source explicitly (only loss-free up-casts apply implicitly)")
    }.toSeq: _*)

    // One aggregate answers: row count, per-key min/max (the pruning
    // envelope) and null-key counts; a distinct count then rules out
    // duplicate keys (groups < rows ⇒ some key repeats).
    val aggCols = count(lit(1)).as("__rows") +: keyCols.flatMap(k => Seq(
      min(col(k)).as(s"__min_$k"), max(col(k)).as(s"__max_$k"),
      sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"__nulls_$k")))
    val stats = src.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val rows = stats.getAs[Long]("__rows")
    if (rows == 0L) return (0, base.dataFiles.length) // empty source: no-op
    keyCols.foreach(k => require(stats.getAs[Long](s"__nulls_$k") == 0L,
      s"upsert source has null key values in $k"))
    val groups = src.select(keyCols.map(col).toSeq: _*).distinct().count()
    require(groups == rows,
      s"upsert source has duplicate keys on (${keyCols.mkString(",")})")

    // Footer-stat pruning: a file can hold a source key only if its
    // per-column range overlaps the source envelope on EVERY key column
    // (fileMin <= srcMax AND fileMax >= srcMin).
    val envelope: Seq[Filter] = keyCols.flatMap { k =>
      Seq(LessThanOrEqual(k, stats.getAs[Any](s"__max_$k")),
        GreaterThanOrEqual(k, stats.getAs[Any](s"__min_$k")))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // Any non-identity-translated file rejects upsert outright: its
    // footer stats are keyed by OLD physical names (envelope pruning on
    // them would be wrong), and upsert's survivor read is a raw
    // declared-schema parquet read — a pre-rename file would silently
    // serve NULLs and the rewrite would persist them. compact() is the
    // migration path.
    val opaque = table.meta.fieldMeta.map(m =>
      FieldIds.nonIdentityFiles(dir, m, base.dataFiles)).getOrElse(Set.empty)
    if (opaque.nonEmpty)
      throw new UnsupportedOperationException(
        s"$ident has data files from an older schema generation " +
          "(RENAME or DROP+re-ADD COLUMN); compact() the table before upsert")
    // commit-time stats cache (live-footer fallback per uncached file)
    val envelopeStats = FileStatsCache.forTable(dir, conf)
    val touched = base.dataFiles.filter(f =>
      envelopeStats.mayMatchAll(f, envelope, openFooter = true))

    val survivors =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        // one basePath read per spec era: mixed-era file sets have
        // mixed dir depths, which partition inference rejects; the
        // pinned zone governs TIMESTAMP identity dir-value parsing
        val zoneOpt = table.meta.props.get(PartitionTransforms.ZoneKey)
        val raw = SpecEras.fileGroups(dir, touched, table.meta.eras)
          .map { fs =>
            val r0 = spark.read
              .option("basePath", dir.resolve("data").toString)
              .schema(schema)
            zoneOpt.fold(r0)(z => r0.option("timeZone", z))
              .parquet(fs.map(f => dir.resolve(f).toString): _*)
              // select the DECLARED columns per era frame: partition
              // inference appends each era's hidden dir columns
              // (k_bucket, v_trunc, ...) and the frames would disagree.
              // `_metadata` rides along — the eq-delete mask joins on
              // its file_path, and the pseudo-column only resolves on
              // the direct file relation.
              .select(schema.fieldNames.map(col).toSeq :+
                col("_metadata"): _*)
          }.reduce(_ unionByName _)
        // rows masked by pending MOR sidecars (position OR equality)
        // must not be resurrected
        EqualityDeletes
          .applyAll(raw, spark, dir, schema, base.dataFiles, base.deleteFiles)
          .select(schema.fieldNames.map(col).toSeq: _*)
          .join(src.select(keyCols.map(col).toSeq: _*), keyCols, "left_anti")
      }

    table.replaceFiles(survivors.unionByName(src), touched, base.deleteFiles)
    (touched.length, base.dataFiles.length)
  }

  /** DELETE BY KEY via an EQUALITY-delete sidecar ([[EqualityDeletes]] —
    * Iceberg v2's second delete-file type): commit the
    * distinct rows of `keys` (columns = the equality fields, a subset
    * of the table schema) as one `deletes/eq_<uuid>/` sidecar. O(keys)
    * metadata — no data file read, no positions computed, no rewrite;
    * the streaming-CDC delete path a 100 TB upsert pipeline needs. Rows
    * of data files committed BEFORE this call whose key tuple matches
    * any key row are masked from every subsequent read; rows inserted
    * AFTER (or in the same commit) are untouched, so re-inserting a
    * deleted key needs no ceremony. Returns the number of distinct keys
    * committed (0 = no-op, nothing committed).
    *
    * Validations: key columns must exist with EXACT table types (values
    * are hash-compared against read rows — a lossy cast would silently
    * fail to mask), be atomic orderable types, and contain no NULLs;
    * tables with old-generation (pre-rename) files reject — the sidecar
    * records CURRENT names, which old files don't carry physically. */
  def deleteByKey(spark: SparkSession, ident: String,
      keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val dir = tableDir(spark, ident)
    val base = Snapshots.latest(dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for $ident"))
    val table = TableMeta.load(ident, dir, None)
    val schema = table.schema()
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteByKey needs at least one key column")
    // IDENTITY partition key columns are NOT physically stored in data
    // files (partitionBy drops them to dir names): the scan-side mask
    // routes them through readPartitionSchema, where the reader serves
    // the DIR value (MorScans — a data-scratch read would serve NULL
    // and silently miss). ZONED timestamp partition columns are fine
    // once the table pins a zone (CREATE pins it, the first write
    // backfills legacy tables): dir values render AND parse under the
    // pinned zone, so the mask is session-independent. Only a
    // never-written legacy table without the pin still rejects.
    val identityParts = table.meta.partitionCols
      .map(PartitionTransforms.parse)
      .collect { case PartitionTransforms.Identity(c) => c }.toSet
    keyCols.foreach { c =>
      if (identityParts.contains(c) &&
          schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] &&
          !table.meta.props.contains(PartitionTransforms.ZoneKey))
        throw new UnsupportedOperationException(
          s"deleteByKey: $c is a TIMESTAMP identity partition column of " +
            s"$ident and the table has no pinned partition zone " +
            s"(${PartitionTransforms.ZoneKey}) — its dir values would " +
            "parse in each session's zone and the mask would be zone-" +
            "dependent; write to the table once (the zone backfills) or " +
            s"use DELETE FROM ... WHERE $c = ... (dir-pruned) instead")
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"deleteByKey: no column $c in $ident"))
      require(EqualityDeletes.supportedKeyType(f.dataType),
        s"deleteByKey: column $c has unsupported key type " +
          s"${f.dataType.simpleString}")
      val kt = keys.schema(c).dataType
      require(kt == f.dataType,
        s"deleteByKey: key column $c is ${kt.simpleString} but $ident " +
          s"declares ${f.dataType.simpleString}; cast the keys first " +
          "(values are compared exactly against read rows)")
    }
    val opaque = table.meta.fieldMeta.map(m =>
      FieldIds.nonIdentityFiles(dir, m, base.dataFiles)).getOrElse(Set.empty)
    if (opaque.nonEmpty)
      throw new UnsupportedOperationException(
        s"$ident has data files from an older schema generation " +
          "(RENAME or DROP+re-ADD COLUMN); compact() before deleteByKey " +
          "(equality sidecars record current column names)")
    val distinctKeys = keys.select(keyCols.map(col): _*).distinct().persist()
    try {
      val aggs = count(lit(1)).as("__rows") +: keyCols.map(k =>
        sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"__nulls_$k"))
      val stats = distinctKeys.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = stats.getAs[Long]("__rows")
      if (n == 0L) return 0L
      keyCols.foreach(k => require(stats.getAs[Long](s"__nulls_$k") == 0L,
        s"deleteByKey: null key values in $k (null never matches a row; " +
          "delete nulls with a predicate DELETE instead)"))
      table.commitEqualityDeleteSidecar(distinctKeys, base.dataFiles)
      n
    } finally distinctKeys.unpersist()
  }

  /** Shared rewrite plumbing: pin ONE snapshot for both the read and the
    * surgical commit — a writeTo().overwrite() would blanket-replace and
    * lose any INSERT that commits while the rewrite job runs;
    * replaceFiles keeps it and aborts if a concurrent rewrite replaced
    * the base. Returns (files before, files after). */
  private def rewriteClustered(spark: SparkSession, ident: String)(
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Int, Int) = {
    val dir = tableDir(spark, ident)
    val base = Snapshots.latest(dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for $ident"))
    if (base.files.isEmpty) return (0, 0)
    // Read EXACTLY the base snapshot through the table's OWN scan: the
    // generation-aware column mapping serves pre-rename files under
    // current names, and merge-on-read sidecars mask deleted rows — so
    // compaction is both the sidecar FOLD (replacedBase = the FULL base
    // list, data AND delete files, none carried forward) and the
    // schema-generation MIGRATION (every output file is written under
    // the current names). The rewritten table is back on the
    // single-scan vectorized fast path.
    // The broadcast-position cap is an INTERACTIVE-read OOM guard whose
    // error advises running compact — compact itself must not trip it
    // (it has to read everything once to fold the sidecars away, and
    // circular advice would leave raising the cap session-wide as the
    // only escape). Lifted on THIS handle only (morCapOverride) — never
    // by mutating session conf, which would race concurrent compacts
    // and disable the guard for unrelated queries.
    val table = TableMeta.load(ident, dir, Some(base),
      morCapOverride = Some(Long.MaxValue))
    val schema = table.schema()
    val pinned = org.apache.spark.sql.graftaccess.Internals
      .tableDf(spark, table)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    table.replaceFiles(layout(pinned), base.files, base.deleteFiles)
    // re-derive bloom sidecars for the rewritten files: the
    // rewrite produced NEW file names, so every recorded bloom column
    // is unindexed until rebuilt — and a type promotion deliberately
    // dropped its column's sidecars, making this the self-healing path
    // for point-lookup pruning. One extra column-pruned pass over the
    // fresh layout; only columns the user indexed before pay it.
    val identityParts = table.meta.partitionCols.map(PartitionTransforms.parse)
      .collect { case PartitionTransforms.Identity(c) => c }.toSet
    val bloomCols = BloomSidecars.recordedColumns(table.meta.props)
      .filter(c => schema.fieldNames.contains(c) && !identityParts(c))
    if (bloomCols.nonEmpty) addBlooms(spark, ident, bloomCols)
    val after = Snapshots.latest(dir).map(_.files.length).getOrElse(0)
    (base.files.length, after)
  }

  /** Test hook: drive a surgical rewrite from an explicitly stale base to
    * assert the conflict-abort path (impossible to time reliably with
    * real concurrent statements). */
  private[graft] object CompactTestHook {
    def replaceWithStaleBase(spark: SparkSession, ident: String,
        staleBase: Seq[String]): Unit =
      handleNow(spark, ident).replaceFiles(spark.table(ident), staleBase)

    /** A table handle built NOW (capturing the current schema epoch) for
      * later use — the ALTER-vs-in-flight-writer race, impossible to
      * time with real concurrent statements: build the handle, run an
      * ALTER, then commit through the stale handle and assert the loud
      * abort. */
    def handleNow(spark: SparkSession, ident: String): GraftTable =
      TableMeta.load(ident, tableDir(spark, ident), None)

    /** Commit a full-table rewrite through a pre-built handle (see
      * [[handleNow]]). */
    def replaceThrough(handle: GraftTable, data: DataFrame,
        baseFiles: Seq[String]): Unit =
      handle.replaceFiles(data, baseFiles)

    /** Drive a rewrite whose base predates a merge-on-read DELETE — the
      * concurrent-sidecar abort path (impossible to time reliably with
      * real concurrent statements). `baseFiles`/`baseDeletes` are the
      * rewrite's (stale) view of the snapshot. */
    def replaceWithStaleDeletes(spark: SparkSession, ident: String,
        baseFiles: Seq[String], baseDeletes: Seq[String]): Unit =
      handleNow(spark, ident)
        .replaceFiles(spark.table(ident), baseFiles, baseDeletes)
  }

  /** Rewrite the current snapshot's POSITION-DELETE sidecars without
    * touching any data file (Iceberg's `rewrite_position_delete_files`
    * — the cheap MOR upkeep between full compactions): drops entries
    * referencing data files no longer in the snapshot (dangling after
    * COW rewrites/upserts replaced their targets) and coalesces many
    * small per-DELETE sidecars into `targetFiles` sorted files, so the
    * scan-side index load reads one file instead of one per DELETE.
    * Returns (sidecars before, sidecars after, positions before,
    * positions after). Masked-row visibility is UNCHANGED by
    * construction — only entries that no reader could ever apply drop. */
  def rewritePositionDeletes(spark: SparkSession, ident: String,
      targetFiles: Int = 1): (Int, Int, Long, Long) = {
    import org.apache.spark.sql.functions.col
    val dir = tableDir(spark, ident)
    val base = Snapshots.latest(dir).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for $ident"))
    // EQUALITY sidecars are version-applicable and must never be
    // rewritten (a rewrite would give them a NEWER commit version and
    // widen what they mask) — but an INERT one (no present data file
    // first-seen before its version, e.g. every pre-delete file has
    // since been rewritten or upserted) masks nothing now and drops.
    val posFiles = base.posDeleteFiles
    val eqFiles = base.eqDeleteFiles
    val inertEq: Seq[String] =
      if (eqFiles.isEmpty) Seq.empty
      else {
        val seen = FieldIds.firstSeen(dir)
        val oldestData = base.dataFiles
          .map(f => seen.getOrElse(f, Long.MaxValue))
          .minOption.getOrElse(Long.MaxValue)
        eqFiles.filter(f =>
          seen.getOrElse(f, Long.MaxValue) <= oldestData)
      }
    if (posFiles.isEmpty && inertEq.isEmpty) return (0, 0, 0L, 0L)
    val pos = DeleteSidecars.positionsDf(spark, dir, posFiles).persist()
    try {
      val before = pos.count()
      val present = base.dataFiles.toSet
      val kept = pos.filter(col("file").isInCollection(present))
      val after = kept.count()
      TableMeta.load(ident, dir, None)
        .replaceDeleteSidecars(kept, posFiles ++ inertEq, targetFiles)
      val now = Snapshots.latest(dir).map(_.deleteFiles.length).getOrElse(0)
      (base.deleteFiles.length, now, before, after)
    } finally pos.unpersist()
  }

  /** Build per-(file, column) bloom-filter sidecars for the CURRENT
    * snapshot ([[BloomSidecars]]) — point-lookup file skipping where
    * footer min/max can't prune (interleaved keys). ONE distributed
    * pass: every file's per-column bloom aggregates in a single
    * `groupBy(input_file_name)` job; the driver collects only
    * (files × cols) sketch binaries. Copy-on-write rewrites produce new
    * file names, so sidecars never go stale — rewritten files are
    * simply unpruned until the next addBlooms run. Returns the number
    * of sidecars written. */
  def addBlooms(spark: SparkSession, ident: String, cols: Seq[String],
      expectedItems: Long = 100000L): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    require(cols.nonEmpty, "addBlooms needs at least one column")
    val dir = tableDir(spark, ident)
    // schema epoch captured FIRST — before the declared-schema read and
    // the file listing — so an ALTER landing anywhere during this run
    // flips the under-lock re-check below (capturing it later would let
    // a pre-alter reader pass a post-alter epoch check)
    val epoch0 = TableMeta.epochOf(dir)
    // pre-snapshot (v1-era) tables have data but no snapshot — the
    // SAME whole-data-dir fallback GraftTable's scan uses, rather than
    // silently writing zero sidecars for a table that has files.
    // Data files only: MOR sidecars are not scannable rows (and bloom
    // pruning of a file with masked rows stays conservative — a bloom
    // hit on a deleted key just fails to prune, never corrupts).
    val files = Snapshots.latest(dir).map(_.dataFiles)
      .getOrElse(Snapshots.walkDataParquet(dir))
    if (files.isEmpty) return 0
    val byName = files.map(f =>
      Paths.get(f).getFileName.toString -> f).toMap
    require(byName.size == files.size,
      s"$ident: duplicate data-file names; bloom sidecars key on the name")
    val abs = files.map(f => dir.resolve(f).toString)
    val aggs = cols.map(c =>
      graft.operators.BloomJoin.bloomAgg(col(c), expectedItems)
        .as(s"__bf_$c"))
    // EXPLICIT declared types for the requested columns: after a
    // type promotion the file set mixes narrow and wide physical types
    // — inference would pick one file's type; with the declared type
    // Spark natively widens the narrow files, so every bloom hashes
    // WIDE values, matching the wide probe values scans use. Partition
    // columns have no bytes in data files — an explicit-schema read
    // would silently hash all-NULL blooms; reject instead.
    val declared: Option[TableMeta] =
      if (TableMeta.exists(dir)) Some(TableMeta.read(dir)) else None
    declared.foreach { m =>
      val sch = m.schema
      val identityParts = m.partitionCols.map(PartitionTransforms.parse)
        .collect { case PartitionTransforms.Identity(c) => c }.toSet
      cols.foreach { c =>
        require(!identityParts.contains(c),
          s"addBlooms: $c is an identity partition column of $ident — " +
            "its values live in directory names, not data files " +
            "(dir pruning already serves point lookups on it)")
        require(sch.fieldNames.contains(c),
          s"addBlooms: no column $c in $ident")
      }
    }
    val reader = declared match {
      case Some(m) => spark.read.schema(org.apache.spark.sql.types
        .StructType(m.schema.fields.filter(f => cols.contains(f.name))))
      case None => spark.read
    }
    // a concurrent ALTER COLUMN TYPE drops this column's blooms
    // (narrow-value hashes would false-negative wide probes) — sidecars
    // built from the pre-promotion read must not be written after it,
    // or the stale hashes come back. The write loop below
    // re-validates epoch0 under the same per-table lock ALTER holds.
    val rows = reader.parquet(abs: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    var written = 0
    var unmatched = 0
    Snapshots.withRefsLock(dir) {
      if (TableMeta.epochOf(dir) != epoch0)
        throw new IllegalStateException(
          s"addBlooms: a concurrent ALTER changed $ident's schema while " +
            "the bloom pass ran; re-run addBlooms (no sidecar written)")
      // record the indexed columns: compact() re-derives sidecars
      // for its rewritten files from this property, so a promotion's
      // sidecar drop heals at the next compact without a manual re-run
      val props0 = TableMeta.readProps(dir)
      val recorded =
        (BloomSidecars.recordedColumns(props0) ++ cols).distinct
      TableMeta.writeProps(dir,
        props0 + (BloomSidecars.ColumnsKey -> recorded.mkString(",")))
    rows.foreach { r =>
      // input_file_name() is a URI (percent-encoded): a data-file name
      // containing URL-encodable characters (spaces, '%', unicode)
      // would not equal its snapshot entry's raw name — decode the URI
      // path before the byName lookup, or those files silently get no
      // sidecar. Fall back to the raw string when the
      // value isn't URI-parseable.
      val raw = r.getString(0)
      val decoded =
        try java.net.URI.create(raw).getPath
        catch { case _: IllegalArgumentException | _: NullPointerException => raw }
      val name = Paths.get(
        if (decoded == null || decoded.isEmpty) raw else decoded)
        .getFileName.toString
      byName.get(name) match {
        case Some(rel) =>
          cols.zipWithIndex.foreach { case (c, i) =>
            // Defensive: the aggregate only evaluates to null for a
            // zero-row group (committed files are never empty). NULL
            // column values DO land in the bloom — xxhash64(NULL) is the
            // seed — which is harmless: null-lookup filters are handled
            // conservatively in BloomSidecars.mayMatch, never hashed.
            val bytes = r.getAs[Array[Byte]](i + 1)
            if (bytes != null) {
              BloomSidecars.write(dir, rel, c, bytes)
              written += 1
            }
          }
        case None => unmatched += 1
      }
    }
    } // withRefsLock
    // Conservative but never silent: an unmatched group means some scan
    // file got no sidecar (it stays unpruned — correct, just unindexed).
    if (unmatched > 0)
      System.err.println(
        s"[addBlooms] $ident: $unmatched scanned file(s) not in the " +
          "snapshot file list; no sidecar written for them")
    written
  }

  /** Drop all but the newest `keepLast` snapshots and delete data files no
    * surviving snapshot references. TAGGED snapshots ([[Snapshots
    * .createTag]]) are never expired — a tag is the reproducibility pin
    * for e.g. the exact corpus a model was trained on, so it protects
    * its snapshot (and that snapshot's files) until the tag is dropped.
    * Returns (snapshots dropped, files deleted). Time travel to expired
    * versions stops working — that is the point. */
  def expireSnapshots(spark: SparkSession, ident: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val dir = tableDir(spark, ident)
    // METADATA phase under the cross-process refs lock (shared with
    // createTag): the tags-read and the .snap unlinks are one atomic
    // decision, so a concurrent createTag can never pin a snapshot
    // this sweep is committing to destroy. Once the .snap files are
    // gone, the dead data files are unreferenced by ANY surviving
    // snapshot — their deletion (potentially thousands of slow-storage
    // unlinks) happens OUTSIDE the lock so commits and tags on other
    // tables never stall behind a big sweep.
    val (drop, dead) = Snapshots.withRefsLock(dir) {
      val all = Snapshots.list(dir)
      if (all.length <= keepLast) return (0, 0)
      // tags AND branch fork points pin their main snapshots; files
      // staged on branch logs are live too (an unpublished WAP branch
      // must survive a maintenance sweep)
      val tagged = Snapshots.tags(dir).map(_.version).toSet ++
        Snapshots.branches(dir).map(_.version)
      val (candidates, newest) = all.splitAt(all.length - keepLast)
      val (protectedSnaps, dropSnaps) =
        candidates.partition(s => tagged.contains(s.version))
      if (dropSnaps.isEmpty) return (0, 0)
      val retained = protectedSnaps ++ newest
      // FIELD-ID SAFETY: per-file schema generations resolve through the
      // file's FIRST-SEEN snapshot version (FieldIds.firstSeen). Dropping
      // the snapshot a live file first appeared in RAISES its first-seen
      // version — if that crosses a DROP/RENAME generation boundary, the
      // file silently reclassifies as a newer generation and its reads
      // corrupt (a dropped-then-re-added column would resurrect old
      // bytes; a renamed column would read NULL). Refuse exactly those
      // expirations; compact() migrates the files and unblocks.
      FieldIds.read(dir).filter(_.evolved).foreach { m =>
        val seenBefore = FieldIds.firstSeen(dir)
        val retainedSet = retained.map(_.version).toSet
        def seenAfter(f: String): Long = all
          .filter(s => retainedSet.contains(s.version) && s.files.contains(f))
          .map(_.version).minOption.getOrElse(Long.MaxValue)
        // a generation change is harmful only when the TRANSLATION of
        // some current field differs (identity-translated moves — e.g.
        // across pure-DROP boundaries — read the same either way);
        // translation = physical NAME and physical TYPE (promotion)
        def translation(v: Long): Seq[(Option[String], Option[String])] = {
          val g = m.genFor(v)
          m.current.names.keySet.toSeq.sorted
            .map(id => (g.names.get(id), g.types.get(id)))
        }
        val unsafe = retained.flatMap(_.dataFiles).distinct.filter { f =>
          val before = seenBefore.getOrElse(f, Long.MaxValue)
          translation(before) != translation(seenAfter(f))
        }
        if (unsafe.nonEmpty) throw new IllegalStateException(
          s"$ident: expiring past a RENAME/DROP COLUMN generation " +
            s"boundary would reclassify ${unsafe.length} live data " +
            s"file(s) (e.g. ${unsafe.head}) into the wrong schema " +
            "generation; compact() the table first to migrate them")
      }
      // SPEC-ERA SAFETY: partition-spec eras resolve through the
      // same first-seen versions as field-id generations — dropping the
      // snapshot a live file first appeared in can raise its first-seen
      // across an era boundary, and the file's dirs would then prune
      // under a spec that did not write them (silently wrong results).
      // Refuse exactly those expirations; compact() migrates the files
      // to the latest era and unblocks.
      SpecEras.read(dir).filter(_.size > 1).foreach { eras =>
        val seenBefore = FieldIds.firstSeen(dir)
        val retainedSet = retained.map(_.version).toSet
        def seenAfter(f: String): Long = all
          .filter(s => retainedSet.contains(s.version) && s.files.contains(f))
          .map(_.version).minOption.getOrElse(Long.MaxValue)
        val unsafe = retained.flatMap(_.dataFiles).distinct.filter { f =>
          SpecEras.eraFor(eras,
              seenBefore.getOrElse(f, Long.MaxValue)).activeFrom !=
            SpecEras.eraFor(eras, seenAfter(f)).activeFrom
        }
        if (unsafe.nonEmpty) throw new IllegalStateException(
          s"$ident: expiring past an ADD/DROP PARTITION FIELD era " +
            s"boundary would reclassify ${unsafe.length} live data " +
            s"file(s) (e.g. ${unsafe.head}) into the wrong partition-" +
            "spec era; compact() the table first to migrate them")
      }
      // EQUALITY-DELETE SAFETY: sidecar applicability is the
      // ORDER firstSeen(dataFile) < firstSeen(eqFile), and both sides
      // are computed from the surviving log — dropping the snapshot a
      // file first appeared in RAISES its first-seen version and can
      // flip that order (e.g. data at v2, eq at v3, expire v2 → both
      // first-seen v3 → strict < fails → masked rows RESURRECT).
      // Refuse exactly those expirations; compact() folds the sidecars
      // and unblocks.
      locally {
        val eqLive = retained.flatMap(_.eqDeleteFiles).distinct
        if (eqLive.nonEmpty) {
          val seenBefore = FieldIds.firstSeen(dir)
          // ONE pass over the retained snapshots builds the post-expiry
          // first-seen map (the pairwise check below is then pure map
          // lookups — an O(eq·data·snapshots·files) scan here would
          // cost minutes of driver CPU on a metadata-only operation)
          val seenAfterMap = {
            val m = scala.collection.mutable.HashMap.empty[String, Long]
            retained.sortBy(_.version).foreach(s =>
              s.files.foreach(f => if (!m.contains(f)) m.update(f, s.version)))
            m
          }
          def seenAfter(f: String): Long =
            seenAfterMap.getOrElse(f, Long.MaxValue)
          val dataLive = retained.flatMap(_.dataFiles).distinct
          val flipped = for {
            e <- eqLive
            f <- dataLive
            if (seenBefore.getOrElse(f, Long.MaxValue) <
                seenBefore.getOrElse(e, Long.MaxValue)) !=
              (seenAfter(f) < seenAfter(e))
          } yield (f, e)
          if (flipped.nonEmpty) throw new IllegalStateException(
            s"$ident: expiring these snapshots would change which data " +
              s"files ${flipped.length} equality-delete pairing(s) mask " +
              s"(e.g. ${flipped.head._1} vs ${flipped.head._2}) — masked " +
              "rows would resurrect; compact() the table first to fold " +
              "the sidecars")
        }
      }
      val live = retained.flatMap(_.files).toSet ++
        Snapshots.branchReferencedFiles(dir)
      val deadFiles = dropSnaps.flatMap(_.files).toSet -- live
      dropSnaps.foreach { s =>
        Files.deleteIfExists(dir.resolve("_graft_snapshots")
          .resolve(f"v${s.version}%08d.snap"))
      }
      // fold the footer-stats sidecar log to one file holding only live
      // records (still under the lock, which serializes against the
      // per-commit record appends) — keeps prune-time reads O(1) on
      // long-lived tables instead of O(all commits ever)
      try FileStatsCache.compactTo(dir, live)
      catch { case scala.util.control.NonFatal(_) => () }
      (dropSnaps, deadFiles)
    }
    dead.foreach { f => Files.deleteIfExists(dir.resolve(f)) }
    deleteBloomSidecars(dir,
      dead.toSeq.map(f => Paths.get(f).getFileName.toString))
    // prune now-empty partition dirs under data/
    val dataDir = dir.resolve("data")
    if (Files.isDirectory(dataDir)) {
      scala.util.Using.resource(Files.walk(dataDir)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .filter(p => p != dataDir && Files.isDirectory(p))
          .foreach { p =>
            val empty = scala.util.Using.resource(Files.list(p))(!_.iterator().hasNext)
            if (empty) Files.delete(p)
          }
      }
    }
    (drop.length, dead.size)
  }

  /** Delete data files under data/ that NO snapshot references — not any
    * main-log version (current or historical), not any branch-log
    * staged commit (Iceberg's remove_orphan_files). Orphans come from
    * dropped branches, failed write attempts whose task files moved but
    * whose commit lost the CAS, and crashed drivers. Commits now hold
    * the same per-table refs lock, so a LIVE writer can no
    * longer be observed between its data-file move and its snapshot
    * publish — but `olderThanMillis` (Iceberg's older_than) remains
    * load-bearing: a writer that CRASHED mid-commit released the lock
    * with its files stranded, and distinguishing that from a file moved
    * milliseconds ago still needs the age cutoff (the CALL surface
    * enforces a positive cutoff; 0 is for single-process tests only).
    * Returns the number of files deleted. */
  def removeOrphanFiles(spark: SparkSession, ident: String,
      olderThanMillis: Long = 24L * 3600 * 1000): Int = {
    val dir = tableDir(spark, ident)
    val dataDir = dir.resolve("data")
    if (!Files.isDirectory(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val dead = Snapshots.withRefsLock(dir) {
      val snaps = Snapshots.list(dir)
      // pre-snapshot (v1-era) table: visibility IS the data-dir walk, so
      // nothing under data/ is ever an orphan
      if (snaps.isEmpty) return 0
      val referenced = snaps.flatMap(_.files).toSet ++
        Snapshots.branchReferencedFiles(dir)
      // deletes/ holds position-delete sidecars: a crashed MOR DELETE
      // strands moved-but-uncommitted files there exactly like data/
      val roots = Seq(dataDir, dir.resolve("deletes")).filter(Files.isDirectory(_))
      roots.flatMap { root =>
        scala.util.Using.resource(Files.walk(root)) { st =>
          st.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.toString.endsWith(".parquet") &&
              !referenced.contains(dir.relativize(p).toString) &&
              Files.getLastModifiedTime(p).toMillis <= cutoff)
            .toList
        }
      }
    }
    // unlink outside the lock (thousands of slow-storage deletes must
    // not stall commits), plus each orphan's bloom sidecars and any
    // stale commit/ref tmp files a crashed writer stranded in the
    // metadata dirs (a SIGKILL mid-commit leaves one .snap.*.tmp that
    // nothing else reclaims)
    dead.foreach(Files.deleteIfExists(_))
    deleteBloomSidecars(dir, dead.map(_.getFileName.toString))
    Snapshots.staleTmpFiles(dir, cutoff).foreach(Files.deleteIfExists(_))
    dead.length
  }

  /** A dead data file's bloom sidecars are orphans too (shared by
    * [[expireSnapshots]] and [[removeOrphanFiles]]). */
  private def deleteBloomSidecars(dir: Path, deadNames: Seq[String]): Unit = {
    val bloomsDir = dir.resolve("blooms")
    if (Files.isDirectory(bloomsDir) && deadNames.nonEmpty) {
      scala.util.Using.resource(Files.list(bloomsDir)) { st =>
        st.iterator().asScala
          .filter(p => deadNames.exists(n =>
            p.getFileName.toString.startsWith(n + ".")))
          .foreach(Files.deleteIfExists(_))
      }
    }
  }
}
