package graft.catalog

import java.nio.file.{Files, Path}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{InsertableRelation, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Snapshot-aware catalog table: the Spark-side rebuild of the reference's
  * Iceberg TableProvider surface (`datafusion_iceberg`, Cargo.lock:1341-1343,
  * registered at iceberg-datafusion-arrow-flight/src/lib.rs:94-98).
  *
  * Reads delegate to Spark's native DSv2 `ParquetTable` over the PINNED
  * snapshot's file list, so scans keep the whole Parquet stack (column
  * pruning, predicate pushdown, row-group pruning, vectorized reader) and
  * time travel costs one metadata read. Writes go through the V1
  * `InsertableRelation` fallback — still a fully distributed `df.write`,
  * but with commit control: files land under `data/` (hive-layout dirs for
  * identity-partitioned tables), then one snapshot append makes them
  * visible. DELETE is copy-on-write by default: survivors are rewritten
  * and the new snapshot references only them, old files stay for time
  * travel — Iceberg's copy-on-write contract, with file-level pruning
  * via column stats so only files containing matches rewrite. Under
  * `write.delete.mode='merge-on-read'` a translatable DELETE instead
  * commits position-delete sidecars ([[DeleteSidecars]]) and scans
  * apply them below the plan ([[org.apache.spark.sql.graftaccess
  * .MorScans]]) — at 100 TB a 0.1% delete costs O(matched rows), not a
  * rewrite of every touched file; compaction folds the sidecars away.
  * Column RENAME (and drop+re-add) resolve through field-id schema
  * generations ([[FieldIds]], [[org.apache.spark.sql.graftaccess
  * .MultiGenScans]]) — old files serve their bytes under current names
  * with no rewrite; compaction migrates them to the current generation.
  */
class GraftTable private[catalog] (
    fullName: String,
    tableDir: Path,
    private[catalog] val meta: TableMeta,
    pinned: Option[Snapshots.Snap],
    branch: Option[String],
    morCapOverride: Option[Long]) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active
  private def dataDir: Path = tableDir.resolve("data")
  private def deletesDir: Path = tableDir.resolve("deletes")
  private def declaredSchema: StructType = meta.schema
  private def props: Map[String, String] = meta.props
  private def fieldMeta: Option[FieldIds.Meta] = meta.fieldMeta

  /** Whether this table records the v2 HASH-WIDTH-STABLE bucket
    * derivation (`graft.bucket.derivation=v2`, set at CREATE):
    * integral bucket keys hash through BIGINT, so promoting the source
    * int→bigint keeps every dir valid. Older tables keep v1. */
  private def bucketWideDerivation: Boolean =
    props.get(PartitionTransforms.BucketDerivationKey)
      .exists(_.trim == "v2")

  /** The parsed partition spec ([[PartitionTransforms]]): `partitionCols`
    * carries raw spec strings — bare names (identity, the historical
    * format) and transform specs like `days(ts)` / `bucket(16,id)` /
    * `truncate(4,name)` (hidden partitioning). */
  private val partSpec: Seq[PartitionTransforms.T] =
    PartitionTransforms.withBucketMode(
      meta.partitionCols.map(PartitionTransforms.parse), bucketWideDerivation)
  /** Identity partition sources — the dir columns that are ALSO schema
    * columns. */
  private def identityCols: Seq[String] =
    partSpec.collect { case PartitionTransforms.Identity(c) => c }
  private def hiddenTransforms: Seq[PartitionTransforms.T] =
    partSpec.filterNot(_.isIdentity)
  /** The zone pinned at CREATE for calendar-transform boundaries; None
    * on tables created before the pin existed → session zone. */
  private def partitionZone: Option[String] =
    props.get(PartitionTransforms.ZoneKey)
  /** Whether this handle must BACKFILL a zone pin: an older table with
    * a calendar transform over a zoned TIMESTAMP but no [[PartitionTransforms.ZoneKey]]
    * derives and prunes in whatever zone each session happens to run,
    * and the V2 row-level writes extend that to rewrites. The first
    * commit through this handle pins the zone the handle actually
    * derived with, closing the window for good. */
  private lazy val zoneNeedsBackfill: Boolean = partitionZone.isEmpty &&
    PartitionTransforms.needsPinnedZone(partSpec, declaredSchema)
  /** ONE zone per handle, used by every derive and prune: the pinned
    * zone, or (backfill case) the session zone captured HERE on the
    * driver so the value later pinned is exactly the value used. */
  private lazy val effectiveZone: Option[String] = partitionZone.orElse(
    if (zoneNeedsBackfill)
      Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    else None)

  /** Partition-spec ERAS ([[SpecEras]] — Iceberg spec §4 versioned
    * partition specs): the era log when `ADD/DROP PARTITION FIELD` ever
    * ran, else one synthetic era over the current spec. Old files keep
    * their era's spec for pruning AND for scan slicing (mixed-era file
    * sets have mixed dir depths, which Spark's partition inference
    * rejects outright); new writes always use [[partSpec]] (the latest
    * era, which [[TableMeta.read]] loads as the current spec). */
  private lazy val specEras: Seq[SpecEras.Era] =
    meta.eras
      .map(_.map(e => e.copy(spec = PartitionTransforms.withBucketMode(
        e.spec, bucketWideDerivation))))
      .getOrElse(Seq(SpecEras.Era(1L, partSpec)))
  private def specEvolved: Boolean = specEras.size > 1
  /** Files grouped by spec era, oldest first (ONE group — no metadata
    * read — when the table never evolved). Groups come from the TAGGED
    * [[specEras]], never a fresh [[SpecEras.read]]: on a v2-derivation
    * table an untagged era spec would prune bucket dirs with the
    * narrow-type hash and silently drop files holding matched keys
    * (found by the model-spec soak, seed 101). */
  private def eraFileGroups(files: Seq[String])
      : Seq[(Seq[PartitionTransforms.T], Seq[String])] =
    if (!specEvolved) Seq((partSpec, files))
    else {
      val seen = firstSeenVersions()
      files.groupBy(f =>
          SpecEras.eraFor(specEras, seen.getOrElse(f, Long.MaxValue))
            .activeFrom)
        .toSeq.sortBy(_._1)
        .map { case (af, fs) =>
          (specEras.find(_.activeFrom == af).get.spec, fs) }
    }
  /** Era-aware hidden-partition prune: each file's dir values are
    * interpreted under the spec that WROTE them (a k_bucket=3 dir from
    * a bucket(8,k) era must never be tested modulo a later re-add). */
  private def eraPrune(files: Seq[String],
      filters: Seq[Filter]): Seq[String] =
    eraFileGroups(files).flatMap { case (spec, fs) =>
      PartitionTransforms.prune(fs, spec, filters, declaredSchema,
        effectiveZone)
    }
  /** The one file-pruning predicate of scans, [[deleteWhere]] and the
    * row-level runtime filter: the files of `files` that may hold a row
    * satisfying every filter. A file drops only when its partition dirs
    * (under the spec era that wrote them, no metadata read), its
    * commit-time stats record, or its bloom sidecar proves no row
    * matches. Files of a schema generation that is not the identity
    * translation are always kept: their stats are keyed by old physical
    * names, and a same-named column from a dropped field would prune on
    * the wrong column's stats. A file without a stats record opens its
    * footer when `openFooters`, else it is kept — reads never open a
    * footer on the driver. */
  private def mayMatchFiles(files: Seq[String], filters: Seq[Filter],
      openFooters: Boolean): Seq[String] =
    if (filters.isEmpty || files.isEmpty) files
    else {
      val opaque = fieldMeta.map(m =>
        FieldIds.nonIdentityFiles(tableDir, m, files)).getOrElse(Set.empty)
      val dirKept = eraPrune(files, filters).toSet
      val stats = FileStatsCache.forTable(tableDir,
        spark.sparkContext.hadoopConfiguration)
      val blooms = BloomSidecars.present(tableDir)
      files.filter(f => opaque.contains(f) || (dirKept.contains(f) &&
        stats.mayMatchAll(f, filters, openFooters) &&
        (!blooms || BloomSidecars.mayMatchAll(tableDir, f, filters))))
    }

  /** The row count of `snap` from its files' stats records — what an
    * unfiltered `COUNT(*)` returns — or None when a scan must count:
    * no snapshot, any delete file (position or equality), or a data
    * file without a record. */
  private def recordedRowCount(snap: Option[Snapshots.Snap]): Option[Long] =
    snap.filter(_.deleteFiles.isEmpty)
      .flatMap(s => recordedSum(s.dataFiles)(_.rows))

  /** `field` summed over the stats records of `files`; None when one of
    * them has no record. */
  private def recordedSum(files: Seq[String])(
      field: FileStatsCache.FileStat => Long): Option[Long] = {
    val recorded = FileStatsCache.load(tableDir)
    files.foldLeft(Option(0L))((acc, f) =>
      acc.flatMap(n => recorded.get(f).map(n + field(_))))
  }

  /** Whether row-level DELETEs on this table write position-delete
    * sidecars instead of rewriting files (Iceberg v2's
    * `write.delete.mode`; copy-on-write is the default). */
  private def morDeletes: Boolean =
    props.get("write.delete.mode").exists(_.trim == "merge-on-read")

  /** DECLARED WRITE SORT ORDER (the iceberg-rust-spec sort-order
    * surface, `WRITE ORDERED BY` as the `graft.write.ordered-by` table
    * property): every INSERT / MERGE / rewrite lays rows out
    * range-distributed and sorted on these columns, so footer min/max
    * stats prune key-range DELETEs/upserts to O(overlapping files)
    * WITHOUT waiting for a manual compact — the cheapest footer-stats
    * win at 100 TB. Costs one range shuffle per write; that is the
    * declared contract (Iceberg's write.distribution-mode=range). */
  private def writeOrderCols: Seq[String] = {
    val cols = props.get(GraftTable.OrderedByKey).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    cols.foreach(c => require(declaredSchema.fieldNames.contains(c),
      s"$fullName: ${GraftTable.OrderedByKey} column '$c' is not in the " +
        "table schema"))
    cols
  }

  /** The snapshot this handle reads and writes against: the pinned
    * time-travel snapshot, the branch head (WAP staging), or main's
    * latest. A branch handle whose ref vanished mid-use fails loudly
    * rather than silently reading main. */
  private def headSnap: Option[Snapshots.Snap] = pinned.orElse(branch match {
    case Some(b) => Some(Snapshots.branchHead(tableDir, b).getOrElse(
      throw new IllegalStateException(
        s"branch '$b' of $fullName no longer exists")))
    case None => Snapshots.latest(tableDir)
  })

  /** Commit the next snapshot of THIS handle's lineage: the branch's
    * private log for a WAP staging handle, the main log otherwise. */
  private def commitVisible(known: Map[String, FileStatsCache.FileStat])(
      compute: Option[Snapshots.Snap] => Seq[String]): Snapshots.Snap =
    branch match {
      case Some(b) => Snapshots.commitToBranch(tableDir, b, known)(compute)
      case None => Snapshots.commitWith(tableDir, known)(compute)
    }

  /** The merge-on-read position index for the given sidecars, keyed by
    * tableDir-RELATIVE data-file path — loaded ONCE per scan build (it
    * also drives the clean-vs-masked file split). */
  private def morRelIndex(
      deleteFiles: Seq[String]): Map[String, Array[Long]] = {
    // morCapOverride: a maintenance handle (compact) lifts the
    // interactive-read OOM guard for ITS OWN scan only — never by
    // mutating session conf, which would race concurrent compacts and
    // disable the guard for unrelated queries
    val maxBytes = morCapOverride.getOrElse(
      spark.conf.getOption(DeleteSidecars.BroadcastMaxBytesKey)
        .map(_.toLong).getOrElse(DeleteSidecars.BroadcastMaxBytesDefault))
    DeleteSidecars.loadIndex(tableDir, deleteFiles,
      spark.sparkContext.hadoopConfiguration, maxBytes)
  }

  /** Re-key a tableDir-relative map by ABSOLUTE data-file path (what
    * partition readers see). Partition readers identify files by their
    * planned SparkPath — key under the percent-ENCODED URI
    * ("file:/a%20b"), the DECODED Hadoop Path form ("file:/a b" — what
    * SparkPath.toPath renders for hive dirs with url-encodable
    * partition values), and the plain filesystem path, so the lookup is
    * encoding-proof. */
  private def absKeyed[A](rel: Map[String, A]): Map[String, A] =
    rel.flatMap { case (r, v) =>
      val p = tableDir.resolve(r)
      Seq(DeleteSidecars.sparkFileUri(p) -> v,
        new org.apache.hadoop.fs.Path("file", null, p.toString)
          .toString -> v,
        p.toString -> v)
    }

  /** The pending equality-delete batches of this snapshot, loaded
    * driver-side (small by contract, guarded by
    * [[EqualityDeletes.MaxKeysKey]]; a maintenance handle lifts the cap
    * the same way as the position guard). */
  private def loadEqBatches(eqFiles: Seq[String],
      seen: Map[String, Long]): Seq[EqualityDeletes.Batch] = {
    val maxKeys = morCapOverride.map(_ => Long.MaxValue).getOrElse(
      spark.conf.getOption(EqualityDeletes.MaxKeysKey).map(_.toLong)
        .getOrElse(EqualityDeletes.MaxKeysDefault))
    EqualityDeletes.loadBatches(spark, tableDir, declaredSchema, eqFiles,
      f => seen.getOrElse(f, Long.MaxValue), maxKeys)
  }

  /** The merge-on-read mask of one base snapshot's delete files: the
    * position index, the equality batches with the first-seen versions
    * they apply by, and ONE broadcast of both shared by every masked
    * slice. Each part loads on first use: a row-level operation is built
    * at analysis for every conditional DELETE and must read no sidecar
    * unless it actually scans. */
  private class DeleteMask(deleteFiles: Seq[String]) {
    private val eqFiles = deleteFiles.filter(Snapshots.isEqualityDeleteFile)
    private val posFiles = deleteFiles.filterNot(Snapshots.isEqualityDeleteFile)
    lazy val relIndex: Map[String, Array[Long]] =
      if (posFiles.isEmpty) Map.empty else morRelIndex(posFiles)
    lazy val seen: Map[String, Long] =
      if (eqFiles.isEmpty) Map.empty else firstSeenVersions()
    lazy val eqBatches: Seq[EqualityDeletes.Batch] =
      if (eqFiles.isEmpty) Seq.empty else loadEqBatches(eqFiles, seen)
    /** A sidecar at version vB masks files first seen strictly before vB. */
    def eqApplies(rel: String): Boolean =
      eqBatches.exists(_.version > seen.getOrElse(rel, Long.MaxValue))
    def isMasked(rel: String): Boolean =
      relIndex.contains(rel) || eqApplies(rel)
    lazy val broadcast = spark.sparkContext.broadcast(
      org.apache.spark.sql.graftaccess.MorScans.MaskContext(
        absKeyed(relIndex), eqBatches.toArray,
        absKeyed(seen.filter { case (f, _) => eqApplies(f) })))
  }

  // --- field-id schema generations (FieldIds) ---------------------------

  /** Field-id metadata only matters once a DROP/RENAME created a second
    * generation; single-generation tables keep every fast path. */
  private def evolvedMeta: Option[FieldIds.Meta] = fieldMeta.filter(_.evolved)

  /** First main-snapshot version each file appeared in — the per-file
    * schema-generation key, [[FieldIds.firstSeen]]. */
  private def firstSeenVersions(): Map[String, Long] =
    FieldIds.firstSeen(tableDir)

  /** The CURRENT declared schema translated to generation `g`'s physical
    * names AND physical types, plus the current→physical rename map and
    * the set of current names whose physical TYPE differs (promoted
    * fields — their old files read the narrow type and get a widening
    * cast in the composite scan; filters on them are not pushed to the
    * slice). Fields whose id `g` lacks are requested under the
    * absent-marker name (reads NULL, never a stale same-named column)
    * and forced nullable. */
  private def genSchema(m: FieldIds.Meta, g: FieldIds.Gen)
      : (StructType, Map[String, String], Set[String]) = {
    val cur = m.current
    val promoted = scala.collection.mutable.Set.empty[String]
    val fields = declaredSchema.fields.map { f =>
      val id = cur.idOf(f.name).getOrElse(throw new IllegalStateException(
        s"$fullName: column ${f.name} missing from field-id metadata " +
          "(field ids out of sync with the declared schema)"))
      g.names.get(id) match {
        case Some(phys) =>
          val physType = g.types.get(id)
            .map(org.apache.spark.sql.types.DataType.fromJson)
            .getOrElse(f.dataType)
          if (physType != f.dataType) promoted += f.name
          f.copy(name = phys, dataType = physType)
        case None => f.copy(name = FieldIds.absentName(id), nullable = true)
      }
    }
    identityCols.foreach { pc =>
      val mapped = fields(declaredSchema.fieldIndex(pc)).name
      if (mapped != pc) throw new IllegalStateException(
        s"$fullName: partition column $pc resolved to '$mapped' in an old " +
          "schema generation; partition columns cannot be renamed")
    }
    (StructType(fields),
      declaredSchema.fieldNames.zip(fields.map(_.name)).toMap,
      promoted.toSet)
  }

  /** Visible data files grouped by schema generation, oldest first and
    * ALWAYS ending with the current generation (possibly empty — the
    * composite scan reports the current names through it). Empty result
    * = the table never evolved, or every file's generation translation
    * is the IDENTITY ([[FieldIds.identityTranslated]] — e.g. only pure
    * DROPs happened), so the single-scan declared-schema fast path
    * stays correct. */
  private def generationGroups(
      dataRel: Seq[String]): Seq[(FieldIds.Gen, Seq[String])] =
    evolvedMeta match {
      case None => Seq.empty
      case Some(m) =>
        val seen = firstSeenVersions()
        val groups = dataRel
          // branch-staged files are absent from the main log: newest gen
          .groupBy(f => m.genFor(seen.getOrElse(f, Long.MaxValue)))
          .toSeq.sortBy(_._1.activeFrom)
        if (groups.forall(g => FieldIds.identityTranslated(m, g._1)))
          Seq.empty // fast path holds
        else if (groups.lastOption.exists(_._1 == m.current)) groups
        else groups :+ (m.current -> Seq.empty[String])
    }

  private def delegateFor(files: Seq[String],
      schema: StructType = declaredSchema): ParquetTable = {
    // basePath keeps hive-style partition-dir inference rooted at data/
    // even though we hand the index leaf files, not the directory.
    // The pinned zone (when the spec needs one) also governs how
    // TIMESTAMP identity-partition dir VALUES parse: without it,
    // the reader would interpret `ts=2024-01-01 10%3A00%3A00` in its
    // own session zone and serve different instants than were written.
    // An empty snapshot (fresh table, TRUNCATE, or time travel to v1)
    // hands the index no file and no root path, so it lists nothing —
    // never files committed by LATER snapshots.
    val opts = new CaseInsensitiveStringMap(
      (Map("basePath" -> dataDir.toString) ++
        effectiveZone.map("timeZone" -> _)).asJava)
    new KnownFilesParquetTable(fullName, spark, opts, Some(schema),
      ParquetStats.onFooterPool(files) { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      })
  }

  override def name(): String = fullName
  override def schema(): StructType = declaredSchema
  override def columns(): Array[Column] = declaredSchema.fields.map(f =>
    Column.create(f.name, f.dataType, f.nullable))
  override def partitioning(): Array[Transform] =
    partSpec.map {
      case PartitionTransforms.Identity(c) => Expressions.identity(c)
      case PartitionTransforms.Days(c) => Expressions.days(c)
      case PartitionTransforms.Years(c) => Expressions.years(c)
      case PartitionTransforms.Months(c) => Expressions.months(c)
      case PartitionTransforms.Hours(c) => Expressions.hours(c)
      case PartitionTransforms.Bucket(n, c, _) => Expressions.bucket(n, c)
      case PartitionTransforms.Trunc(w, c) =>
        Expressions.apply("truncate",
          Expressions.literal(w), Expressions.column(c))
    }.toArray
  override def properties(): java.util.Map[String, String] = {
    val snapInfo = headSnap
      .map(s => Map("graft.current-snapshot-id" -> s.version.toString))
      .getOrElse(Map.empty)
    (props ++ snapInfo + ("provider" -> "parquet")).asJava
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  // --- read -------------------------------------------------------------

  /** A real data column named `_file` shadows the metadata column
    * (Spark resolves metadata columns LAST, but this table's scan
    * wrapper keys on the name — safest to disable the path entirely and
    * serve the data column untouched). */
  private def fileColShadowed: Boolean = declaredSchema.fieldNames
    .contains(org.apache.spark.sql.graftaccess.FileTaggedScans.FileCol)

  /** `_file` (Iceberg-parity): the absolute path of the data file each
    * row was read from. Served by
    * [[org.apache.spark.sql.graftaccess.FileTaggedScans]] — queries that
    * don't reference it keep the untouched delegate plan. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (fileColShadowed) Array.empty
    else Array(
      new MetadataColumn {
        override def name(): String =
          org.apache.spark.sql.graftaccess.FileTaggedScans.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "absolute path of the data file the row was read from"
      })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    import org.apache.spark.sql.graftaccess.{FileTaggedScans, MorScans, MultiGenScans}
    // ONE snapshot read decides the data files, the delete sidecars and
    // the generation split (reading them separately could straddle a
    // commit)
    val snap = headSnap
    val dataRel = snap match {
      case Some(s) => s.dataFiles
      case None => Snapshots.walkDataParquet(tableDir)
    }
    // ONE sidecar read per scan build (it also decides the clean/masked
    // split below) + ONE broadcast shared by every masked slice
    val mask = new DeleteMask(snap.map(_.deleteFiles).getOrElse(Seq.empty))
    val groups = generationGroups(dataRel)
    // equality keys are recorded under CURRENT column names; an
    // old-generation slice reads different physical names, so the mask
    // would silently miss — unreachable in normal operation (deleteByKey
    // rejects old-gen tables, ALTER rejects pending eq sidecars), kept
    // as defense in depth
    if (mask.eqBatches.nonEmpty && groups.nonEmpty)
      throw new UnsupportedOperationException(
        s"$fullName has pending equality-delete sidecars AND data files " +
          "from an older schema generation; compact() the table first")
    // identity-partition key columns are served from DIR VALUES via
    // readPartitionSchema (MorScans routes them there); timestamp
    // partition keys stay rejected at deleteByKey (zone-dependent parse)
    def cleanWrap(plain: ScanBuilder): ScanBuilder =
      if (fileColShadowed) plain else new FileTaggedScans.Builder(plain)
    // Clean-vs-masked split: only files with pending
    // delete-sidecar entries (position or applicable equality) pay the
    // mask-read tax; every other file keeps the untouched vectorized
    // delegate. Masked slices stay columnar too (RemappedColumnVector),
    // so one 0.1% MOR DELETE never de-vectorizes the table.
    def slicesFor(files: Seq[String], schema: StructType,
        rename: Map[String, String], noPush: Set[String] = Set.empty)
        : Seq[MultiGenScans.GenSlice] = {
      val (masked, clean) = files.partition(mask.isMasked)
      def delegate(fs: Seq[String]) =
        delegateFor(fs.map(f => tableDir.resolve(f).toString), schema)
          .newScanBuilder(options)
      val cleanSlice =
        if (clean.nonEmpty || masked.isEmpty)
          Seq(MultiGenScans.GenSlice(cleanWrap(delegate(clean)), rename,
            noPush))
        else Seq.empty
      val maskedSlice =
        if (masked.nonEmpty)
          Seq(MultiGenScans.GenSlice(new MorScans.Builder(
            delegate(masked), !fileColShadowed, () => mask.broadcast), rename,
            noPush))
        else Seq.empty
      cleanSlice ++ maskedSlice
    }
    def slicesOneEra(files: Seq[String]): Seq[MultiGenScans.GenSlice] =
      generationGroups(files) match {
        case Seq() => slicesFor(files, declaredSchema, Map.empty)
        case gs => gs.flatMap { case (g, fs) =>
          val (sg, rename, promoted) = genSchema(fieldMeta.get, g)
          slicesFor(fs, sg, rename, promoted)
        }
      }
    def assemble(files: Seq[String]): ScanBuilder =
      eraFileGroups(files) match {
        // SPEC ERAS: one delegate stack per era — files of
        // different eras have different dir depths, and Spark's hive
        // partition inference rejects a mixed-depth file set outright
        // (CONFLICTING_PARTITION_COLUMN_NAMES); within one era the
        // layout is consistent by construction. Each era group's slices
        // end with a current-generation slice, so the LAST slice
        // overall reports current names.
        case eg if eg.lengthCompare(1) > 0 =>
          new MultiGenScans.Builder(
            eg.flatMap { case (_, fs) => slicesOneEra(fs) }, "spec eras")
        case _ =>
          generationGroups(files) match {
            case Seq() =>
              slicesFor(files, declaredSchema, Map.empty) match {
                case Seq(only) => only.plain // untouched single-scan fast path
                case slices => new MultiGenScans.Builder(slices, "mor split")
              }
            case gs => // one delegate per generation, physical names mapped
              new MultiGenScans.Builder(
                gs.flatMap { case (g, fs) =>
                  val (sg, rename, promoted) = genSchema(fieldMeta.get, g)
                  slicesFor(fs, sg, rename, promoted)
                },
                if (mask.relIndex.isEmpty) "schema generations"
                else "schema generations + mor split")
          }
      }
    // The kept file list depends on the pushed filters, so the whole
    // delegate stack is constructed at build() time over the files
    // [[mayMatchFiles]] keeps — predicates on a hidden transform's
    // SOURCE column (`WHERE ts >= ...`) prune `ts_day=...` dirs, and a
    // point lookup keeps only files whose recorded [min, max] covers
    // the key. An unfiltered COUNT(*) is answered from the records.
    new org.apache.spark.sql.graftaccess.HiddenPruneScans.Builder(
      dataRel, (files, v1) => mayMatchFiles(files, v1, openFooters = false),
      assemble, () => recordedRowCount(snap), recordedSum(_)(_.bytes))
  }

  // --- write (V1 fallback: full commit control, still distributed) ------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinned.isDefined)
      throw new UnsupportedOperationException(
        s"Cannot write to time-travel snapshot of $fullName")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteFlag: Boolean): Unit =
              commitWrite(data, overwrite || overwriteFlag)
          }
      }
    }
  }

  /** Run `write` into a scratch dir, then publish its files in ONE
    * snapshot ([[publishAndCommit]]); the scratch dir is removed
    * whatever happens. */
  private def stagedCommit(overwrite: Boolean,
      replacedBase: Option[Seq[String]], destRoot: Option[Path] = None,
      knownDeletes: Option[Seq[String]] = None)(write: Path => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft_commit_")
    try {
      write(tmp)
      publishAndCommit(tmp, overwrite, replacedBase, destRoot = destRoot,
        knownDeletes = knownDeletes)
    } finally dropRecursively(tmp)
  }

  /** Distributed write into a scratch dir, then move data files under
    * `data/` (preserving partition-dir structure) and append one snapshot.
    * Spark part-file names embed a per-job UUID, so moves never collide.
    * `replacedBase`: the snapshot file list a rewrite (DELETE) was
    * computed FROM — the commit replaces exactly those files and keeps
    * anything committed since, so a concurrent INSERT between the
    * rewrite's read and its commit survives. `overwrite` without a base
    * (INSERT OVERWRITE / TRUNCATE) replaces the whole visible set by
    * request. */
  private def commitWrite(data: DataFrame, overwrite: Boolean,
      replacedBase: Option[Seq[String]] = None,
      knownDeletes: Option[Seq[String]] = None): Unit =
    stagedCommit(overwrite, replacedBase, knownDeletes = knownDeletes) { tmp =>
      val aligned = data.toDF(declaredSchema.fieldNames.toSeq: _*)
      // rows already held in driver memory (INSERT … VALUES: a cast
      // projection over a LocalRelation) go to ONE write task: more
      // tasks would only mean more small files for every later scan,
      // DELETE and compact to open
      val local = data.queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.planning.PhysicalOperation(_, _,
            _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation) => true
        case _ => false
      }
      // hidden transforms derive their dir column here; the derived
      // value lives ONLY in directory names (partitionBy drops it from
      // the written files, and reads never request it)
      val laid0 =
        PartitionTransforms.withDerived(partSpec,
          if (local) aligned.coalesce(1) else aligned, effectiveZone)
      // declared sort order: range-distribute on (partition dirs, sort
      // cols) and sort within tasks — dir-clustered, range-disjoint,
      // internally sorted files whose footer stats actually prune; a
      // one-task local input is one range already
      val laid = writeOrderCols match {
        case Seq() => laid0
        case cols =>
          import org.apache.spark.sql.functions.col
          val keys = (PartitionTransforms.dirColumns(partSpec) ++ cols)
            .map(col)
          (if (local) laid0 else laid0.repartitionByRange(keys: _*))
            .sortWithinPartitions(keys: _*)
      }
      // the pinned zone also governs how TIMESTAMP identity-partition
      // dir values RENDER — FileFormatWriter casts partition
      // values to string under the write job's timeZone option
      val w0 = laid.write.mode(SaveMode.Overwrite)
      val w = effectiveZone.fold(w0)(z => w0.option("timeZone", z))
      (if (partSpec.nonEmpty)
        w.partitionBy(PartitionTransforms.dirColumns(partSpec): _*)
      else w)
        .parquet(tmp.toString)
    }

  private def dropRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    }

  /** EQUALITY-delete commit ([[EqualityDeletes]]): write the deleted
    * KEY TUPLES as one parquet sidecar under `deletes/eq_<uuid>/` and
    * append ONE snapshot keeping every current file plus the sidecar.
    * The sidecar's commit version defines its applicability (it masks
    * only files first-seen strictly before it), so `baseData` — the
    * data-file set visible when the keys were resolved — guards the
    * same race the position path does: a concurrent rewrite of any base
    * file aborts (the rewritten file would get a NEW first-seen version
    * at or after this commit and silently escape the mask). */
  private[catalog] def commitEqualityDeleteSidecar(keys: DataFrame,
      baseData: Seq[String]): Unit =
    stagedCommit(overwrite = false, Some(baseData), Some(deletesDir)) { tmp =>
      keys.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(tmp.resolve(s"eq_${UUID.randomUUID().toString.take(8)}")
          .toString)
    }

  /** Merge-on-read DELETE commit: write `positions` (file, pos) as
    * parquet sidecars under `deletes/` and append ONE snapshot that
    * keeps every current file and adds the sidecars. `baseTouched` is
    * the data-file set the positions were computed against — a
    * concurrent rewrite of any of them aborts the commit (the
    * positions would mask the wrong rows in the rewritten files). */
  private def commitDeleteSidecars(positions: DataFrame,
      baseTouched: Seq[String]): Unit =
    stagedCommit(overwrite = false, Some(baseTouched), Some(deletesDir)) { tmp =>
      positions
        .sortWithinPartitions("file", "pos") // read-side locality
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }

  /** Move every parquet file under `tmp` into `data/` (preserving
    * partition-dir structure) and append ONE snapshot — read-latest +
    * conflict-validate + move + publish all under the commit lock (two
    * concurrent INSERTs reading `latest` outside it would lose the first
    * writer's files). `replacedBase` is the snapshot file list a rewrite
    * was computed FROM: the commit replaces exactly those files and keeps
    * anything committed since; a stale base (concurrent rewrite won)
    * aborts loudly, Iceberg-style, before any file moves. */
  /** `knownDeletes`: the MOR sidecar set the committing REWRITE read
    * its masked rows from — a sidecar committed since then may
    * reference data files this commit replaces, and the rewritten
    * files (read pre-sidecar) would silently RESURRECT those rows
    * (Iceberg's validateNoNewDeleteFiles guards the same race).
    * Conservative: ANY new sidecar aborts, even one over untouched
    * files — retry semantics, same as the stale-base abort. */
  private def publishAndCommit(tmp: Path, overwrite: Boolean,
      replacedBase: Option[Seq[String]],
      only: Option[Set[Path]] = None,
      destRoot: Option[Path] = None,
      knownDeletes: Option[Seq[String]] = None): Unit = {
    val destDir = destRoot.getOrElse(dataDir)
    // ONE footer read per written file, before the lock: zero-row parts
    // (the V1 writer emits one for an empty frame, e.g. a rewrite whose
    // pruned files left no survivors) are not published — Iceberg skips
    // empty files too — and the rest hand their stats to the commit's
    // record. An unreadable footer fails the write before anything
    // moves. `only`: publish just the task-committed files (V2 writes)
    // — stragglers from attempts that died without abort() must not
    // sneak into the snapshot.
    val staged = scala.util.Using.resource(Files.walk(tmp)) { st =>
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .filter(p => only.forall(_.contains(p)))
        .toList
    }
    val planned = staged
      .zip(FileStatsCache.readStaged(staged,
        spark.sparkContext.hadoopConfiguration))
      .collect { case (p, fs) if fs.rows > 0 =>
        (p, tableDir.relativize(destDir.resolve(tmp.relativize(p))).toString,
          fs)
      }
    // The tmp→data move runs EXACTLY ONCE even though the CAS compute
    // closure can run several times: a commit that loses the
    // cross-process createLink race retries with a fresh `latest`, and
    // that retry must list the files moved on attempt 1 (a retry that
    // re-walked tmp found NOTHING, committed an empty append and lost
    // the write silently). tools/contend.sh caught exactly
    // this: two JVMs racing INSERTs dropped ~1 row in 16. (In ONE JVM
    // the casCommit monitor serializes commits, so the retry path never
    // ran and the hole was invisible to in-process tests.) A stale-base
    // abort AFTER the move leaves the moved files as snapshot-less
    // orphans in data/ — remove_orphan_files reclaims them, same as any
    // crashed write.
    var movedOnce = false
    commitVisible(planned.map { case (_, rel, fs) => rel -> fs }.toMap) {
        latest =>
      // Inside the table lock: ALTER holds the same lock for its whole
      // schema-metadata transaction, so a mid-write RENAME/DROP is
      // caught here (abort + retry) instead of silently misclassifying
      // this commit's files into the post-ALTER generation (renamed
      // columns would read NULL).
      if (TableMeta.epochOf(tableDir) != meta.epoch)
        throw new java.util.ConcurrentModificationException(
          s"$fullName: table schema metadata changed while this write " +
            "was in flight (concurrent ALTER TABLE); retry the operation")
      // ZONE BACKFILL: the first commit through a handle
      // on a legacy zoned calendar-transform table (no ZoneKey) pins
      // the zone the handle derived with, so the cross-session
      // day-boundary drift window closes instead of persisting
      // indefinitely. Under the same lock as the commit: a concurrent
      // session that pinned a DIFFERENT zone first wins, and this
      // commit aborts — its dir derivations may disagree with the now-
      // authoritative pin.
      if (zoneNeedsBackfill) effectiveZone.foreach { z =>
        val fresh = TableMeta.readProps(tableDir)
        fresh.get(PartitionTransforms.ZoneKey) match {
          case Some(other) if other != z =>
            throw new java.util.ConcurrentModificationException(
              s"$fullName: a concurrent session pinned partition zone " +
                s"'$other' while this write (zone '$z') was in flight; " +
                "retry the operation")
          case Some(_) => () // same zone already pinned: nothing to do
          case None =>
            TableMeta.writeProps(tableDir,
              fresh + (PartitionTransforms.ZoneKey -> z))
        }
      }
      replacedBase.foreach { base =>
        val current = latest.map(_.files.toSet).getOrElse(Set.empty)
        val gone = base.filterNot(current.contains)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"$fullName: rewrite base is stale (files ${gone.take(3).mkString(", ")}" +
            s"${if (gone.length > 3) ", …" else ""} replaced by a concurrent " +
            "commit); retry the operation")
      }
      knownDeletes.foreach { known =>
        val newDels = latest.map(_.deleteFiles).getOrElse(Seq.empty)
          .filterNot(known.toSet)
        if (newDels.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"$fullName: a concurrent merge-on-read DELETE committed " +
            s"${newDels.length} position-delete sidecar(s) after this " +
            "rewrite read its base snapshot; the rewritten files would " +
            "resurrect the masked rows — retry the operation")
      }
      if (!movedOnce) {
        planned.foreach { case (p, rel, _) =>
          val dest = tableDir.resolve(rel)
          Files.createDirectories(dest.getParent)
          Files.move(p, dest)
        }
        movedOnce = true
      }
      val moved = planned.map(_._2)
      val prev = (overwrite, replacedBase) match {
        case (true, Some(base)) => // surgical rewrite: drop base only
          latest.map(_.files).getOrElse(Seq.empty).diff(base)
        case (true, None) => Seq.empty
        case _ => latest.map(_.files).getOrElse(Seq.empty)
      }
      prev ++ moved
    }
  }

  /** Rewrite the given base snapshot's files with `data` — surgical
    * (files committed since `baseFiles` survive; stale base aborts, and
    * so does a merge-on-read DELETE committed since `baseDeletes` was
    * read — the rewrite would resurrect its masked rows).
    * Maintenance.compact/upsert's entry point. */
  private[catalog] def replaceFiles(data: DataFrame, baseFiles: Seq[String],
      baseDeletes: Seq[String] = Seq.empty): Unit =
    commitWrite(data, overwrite = true, replacedBase = Some(baseFiles),
      knownDeletes = Some(baseDeletes))

  /** Replace the snapshot's position-delete sidecars with a rewritten
    * set — data files untouched (Maintenance.rewritePositionDeletes).
    * Same surgical semantics as [[replaceFiles]]: a concurrent commit
    * that already folded `oldSidecars` aborts this rewrite. */
  private[catalog] def replaceDeleteSidecars(positions: DataFrame,
      oldSidecars: Seq[String], targetFiles: Int): Unit =
    // an all-dangling input writes only zero-row parts: a pure sidecar drop
    stagedCommit(overwrite = true, Some(oldSidecars), Some(deletesDir)) { tmp =>
      positions.coalesce(math.max(1, targetFiles))
        .sortWithinPartitions("file", "pos")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }

  // --- SQL row-level commands (MERGE INTO / UPDATE / subquery DELETE) ---

  /** Group-based (copy-on-write) row-level operation support: Spark's
    * `RewriteMergeIntoTable` / `RewriteUpdateTable` / subquery-DELETE
    * rewrites plan a `ReplaceData` over this operation's scan and write
    * the post-command table back through `Write.toBatch`
    * ([[org.apache.spark.sql.graftaccess.BatchWrites]] — ReplaceData has
    * no V1 fallback).
    *
    * The scan is pinned to the base snapshot captured when the operation
    * is created. It hides STATIC pushdown (in the group-based protocol
    * the write must replace exactly the groups the scan produced — a
    * filter the connector can't mirror into the replaced set would
    * silently drop rows) but implements RUNTIME group filtering at file
    * granularity: Spark feeds the command's matching key values back and
    * provably-unaffected files leave both the scan and the replaced set,
    * so a narrow MERGE rewrites O(matching files). [[Maintenance.upsert]]
    * remains the programmatic pruned-upsert path, and
    * translatable-predicate DELETEs still take the metadata-only
    * [[deleteWhere]] path (`OptimizeMetadataOnlyDeleteFromTable`). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (pinned.isDefined)
      throw new UnsupportedOperationException(
        s"Cannot modify a time-travel snapshot of $fullName")
    // Note: Spark's RewriteDeleteFromTable matches
    // SupportsRowLevelOperations ahead of SupportsDeleteV2, so this
    // builder runs at ANALYSIS for every conditional DELETE;
    // translatable DELETEs are converted back to the metadata
    // [[deleteWhere]] path by OptimizeMetadataOnlyDeleteFromTable
    // before any write is built.
    () => new GraftRowLevelOperation(info.command)
  }

  private class GraftRowLevelOperation(
      cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
      extends org.apache.spark.sql.connector.write.RowLevelOperation {
    // Base snapshot pinned at operation creation. `replaced` is the
    // group set the commit swaps out: it starts as the whole base and
    // NARROWS when Spark's runtime group filtering proves files can't
    // contain matching rows (see GroupFilterScan) — the written data is
    // exactly the filtered scan's rows, so scan set and replaced set
    // stay in lockstep by construction.
    // data files only: the write replaces exactly the scanned groups;
    // pending MOR sidecars are applied by the scan (deleted rows never
    // enter the rewrite) and SURVIVE the commit — their entries for
    // replaced files reference now-absent names, which every reader
    // ignores, and compaction folds them away.
    private val baseSnap: Option[Snapshots.Snap] = headSnap
    private val baseFiles: Seq[String] =
      baseSnap.map(_.dataFiles).getOrElse(Seq.empty)
    private val baseDeletes: Seq[String] =
      baseSnap.map(_.deleteFiles).getOrElse(Seq.empty)
    // ONE sidecar read + ONE broadcast for the whole operation (the
    // scan's toBatch can run several times — runtime group filtering
    // re-plans partitions from a fresh Batch)
    private val baseMask = new DeleteMask(baseDeletes)
    // The group-based rewrite reads files under the DECLARED schema; a
    // pre-rename file would silently serve NULL for renamed columns and
    // the rewrite would persist the corruption — reject loudly. Checked
    // at SCAN build, not construction: this operation is instantiated
    // at analysis for EVERY conditional DELETE, including translatable
    // ones that convert back to the (generation-aware) metadata
    // deleteWhere path and never build a scan or write.
    private def requireSingleGeneration(): Unit =
      if (generationGroups(baseFiles).nonEmpty)
        throw new UnsupportedOperationException(
          s"$fullName has data files from an older schema generation " +
            "(RENAME/DROP COLUMN); run CALL <cat>.system.compact(...) to " +
            "migrate them before MERGE/UPDATE/subquery-DELETE commands")
    @volatile private var replaced: Seq[String] = baseFiles

    override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new GroupFilterScan(options)

    /** Row-level scan with FILE-GRANULARITY runtime group filtering:
      * Spark's RowLevelOperationRuntimeGroupFiltering collects the
      * command's matching key values and calls [[filter]]; files whose
      * footer stats prove no row can match drop from BOTH the scan and
      * the replaced set — a narrow MERGE rewrites O(matching files), not
      * the table. STATIC pushdown stays hidden (a filter the connector
      * can't mirror into the replaced set would silently drop rows);
      * runtime filters are safe precisely because we apply them to the
      * group list ourselves. Untranslatable or non-stats-provable
      * predicates prune nothing — conservative. */
    private class GroupFilterScan(options: CaseInsensitiveStringMap)
        extends org.apache.spark.sql.connector.read.Scan
        with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
      @volatile private var files: Seq[String] = baseFiles
      override def readSchema(): StructType = declaredSchema
      override def toBatch: org.apache.spark.sql.connector.read.Batch = {
        requireSingleGeneration()
        def delegate(fs: Seq[String]) =
          delegateFor(fs.map(f => tableDir.resolve(f).toString))
            .newScanBuilder(options)
        // This scan REPORTS the declared schema, but ParquetScan
        // delegates serve identity-partition columns LAST — reorder the
        // batch to declared order or every non-trailing partition
        // column reads misaligned ordinals (any identity-partitioned
        // table whose partition column is not the final schema column).
        def reordered(scan: org.apache.spark.sql.connector.read.Scan)
            : org.apache.spark.sql.connector.read.Batch =
          org.apache.spark.sql.graftaccess.MultiGenScans.reorder(
            scan.toBatch, scan.readSchema(), declaredSchema)
        if (baseDeletes.isEmpty && !specEvolved)
          reordered(delegate(files).build())
        else {
          // pending MOR sidecars: masked rows must not enter the
          // rewrite — same clean/masked split as interactive scans.
          // SPEC ERAS: one slice group PER ERA — a mixed-era file
          // set has mixed dir depths, which partition inference rejects.
          // FIXED slice layout (per BASE-file era, clean+masked) even
          // when a side is empty: runtime group filtering re-plans
          // partitions from a FRESH toBatch but reuses the FIRST
          // batch's reader factory, so the slice structure must not
          // depend on the narrowed file list (an empty slice plans zero
          // partitions).
          import org.apache.spark.sql.graftaccess.{MorScans, MultiGenScans}
          val fileSet = files.toSet
          val slices = eraFileGroups(baseFiles).flatMap { case (_, eraFs) =>
            val cur = eraFs.filter(fileSet.contains)
            if (baseDeletes.isEmpty)
              Seq(MultiGenScans.GenSlice(delegate(cur), Map.empty))
            else {
              val (masked, clean) = cur.partition(baseMask.isMasked)
              Seq(
                MultiGenScans.GenSlice(delegate(clean), Map.empty),
                MultiGenScans.GenSlice(new MorScans.Builder(
                  delegate(masked), fileColAllowed = false,
                  () => baseMask.broadcast), Map.empty))
            }
          }
          reordered(new MultiGenScans.Builder(slices,
            if (specEvolved) "spec eras + mor split" else "mor split")
            .build())
        }
      }
      override def description(): String =
        s"graft-row-level($fullName, ${files.length}/${baseFiles.length} files)"
      // ONE attribute: exposing several makes Spark build a joint
      // named_struct(...) IN subquery runtime filter, which has no V1
      // translation — nothing would prune. Any single target column is
      // sound (the values come from the command's matched rows); the
      // leading column is the usual clustered merge key, overridable via
      // the `graft.rowlevel.filter-column` table property.
      override def filterAttributes()
          : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
        val chosen = props.getOrElse("graft.rowlevel.filter-column",
          declaredSchema.fieldNames.head)
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(chosen))
      }
      override def filter(predicates: Array[
          org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
        val v1 = org.apache.spark.sql.graftaccess.Internals
          .predicatesToV1(predicates)
        if (v1.nonEmpty) {
          files = mayMatchFiles(files, v1, openFooters = true)
          replaced = files
        }
      }
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      // Only reached when the command actually takes the ReplaceData
      // write path — translatable DELETEs on partitioned tables have
      // already been converted to metadata deleteWhere by this point.
      // Identity-partitioned tables route rows to hive-layout dirs in
      // the V2 writer; HIDDEN transforms derive
      // their dir value per row inside BatchWrites through the same
      // catalyst expressions the V1 path evaluates — MERGE INTO /
      // UPDATE / subquery DELETE are first-class on days/bucket/
      // truncate-partitioned tables, including updates that MOVE a row
      // to another partition dir.
      val staging = tableDir.resolve(s"_staging_${UUID.randomUUID().toString.take(8)}")
      Files.createDirectories(staging)
      new WriteBuilder {
        override def build(): Write =
          org.apache.spark.sql.graftaccess.BatchWrites.parquetWrite(
            spark, info.schema(), staging.toString,
            // `replaced` read at COMMIT time — after any runtime group
            // filtering has narrowed it; only task-committed files
            // publish (retry stragglers stay behind and are dropped)
            onCommit = paths => try publishAndCommit(staging,
              overwrite = true, replacedBase = Some(replaced),
              only = Some(paths.map(p => java.nio.file.Paths.get(p)).toSet),
              knownDeletes = Some(baseDeletes))
            finally dropRecursively(staging),
            onAbort = _ => dropRecursively(staging),
            partitionSpec = partSpec,
            partitionZone = effectiveZone,
            orderCols = writeOrderCols)
      }
    }
  }

  // --- DELETE (copy-on-write) ------------------------------------------

  /** V1 read of the given visible data files (tableDir-relative) with
    * every column served under its CURRENT name regardless of the
    * schema generation the file was written in, `_metadata` preserved
    * for position work — the row-level-command counterpart of the
    * generation-aware scan. */
  private def readFilesAsCurrent(relFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    def q(n: String) = s"`${n.replace("`", "``")}`"
    def readGroup(files: Seq[String], schema: StructType,
        rename: Map[String, String]): DataFrame = {
      val r0 = spark.read.option("basePath", dataDir.toString).schema(schema)
      // pinned zone governs TIMESTAMP identity dir-value parsing
      effectiveZone.fold(r0)(z => r0.option("timeZone", z))
        .parquet(files.map(f => tableDir.resolve(f).toString): _*)
        .select(declaredSchema.fields.toSeq
          // cast covers promoted generations (narrow physical type →
          // declared); a same-type cast is a no-op
          .map(f => col(q(rename.getOrElse(f.name, f.name)))
            .cast(f.dataType).as(f.name)) :+
          col("_metadata"): _*)
    }
    def readOneEra(eraFiles: Seq[String]): DataFrame = evolvedMeta match {
      case None => readGroup(eraFiles, declaredSchema, Map.empty)
      case Some(m) =>
        val seen = firstSeenVersions()
        eraFiles.groupBy(f => m.genFor(seen.getOrElse(f, Long.MaxValue)))
          .toSeq.sortBy(_._1.activeFrom)
          .map { case (g, fs) =>
            val (sg, rename, _) = genSchema(m, g)
            readGroup(fs, sg, rename)
          }.reduce(_ unionByName _)
    }
    // SPEC ERAS: one basePath read per era — a mixed-era file set
    // has mixed dir depths, which partition inference rejects outright
    eraFileGroups(relFiles).map(g => readOneEra(g._2))
      .reduce(_ unionByName _)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterToColumn.translate(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, not}
    val cond = filters.flatMap(FilterToColumn.translate)
      .reduceOption(_ && _).getOrElse(lit(true))
    // One consistent base snapshot for BOTH the scan and the commit's
    // replaced-file set (reading them separately could straddle a
    // concurrent commit).
    val baseSnap = headSnap
    val baseData = baseSnap.map(_.dataFiles).getOrElse(Seq.empty)
    val baseDeletes = baseSnap.map(_.deleteFiles).getOrElse(Seq.empty)
    // FILE-LEVEL PRUNING: only files that MIGHT hold a matching row get
    // touched; provably-unaffected files stay in place (after compact()
    // sorts on the predicate column, a key-range DELETE over 100 TB
    // touches O(1) files). A file without a stats record opens its
    // footer: a missed prune here costs a rewrite.
    val touched = mayMatchFiles(baseData, filters.toSeq, openFooters = true)
    if (baseSnap.isDefined && touched.isEmpty) return // provably a no-op

    if (morDeletes && baseSnap.isDefined) {
      // MERGE-ON-READ: commit O(matched rows) of (file, pos) pairs —
      // no data file is rewritten. Matching runs over the touched files
      // only; positions come from the parquet reader's absolute row
      // index (`_metadata.row_index`), the same coordinate the scan-side
      // index filters on. Re-recording an already-masked position is
      // harmless (the read-side index is a set).
      val uriToRel = touched.map(rel =>
        DeleteSidecars.sparkFileUri(tableDir.resolve(rel)) -> rel)
      val mapDf = spark.createDataFrame(uriToRel).toDF("__uri", "__rel")
      val matches = readFilesAsCurrent(touched)
        .filter(coalesce(cond, lit(false))) // DELETE drops TRUE rows only
        .select(col("_metadata.file_path").as("__uri"),
          col("_metadata.row_index").as("pos"))
        .join(broadcast(mapDf), "__uri")
        .select(col("__rel").as("file"), col("pos"))
        .persist()
      try {
        // nothing matched: no commit (Iceberg skips empty commits too)
        if (!matches.isEmpty) commitDeleteSidecars(matches, touched)
      } finally matches.unpersist()
      return
    }

    val touchedRel =
      if (baseSnap.isDefined) touched else Snapshots.walkDataParquet(tableDir)
    val survivors =
      if (touchedRel.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declaredSchema)
      else {
        val raw = readFilesAsCurrent(touchedRel)
        // rows already masked by pending MOR sidecars (position OR
        // equality) must NOT be resurrected into the rewrite
        val live = EqualityDeletes.applyAll(raw, spark, tableDir,
          declaredSchema, baseSnap.map(_.dataFiles).getOrElse(Seq.empty),
          baseDeletes)
        // DSv2 DELETE removes rows where the predicate is TRUE; a NULL
        // predicate (e.g. `a > 5` with a NULL) must KEEP the row — a bare
        // not(cond) is NULL there and filter() would silently drop it.
        live.select(declaredSchema.fieldNames.map(col).toSeq: _*)
          .filter(not(coalesce(cond, lit(false))))
      }
    commitWrite(survivors, overwrite = true,
      replacedBase = Some(if (baseSnap.isDefined) touched else baseData),
      knownDeletes = Some(baseDeletes))
  }
}

/** A `ParquetTable` over leaf files whose statuses the caller already
  * holds. Its file index finds every file in its status cache, so it
  * neither checks nor lists a path: above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` files the
  * plain index starts a Spark job to list what the snapshot already
  * names. The statuses are real (`_metadata.file_size` and
  * `file_modification_time` come from them); they carry no block
  * locations, which only hint task placement. */
private[catalog] final class KnownFilesParquetTable(name: String,
    spark: SparkSession, options: CaseInsensitiveStringMap,
    schema: Option[StructType],
    files: Seq[org.apache.hadoop.fs.FileStatus])
    extends ParquetTable(name, spark, options,
      files.map(_.getPath.toString), schema, classOf[ParquetFileFormat]) {
  override lazy val fileIndex
      : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val known = files.map(f => f.getPath -> Array(f)).toMap
    val cache = new org.apache.spark.sql.execution.datasources.FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        known.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus])
          : Unit = ()
      override def invalidateAll(): Unit = ()
    }
    new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(spark,
      files.map(_.getPath), options.asCaseSensitiveMap.asScala.toMap, schema,
      cache)
  }
}

object GraftTable {
  /** Table property declaring the write sort order (comma-separated
    * schema columns) — see `writeOrderCols`. */
  val OrderedByKey = "graft.write.ordered-by"
}

/** DSv2 `sources.Filter` → `Column` translation for copy-on-write DELETE. */
private[catalog] object FilterToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.sources._

  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c) => translate(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
