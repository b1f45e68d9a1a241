package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.StructType

/** PARTITION-SPEC EVOLUTION for MetaCatalog tables — Iceberg spec §4's
  * versioned partition specs (the `iceberg-rust-spec` PartitionSpec
  * structs the reference links, Cargo.lock:2177; served transparently
  * through its `IcebergCatalogList`, lib.rs:94-98): a 100 TB table's
  * layout outlives its first query pattern, so `ADD PARTITION FIELD
  * hours(ts)` / `DROP PARTITION FIELD days(ts)` must not require a CTAS
  * of the whole table.
  *
  * The mechanism mirrors [[FieldIds]] exactly — spec eras are the
  * partition-layout twin of schema generations. Each evolution appends
  * an ERA `(activeFrom, spec)` where `activeFrom` is the first main
  * snapshot version whose new files were written under that spec
  * (= latest version + 1 at evolution time, under the table lock). A
  * data file resolves through the era active at the snapshot where it
  * FIRST appeared, so:
  *
  *  - prune dispatches PER ERA: a file's dir values are interpreted
  *    under the spec that wrote them (a `k_bucket=3` dir from a
  *    bucket(8,k) era must never be tested modulo a later bucket(16,k)
  *    re-add);
  *  - scans build one delegate slice per era: Spark's hive partition
  *    inference rejects MIXED dir depths outright
  *    (CONFLICTING_PARTITION_COLUMN_NAMES), so old-era `ts_day=X/f` and
  *    new-era `ts_day=X/ts_hour=Y/f` files cannot share one file index
  *    — each era's files are depth-consistent by construction;
  *  - new writes always use the LATEST era's spec;
  *  - compact() rewrites every file under the latest spec (rewritten
  *    files first-commit at the newest version) — the migration path.
  *
  * On-disk format (`_graft_partspec.tsv`): one `<activeFrom>\t<spec>`
  * line per era, `<spec>` in [[PartitionTransforms.formatSpec]] form
  * (empty when every field was dropped). The file is written with the
  * same temp+ATOMIC_MOVE discipline as `_graft_fields.tsv` and is
  * AUTHORITATIVE once present; the legacy `graft.partition.columns`
  * property is kept in sync (it carries the latest spec) for
  * compatibility with every pre-evolution reader. Tables that never
  * evolved have no era file — zero behavior change.
  *
  * Identity partition fields are NOT evolvable: identity columns are
  * dropped from data files into dir names, so adding/dropping one
  * changes which bytes live in the files themselves — that is a data
  * rewrite (CTAS), not a metadata operation. Hidden transforms carry no
  * file bytes and evolve freely.
  *
  * Concurrency: evolution runs under the same per-table lock as every
  * snapshot commit and ALTER, and the era file is part of the SCHEMA
  * EPOCH ([[TableMeta.epochOf]]) — an in-flight write planned
  * under the old spec that tries to commit after an evolution aborts
  * loudly (its files were laid out under the old spec but would
  * first-commit into the new era and be pruned under the wrong spec). */
object SpecEras {

  /** One spec era: active for files first committed at `activeFrom` or
    * later (until the next era). */
  final case class Era(activeFrom: Long, spec: Seq[PartitionTransforms.T])

  private def file(tableDir: Path): Path =
    tableDir.resolve(TableMeta.PartSpecFile)

  /** The era log, oldest first — None when the table never evolved. */
  def read(tableDir: Path): Option[Seq[Era]] = {
    val f = file(tableDir)
    if (!Files.exists(f)) None else Some(parse(Files.readString(f), f))
  }

  private[catalog] def parse(body: String, f: Path): Seq[Era] = {
    val eras = body.linesIterator.filter(_.nonEmpty).toSeq
      .map { l =>
        val parts = l.split("\t", 2)
        Era(parts(0).toLong,
          if (parts.length < 2) Seq.empty
          else PartitionTransforms.parseSpec(parts(1)))
      }.sortBy(_.activeFrom)
    require(eras.nonEmpty &&
      eras.map(_.activeFrom).distinct.length == eras.length,
      s"corrupted partition-spec era log ${f}")
    eras
  }

  private def write(tableDir: Path, eras: Seq[Era]): Unit = {
    val body = eras.map(e =>
      s"${e.activeFrom}\t${PartitionTransforms.formatSpec(e.spec)}")
      .mkString("\n")
    val tmp = file(tableDir).resolveSibling(
      s".partspec.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, file(tableDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The era a file first committed at `version` was written under. */
  def eraFor(eras: Seq[Era], version: Long): Era =
    eras.reverse.find(_.activeFrom <= version).getOrElse(eras.head)

  /** The CURRENT (write-path) spec strings: the latest era when the
    * era log exists, else the legacy property value — one rule, so a
    * half-synced props file (crash between the era write and the props
    * write) can never make two readers disagree. */
  private[catalog] def currentSpecStrings(eras: Option[Seq[Era]],
      legacy: Option[String]): Seq[String] =
    eras match {
      case Some(es) => es.last.spec.map(_.spec)
      case None => legacy.toSeq.flatMap(PartitionTransforms.splitSpec)
    }

  /** Group tableDir-relative data files by spec era (`eras` as
    * [[TableMeta.read]] loaded them), oldest era first — ONE group when
    * the table never evolved. Every raw read with `basePath`
    * partition-dir inference MUST split on this: mixed-era file sets
    * have mixed dir depths and Spark rejects them outright. */
  def fileGroups(tableDir: Path, files: Seq[String],
      eras: Option[Seq[Era]]): Seq[Seq[String]] =
    eras.filter(_.size > 1) match {
      case None => Seq(files)
      case Some(es) =>
        val seen = FieldIds.firstSeen(tableDir)
        files.groupBy(f =>
            eraFor(es, seen.getOrElse(f, Long.MaxValue)).activeFrom)
          .toSeq.sortBy(_._1).map(_._2)
    }

  /** `ADD PARTITION FIELD <transform>`: seal a new era whose spec is
    * the current one plus `field` (a hidden transform — `days(ts)`,
    * `bucket(16,k)`, ...). Returns (spec before, spec after). Runs the
    * whole read-validate-write transaction under the table lock. */
  def addPartitionField(tableDir: Path, fullName: String,
      field: String): (String, String) =
    evolve(tableDir, fullName) { (cur, schema) =>
      val t = PartitionTransforms.parse(field)
      if (t.isIdentity)
        throw new UnsupportedOperationException(
          s"ADD PARTITION FIELD $field: identity partition fields move " +
            "column bytes between data files and directory names — that " +
            "is a data rewrite, not a metadata operation; recreate the " +
            "table (CTAS) or use a hidden transform")
      PartitionTransforms.validate(t, schema)
      if (cur.exists(_.spec == t.spec))
        throw new IllegalArgumentException(
          s"$fullName is already partitioned by ${t.spec}")
      if (cur.exists(_.dirName == t.dirName))
        throw new IllegalArgumentException(
          s"ADD PARTITION FIELD ${t.spec}: its directory column " +
            s"'${t.dirName}' collides with the current field " +
            s"'${cur.find(_.dirName == t.dirName).get.spec}'; drop that " +
            "field first (the old era keeps pruning through its own spec)")
      cur :+ t
    }

  /** `DROP PARTITION FIELD <transform-or-dir-name>`: seal a new era
    * without the field. Accepts the transform spelling (`days(ts)`) or
    * its dir-column name (`ts_day`). */
  def dropPartitionField(tableDir: Path, fullName: String,
      field: String): (String, String) =
    evolve(tableDir, fullName) { (cur, _) =>
      val f = field.trim
      val t = cur.find(x => x.spec == f || (!x.isIdentity && x.dirName == f))
        .getOrElse(throw new IllegalArgumentException(
          s"DROP PARTITION FIELD $f: no such field in " +
            s"(${cur.map(_.spec).mkString(", ")})"))
      if (t.isIdentity)
        throw new UnsupportedOperationException(
          s"DROP PARTITION FIELD $f: identity partition columns live in " +
            "directory names, not data files — dropping one is a data " +
            "rewrite (CTAS), not a metadata operation")
      cur.filterNot(_ == t)
    }

  /** FULL partition-spec replacement — the DATA-REWRITE evolution path
    * (`CALL system.repartition_table`). Unlike ADD/DROP PARTITION
    * FIELD, identity fields MAY appear or disappear: identity columns
    * move between file bytes and directory names, so the caller is
    * expected to compact() right after the seal to migrate the live
    * files (the procedure does both). The seal itself is metadata-only
    * and the mid-state is read-consistent BY CONSTRUCTION of the era
    * machinery: old eras are untouched (their files keep scanning and
    * pruning under their own spec — identity columns from dir
    * inference or file bytes per era, slices name-aligned by
    * [[org.apache.spark.sql.graftaccess.MultiGenScans]]), the sealed
    * era has no files until the next commit, new writes lay out the
    * new spec, and an in-flight write planned under the old spec
    * aborts at commit (the era log is part of the schema epoch). */
  def repartitionSpec(tableDir: Path, fullName: String,
      fields: Seq[String]): (String, String) =
    evolve(tableDir, fullName) { (cur, schema) =>
      val spec = fields.map(_.trim).filter(_.nonEmpty)
        .map(PartitionTransforms.parse)
      spec.foreach(PartitionTransforms.validate(_, schema))
      val dirs = spec.map(_.dirName)
      require(dirs.distinct.length == dirs.length,
        s"repartition_table: duplicate partition dir columns in " +
          s"(${spec.map(_.spec).mkString(", ")})")
      if (spec.map(_.spec) == cur.map(_.spec))
        throw new IllegalArgumentException(
          s"$fullName is already partitioned by " +
            s"(${PartitionTransforms.formatSpec(cur)})")
      spec
    }

  private def evolve(tableDir: Path, fullName: String)(
      next: (Seq[PartitionTransforms.T], StructType)
        => Seq[PartitionTransforms.T]): (String, String) =
    Snapshots.withRefsLock(tableDir) {
      if (!TableMeta.exists(tableDir))
        throw new IllegalStateException(s"$fullName: no declared schema")
      val meta = TableMeta.read(tableDir)
      val schema = meta.schema
      val latestV = Snapshots.latest(tableDir).map(_.version).getOrElse(
        throw new UnsupportedOperationException(
          s"cannot evolve the partition spec of $fullName: it predates " +
            "the snapshot log (no commit history to key spec eras on); " +
            "recreate the table (CTAS)"))
      // files staged on a WAP branch live outside the main log, so era
      // resolution would classify them as LATEST-era even though they
      // were laid out under the pre-evolution spec — same stance as the
      // ALTER generation guards
      val staged = Snapshots.branches(tableDir)
      if (staged.nonEmpty)
        throw new IllegalStateException(
          s"cannot evolve the partition spec of $fullName: branches " +
            staged.map(_.name).mkString("[", ",", "]") +
            " hold staged files a spec-era boundary would misclassify; " +
            "publish or drop them first")
      // meta.props lacks the partition key; nextProps re-adds it
      val props = meta.props
      val cur = meta.partitionCols.map(PartitionTransforms.parse)
      val newSpec = next(cur, schema)
      val activeFrom = latestV + 1L
      val base = meta.eras.getOrElse(Seq(Era(1L, cur)))
      // consecutive evolutions between two commits MERGE into one era
      // (two eras with equal activeFrom would make resolution ambiguous)
      val eras = base.filterNot(_.activeFrom == activeFrom) :+
        Era(activeFrom, newSpec)
      require(eras.init.forall(_.activeFrom < activeFrom),
        s"new era activeFrom=$activeFrom precedes an existing one")
      // era file FIRST (authoritative), then the legacy property; a
      // crash between the two leaves a stale property nothing reads
      // (currentSpecStrings prefers the era log)
      write(tableDir, eras)
      val zoneProps =
        if (PartitionTransforms.needsPinnedZone(newSpec, schema) &&
            !props.contains(PartitionTransforms.ZoneKey))
          Map(PartitionTransforms.ZoneKey -> org.apache.spark.sql.internal
            .SQLConf.get.sessionLocalTimeZone)
        else Map.empty[String, String]
      // a bucket field added to a table that never had one (no prior
      // bucket era, no recorded derivation) starts on the v2 hash-
      // width-stable derivation — there are no old bucket dirs a new
      // hash could orphan. Tables with existing v1 bucket dirs keep v1.
      val bucketProps =
        if (newSpec.exists(_.isInstanceOf[PartitionTransforms.Bucket]) &&
            !props.contains(PartitionTransforms.BucketDerivationKey) &&
            !base.exists(_.spec.exists(
              _.isInstanceOf[PartitionTransforms.Bucket])))
          Map(PartitionTransforms.BucketDerivationKey -> "v2")
        else Map.empty[String, String]
      val nextProps =
        (if (newSpec.isEmpty) props
        else props + (TableMeta.PartitionKey ->
          PartitionTransforms.formatSpec(newSpec))) ++
          zoneProps ++ bucketProps
      TableMeta.writeProps(tableDir, nextProps)
      (PartitionTransforms.formatSpec(cur),
        PartitionTransforms.formatSpec(newSpec))
    }
}
