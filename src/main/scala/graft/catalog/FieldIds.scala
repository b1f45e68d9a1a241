package graft.catalog

import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.StructType

/** Iceberg-style FIELD-ID schema evolution for MetaCatalog tables — the
  * piece that makes RENAME COLUMN safe over name-mapped parquet, and
  * makes drop-then-re-add NOT resurrect old data (the classic field-ID
  * test; Iceberg spec §4 "Column Projection" assigns every column a
  * permanent id exactly for these two).
  *
  * Files written by this catalog carry no embedded field ids (Spark's
  * parquet writer has no public hook for them), so the mapping lives in
  * table metadata as a GENERATION LOG: each schema-changing ALTER
  * appends a generation `(activeFrom, id → physical name)` where
  * `activeFrom` is the first MAIN snapshot version whose new files were
  * written under that generation (= latest version + 1 at ALTER time).
  * A data file resolves through the generation active at the snapshot
  * where it FIRST appeared:
  *
  *  - renamed column: old files map current id → old physical name and
  *    serve the old bytes under the new name;
  *  - dropped id: absent from the current generation — its bytes are
  *    never served again, even if a later ADD re-uses the name (the
  *    re-added column has a fresh id, absent from old generations, so
  *    old files read NULL for it).
  *
  * On-disk format (`_graft_fields.tsv`): line 1 `nextId=<n>`, then one
  * `<activeFrom>\t<id>\t<name>` line per field per generation. Tables
  * created before this metadata existed synthesize a single generation
  * from the declared schema (ids by position) — zero behavior change
  * until the first rename.
  *
  * Scale note: per-file generation resolution scans the snapshot log
  * (first-seen version per file) — the same O(files) metadata Iceberg
  * keeps as a per-file schema-id in manifests; planning-time only,
  * never a data read. Concurrency: ALTER's metadata
  * transaction and every snapshot commit hold the same per-table lock
  * ([[Snapshots.withRefsLock]]), and commits re-validate the schema
  * epoch captured at handle build — a write planned pre-ALTER that
  * tries to commit post-ALTER aborts loudly instead of having its
  * old-name files classified into the new generation. */
object FieldIds {

  /** One schema generation: active for files first committed at
    * `activeFrom` or later (until the next generation). `types` records
    * a field's PHYSICAL type (Spark DataType json) where it differs from
    * the current declared type — i.e. the pre-promotion type of files
    * written under this generation (type PROMOTION; absent = the
    * current type, so files without the column parse unchanged). */
  final case class Gen(activeFrom: Long, names: Map[Int, String],
      types: Map[Int, String] = Map.empty) {
    def idOf(name: String): Option[Int] =
      names.collectFirst { case (i, n) if n == name => i }
  }

  final case class Meta(nextId: Int, gens: Seq[Gen]) {
    require(gens.nonEmpty && gens.map(_.activeFrom) == gens.map(_.activeFrom).sorted,
      s"generations must be non-empty and sorted: ${gens.map(_.activeFrom)}")
    def current: Gen = gens.last
    /** The generation a file first committed at `version` was written
      * under. Versions below every activeFrom (shouldn't happen) fall
      * back to the first generation. */
    def genFor(version: Long): Gen =
      gens.reverse.find(_.activeFrom <= version).getOrElse(gens.head)
    /** True once a rename/drop/add created a second generation. */
    def evolved: Boolean = gens.size > 1
  }

  /** The requested-schema name for a field id ABSENT from a file's
    * generation: guaranteed to match no physical column, so the parquet
    * reader serves NULL (never a stale same-named column's bytes). */
  val AbsentPrefix = "__graft_absent_"
  def absentName(id: Int): String = s"$AbsentPrefix$id"

  /** First main-snapshot version each file appeared in — the per-file
    * generation key (one metadata-only log scan; Iceberg stores this as
    * a manifest schema-id). */
  def firstSeen(tableDir: Path): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    Snapshots.list(tableDir).foreach(s =>
      s.files.foreach(f => if (!m.contains(f)) m.update(f, s.version)))
    m.toMap
  }

  /** Whether generation `g` resolves EVERY current field id to its
    * current physical name — i.e. the translation is the identity.
    * Files of such generations read correctly through the plain
    * declared-schema paths even though the Gen object differs: after a
    * pure DROP COLUMN the old generation merely carries an extra id
    * whose column is never requested. Only a RENAME (old name differs)
    * or a DROP + re-ADD (id absent ⇒ a same-named physical column is a
    * DIFFERENT field) breaks identity — those are the files that need
    * the generation-aware scan and must never be stats-pruned or
    * raw-read under current names. */
  def identityTranslated(meta: Meta, g: Gen): Boolean =
    meta.current.names.forall { case (id, name) =>
      g.names.get(id).contains(name)
    }
    // Recorded physical TYPES for live fields (pre-promotion narrow
    // files) deliberately do NOT break identity: every stamped type is
    // a legal widening by construction
    // ([[graft.catalog.MetaCatalog.legalWidening]] gates the ALTER —
    // int→bigint, float→double, decimal precision growth), and Spark
    // 4's parquet reader serves ALL of them natively under the
    // declared wide read schema, vectorized and row paths, with filter
    // pushdown intact (spec-pinned in CatalogV2Spec). Footer-stats
    // pruning stays exact too: [[ParquetStats]] compares narrow stats
    // against wide filter values losslessly. So promotion-only
    // generations keep every fast path — single vectorized scan,
    // upsert, changelog, deleteByKey, MERGE/UPDATE — with no compact
    // required; only a RENAME / DROP+re-ADD makes files opaque.

  /** The data files among `files` whose generation translation is NOT
    * the identity ([[identityTranslated]]) — the set every
    * name-keyed consumer (footer-stats pruning, raw declared-schema
    * reads) must treat as opaque. */
  def nonIdentityFiles(tableDir: Path, meta: Meta,
      files: Seq[String]): Set[String] =
    if (!meta.evolved) Set.empty
    else {
      val seen = firstSeen(tableDir)
      files.filter { f =>
        !identityTranslated(meta,
          meta.genFor(seen.getOrElse(f, Long.MaxValue)))
      }.toSet
    }

  /** Whether any of `files` was written under a generation whose
    * translation differs from the current schema — consumers without a
    * generation-aware read path (upsert, changelog) reject such tables
    * and advise compaction. */
  def hasOldGenFiles(tableDir: Path, meta: Meta, files: Seq[String]): Boolean =
    nonIdentityFiles(tableDir, meta, files).nonEmpty

  private def file(tableDir: Path): Path =
    tableDir.resolve(TableMeta.FieldsFile)

  /** Single generation synthesized from a declared schema (ids by
    * position, active from the first snapshot). */
  def synthesize(schema: StructType): Meta =
    Meta(schema.fields.length + 1,
      Seq(Gen(1L, schema.fields.zipWithIndex
        .map { case (f, i) => (i + 1) -> f.name }.toMap)))

  def read(tableDir: Path): Option[Meta] = {
    val f = file(tableDir)
    if (!Files.exists(f)) None else Some(parse(Files.readString(f)))
  }

  private[catalog] def parse(body: String): Meta = {
    val lines = body.linesIterator.filter(_.nonEmpty).toSeq
    val nextId = lines.head.stripPrefix("nextId=").toInt
    val gens = lines.tail.map { l =>
      // line: <activeFrom>\t<id>\t<name>[\t<physical-type-json>] — the
      // 4th column is the promotion extension; 3-column files (tables
      // that never promoted a type) parse unchanged
      val parts = l.split("\t", 4)
      (parts(0).toLong, parts(1).toInt, parts(2),
        if (parts.length == 4 && parts(3).nonEmpty) Some(parts(3)) else None)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (af, rows) =>
      Gen(af, rows.map(r => r._2 -> r._3).toMap,
        rows.collect { case (_, id, _, Some(tj)) => id -> tj }.toMap)
    }
    Meta(nextId, gens)
  }

  /** Reject names the line format cannot hold (tab, newline). */
  def requireRecordable(meta: Meta): Unit =
    meta.gens.flatMap(_.names.values).foreach { n =>
      require(!n.contains("\t") && !n.contains("\n"),
        s"column name '$n' cannot be recorded in field-id metadata")
    }

  def write(tableDir: Path, meta: Meta): Unit = {
    requireRecordable(meta)
    val body = (s"nextId=${meta.nextId}" +:
      meta.gens.flatMap(g => g.names.toSeq.sortBy(_._1).map {
        case (id, n) => g.types.get(id) match {
          case Some(tj) => s"${g.activeFrom}\t$id\t$n\t$tj"
          case None => s"${g.activeFrom}\t$id\t$n"
        }
      })).mkString("\n")
    val tmp = file(tableDir).resolveSibling(
      s".fields.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, file(tableDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Append (or merge into) a generation active from `activeFrom` with
    * the given id→name mapping. Consecutive ALTERs between two commits
    * share one activeFrom — they MERGE into one generation (two gens
    * with equal activeFrom would make resolution ambiguous). */
  private def withGen(meta: Meta, activeFrom: Long,
      names: Map[Int, String], nextId: Int): Meta = {
    val kept = meta.gens.filterNot(_.activeFrom == activeFrom)
    require(kept.forall(_.activeFrom < activeFrom),
      s"new generation activeFrom=$activeFrom precedes an existing one")
    // the new CURRENT generation inherits the current one's recorded
    // physical types (fields promoted earlier keep their record; the
    // usual case is empty = declared types)
    Meta(nextId, kept :+ Gen(activeFrom, names, meta.current.types))
  }

  /** TYPE PROMOTION (Iceberg spec §4 legal widenings): seal
    * a generation boundary at `activeFrom` and stamp `oldTypeJson` into
    * every EXISTING generation carrying the field (their files hold the
    * narrow physical type; generations that already recorded a type —
    * an earlier promotion — keep it). The new current generation does
    * NOT record the field: its files carry the new declared type. */
  def promoteColumn(meta: Meta, name: String, oldTypeJson: String,
      activeFrom: Long): Meta = {
    val id = meta.current.idOf(name).getOrElse(
      throw new IllegalArgumentException(s"no such column $name"))
    val stamped = meta.gens.map { g =>
      if (g.names.contains(id) && !g.types.contains(id))
        g.copy(types = g.types + (id -> oldTypeJson))
      else g
    }
    val kept = stamped.filterNot(_.activeFrom == activeFrom)
    require(kept.forall(_.activeFrom < activeFrom),
      s"new generation activeFrom=$activeFrom precedes an existing one")
    Meta(meta.nextId,
      kept :+ Gen(activeFrom, meta.current.names,
        (stamped.last.types - id).filter { case (i, _) =>
          meta.current.names.contains(i) }))
  }

  /** ADD COLUMN extends the CURRENT generation IN PLACE — no new
    * generation: a fresh id can never collide with any old file's
    * physical names (files written before the add simply lack the
    * column and read NULL), and sealing a generation here would wrongly
    * mark every existing current-generation file as old-generation,
    * tripping the compact-first rejections for a plain ADD. */
  def addColumn(meta: Meta, name: String): Meta = {
    require(meta.current.idOf(name).isEmpty, s"column $name already mapped")
    Meta(meta.nextId + 1, meta.gens.init :+
      meta.current.copy(names = meta.current.names + (meta.nextId -> name)))
  }

  def dropColumn(meta: Meta, name: String, activeFrom: Long): Meta =
    meta.current.idOf(name) match {
      case Some(id) =>
        withGen(meta, activeFrom, meta.current.names - id, meta.nextId)
      case None => meta // IF EXISTS drop of an unmapped column
    }

  def renameColumn(meta: Meta, from: String, to: String,
      activeFrom: Long): Meta = {
    val id = meta.current.idOf(from).getOrElse(
      throw new IllegalArgumentException(s"no such column $from"))
    require(meta.current.idOf(to).isEmpty,
      s"cannot rename $from to $to: $to already exists")
    withGen(meta, activeFrom,
      meta.current.names + (id -> to), meta.nextId)
  }
}
