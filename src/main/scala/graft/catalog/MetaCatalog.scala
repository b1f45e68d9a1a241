package graft.catalog

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog-managed snapshot tables behind a Spark DSv2 `TableCatalog with
  * SupportsNamespaces` — the rebuild's stand-in for the reference's
  * Iceberg SQL catalog (`iceberg-sql-catalog`, Cargo.lock:2204, wired at
  * iceberg-datafusion-arrow-flight-sql/src/main.rs:73): multi-level
  * namespaces, schema'd tables, snapshot commits, time travel, all
  * addressable as `graft.ns.table` from SQL (SURVEY §1.1, §7-M2).
  *
  * Layout under the warehouse root:
  * {{{
  *   <warehouse>/<ns>/<table>/_graft_*                  table metadata ([[TableMeta]])
  *   <warehouse>/<ns>/<table>/_graft_snapshots/v*.snap  commit log (Snapshots)
  *   <warehouse>/<ns>/<table>/data/...                  parquet data files
  * }}}
  *
  * Tables carry the Iceberg-shaped semantics the reference gets from
  * `datafusion_iceberg`: snapshot-isolated commits (INSERT INTO /
  * INSERT OVERWRITE append one immutable snapshot each), `VERSION AS OF` /
  * `TIMESTAMP AS OF` time travel, copy-on-write `DELETE FROM`, ALTER TABLE
  * schema evolution (add/drop column — old files resolve by name, added
  * columns read as NULL), and identity-partitioned tables with hive-layout
  * data dirs (partition pruning comes free from the Parquet file index).
  */
class MetaCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  /** `CALL <cat>.system.<proc>(...)` — see [[Procedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    Procedures.load(catalogName, ident)
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (java.util.Arrays.equals(namespace.asInstanceOf[Array[AnyRef]],
        Procedures.Namespace.asInstanceOf[Array[AnyRef]])) Procedures.list()
    else Array.empty

  private var catalogName: String = _
  private var warehouse: Path = _
  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(options.getOrDefault("warehouse",
      sys.props("java.io.tmpdir") + s"/graft_warehouse_$name"))
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  // --- namespaces -------------------------------------------------------

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(warehouse)((p, n) => p.resolve(n))

  private def listDir[A](p: Path)(f: Iterator[Path] => A): A =
    scala.util.Using.resource(Files.list(p))(st => f(st.iterator().asScala))

  override def listNamespaces(): Array[Array[String]] =
    listDir(warehouse)(_.filter(Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString)).toArray)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    listDir(p)(_.filter(d =>
        Files.isDirectory(d) && !TableMeta.exists(d))
      .map(d => namespace :+ d.getFileName.toString).toArray)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(nsPath(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = ()

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p)) return false
    if (!cascade && listDir(p)(_.nonEmpty))
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    deleteRecursively(p)
    true
  }

  // --- tables -----------------------------------------------------------

  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(ident.name())

  private def fullName(ident: Identifier): String =
    s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}"

  private def buildTable(ident: Identifier, pinned: Option[Snapshots.Snap],
      branch: Option[String] = None): GraftTable =
    TableMeta.load(fullName(ident), tablePath(ident), pinned, branch)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!Files.isDirectory(p))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    listDir(p)(_.filter(TableMeta.exists)
      .map(d => Identifier.of(namespace, d.getFileName.toString)).toArray)
  }

  override def tableExists(ident: Identifier): Boolean =
    TableMeta.exists(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      // Iceberg-style metadata table: `cat.ns.t.snapshots` arrives as
      // namespace [ns, t] + name "snapshots" — serve the commit log.
      if (ident.name() == "snapshots" && ident.namespace().nonEmpty) {
        val base = Identifier.of(ident.namespace().init, ident.namespace().last)
        if (tableExists(base))
          return new SnapshotsTable(s"${fullName(base)}.snapshots", tablePath(base))
      }
      // `cat.ns.t.files`: the current snapshot's data-file inventory.
      if (ident.name() == "files" && ident.namespace().nonEmpty) {
        val base = Identifier.of(ident.namespace().init, ident.namespace().last)
        if (tableExists(base))
          return new FilesTable(s"${fullName(base)}.files", tablePath(base))
      }
      // `cat.ns.t.refs`: the named tags (Iceberg refs metadata table).
      if (ident.name() == "refs" && ident.namespace().nonEmpty) {
        val base = Identifier.of(ident.namespace().init, ident.namespace().last)
        if (tableExists(base))
          return new RefsTable(s"${fullName(base)}.refs", tablePath(base))
      }
      // `cat.ns.t.partitions`: per-partition file/row/byte counts of the
      // current snapshot (Iceberg partitions metadata table).
      if (ident.name() == "partitions" && ident.namespace().nonEmpty) {
        val base = Identifier.of(ident.namespace().init, ident.namespace().last)
        if (tableExists(base))
          return new PartitionsTable(s"${fullName(base)}.partitions",
            tablePath(base))
      }
      // `cat.ns.t.branch_<name>`: a READ-WRITE handle on a WAP branch
      // (Iceberg's Spark branch-write surface) — reads see the branch
      // head, writes stage on the branch's private log; main untouched.
      if (ident.name().startsWith("branch_") && ident.namespace().nonEmpty) {
        val base = Identifier.of(ident.namespace().init, ident.namespace().last)
        val bname = ident.name().stripPrefix("branch_")
        if (tableExists(base) &&
            Snapshots.branches(tablePath(base)).exists(_.name == bname))
          return buildTable(base, pinned = None, branch = Some(bname))
      }
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    }
    buildTable(ident, pinned = None)
  }

  /** `SELECT ... FROM t VERSION AS OF <n | 'tag'>` — a numeric version
    * resolves directly; any other string resolves as a named tag
    * ([[Snapshots.createTag]]; tag names are forbidden from being
    * numeric, so the dispatch is unambiguous). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val snap = version.toLongOption match {
      case Some(v) => Snapshots.byVersion(tablePath(ident), v).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot v$v for ${fullName(ident)}; have versions " +
            Snapshots.list(tablePath(ident)).map(_.version)
              .mkString("[", ",", "]")))
      case None => Snapshots.byTag(tablePath(ident), version)
        // not a tag: resolve as a branch head (the AUDIT read of the
        // write-audit-publish flow); tag/branch names share a namespace
        .orElse(Snapshots.branchHead(tablePath(ident), version))
        .getOrElse(throw new IllegalArgumentException(
          s"no tag or branch '$version' for ${fullName(ident)}; have tags " +
            Snapshots.tags(tablePath(ident)).map(_.name)
              .mkString("[", ",", "]") + " and branches " +
            Snapshots.branches(tablePath(ident)).map(_.name)
              .mkString("[", ",", "]")))
    }
    buildTable(ident, Some(snap))
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF <ts>` (Spark hands micros). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val tsMillis = timestampMicros / 1000L
    val snap = Snapshots.byTimestamp(tablePath(ident), tsMillis).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot of ${fullName(ident)} at or before epoch-millis $tsMillis"))
    buildTable(ident, Some(snap))
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    val schema = new StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    // identity columns plus hidden transforms: days(ts), bucket(n, col),
    // truncate(w, col), ...
    TableMeta.create(tablePath(ident), schema,
      PartitionTransforms.fromSparkTransforms(partitions.toSeq),
      properties.asScala.toMap,
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    buildTable(ident, pinned = None)
  }

  /** Schema evolution through FIELD IDS ([[FieldIds]], Iceberg spec §4):
    * ADD COLUMN reads as NULL from pre-evolution files; DROP COLUMN
    * hides the column without rewrite AND seals a schema generation, so
    * a later re-ADD of the same name (fresh id) never resurrects the
    * dropped column's bytes; RENAME COLUMN keeps the field id and maps
    * old files' physical name at read time — no data rewrite. Type
    * changes are limited to the legal widenings ([[legalWidening]]).
    *
    * Serialization: the whole metadata transaction —
    * read-latest, field-id read-modify-write, schema write — runs under
    * the table's cross-process lock ([[Snapshots.withRefsLock]]), the
    * SAME lock every snapshot commit takes, so `activeFrom = latest+1`
    * cannot be invalidated by an in-flight writer (a write planned
    * before the ALTER that tries to commit after it aborts on the
    * schema-epoch check in GraftTable instead of misclassifying its
    * files), and two concurrent ALTERs can no longer lose one's
    * field-id allocation to a last-write-wins race. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // existence check BEFORE the lock, re-checked inside for the
    // drop-table race; withRefsLock itself REQUIRES the dir (creating
    // it would leave a stray warehouse dir on this path), so a DROP
    // landing between the check and the lock
    // surfaces here as a missing dir → map it back to the proper
    // NoSuchTableException.
    if (!tableExists(ident))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    try Snapshots.withRefsLock(tablePath(ident)) {
      alterTableLocked(ident, changes)
    } catch {
      // ONLY the dedicated missing-dir failure maps to NoSuchTable: a
      // legitimate ALTER rejection that happens to use
      // IllegalStateException (pending-eq-sidecar guard, branch guard)
      // racing a concurrent DROP must surface AS ITSELF, not be
      // reported as a missing table.
      case _: Snapshots.TableDirMissingException =>
        throw new NoSuchTableException(
          (ident.namespace() :+ ident.name()).toSeq)
    }
  }

  private def alterTableLocked(ident: Identifier,
      changes: Seq[TableChange]): Table = {
    if (!tableExists(ident))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    AlterOps.applyChanges(tablePath(ident), fullName(ident), changes)
    buildTable(ident, pinned = None)
  }


  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    deleteRecursively(tablePath(ident))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent))
      throw new NoSuchTableException((oldIdent.namespace() :+ oldIdent.name()).toSeq)
    // RENAME TO arrives with the target spelled as the user typed it —
    // possibly catalog-qualified or bare; normalize to this catalog's
    // namespace layout.
    val targetNs = newIdent.namespace() match {
      case ns if ns.isEmpty => oldIdent.namespace()
      case ns if ns.head == catalogName => ns.drop(1)
      case ns => ns
    }
    Files.move(tablePath(oldIdent),
      tablePath(Identifier.of(targetNs, newIdent.name())))
  }

  private def deleteRecursively(p: Path): Unit =
    scala.util.Using.resource(Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
}

object MetaCatalog {
  /** Top-level add/drop/nullability/comment evolution (nested fields are
    * rejected — partition-scale tables evolve flat columns). */
  private[catalog] def applySchemaChange(schema: StructType, change: TableChange): StructType = {
    import org.apache.spark.sql.types.StructField
    def topLevel(fieldNames: Array[String]): String = {
      if (fieldNames.length != 1) throw new UnsupportedOperationException(
        s"nested-field evolution not supported: ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    change match {
      case a: TableChange.AddColumn =>
        val n = topLevel(a.fieldNames())
        MetaCatalog.requireLegalColumnName(n)
        if (schema.fieldNames.contains(n))
          throw new IllegalArgumentException(s"column $n already exists")
        schema.add(StructField(n, a.dataType(), a.isNullable))
      case d: TableChange.DeleteColumn =>
        val n = topLevel(d.fieldNames())
        if (!schema.fieldNames.contains(n) && !d.ifExists())
          throw new IllegalArgumentException(s"no such column $n")
        new StructType(schema.fields.filterNot(_.name == n))
      case r: TableChange.RenameColumn =>
        val n = topLevel(r.fieldNames())
        MetaCatalog.requireLegalColumnName(r.newName())
        if (!schema.fieldNames.contains(n))
          throw new IllegalArgumentException(s"no such column $n")
        if (schema.fieldNames.contains(r.newName()))
          throw new IllegalArgumentException(
            s"cannot rename $n to ${r.newName()}: column already exists")
        new StructType(schema.fields.map(f =>
          if (f.name == n) f.copy(name = r.newName()) else f))
      case u: TableChange.UpdateColumnType =>
        val n = topLevel(u.fieldNames())
        if (!schema.fieldNames.contains(n))
          throw new IllegalArgumentException(s"no such column $n")
        new StructType(schema.fields.map(f =>
          if (f.name == n) f.copy(dataType = u.newDataType()) else f))
      case u: TableChange.UpdateColumnNullability =>
        val n = topLevel(u.fieldNames())
        new StructType(schema.fields.map(f =>
          if (f.name == n) f.copy(nullable = u.nullable()) else f))
      case c: TableChange.UpdateColumnComment =>
        val n = topLevel(c.fieldNames())
        new StructType(schema.fields.map(f =>
          if (f.name == n) f.withComment(c.newComment()) else f))
      case other => throw new UnsupportedOperationException(s"unsupported change: $other")
    }
  }

  /** The Iceberg-legal type widenings (spec §4): int→long,
    * float→double, decimal precision growth at the same scale. The
    * no-op (same type) is legal too. */
  private[catalog] def legalWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (f, t) if f == t => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision >= f.precision
      case _ => false
    }
  }

  /** Reject column names in the reserved absent-marker namespace: a
    * user column literally named `__graft_absent_<n>` could match an
    * old-generation scan's request for a DROPPED field id and serve real
    * bytes where NULL is required. Enforced at CREATE TABLE (both
    * catalogs, [[TableMeta.create]]), ADD COLUMN and RENAME ... TO. */
  private[catalog] def requireLegalColumnName(name: String): Unit =
    if (name.startsWith(FieldIds.AbsentPrefix))
      throw new IllegalArgumentException(
        s"column name '$name' is reserved (the '${FieldIds.AbsentPrefix}' " +
          "prefix marks dropped fields in old schema generations)")
}
