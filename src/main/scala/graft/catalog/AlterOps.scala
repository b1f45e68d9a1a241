package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The catalog-agnostic ALTER TABLE metadata transaction, shared by
  * [[MetaCatalog]] and [[RestCatalog]] (the REST catalog serves
  * POINTERS and every commit already
  * runs client-side against the table location, so schema evolution
  * does too, under the same per-table lock). Callers MUST hold
  * [[Snapshots.withRefsLock]] on `tableDir` — the transaction is
  * read-latest + field-id read-modify-write + schema write, and the
  * lock (shared with every snapshot commit) is what makes
  * `activeFrom = latest+1` safe against in-flight writers (whose
  * commits abort on the schema-epoch check instead of misclassifying
  * their files). */
object AlterOps {

  /** Apply `changes` to the table metadata at `tableDir`. See
    * [[MetaCatalog.alterTable]] for the semantics (field-id generations
    * for DROP/RENAME/type promotion, the guard set, property edits).
    * The caller holds the table lock. */
  def applyChanges(tableDir: Path, fullName: String,
      changes: Seq[TableChange]): Unit = {
    // TYPE changes: the Iceberg-legal WIDENINGS (spec §4 — int→long,
    // float→double, decimal precision growth at fixed scale) are
    // supported through the field-id generation machinery (a promotion
    // is a generation whose translation is a CAST); everything else
    // rejects — existing parquet keeps the narrow physical type and a
    // narrowing/kind-change would corrupt.
    // one read of the metadata: the caller holds the table lock
    val meta = TableMeta.read(tableDir)
    val before = meta.schema
    changes.foreach {
      case u: TableChange.UpdateColumnType =>
        val cur = before
        val n = u.fieldNames().mkString(".")
        val from = cur.fields.find(_.name == n).map(_.dataType).getOrElse(
          throw new IllegalArgumentException(s"no such column $n"))
        if (!MetaCatalog.legalWidening(from, u.newDataType()))
          throw new UnsupportedOperationException(
            s"ALTER COLUMN $n TYPE ${u.newDataType().simpleString}: only " +
              "the Iceberg-legal widenings are supported (int→bigint, " +
              "float→double, decimal precision growth at the same " +
              s"scale); $n is ${from.simpleString} — recreate the table " +
              "(CTAS) for other changes")
      case _ => ()
    }
    val schemaChanges = changes.filter {
      case _: TableChange.ColumnChange => true
      case _ => false
    }
    val propChanges = changes.filter {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (schemaChanges.nonEmpty) {
      // era-log aware: evolution's latest spec is authoritative;
      // guards must see the CURRENT sources, not a stale property
      val partSpec = meta.partitionCols.map(PartitionTransforms.parse)
      val eras = meta.eras.toSeq.flatten
      // partition SOURCES — identity columns and hidden-transform
      // sources alike: dir layouts and the prune mapping carry the name.
      // ALL ERAS, not just the current spec: a field dropped by
      // DROP PARTITION FIELD leaves old-era files whose dirs were
      // derived from the source — renaming it and re-ADDing a column
      // under the old name would make era pruning test the NEW column's
      // literals against the OLD column's dir values (e.g. an IS NULL
      // probe on the re-added column would wrongly prune all-NULL old
      // files outside the seed bucket). Loud rejection; CTAS migrates.
      val partSources = (partSpec.map(_.source) ++
        eras.flatMap(_.spec.map(_.source))).distinct
      // ERA-SOURCE RELEASE: a source referenced ONLY by
      // old eras (DROP PARTITION FIELD removed it from the current
      // spec) unblocks once NO file referenced by ANY surviving
      // snapshot or branch belongs to a referencing era — i.e. after
      // compact() migrated the live files to the latest era AND
      // expireSnapshots() dropped the history that still listed the
      // old-era files (time travel to those snapshots would otherwise
      // era-prune under the old spec again). From then on the column
      // is an ordinary column: DROP/RENAME/retype flow through the
      // usual generation machinery.
      def sourceReleased(n: String): Boolean = {
        if (partSpec.exists(_.source == n)) return false // current spec
        if (meta.eras.isEmpty) return false
        val refEras = eras.filter(_.spec.exists(_.source == n))
          .map(_.activeFrom).toSet
        if (refEras.isEmpty) return true
        val seen = FieldIds.firstSeen(tableDir)
        val referenced = (Snapshots.list(tableDir).flatMap(_.dataFiles) ++
          Snapshots.branchReferencedFiles(tableDir)
            .filterNot(Snapshots.isDeleteFile)).distinct
        !referenced.exists(f => refEras.contains(
          SpecEras.eraFor(eras, seen.getOrElse(f, Long.MaxValue)).activeFrom))
      }
      // ...and a new/renamed column must not collide with a DERIVED dir
      // column name (ts_day, k_bucket, ...): the next write's
      // withDerived would silently overwrite the user column's values
      // and partitionBy would then drop it from the files entirely
      // (CREATE TABLE validates the same collision). ALL ERAS, not just
      // the current spec: old-era files still carry the old transform's
      // dirs, and a data column with that name would be served from DIR
      // VALUES by partition inference on those files' reads.
      val derivedNames = (partSpec ++ eras.flatMap(_.spec))
        .filterNot(_.isIdentity).map(_.dirName).toSet
      def requireNoDirCollision(n: String): Unit =
        if (derivedNames.contains(n))
          throw new IllegalArgumentException(
            s"column name '$n' collides with a hidden partition " +
              "transform's derived directory column; pick another name")
      schemaChanges.foreach {
        case a: TableChange.AddColumn =>
          requireNoDirCollision(a.fieldNames().mkString("."))
        case r: TableChange.RenameColumn =>
          requireNoDirCollision(r.newName())
        case _ => ()
      }
      schemaChanges.foreach {
        case d: TableChange.DeleteColumn
            if partSources.contains(d.fieldNames().mkString(".")) &&
              !sourceReleased(d.fieldNames().mkString(".")) =>
          throw new IllegalArgumentException(
            s"cannot drop partition column ${d.fieldNames().mkString(".")}" +
              " (if only OLD partition-spec eras reference it, compact()" +
              " then expire_snapshots() releases it)")
        case r: TableChange.RenameColumn
            if partSources.contains(r.fieldNames().mkString(".")) &&
              !sourceReleased(r.fieldNames().mkString(".")) =>
          throw new IllegalArgumentException(
            s"cannot rename partition column ${r.fieldNames().mkString(".")}: " +
              "hive-layout data dirs (and transform dir names) carry the " +
              "physical name (if only OLD partition-spec eras reference " +
              "it, compact() then expire_snapshots() releases it)")
        case u: TableChange.UpdateColumnType
            if partSources.contains(u.fieldNames().mkString(".")) &&
              !sourceReleased(u.fieldNames().mkString(".")) =>
          // PROMOTION-STABLE sources are exempt: int→bigint on a
          // source whose every transform (any era) derives through a
          // width-canonical expression — bucket under the v2 derivation
          // (hash(cast(k AS BIGINT))), truncate (floor over cast-to-
          // long) — leaves every existing dir value exact. Anything
          // else (identity dirs parse under the declared type; v1
          // bucket hashes int and long differently) stays rejected.
          val n = u.fieldNames().mkString(".")
          val from = before.fields.find(_.name == n).map(_.dataType)
          val v2 = meta.props.get(PartitionTransforms.BucketDerivationKey)
            .exists(_.trim == "v2")
          val overSource = (partSpec ++ eras.flatMap(_.spec))
            .filter(_.source == n)
          val stable = from.contains(IntegerType) &&
            u.newDataType() == LongType && overSource.nonEmpty &&
            overSource.forall {
              case _: PartitionTransforms.Bucket => v2
              case _: PartitionTransforms.Trunc => true
              case _ => false
            }
          if (!stable) throw new IllegalArgumentException(
            s"cannot change the type of partition column $n: dir values " +
              "are parsed under the declared type (int→bigint is allowed " +
              "when every transform over the column is bucket under the " +
              "v2 hash derivation or truncate — both dir-stable)")
        case _ => ()
      }
      val evolved = schemaChanges.foldLeft(before)(
        MetaCatalog.applySchemaChange)
      // field-id bookkeeping: DROP/RENAME/promotion seal a generation
      // active from the NEXT snapshot; ADD extends the current
      // generation in place (a fresh id can never collide with old
      // files' physical names). Pre-snapshot (v1-era) tables have no
      // commit log to key generations on — generation-sealing changes
      // stay loudly rejected there.
      val latestV = Snapshots.latest(tableDir).map(_.version)
      schemaChanges.foreach {
        case r: TableChange.RenameColumn if latestV.isEmpty =>
          throw new UnsupportedOperationException(
            s"cannot rename column ${r.fieldNames().mkString(".")}: " +
              s"$fullName predates the snapshot log (no commit " +
              "history to key schema generations on); recreate the table " +
              "(CTAS) to rename")
        case d: TableChange.DeleteColumn if latestV.isEmpty =>
          // same hole as rename: with no commit log, the drop cannot
          // seal a generation, so a later re-ADD of the same name would
          // silently resurrect the dropped column's bytes
          throw new UnsupportedOperationException(
            s"cannot drop column ${d.fieldNames().mkString(".")}: " +
              s"$fullName predates the snapshot log (no commit " +
              "history to key schema generations on); recreate the table " +
              "(CTAS) to drop columns")
        case u: TableChange.UpdateColumnType if latestV.isEmpty =>
          // a promotion needs a generation boundary too
          throw new UnsupportedOperationException(
            s"cannot widen column ${u.fieldNames().mkString(".")}: " +
              s"$fullName predates the snapshot log (no commit " +
              "history to key schema generations on); recreate the table " +
              "(CTAS) to change types")
        case c @ (_: TableChange.RenameColumn | _: TableChange.DeleteColumn)
            if Snapshots.latest(tableDir)
              .exists(_.eqDeleteFiles.nonEmpty) =>
          // equality-delete sidecars record CURRENT column names; a
          // generation boundary would leave their keys pointing at
          // physical names old files don't carry — the scan-side mask
          // would silently miss. compact() folds the sidecars first.
          // TYPE PROMOTION is exempt: names are unchanged and
          // EqualityDeletes.loadBatches widens narrow sidecar keys to
          // the declared type at read, so pending masks stay exact.
          throw new IllegalStateException(
            s"cannot apply $c to $fullName: pending " +
              "equality-delete sidecars record current column names; " +
              "compact() the table first")
        case c @ (_: TableChange.RenameColumn | _: TableChange.DeleteColumn |
                  _: TableChange.UpdateColumnType)
            if Snapshots.branches(tableDir).nonEmpty =>
          // files staged on a WAP branch live outside the main log, so
          // generation resolution classifies them as CURRENT — a rename
          // sealed now would make their physical columns silently read
          // NULL after fast_forward publishes them at the new boundary
          throw new IllegalStateException(
            s"cannot apply $c to $fullName: branches " +
              Snapshots.branches(tableDir).map(_.name)
                .mkString("[", ",", "]") +
              " hold staged files that a schema-generation boundary " +
              "would misclassify; publish or drop them first")
        case _ => ()
      }
      val activeFrom = latestV.getOrElse(0L) + 1L
      var ids = meta.fieldMeta.getOrElse(FieldIds.synthesize(before))
      schemaChanges.foreach {
        case a: TableChange.AddColumn =>
          ids = FieldIds.addColumn(ids, a.fieldNames().head)
        case d: TableChange.DeleteColumn =>
          ids = FieldIds.dropColumn(ids, d.fieldNames().head, activeFrom)
        case r: TableChange.RenameColumn =>
          ids = FieldIds.renameColumn(ids, r.fieldNames().head, r.newName(),
            activeFrom)
        case u: TableChange.UpdateColumnType =>
          // promotion: stamp the OLD physical type into existing
          // generations and seal a boundary — old files read natively
          // widened (Spark's parquet reader serves int32/float/narrow
          // decimal under the wide declared schema), new files carry
          // the new type
          val oldType = before.fields
            .find(_.name == u.fieldNames().head).get.dataType
          ids = FieldIds.promoteColumn(ids, u.fieldNames().head,
            oldType.json, activeFrom)
          // bloom sidecars for the column hashed NARROW values (the
          // catalyst XxHash64 of Int and Long differ): a wide-value
          // probe against them would FALSE-NEGATIVE and silently prune
          // a file holding the key — drop them; addBlooms rebuilds
          dropColumnBlooms(tableDir, u.fieldNames().head)
        case _ => () // nullability/comment: names and ids unchanged
      }
      // fields FIRST: a crash between the two writes then leaves an
      // un-renamed declared schema over evolved field ids, and the next
      // scan FAILS LOUDLY (genSchema: "missing from field-id metadata");
      // the reverse order would leave a renamed schema over un-evolved
      // ids, which reads the renamed column as silent NULLs through the
      // single-generation fast path
      FieldIds.write(tableDir, ids)
      TableMeta.writeSchema(tableDir, evolved)
      // bloom-column bookkeeping: the recorded-columns property is
      // what lets compact() self-heal sidecars, so it must track the
      // schema — a DROPPED column leaves the record, a RENAMED column
      // renames it (its old-named sidecars are dropped; value hashes
      // are name-independent but lookups key on the current name, and
      // compact rebuilds under it). A PROMOTED column deliberately
      // keeps its record — that is the self-healing hook.
      locally {
        val props1 = TableMeta.readProps(tableDir)
        val rec = BloomSidecars.recordedColumns(props1)
        if (rec.nonEmpty) {
          var next = rec
          schemaChanges.foreach {
            case d: TableChange.DeleteColumn =>
              next = next.filterNot(_ == d.fieldNames().head)
            case r: TableChange.RenameColumn
                if next.contains(r.fieldNames().head) =>
              dropColumnBlooms(tableDir, r.fieldNames().head)
              next = next.map(c =>
                if (c == r.fieldNames().head) r.newName() else c)
            case _ => ()
          }
          if (next != rec)
            TableMeta.writeProps(tableDir,
              if (next.isEmpty) props1 - BloomSidecars.ColumnsKey
              else props1 +
                (BloomSidecars.ColumnsKey -> next.mkString(",")))
        }
      }
    }
    if (propChanges.nonEmpty) {
      val next = propChanges.foldLeft(TableMeta.readProps(tableDir)) {
        case (m, s: TableChange.SetProperty) => m + (s.property() -> s.value())
        case (m, r: TableChange.RemoveProperty) => m - r.property()
        case (m, _) => m
      }
      TableMeta.writeProps(tableDir, next)
    }
  }

  /** Delete every `blooms/<file>.<col>.bloom` sidecar of one column —
    * the type-promotion invalidation (sidecars are rebuildable metadata;
    * a missing sidecar just skips pruning, never corrupts). */
  private def dropColumnBlooms(tableDir: Path, col: String): Unit = {
    val dir = tableDir.resolve("blooms")
    if (!Files.isDirectory(dir)) return
    scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(s".$col.bloom"))
        .toList.foreach(Files.deleteIfExists(_))
    }
  }
}
