package graft.catalog

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

/** A table's metadata as one handle build read it: the declared schema,
  * the table properties (without [[TableMeta.PartitionKey]]), the current
  * partition spec strings, the field-id generations and the spec-era log.
  * `epoch` is the schema epoch of exactly the bytes these were parsed
  * from, so a handle can never pair one schema with another's epoch. */
private[graft] final case class TableMeta(
    schema: StructType,
    props: Map[String, String],
    partitionCols: Seq[String],
    fieldMeta: Option[FieldIds.Meta],
    eras: Option[Seq[SpecEras.Era]],
    epoch: String)

/** The one owner of a table's on-disk metadata layout:
  * {{{
  *   <table>/_graft_schema.json        declared schema (Spark DataType json)
  *   <table>/_graft_props.properties   table properties + legacy partition spec
  *   <table>/_graft_fields.tsv         field-id generations ([[FieldIds]])
  *   <table>/_graft_partspec.tsv       partition-spec eras ([[SpecEras]])
  * }}}
  * Both catalogs create tables through [[create]], and every
  * [[GraftTable]] handle is built by [[load]]. */
private[graft] object TableMeta {

  private val SchemaFile = "_graft_schema.json"
  private val PropsFile = "_graft_props.properties"
  private[catalog] val FieldsFile = "_graft_fields.tsv"
  private[catalog] val PartSpecFile = "_graft_partspec.tsv"

  /** The property carrying the partition spec. Once the era log exists
    * it is a mirror of the latest era, kept for older readers. */
  val PartitionKey = "graft.partition.columns"

  /** Whether `dir` holds a table (its declared schema). */
  def exists(dir: Path): Boolean = Files.exists(dir.resolve(SchemaFile))

  def readSchema(dir: Path): StructType = parseSchema(
    Files.readString(dir.resolve(SchemaFile)))

  private[catalog] def writeSchema(dir: Path, schema: StructType): Unit =
    Files.writeString(dir.resolve(SchemaFile), schema.json)

  /** The raw properties, [[PartitionKey]] included. */
  def readProps(dir: Path): Map[String, String] = loadProps(dir).asScala.toMap

  def writeProps(dir: Path, props: Map[String, String]): Unit = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    scala.util.Using.resource(Files.newOutputStream(dir.resolve(PropsFile)))(
      p.store(_, null))
  }

  private def loadProps(dir: Path): java.util.Properties = {
    val p = new java.util.Properties()
    val f = dir.resolve(PropsFile)
    if (Files.exists(f)) scala.util.Using.resource(Files.newInputStream(f))(p.load)
    p
  }

  /** Read each metadata file once; the epoch comes from the same bytes. */
  def read(dir: Path): TableMeta = {
    val schemaJson = Files.readString(dir.resolve(SchemaFile))
    val fields = readIfExists(dir.resolve(FieldsFile))
    val partSpec = readIfExists(dir.resolve(PartSpecFile))
    val p = loadProps(dir)
    val legacySpec = Option(p.getProperty(PartitionKey))
    p.remove(PartitionKey)
    val eras = partSpec.map(SpecEras.parse(_, dir.resolve(PartSpecFile)))
    TableMeta(parseSchema(schemaJson), p.asScala.toMap,
      SpecEras.currentSpecStrings(eras, legacySpec),
      fields.map(FieldIds.parse), eras,
      epoch(Some(schemaJson), fields, partSpec))
  }

  /** The one place a [[GraftTable]] handle is built. */
  def load(fullName: String, dir: Path, pinned: Option[Snapshots.Snap],
      branch: Option[String] = None,
      morCapOverride: Option[Long] = None): GraftTable =
    new GraftTable(fullName, dir, read(dir), pinned, branch, morCapOverride)

  /** Fingerprint of the schema-defining metadata: the declared schema,
    * the field ids and the spec eras. A commit re-reads it under the
    * table lock and aborts when it differs from its handle's
    * [[TableMeta.epoch]]: a concurrent ALTER (or partition-field change)
    * landed mid-write, and the write's files would be classified into
    * the new generation or era. Properties are left out on purpose: a
    * property change never changes how committed files resolve. */
  def epochOf(dir: Path): String = epoch(
    readIfExists(dir.resolve(SchemaFile)),
    readIfExists(dir.resolve(FieldsFile)),
    readIfExists(dir.resolve(PartSpecFile)))

  private def epoch(parts: Option[String]*): String =
    parts.map(_.getOrElse("")).mkString("\u0000")

  /** Create a table at `dir`: validate everything first, then write the
    * schema, the field ids, the properties and the empty v1 snapshot.
    * A calendar transform over a zoned TIMESTAMP pins `defaultZone`
    * unless `props` already name a zone (derive and prune must share one
    * zone across sessions), and a bucket transform records the v2
    * derivation, which hashes integral keys through BIGINT so a later
    * int→bigint promotion keeps every bucket dir valid. */
  def create(dir: Path, schema: StructType, spec: Seq[PartitionTransforms.T],
      props: Map[String, String], defaultZone: => String): Unit = {
    schema.fieldNames.foreach(MetaCatalog.requireLegalColumnName)
    val ids = FieldIds.synthesize(schema)
    FieldIds.requireRecordable(ids)
    spec.foreach(PartitionTransforms.validate(_, schema))
    val zone =
      if (!PartitionTransforms.needsPinnedZone(spec, schema)) None
      else Some(props.getOrElse(PartitionTransforms.ZoneKey, defaultZone))
    zone.foreach { z =>
      try java.time.ZoneId.of(z)
      catch { case e: java.time.DateTimeException =>
        throw new IllegalArgumentException(
          s"${PartitionTransforms.ZoneKey} '$z' is not a time zone", e) }
    }
    val all = props ++
      (if (spec.isEmpty) None
       else Some(PartitionKey -> PartitionTransforms.formatSpec(spec))) ++
      zone.map(PartitionTransforms.ZoneKey -> _) ++
      (if (spec.exists(_.isInstanceOf[PartitionTransforms.Bucket]))
        Some(PartitionTransforms.BucketDerivationKey -> "v2")
      else None)
    Files.createDirectories(dir.resolve("data"))
    writeSchema(dir, schema)
    FieldIds.write(dir, ids)
    if (all.nonEmpty) writeProps(dir, all)
    Snapshots.commit(dir, Seq.empty)
  }

  private def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  private def readIfExists(f: Path): Option[String] =
    if (Files.exists(f)) Some(Files.readString(f)) else None
}
