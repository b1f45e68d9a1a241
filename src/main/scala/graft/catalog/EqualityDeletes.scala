package graft.catalog

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

/** Equality-delete sidecars — Iceberg v2's SECOND delete-file type
  * (iceberg-rust ships both, Cargo.lock:2149-2151; position deletes
  * are [[DeleteSidecars]]). A DELETE-BY-KEY commits a parquet sidecar under
  * `deletes/eq_<uuid>/` whose columns ARE the equality fields and whose
  * rows are the deleted key tuples — O(keys) metadata, no data file
  * read or rewritten, no positions computed. This is the streaming
  * CDC/upsert delete path: at 100 TB a CDC consumer deletes by key
  * without knowing where the rows live.
  *
  * Applicability (Iceberg's sequence-number rule, rendered in snapshot
  * versions): a sidecar committed at version vB masks a row of data
  * file f iff `firstSeen(f) < vB` and the row's key tuple equals one of
  * the sidecar's rows. STRICTLY less: files committed at or after vB —
  * including the data files of a MOR upsert that commits new rows and
  * the eq-delete of their keys in one snapshot — are never masked, so
  * re-inserting a deleted key works without ceremony.
  *
  * Scale contract: sidecars are SMALL BY CONSTRUCTION (a key set that
  * doesn't fit a broadcast belongs in a copy-on-write rewrite); scans
  * load them driver-side into per-batch hash sets guarded by
  * [[MaxKeysKey]] — past the cap, reads fail loudly advising
  * compaction, never a silent driver OOM. Key columns are restricted to
  * atomic orderable types (the hash-set tuple compare must match the
  * reader's catalyst values exactly). */
object EqualityDeletes {

  val MaxKeysKey = "graft.eqdel.maxKeys"
  val MaxKeysDefault: Long = 4L * 1024 * 1024

  /** Types whose catalyst representation hash-compares reliably between
    * a converted literal and a read row (no Array[Byte] reference
    * equality, no nested containers). */
  def supportedKeyType(dt: DataType): Boolean = dt match {
    case _: BooleanType | _: ByteType | _: ShortType | _: IntegerType |
         _: LongType | _: FloatType | _: DoubleType | _: StringType |
         _: DateType | _: TimestampType | _: TimestampNTZType |
         _: DecimalType => true
    case _ => false
  }

  /** One eq-delete commit, loaded: `version` is the snapshot that added
    * the sidecar, `cols`/`types` its key schema, `keys` the tuple set
    * in CATALYST form (UTF8String, Long micros, Decimal, ...). */
  final case class Batch(version: Long, cols: Seq[String],
      types: Seq[DataType], keys: Set[Seq[Any]]) extends Serializable

  /** Normalize a key value for the HASH-SET compare: -0.0 → 0.0 for
    * float/double, because the set compares boxed values
    * (`java.lang.Double.equals`: 0.0 != -0.0) while every SQL-level
    * consumer compares with `<=>` (0.0 = -0.0) — without this, a
    * -0.0-keyed row would be treated as deleted by rewrites/changelog
    * but still served by interactive scans. Applied to
    * BOTH the key set (at load) and the read-side values
    * ([[org.apache.spark.sql.graftaccess.MorScans]]). NaN needs no
    * handling: `Double.equals` and `<=>` both treat NaN = NaN as true. */
  def normKeyValue(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case other => other
  }

  /** Group sidecar part-files by their `deletes/eq_<uuid>/` commit dir
    * (one [[Batch]] per commit). */
  private def groupByCommit(eqFiles: Seq[String]): Seq[(String, Seq[String])] =
    eqFiles.groupBy { rel =>
      val rest = rel.stripPrefix("deletes/")
      "deletes/" + rest.substring(0, math.max(rest.indexOf('/'), 0))
    }.toSeq.sortBy(_._1)

  /** Load the pending equality-delete batches of a snapshot. Driver-side
    * collect of small-by-contract sidecars, guarded by [[MaxKeysKey]].
    * `addVersion` maps a sidecar path to the version that committed it
    * ([[FieldIds.firstSeen]] over the snapshot log — same metadata the
    * generation machinery already maintains). `declared` is the schema
    * the caller reads data files under: sidecars committed BEFORE a
    * type promotion carry the NARROW key type, read values arrive
    * natively widened to the declared type, so the key set is widened
    * to it too (exact — only legal widenings are castable here) or the
    * hash compare would silently miss (CDC keeps flowing across a
    * promotion, no compact required). It is the caller's schema, not a
    * fresh read: keys must widen to the types the caller's scan serves,
    * even when an ALTER committed since the caller's handle was built. */
  def loadBatches(spark: SparkSession, tableDir: Path, declared: StructType,
      eqFiles: Seq[String], addVersion: String => Long,
      maxKeys: Long): Seq[Batch] = {
    var total = 0L
    groupByCommit(eqFiles).map { case (commitDir, files) =>
      val version = files.map(addVersion).min
      val raw = spark.read.parquet(
        files.map(f => tableDir.resolve(f).toString): _*)
      val df = raw.select(raw.schema.fields.map { f =>
        declared.fields.find(_.name == f.name).map(_.dataType) match {
          case Some(dt) if dt != f.dataType &&
              MetaCatalog.legalWidening(f.dataType, dt) =>
            col(f.name).cast(dt).as(f.name)
          case _ => col(f.name)
        }
      }.toIndexedSeq: _*)
      val schema = df.schema
      schema.fields.foreach { f =>
        require(supportedKeyType(f.dataType),
          s"equality-delete sidecar $commitDir has unsupported key type " +
            s"${f.dataType.simpleString} for column ${f.name}")
      }
      val conv = schema.fields.map(f =>
        CatalystTypeConverters.createToCatalystConverter(f.dataType))
      def overflow(): Nothing = throw new IllegalStateException(
        s"equality-delete key count for $tableDir exceeds $MaxKeysKey=" +
          s"$maxKeys (${eqFiles.length} sidecar file(s)); run " +
          "CALL <cat>.system.compact(...) to fold deletes into data " +
          "files, or raise the limit")
      // guard BEFORE collect: parquet footer row counts bound the
      // driver-side materialization, so one oversized sidecar fails
      // loudly instead of OOMing the driver first
      // commit-time stats cache serves the row counts (live-footer
      // fallback per uncached sidecar)
      val sidecarStats = FileStatsCache.forTable(tableDir,
        spark.sparkContext.hadoopConfiguration)
      val footerRows = files.map(sidecarStats.rowCount).sum
      if (total + footerRows > maxKeys) overflow()
      val rows = df.collect()
      total += rows.length
      if (total > maxKeys) overflow()
      val keys = rows.iterator.map { r =>
        schema.indices.map(i => normKeyValue(conv(i)(r.get(i)))): Seq[Any]
      }.toSet
      Batch(version, schema.fieldNames.toSeq,
        schema.fields.map(_.dataType).toSeq, keys)
    }
  }

  /** DataFrame-level application of BOTH sidecar types — the rewrite /
    * changelog / upsert consumer path (scans apply them in the reader
    * instead). `df` must be a V1 parquet read over files of `dataFiles`
    * with `_metadata` resolvable. Position deletes anti-join on (file,
    * pos); each equality batch anti-joins on its key columns restricted
    * to data files first-seen before the batch's version. */
  def applyAll(df: DataFrame, spark: SparkSession, tableDir: Path,
      declared: StructType, dataFiles: Seq[String],
      deleteFiles: Seq[String]): DataFrame = {
    val (eq, pos) = deleteFiles.partition(Snapshots.isEqualityDeleteFile)
    val posApplied =
      DeleteSidecars.applyDeletes(df, spark, tableDir, dataFiles, pos)
    if (eq.isEmpty || dataFiles.isEmpty) return posApplied
    val firstSeen = FieldIds.firstSeen(tableDir)
    val maxKeys = spark.conf.getOption(MaxKeysKey).map(_.toLong)
      .getOrElse(MaxKeysDefault)
    val batches = loadBatches(spark, tableDir, declared, eq,
      f => firstSeen.getOrElse(f, Long.MaxValue), maxKeys)
    // per-file applicability by _metadata.file_path → first-seen version
    val uriToSeen = dataFiles.map(rel =>
      DeleteSidecars.sparkFileUri(tableDir.resolve(rel)) ->
        firstSeen.getOrElse(rel, Long.MaxValue))
    val seenDf = spark.createDataFrame(uriToSeen).toDF("__uri", "__fseen")
    val tagged = posApplied.join(broadcast(seenDf),
      col("_metadata.file_path") === col("__uri"), "left")
    val masked = batches.foldLeft(tagged) { (acc, b) =>
      val scalaRows = b.keys.toSeq.map { tuple =>
        org.apache.spark.sql.Row.fromSeq(tuple.zip(b.types).map {
          case (v, dt) => CatalystTypeConverters.convertToScala(v, dt)
        })
      }
      val keysDf = spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(scalaRows).asJava,
        StructType(b.cols.zip(b.types).map { case (c, t) =>
          StructField(c, t) }))
      val cond = b.cols.map(c => acc(c) <=> keysDf(c)).reduce(_ && _) &&
        col("__fseen") < lit(b.version)
      acc.join(broadcast(keysDf), cond, "left_anti")
    }
    masked.drop("__uri", "__fseen")
  }
}
