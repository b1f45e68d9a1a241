package graft.catalog

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.sources._
import org.apache.spark.util.sketch.BloomFilter

/** Per-(file, column) bloom-filter sidecars — point-lookup file skipping
  * for catalog tables, the rebuild of Iceberg's puffin blob stats.
  * Footer min/max ([[ParquetStats]]) prunes RANGE predicates but is
  * blind to point lookups over interleaved keys: two files whose key
  * ranges overlap both "may match" `k = 7` even when only one contains
  * it. A few-KB bloom per (file, column) answers that membership
  * question at metadata cost, so a point DELETE/MERGE over 100 TB
  * rewrites only the files that really hold the key.
  *
  * Sidecars are built by [[Maintenance.addBlooms]] in ONE distributed
  * pass and keyed by the data file's (unique, job-UUID-stamped) name —
  * a copy-on-write rewrite produces NEW file names, so stale sidecars
  * can never be consulted for a rewritten file; a file without a
  * sidecar is simply not pruned. Strictly CONSERVATIVE, like
  * [[ParquetStats]]: only a bloom-NEGATIVE (provably absent) skips a
  * file; false positives cost a wasted rewrite, never a wrong result.
  *
  * Membership tests hash with the SAME catalyst `XxHash64` expression
  * [[graft.operators.BloomJoin.bloomAgg]] used at build time, over a
  * literal of the filter value's own type — identical by construction.
  * Only common key types are reasoned about (int/long/short/byte/
  * string); anything else stays conservative.
  */
object BloomSidecars {

  /** Table property listing the columns [[Maintenance.addBlooms]] has
    * indexed (comma-separated) — the durable record that lets
    * compact() RE-DERIVE sidecars for its rewritten files without a
    * manual addBlooms run (r18): a type promotion drops the column's
    * sidecar FILES (stale narrow hashes would false-negative) but
    * keeps this property, so the next compact restores point-lookup
    * pruning automatically. */
  val ColumnsKey = "graft.blooms.columns"

  private[catalog] def recordedColumns(props: Map[String, String]): Seq[String] =
    props.get(ColumnsKey).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)

  private def bloomsDir(tableDir: Path): Path = tableDir.resolve("blooms")

  /** Whether the table has any bloom sidecar: without one, pruning
    * skips the per-file sidecar lookups. */
  def present(tableDir: Path): Boolean = Files.isDirectory(bloomsDir(tableDir))

  /** Sidecar path for a data file's RELATIVE path and a column. Keyed
    * by file NAME: part files embed the writing job's UUID, so names
    * are unique within a table and survive partition-dir nesting. */
  def sidecarPath(tableDir: Path, relFile: String, column: String): Path =
    bloomsDir(tableDir).resolve(
      java.nio.file.Paths.get(relFile).getFileName.toString +
        s".$column.bloom")

  private[catalog] def write(tableDir: Path, relFile: String,
      column: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(bloomsDir(tableDir))
    Files.write(sidecarPath(tableDir, relFile, column), bytes)
  }

  /** Hash a filter value exactly as the build-time aggregate hashed the
    * column values; None → type not reasoned about → conservative. */
  private def hashOf(v: Any): Option[Long] = v match {
    case null => None
    case (_: Int | _: Long | _: Short | _: Byte | _: String) =>
      try Some(new XxHash64(Seq(Literal(v))).eval(null).asInstanceOf[Long])
      catch { case _: Exception => None }
    case _ => None
  }

  private def loadBloom(tableDir: Path, relFile: String,
      column: String): Option[BloomFilter] = {
    val p = sidecarPath(tableDir, relFile, column)
    if (!Files.isRegularFile(p)) None
    else try Some(BloomFilter.readFrom(
        new ByteArrayInputStream(Files.readAllBytes(p))))
      catch { case _: Exception => None }
  }

  /** Could any row of `relFile` satisfy the conjunction of `filters`,
    * as far as this file's bloom sidecars can tell? Only point-lookup
    * conjuncts (`=`, `IN`, null-safe `=`) consult a bloom; everything
    * else is `true`. AND both sides must may-match; OR/NOT stay
    * conservative. Each (file, column) sidecar is read and
    * deserialized at most ONCE per call — the caller loops this over
    * every candidate file, so redundant I/O would scale with
    * conjuncts × files. */
  def mayMatchAll(tableDir: Path, relFile: String,
      filters: Seq[Filter]): Boolean = {
    val cache = scala.collection.mutable.Map.empty[String, Option[BloomFilter]]
    def bloom(column: String): Option[BloomFilter] =
      cache.getOrElseUpdate(column, loadBloom(tableDir, relFile, column))
    def mayMatch(f: Filter): Boolean = f match {
      case EqualTo(a, v) => pointMayMatch(bloom(a), Seq(v))
      case EqualNullSafe(a, v) if v != null => pointMayMatch(bloom(a), Seq(v))
      case In(a, vs) if vs != null && vs.nonEmpty =>
        pointMayMatch(bloom(a), vs.toSeq)
      case And(l, r) => mayMatch(l) && mayMatch(r)
      case _ => true
    }
    filters.forall(mayMatch)
  }

  /** False only when a sidecar exists for the column AND every value
    * hashes to a known type AND the bloom rejects all of them. */
  private def pointMayMatch(bloom: Option[BloomFilter],
      values: Seq[Any]): Boolean =
    bloom match {
      case None => true
      case Some(bf) =>
        values.exists(v => hashOf(v) match {
          case None => true // unreasoned type: may match
          case Some(h) => bf.mightContainLong(h)
        })
    }
}
