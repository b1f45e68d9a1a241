package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.sources.Filter

/** Commit-time cache of per-file parquet footer statistics — the
  * manifest-stats role Iceberg's avro manifests play (the reference
  * leans on iceberg-rust's manifest machinery for exactly this; here
  * the cache is a TSV sidecar log under `_graft_filestats/`).
  *
  * WHY: every copy-on-write DELETE / MERGE runtime group filter and
  * every `.files`/`.partitions` metadata query used to open O(table
  * files) parquet footers ON THE DRIVER. At 100 TB that pass — not the
  * rewrite I/O — dominates a narrow MERGE's wall time (a 10× table
  * grew the merge's wall ~6× for this exact reason while rewrite
  * amplification stayed 1.0; BASELINE.md has the numbers).
  * With the cache, prune time is O(commits-since-last-merge) small
  * file reads, independent of table file count.
  *
  * DESIGN
  *  - One immutable TSV per commit (`c<version>_<uuid>.tsv`), written
  *    under the table's refs lock right after the snapshot CAS links,
  *    covering only that commit's NEW parquet files. Data files are
  *    never rewritten in place, so records never need invalidation;
  *    records for files later removed by compaction/expiry are simply
  *    never queried (and [[compactTo]] drops them at expiry).
  *  - Values are the PHYSICAL footer stats (same runtime types parquet
  *    `genericGetMin/Max` serve), aggregated per file across row
  *    groups — strictly more conservative than the per-block footer
  *    check, so a cached verdict keeps a superset of the files the
  *    live footer pass keeps: never prunes a file the footer wouldn't.
  *  - A file WITHOUT a record (pre-cache table, failed footer read at
  *    commit, corrupt line) falls back to the live footer read — the
  *    cache is an accelerator, never a correctness dependency.
  *  - Stats evaluation is shared with the footer path via
  *    [[ParquetStats.ColView]], so the two cannot drift semantically.
  */
object FileStatsCache {
  import ParquetStats.ColView

  /** One column's cached stats, with the serialization tag it was
    * recorded under — kept so the expiry-time log fold re-emits through
    * the SAME encoder (deriving the tag from runtime value classes
    * would have to track the encoder by convention; review finding). */
  final case class ColRec(tag: String, view: ColView)

  /** Aggregated footer stats of one data file. */
  final case class FileStat(rows: Long, bytes: Long, cols: Map[String, ColRec])

  /** The session's Hadoop conf when a session is up (the prune-side
    * callers pass exactly this), else a bare default — commit-time
    * footer reads must open files the same way prune-time reads do, or
    * tables needing session conf (object-store creds, codecs) would
    * silently never get records and fall back to O(files) footer opens
    * forever (review finding). */
  private def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def statsDir(tableDir: Path): Path = tableDir.resolve("_graft_filestats")

  // -------------------------------------------------------------------
  // record (commit side)
  // -------------------------------------------------------------------

  /** Record footer stats for `added` (tableDir-relative parquet paths)
    * as one new stats file. Called by [[Snapshots]] inside the commit
    * lock; MUST never fail the commit — any per-file footer problem
    * skips that file (it falls back to live footer reads at prune
    * time). Files already covered by an existing record (a WAP branch
    * file being fast-forwarded onto main) are skipped, not re-read. */
  private[catalog] def record(tableDir: Path, version: Long,
      added: Seq[String], conf: Configuration = sessionConf()): Unit = {
    val parquet = added.filter(_.endsWith(".parquet"))
    if (parquet.isEmpty) return
    val existing = load(tableDir)
    val fresh = parquet.filterNot(existing.contains)
    if (fresh.isEmpty) return
    val futures = fresh.map { rel =>
      rel -> ParquetStats.footerPool.submit(
        new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] =
            recordLines(tableDir, rel, conf).getOrElse(Seq.empty)
        })
    }
    // ONE shared deadline across the batch, not 60 s per future — the
    // same compounding-timeout reasoning as ParquetStats.footerStats
    // (a compact can commit hundreds of new files at once)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    val lines = futures.flatMap { case (_, fut) =>
      val remaining = math.max(1L, deadline - System.nanoTime())
      try fut.get(remaining, java.util.concurrent.TimeUnit.NANOSECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException => fut.cancel(true); Seq.empty
        case _: java.util.concurrent.ExecutionException => Seq.empty
      }
    }
    if (lines.isEmpty) return
    val d = statsDir(tableDir)
    Files.createDirectories(d)
    val name = f"c$version%08d_${java.util.UUID.randomUUID().toString.take(8)}.tsv"
    val tmp = d.resolve(s".$name.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    memo.remove(tableDir.toAbsolutePath.toString)
  }

  /** Footer → record lines for one file; None on any read failure (the
    * file then has no record and prunes via live footer reads). A
    * genuinely 0-row file gets a record with rows=0 — that is a REAL
    * stat (prunes everything), distinct from a failed read. */
  private def recordLines(tableDir: Path, rel: String,
      conf: Configuration): Option[Seq[String]] =
    try {
      val abs = tableDir.resolve(rel)
      ParquetStats.footerOpens.incrementAndGet()
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs.toString), conf)
      val r = ParquetFileReader.open(in)
      val footer = try r.getFooter finally r.close()
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val bytes = Files.size(abs)
      val relE = enc(rel)
      val fLine = s"F\t$relE\t$rows\t$bytes"
      // per-column: aggregate every block's view into one file view
      val byCol = blocks.flatMap(_.getColumns.asScala.map { c =>
        (c.getPath.toDotString, (tagOf(c), ParquetStats.viewOf(c)))
      }).groupBy(_._1)
      val cLines = byCol.toSeq.sortBy(_._1).flatMap { case (col, entries) =>
        val tags = entries.map(_._2._1).distinct
        if (tags.size != 1) None // mixed physical types: unrepresentable
        else aggregate(tags.head, entries.map(_._2._2))
          .map(v => colLine(relE, col, tags.head, v))
      }
      Some(fLine +: cLines)
    } catch { case NonFatal(_) => None }

  /** Fold block views into one per-file view; None when the column's
    * stats can't be represented (it then simply has no cached entry →
    * conservative true at eval, same as a footer column with no
    * stats... except stricter: we drop the numNulls too). */
  private def aggregate(tag: String, views: Seq[ColView]): Option[ColView] = {
    val proto = views.head
    val hasAll = views.forall(_.hasMinMax)
    // NaN-poisoned float stats: refuse min/max (cmp would bail anyway,
    // but a NaN travelling through serialization is asking for trouble)
    def nan(a: Any): Boolean = a match {
      case f: java.lang.Float => f.isNaN
      case d: java.lang.Double => d.isNaN
      case _ => false
    }
    val (mn, mx, hasMM) =
      if (!hasAll || views.exists(v => nan(v.min) || nan(v.max)))
        (null, null, false)
      else {
        val mins = views.map(_.min)
        val maxs = views.map(_.max)
        (mins.reduceLeft((a, b) => if (physCmp(tag, a, b) <= 0) a else b),
          maxs.reduceLeft((a, b) => if (physCmp(tag, a, b) >= 0) a else b),
          true)
      }
    val nulls =
      if (views.forall(_.numNulls.isDefined)) Some(views.flatMap(_.numNulls).sum)
      else None
    Some(ColView(mn, mx, hasMM, nulls, proto.isDate, proto.isMicros,
      proto.decimalScale))
  }

  /** Physical-domain total order used ONLY for block aggregation (the
    * prune-time comparisons go through ParquetStats.cmp). Must agree
    * with parquet's stats order per type: numeric natural, strings by
    * unsigned bytes. */
  private def physCmp(tag: String, a: Any, b: Any): Int = tag match {
    case "i32" => java.lang.Integer.compare(a.asInstanceOf[Integer],
      b.asInstanceOf[Integer])
    case "i64" => java.lang.Long.compare(a.asInstanceOf[java.lang.Long],
      b.asInstanceOf[java.lang.Long])
    case "f32" => java.lang.Float.compare(a.asInstanceOf[java.lang.Float],
      b.asInstanceOf[java.lang.Float])
    case "f64" => java.lang.Double.compare(a.asInstanceOf[java.lang.Double],
      b.asInstanceOf[java.lang.Double])
    case "bool" => a.asInstanceOf[java.lang.Boolean]
      .compareTo(b.asInstanceOf[java.lang.Boolean])
    case "bin" =>
      val x = a.asInstanceOf[Binary].getBytes
      val y = b.asInstanceOf[Binary].getBytes
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    case _ => throw new IllegalArgumentException(s"unknown tag $tag")
  }

  private def tagOf(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): String = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    c.getPrimitiveType.getPrimitiveTypeName match {
      case INT32 => "i32"
      case INT64 => "i64"
      case FLOAT => "f32"
      case DOUBLE => "f64"
      case BOOLEAN => "bool"
      case BINARY | FIXED_LEN_BYTE_ARRAY | INT96 => "bin"
    }
  }

  /** ONE C-line emitter shared by [[recordLines]] and [[compactTo]] —
    * the two must serialize identically or a fold would corrupt
    * records. */
  private def colLine(relE: String, col: String, tag: String,
      v: ColView): String = {
    val ann =
      if (v.isDate) "d"
      else if (v.isMicros) "m"
      else v.decimalScale.map(s => s"s$s").getOrElse("-")
    val minS = if (v.hasMinMax) encValue(tag, v.min) else "-"
    val maxS = if (v.hasMinMax) encValue(tag, v.max) else "-"
    val nullsS = v.numNulls.map(_.toString).getOrElse("-")
    s"C\t$relE\t${enc(col)}\t$tag\t$ann\t$minS\t$maxS\t$nullsS"
  }

  // Float/double roundtrip through RAW BITS, not decimal text — text
  // would corrupt -0.0/denormals and any value whose shortest decimal
  // re-parses differently; bits are exact by construction.
  private def encValue(tag: String, v: Any): String = tag match {
    case "i32" => v.asInstanceOf[Integer].toString
    case "i64" => v.asInstanceOf[java.lang.Long].toString
    case "f32" => java.lang.Float.floatToRawIntBits(
      v.asInstanceOf[java.lang.Float]).toString
    case "f64" => java.lang.Double.doubleToRawLongBits(
      v.asInstanceOf[java.lang.Double]).toString
    case "bool" => if (v.asInstanceOf[java.lang.Boolean]) "t" else "f"
    case "bin" => Base64.getEncoder.encodeToString(v.asInstanceOf[Binary].getBytes)
  }

  private def decValue(tag: String, s: String): Any = tag match {
    case "i32" => java.lang.Integer.valueOf(s)
    case "i64" => java.lang.Long.valueOf(s)
    case "f32" => java.lang.Float.valueOf(
      java.lang.Float.intBitsToFloat(s.toInt))
    case "f64" => java.lang.Double.valueOf(
      java.lang.Double.longBitsToDouble(s.toLong))
    case "bool" => java.lang.Boolean.valueOf(s == "t")
    case "bin" => Binary.fromConstantByteArray(Base64.getDecoder.decode(s))
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  // -------------------------------------------------------------------
  // load (prune side)
  // -------------------------------------------------------------------

  /** memo: tableDir → (stat file names, per-name parse, merged map).
    * Stats files are immutable once moved into place, so the name set
    * IS the cache key; on change only new names are parsed. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, (List[String], Map[String, Map[String, FileStat]], Map[String, FileStat])]()

  /** The merged rel-file → stats map for a table; {} when the table has
    * no stats sidecar (pre-cache tables). O(new stats files) reads. */
  def load(tableDir: Path): Map[String, FileStat] = {
    val d = statsDir(tableDir)
    if (!Files.isDirectory(d)) return Map.empty
    val names = scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".tsv")).toList
    }.sorted
    val key = tableDir.toAbsolutePath.toString
    val cached = memo.get(key)
    if (cached != null && cached._1 == names) return cached._3
    val prevPerName = if (cached != null) cached._2 else Map.empty[String, Map[String, FileStat]]
    // bound the memo: a long-lived driver touching many tables (or
    // dropping and recreating them under fresh temp dirs) must not
    // accumulate per-file stats maps forever (review finding); a rare
    // full reset just re-parses the small sidecars on next access
    if (memo.size > 64) memo.clear()
    val perName = names.map { n =>
      n -> prevPerName.getOrElse(n, parseFile(d.resolve(n)))
    }.toMap
    // later commits win on rel collisions (records are identical when
    // both exist; ordering just makes the merge deterministic)
    val merged = names.foldLeft(Map.empty[String, FileStat])((acc, n) => acc ++ perName(n))
    memo.put(key, (names, perName, merged))
    merged
  }

  private def parseFile(p: Path): Map[String, FileStat] =
    try {
      val lines = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      val byRel = lines.filter(_.nonEmpty).map(_.split("\t", -1))
        .filter(a => a.length >= 2).groupBy(a => a(1))
      byRel.flatMap { case (relE, rows) =>
        try {
          val f = rows.find(a => a(0) == "F" && a.length == 4).getOrElse(
            throw new IllegalArgumentException("no F line"))
          val cols = rows.filter(a => a(0) == "C" && a.length == 8).map { a =>
            val tag = a(3)
            val ann = a(4)
            val hasMM = a(5) != "-" && a(6) != "-"
            dec(a(2)) -> ColRec(tag, ColView(
              if (hasMM) decValue(tag, a(5)) else null,
              if (hasMM) decValue(tag, a(6)) else null,
              hasMM,
              if (a(7) == "-") None else Some(a(7).toLong),
              isDate = ann == "d", isMicros = ann == "m",
              decimalScale = if (ann.startsWith("s")) Some(ann.drop(1).toInt) else None))
          }.toMap
          Some(dec(relE) -> FileStat(f(2).toLong, f(3).toLong, cols))
        } catch { case NonFatal(_) => None } // corrupt rel: footer fallback
      }
    } catch { case NonFatal(_) => Map.empty }

  /** One table's prune/metadata interface: cached verdicts where a
    * record exists, live footer fallback where not. Construct once per
    * operation (holds one immutable load). */
  final class TableStats private[FileStatsCache] (tableDir: Path,
      conf: Configuration) {
    private val cached: Map[String, FileStat] = load(tableDir)

    /** Could any row of `rel` satisfy the conjunction? Semantics match
      * [[ParquetStats.mayMatchAll]] (modulo per-file vs per-block
      * granularity, which only ever KEEPS more files). A file without a
      * record opens its footer when `openFooter`, else may match. */
    def mayMatchAll(rel: String, filters: Seq[Filter],
        openFooter: Boolean): Boolean =
      if (filters.isEmpty) true
      else cached.get(rel) match {
        case Some(fs) =>
          if (fs.rows == 0L) false // no rows at all
          else ParquetStats.mayMatchAllViews(
            n => fs.cols.get(n).map(_.view), filters)
        case None => !openFooter ||
          ParquetStats.mayMatchAll(tableDir.resolve(rel).toString, filters, conf)
      }

    /** Cached (rows, bytes); None → caller decides how to fetch. */
    def rowsBytes(rel: String): Option[(Long, Long)] =
      cached.get(rel).map(fs => (fs.rows, fs.bytes))

    def rowCount(rel: String): Long = cached.get(rel).map(_.rows).getOrElse(
      ParquetStats.rowCount(tableDir.resolve(rel).toString, conf))
  }

  def forTable(tableDir: Path, conf: Configuration): TableStats =
    new TableStats(tableDir, conf)

  // -------------------------------------------------------------------
  // maintenance
  // -------------------------------------------------------------------

  /** Fold the whole stats log into ONE file holding only records for
    * `live` rel paths; called by snapshot expiry under the refs lock
    * (which also serializes against [[record]]) so the log's read cost
    * stays O(1) instead of O(all commits ever) on long-lived tables. */
  private[catalog] def compactTo(tableDir: Path, live: Set[String]): Unit = {
    val d = statsDir(tableDir)
    if (!Files.isDirectory(d)) return
    val names = scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".tsv")).toList
    }.sorted
    if (names.isEmpty) return
    val merged = load(tableDir).filter { case (rel, _) => live.contains(rel) }
    if (merged.nonEmpty) {
      val lines = merged.toSeq.sortBy(_._1).flatMap { case (rel, fs) =>
        val relE = enc(rel)
        val fLine = s"F\t$relE\t${fs.rows}\t${fs.bytes}"
        fLine +: fs.cols.toSeq.sortBy(_._1).map { case (col, r) =>
          colLine(relE, col, r.tag, r.view)
        }
      }
      val name = s"m_${java.util.UUID.randomUUID().toString.take(8)}.tsv"
      val tmp = d.resolve(s".$name.tmp")
      Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    names.foreach(n => Files.deleteIfExists(d.resolve(n)))
    memo.remove(tableDir.toAbsolutePath.toString)
  }

}
