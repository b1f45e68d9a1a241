package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.sources._

/** File-level pruning from Parquet footer statistics — the metadata-only
  * check that lets copy-on-write DELETE rewrite ONLY files that might
  * contain matching rows (Iceberg prunes the same way from manifest
  * stats; after [[Maintenance.compact]] sorts the table on the predicate
  * column, a key-range DELETE touches O(1) files out of a 100 TB table).
  *
  * Strictly CONSERVATIVE: returns true ("may match") whenever stats are
  * missing, the type is unhandled, or the filter shape can't be reasoned
  * about — pruning can only skip files that PROVABLY contain no match.
  */
object ParquetStats {

  /** Count of live footer opens since JVM start — instrumentation only,
    * so [[FileStatsCache]]'s specs can assert that a prune over a table
    * with a complete stats cache performs ZERO footer I/O (the whole
    * point of the cache: at 100 TB the per-file footer pass, not the
    * rewrite, dominates a narrow DELETE/MERGE's driver time). */
  private[graft] val footerOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Footer row count (sum of row-group counts); 0 when unreadable. */
  def rowCount(file: String, conf: Configuration): Long =
    try {
      footerOpens.incrementAndGet()
      val in = HadoopInputFile.fromPath(new Path(file), conf)
      val r = ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    } catch { case _: Exception => 0L }

  /** ONE shared daemon pool for footer I/O, created lazily and reused
    * across every `.files`/`.partitions` metadata scan — a fresh pool
    * per scan paid thread creation/teardown on each metadata query
    * (ADVICE r12). Bounded so 100k-file planning fans out without
    * occupying the JVM-wide ForkJoin common pool (a hung object-store
    * open must not starve other parallel-stream users on the driver). */
  private[catalog] lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(2, Runtime.getRuntime.availableProcessors())),
      r => { val t = new Thread(r, "graft-footer-io"); t.setDaemon(true); t })

  /** Per-file (footer row count, on-disk size) for a snapshot's file
    * list, fetched on [[footerPool]]. A single unreadable file — e.g.
    * removed by a concurrent expire/orphan sweep between listing and
    * stat — degrades to (0, 0) like [[rowCount]] already does, instead
    * of failing the whole metadata query (ADVICE r12). */
  private[catalog] def footerStats(tableDir: java.nio.file.Path,
      files: Seq[String], conf: Configuration): Map[String, (Long, Long)] = {
    // commit-time stats cache first: only files WITHOUT a record (pre-
    // cache commits) pay a live footer open
    val cachedAll = FileStatsCache.load(tableDir)
    val cachedHits = files.flatMap(f =>
      cachedAll.get(f).map(s => f -> (s.rows, s.bytes))).toMap
    val misses = files.filterNot(cachedHits.contains)
    if (misses.isEmpty) return cachedHits
    val futures = misses.map { f =>
      f -> footerPool.submit(new java.util.concurrent.Callable[(Long, Long)] {
        override def call(): (Long, Long) = {
          val p = tableDir.resolve(f)
          val rows = rowCount(p.toString, conf) // catches internally → 0
          val bytes =
            try java.nio.file.Files.size(p)
            catch { case _: java.io.IOException => 0L }
          (rows, bytes)
        }
      })
    }
    // ONE SHARED deadline, not 60 s per future: with the pool wedged, a
    // per-future timeout would compound to n_files × 60 s (hours at
    // 100k files — the round-13 second review); the whole map returns
    // within ~60 s, each unfinished file degraded to (0, 0) like any
    // other read failure. Residual risk: a task that never returns
    // keeps its shared pool thread — ≥16 permanently hung opens would
    // still starve later scans; storage where opens genuinely hang
    // should front the filesystem with its own client-side timeouts.
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    futures.map { case (f, fut) =>
      val remaining = math.max(1L, deadline - System.nanoTime())
      f -> (try fut.get(remaining, java.util.concurrent.TimeUnit.NANOSECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            // cancel the straggler: a QUEUED task is removed outright and
            // a RUNNING one interrupted — without this, tasks stuck behind
            // a wedged open keep occupying (and later uselessly executing
            // on) the SHARED pool's threads, delaying the next metadata
            // scan past the deadline this map already paid (ADVICE r13)
            fut.cancel(true); (0L, 0L)
          case _: java.util.concurrent.ExecutionException => (0L, 0L)
        })
    }.toMap ++ cachedHits
  }

  /** Per-column statistics view — the shared shape [[mayMatch]] reasons
    * over, buildable from a live footer block ([[viewOf]]) or from a
    * [[FileStatsCache]] record aggregated per file. `min`/`max` carry
    * the PHYSICAL stat values exactly as parquet's `genericGetMin/Max`
    * serve them (Integer, Long, Float, Double, Binary, Boolean); the
    * three annotation fields are what [[normalize]] needs to map filter
    * values into the physical domain. */
  private[catalog] final case class ColView(
      min: Any, max: Any, hasMinMax: Boolean,
      numNulls: Option[Long],
      isDate: Boolean, isMicros: Boolean, decimalScale: Option[Int])

  private[catalog] type ViewLookup = String => Option[ColView]

  /** Build the view of one column chunk's footer stats. */
  private[catalog] def viewOf(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): ColView = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val ann = c.getPrimitiveType.getLogicalTypeAnnotation
    val isMicros = ann match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == TimeUnit.MICROS
      case _ => false
    }
    val isDate = ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
    val decimalScale = ann match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some(d.getScale)
      case _ => None
    }
    val s = c.getStatistics
    val hasMM = s != null && s.hasNonNullValue
    ColView(
      if (hasMM) s.genericGetMin else null,
      if (hasMM) s.genericGetMax else null,
      hasMM,
      if (s != null && s.isNumNullsSet) Some(s.getNumNulls) else None,
      isDate, isMicros, decimalScale)
  }

  /** Could any row of `file` satisfy the conjunction of `filters`?
    * `conf` should be the session's `sparkContext.hadoopConfiguration`
    * so object-store credentials apply. */
  def mayMatchAll(file: String, filters: Seq[Filter],
      conf: Configuration): Boolean = {
    if (filters.isEmpty) return true
    footerOpens.incrementAndGet()
    val footer = try {
      val in = HadoopInputFile.fromPath(new Path(file), conf)
      val r = ParquetFileReader.open(in)
      try r.getFooter finally r.close()
    } catch { case _: Exception => return true }
    val blocks = footer.getBlocks.asScala
    if (blocks.isEmpty) return false // zero row groups: no rows at all
    // a row matching the AND must live in SOME row group matching every
    // conjunct's may-match bound
    blocks.exists { block =>
      val cols = block.getColumns.asScala.map { c =>
        c.getPath.toDotString -> viewOf(c)
      }.toMap
      filters.forall { f => mayMatch(f, cols.get _) }
    }
  }

  /** The conjunction check over an abstract per-column view lookup —
    * [[FileStatsCache]]'s cached-stats entry point. Evaluating over a
    * PER-FILE aggregation of block views is strictly more conservative
    * than the per-block `exists` above (the file's range contains every
    * block's), so a cached verdict can only keep a superset of what the
    * live footer pass keeps — never prune a file the footer would
    * rewrite. */
  private[catalog] def mayMatchAllViews(col: ViewLookup,
      filters: Seq[Filter]): Boolean =
    filters.forall(f => mayMatch(f, col))

  private def mayMatch(f: Filter, col: ViewLookup): Boolean = f match {
    case EqualTo(a, v) => rangeOverlaps(col(a), v, v)
    case GreaterThan(a, v) => maxAbove(col(a), v, strict = true)
    case GreaterThanOrEqual(a, v) => maxAbove(col(a), v, strict = false)
    case LessThan(a, v) => minBelow(col(a), v, strict = true)
    case LessThanOrEqual(a, v) => minBelow(col(a), v, strict = false)
    case In(a, vs) => vs.exists(v => rangeOverlaps(col(a), v, v))
    case IsNull(a) => col(a).forall(v => v.numNulls.forall(_ > 0))
    case And(l, r) => mayMatch(l, col) && mayMatch(r, col)
    case Or(l, r) => mayMatch(l, col) || mayMatch(r, col)
    case AlwaysFalse() => false
    case _ => true // Not, string matchers, unknown: conservative
  }

  /** [lo, hi] of the filter value overlaps the chunk's [min, max]. */
  private def rangeOverlaps(c: Option[ColView], lo0: Any, hi0: Any): Boolean =
    stats(c) match {
      case Some((min, max)) =>
        val lo = normalize(lo0, c.get)
        val hi = normalize(hi0, c.get)
        cmp(hi, min).forall(_ >= 0) && cmp(lo, max).forall(_ <= 0)
      case None => true
    }

  private def maxAbove(c: Option[ColView], v0: Any, strict: Boolean): Boolean =
    stats(c) match {
      case Some((_, max)) =>
        cmp(max, normalize(v0, c.get)).forall(d => if (strict) d > 0 else d >= 0)
      case None => true
    }

  private def minBelow(c: Option[ColView], v0: Any, strict: Boolean): Boolean =
    stats(c) match {
      case Some((min, _)) =>
        cmp(min, normalize(v0, c.get)).forall(d => if (strict) d < 0 else d <= 0)
      case None => true
    }

  /** Convert date/timestamp filter values into the stat's physical domain
    * — ONLY when the column's logical-type annotation proves the
    * encoding (DATE = epoch days in INT32; TIMESTAMP(MICROS) = micros in
    * INT64). Everything else passes through (and lands in cmp's
    * conservative None if incomparable). All conversions are exact. */
  private def normalize(v: Any, c: ColView): Any = {
    v match {
      case d: java.sql.Date if c.isDate =>
        java.lang.Long.valueOf(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate if c.isDate =>
        java.lang.Long.valueOf(d.toEpochDay)
      case t: java.sql.Timestamp if c.isMicros =>
        val secs = Math.floorDiv(t.getTime, 1000L)
        java.lang.Long.valueOf(secs * 1000000L + t.getNanos / 1000L)
      case i: java.time.Instant if c.isMicros =>
        java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case bd: java.math.BigDecimal if c.decimalScale.isDefined =>
        // decimal stats are UNSCALED ints (precision <= 18 → INT32/INT64);
        // rescale exactly or bail to conservative (setScale throws on any
        // rounding, longValueExact on overflow — both caught below)
        try java.lang.Long.valueOf(
          bd.setScale(c.decimalScale.get).unscaledValue().longValueExact())
        catch { case _: ArithmeticException => bd }
      case bd: BigDecimal if c.decimalScale.isDefined =>
        try java.lang.Long.valueOf(
          bd.bigDecimal.setScale(c.decimalScale.get).unscaledValue().longValueExact())
        catch { case _: ArithmeticException => bd }
      case other => other
    }
  }

  private def stats(c: Option[ColView]): Option[(Any, Any)] =
    c.flatMap(v => if (v.hasMinMax) Some((v.min, v.max)) else None)

  /** Compare a stats value with a filter value; None = incomparable
    * (conservative — pruning on a wrong comparison SILENTLY SKIPS matching
    * rows, so every arm must be EXACT for its types):
    *  - integrals compare as Long, never widened to double (2^53+1 and
    *    2^53 are distinct longs but equal doubles);
    *  - floating point normalizes -0.0 to 0.0 (Spark: -0.0 = 0.0) and
    *    refuses NaN stats; no int-vs-double mixing;
    *  - strings compare by UNSIGNED UTF-8 BYTES — parquet's stats order
    *    and Spark's UTF8String order — never UTF-16 String.compareTo;
    *  - decimals (unscaled int/binary stats vs BigDecimal values), dates,
    *    timestamps: incomparable here → conservative full rewrite. */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Integer, y) => cmpLong(x.longValue(), y)
    case (x: java.lang.Long, y) => cmpLong(x.longValue(), y)
    case (x: java.lang.Float, y) => cmpDouble(x.doubleValue(), y)
    case (x: java.lang.Double, y) => cmpDouble(x.doubleValue(), y)
    case (x: Binary, y: String) =>
      Some(unsignedBytesCompare(x.getBytes,
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case (x: String, y: Binary) =>
      Some(unsignedBytesCompare(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8), y.getBytes))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  private def cmpLong(x: Long, b: Any): Option[Int] = b match {
    case y: java.lang.Byte => Some(java.lang.Long.compare(x, y.longValue()))
    case y: java.lang.Short => Some(java.lang.Long.compare(x, y.longValue()))
    case y: java.lang.Integer => Some(java.lang.Long.compare(x, y.longValue()))
    case y: java.lang.Long => Some(java.lang.Long.compare(x, y.longValue()))
    case _ => None // int-column stats vs non-integral value: bail out
  }

  private def cmpDouble(x: Double, b: Any): Option[Int] = {
    val y = b match {
      case v: java.lang.Float => v.doubleValue()
      case v: java.lang.Double => v.doubleValue()
      case _ => return None
    }
    if (x.isNaN || y.isNaN) return None // NaN-poisoned stats: no pruning
    def norm(d: Double) = if (d == 0.0d) 0.0d else d // -0.0 == 0.0 in Spark
    Some(java.lang.Double.compare(norm(x), norm(y)))
  }

  private def unsignedBytesCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
}
