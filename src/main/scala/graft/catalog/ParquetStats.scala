package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
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

  /** Open `file`'s footer with the caller's Hadoop conf. The conf goes
    * into the read options too: parquet's default options build a fresh
    * `Configuration`, which re-parses the Hadoop default resources on
    * every open. */
  def openFooter(file: String,
      conf: Configuration): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    footerOpens.incrementAndGet()
    val path = new Path(file)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
    try r.getFooter finally r.close()
  }

  /** Footer row count (sum of row-group counts); 0 when unreadable. */
  def rowCount(file: String, conf: Configuration): Long =
    try openFooter(file, conf).getBlocks.asScala.map(_.getRowCount).sum
    catch { case _: Exception => 0L }

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

  /** `f` over `xs` on [[footerPool]], results in order, under ONE
    * shared 60 s deadline — not 60 s per element: with the pool wedged,
    * a per-element timeout would compound to n_files × 60 s. The first
    * failure is thrown as an IOException naming its element, and the
    * rest are cancelled. An element past the deadline is cancelled too
    * (a queued task is removed, a running one interrupted, so it stops
    * holding a shared pool thread); it then yields `late` when one is
    * given, and otherwise fails the batch the same way. Callers that
    * degrade per element catch inside `f` and pass `late`. Residual
    * risk: a task that ignores interruption keeps its pool thread —
    * storage where opens genuinely hang should front the filesystem
    * with its own client-side timeouts. */
  private[catalog] def onFooterPool[A, B](xs: Seq[A], late: Option[B] = None)(
      f: A => B): Seq[B] = {
    import java.util.concurrent.{Callable, ExecutionException, TimeUnit, TimeoutException}
    val futures = xs.map(x => footerPool.submit(new Callable[B] {
      override def call(): B = f(x)
    }))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    try xs.zip(futures).map { case (x, fut) =>
      try fut.get(math.max(1L, deadline - System.nanoTime()), TimeUnit.NANOSECONDS)
      catch {
        case e: ExecutionException =>
          throw new java.io.IOException(s"$x: ${e.getCause}", e.getCause)
        case e: TimeoutException =>
          fut.cancel(true)
          late.getOrElse(throw new java.io.IOException(s"$x: timed out", e))
      }
    } finally futures.foreach(_.cancel(true))
  }

  /** Per-file (footer row count, on-disk size) for a snapshot's file
    * list: the commit-time stats record where there is one, else a
    * footer read on [[footerPool]]. A single unreadable file — e.g.
    * removed by a concurrent expire/orphan sweep between listing and
    * stat — or one past the pool's deadline degrades to (0, 0) like
    * [[rowCount]] already does, instead of failing the whole metadata
    * query (ADVICE r12). */
  private[catalog] def footerStats(tableDir: java.nio.file.Path,
      files: Seq[String], conf: Configuration): Map[String, (Long, Long)] = {
    val cachedAll = FileStatsCache.load(tableDir)
    val cachedHits = files.flatMap(f =>
      cachedAll.get(f).map(s => f -> (s.rows, s.bytes))).toMap
    val misses = files.filterNot(cachedHits.contains)
    if (misses.isEmpty) return cachedHits
    val read = onFooterPool(misses, late = Some((0L, 0L))) { f =>
      val p = tableDir.resolve(f)
      val rows = rowCount(p.toString, conf) // catches internally → 0
      val bytes =
        try java.nio.file.Files.size(p)
        catch { case _: java.io.IOException => 0L }
      (rows, bytes)
    }
    misses.zip(read).toMap ++ cachedHits
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
    val footer = try openFooter(file, conf)
      catch { case _: Exception => return true }
    val blocks = footer.getBlocks.asScala
    if (blocks.isEmpty) return false // zero row groups: no rows at all
    // a row matching the AND must live in SOME row group matching every
    // conjunct's may-match bound
    blocks.exists { block =>
      val cols = block.getColumns.asScala.map { c =>
        c.getPath.toDotString -> viewOf(c)
      }.toMap
      mayMatchAllViews(cols.get _, block.getRowCount, filters)
    }
  }

  /** The conjunction check over an abstract per-column view lookup —
    * [[FileStatsCache]]'s cached-stats entry point. Evaluating over a
    * PER-FILE aggregation of block views is strictly more conservative
    * than the per-block `exists` above (the file's range contains every
    * block's), so a cached verdict can only keep a superset of what the
    * live footer pass keeps — never prune a file the footer would
    * rewrite. */
  private[catalog] def mayMatchAllViews(col: ViewLookup, rows: Long,
      filters: Seq[Filter]): Boolean =
    filters.forall(f => mayMatch(f, col, rows))

  /** `rows` is the row count the views cover: a column whose null count
    * equals it holds no value, so no comparison and no IS NOT NULL can
    * match. */
  private def mayMatch(f: Filter, col: ViewLookup, rows: Long): Boolean = {
    def valued(a: String): Boolean =
      col(a).forall(v => rows <= 0 || !v.numNulls.contains(rows))
    f match {
      case EqualTo(a, v) => valued(a) && rangeOverlaps(col(a), v, v)
      case GreaterThan(a, v) => valued(a) && maxAbove(col(a), v, strict = true)
      case GreaterThanOrEqual(a, v) =>
        valued(a) && maxAbove(col(a), v, strict = false)
      case LessThan(a, v) => valued(a) && minBelow(col(a), v, strict = true)
      case LessThanOrEqual(a, v) =>
        valued(a) && minBelow(col(a), v, strict = false)
      case In(a, vs) => valued(a) && vs.exists(v => rangeOverlaps(col(a), v, v))
      case IsNull(a) => col(a).forall(v => v.numNulls.forall(_ > 0))
      case IsNotNull(a) => valued(a)
      case And(l, r) => mayMatch(l, col, rows) && mayMatch(r, col, rows)
      case Or(l, r) => mayMatch(l, col, rows) || mayMatch(r, col, rows)
      case AlwaysFalse() => false
      case _ => true // Not, string matchers, unknown: conservative
    }
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
