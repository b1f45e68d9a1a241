package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Shared operator-level helpers: the size signal and its limits behind
  * every tier choice, shuffle parallelism, kernel spreading, UTF-8 order. */
private[graft] object OpConf {

  /** The one size signal behind every operator tier choice: the
    * optimizer's size estimate of `df` (metadata-only, no job — for a
    * file scan it is the sum of file sizes, carried through filters,
    * projections and unions), or `None` when the optimized plan holds
    * any `Join` or a cached relation whose buffers are not loaded yet.
    * Without CBO a join's estimate is the product of its sides, which
    * can be wrong by orders of magnitude, so it is treated as unknown;
    * an unloaded `InMemoryRelation` reports the estimate of the plan it
    * caches, which may hide such a join. Callers test
    * `sizeBytes(df).exists(_ <= Limit)`: an unknown size always takes
    * the tier that is safe at 100 TB. */
  def sizeBytes(df: DataFrame): Option[BigInt] = {
    val plan = df.queryExecution.optimizedPlan
    val unknown = plan.exists {
      case _: Join => true
      case r: InMemoryRelation => !r.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }
    if (unknown) None else Some(plan.stats.sizeInBytes)
  }

  /** [[sizeBytes]], or, where that is unknown, the exact size of `df`:
    * `df` is persisted through [[OperatorCache]] and materialized once
    * (one `count()` job), and the loaded size of the cached relation is
    * read from a fresh Dataset over the same plan (`df`'s own plan was
    * optimized before the cache existed and keeps the estimate). For
    * sites where the unknown-size tier costs more than one
    * materialization; every frame built from `df` afterwards reads the
    * cache. The second value says whether `df` was persisted here (not
    * by its caller), so the caller can release it early. */
  def measuredSizeBytes(df: DataFrame): (Option[BigInt], Boolean) =
    sizeBytes(df) match {
      case known @ Some(_) => (known, false)
      case None =>
        val mine = df.storageLevel == StorageLevel.NONE
        if (mine) OperatorCache.persist(df)
        df.count()
        (sizeBytes(df.select("*")), mine)
    }

  /** Largest input the single-task tiers take: a partition-less window,
    * a broadcast nested-loop pair scan, a pinned broadcast build. */
  val SmallInputBytes: Long = 64L << 20

  /** Largest input whose per-id payload table is broadcast into a verify
    * or rerank join. */
  val BroadcastPayloadBytes: Long = 32L << 20

  /** Largest corpus whose payload table feeds a verify join without
    * first being semi-reduced to candidate ids. */
  val SemiReduceBytes: Long = 256L << 20

  /** Largest corpus still spread by an explicit round-robin repartition
    * before a per-row kernel stage. */
  val SpreadBytes: Long = 1L << 30

  /** The session's shuffle parallelism, for EXPLICIT-count repartitions
    * (`repartition(N, cols…)` is exempt from AQE coalescing; a
    * by-column repartition gets squeezed to a handful of tasks
    * whenever the shuffled BYTES are small, which
    * starves any stage whose per-ROW cost dominates: similarity-join
    * verifies, gram explodes, per-doc kernels). One copy of the lookup:
    * six operators used to hand-roll it. */
  def shufflePartitions(df: DataFrame): Int =
    scala.util.Try(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt).getOrElse(200)

  /** Spread `df` to the cluster's parallelism before a
    * cheap-bytes/expensive-rows KERNEL stage (gram explodes, per-doc
    * hashing — one or more md5s per input unit): a small local file
    * plans a handful of scan splits and serializes the kernel on them
    * (6 of 32 threads, 3.6× slower, measured at local[32]). CONDITIONAL
    * on the planned partition count, so a corpus whose scan already
    * splits finely — any real cluster table — never pays a
    * corpus-wide round-robin text shuffle for it; the exchange only
    * happens exactly when its bytes are small. */
  def spreadForKernel(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // A plan that already SHUFFLES is at the session's shuffle
    // parallelism — no spread needed, and probing it with .rdd under
    // AQE would eagerly EXECUTE the upstream stages at construction
    // time. Only narrow (scan/filter/project) plans consult .rdd,
    // where partition planning runs no jobs.
    val hasShuffle = df.queryExecution.sparkPlan.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isDefined
    if (hasShuffle) df
    else if (df.rdd.getNumPartitions < par) df.repartition(par)
    else df
  }

  /** `a < b` by UNSIGNED UTF-8 BYTES (UTF8String.compareTo) — Spark's
    * sort order and DuckDB's binary string order; Java String.compareTo
    * (UTF-16 units) sorts supplementary characters differently and must
    * never decide a tie or fold order an oracle replays. ONE copy for
    * every driver-side argmax/sort that feeds an oracle. */
  def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
}
