package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Sequence packing — assembling documents into fixed token-budget bins
  * (context windows) for training-batch construction. Two tiers:
  *
  *  - [[packByCumsum]]: bin = floor(running-token-total / budget) over a
  *    deterministic document order. One window over the ordering key —
  *    declarative, cross-engine checkable (the probe oracle recomputes
  *    the identical cumulative sum in DuckDB), and the standard
  *    "pack with boundary straddling" used when a tokenizer can split
  *    documents across windows.
  *  - [[packGreedyPerPartition]]: first-fit greedy within each partition
  *    (documents never straddle bins; a bin closes when the next doc
  *    would overflow). Sequential by nature, so it runs as per-partition
  *    imperative logic over a deterministic range partitioning — each
  *    partition packs its own id-sorted run independently, which is how
  *    a 1000-executor packing job actually shards (bins never span
  *    executors). Invariants spec-tested: every doc packed exactly once,
  *    no bin exceeds the budget unless a single oversized doc owns it.
  */
object Packing {

  /** Window-based packing: documents ordered by `orderCol`; bin id =
    * how many full budgets precede the document's first token. Output:
    * input columns + `bin` (0-based) + `cum_tokens` (inclusive).
    *
    * Size-dispatched: the PARTITION-BY-less window moves every row to
    * ONE task (WindowExec's single-partition warning), which is fine at
    * probe scale but a serialization point at corpus scale — inputs
    * larger than [[OpConf.SmallInputBytes]] take [[cumsumDistributed]]
    * (two-pass range-partitioned prefix sum) instead. The size is
    * [[OpConf.measuredSizeBytes]]: an input whose estimate is unknown
    * (a join above it) is cached and measured, so a small join result
    * still takes the window, and the distributed tier's range sampling
    * reads the cache instead of re-running the upstream. Both tiers
    * produce the IDENTICAL integer running totals (exact int64 sums
    * over the same total order), so the dispatch can never change a
    * result — OperatorsSpec pins tier equality. */
  def packByCumsum(df: DataFrame, orderCol: String, tokensCol: String,
      budget: Long): DataFrame =
    packByCumsum(df, orderCol, tokensCol, budget, OpConf.SmallInputBytes)

  /** [[packByCumsum]] with the window tier's size limit as a parameter,
    * so tests can force either tier. */
  private[graft] def packByCumsum(df: DataFrame, orderCol: String,
      tokensCol: String, budget: Long, smallBytes: Long): DataFrame = {
    val (size, persisted) = OpConf.measuredSizeBytes(df)
    val cum = if (size.exists(_ <= smallBytes)) {
      val w = Window.orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("cum_tokens", sum(col(tokensCol)).over(w))
    } else {
      // the range-partitioned copy is cached and loaded once this
      // returns, so the measured input need not stay cached beside it
      val out = cumsumDistributed(df, orderCol, tokensCol)
      if (persisted) df.unpersist(blocking = false)
      out
    }
    cum.withColumn("bin",
      floor((col("cum_tokens") - col(tokensCol)) / budget).cast("bigint"))
  }

  /** Distributed global cumulative sum over a total order — the
    * scale-correct form of a PARTITION-BY-less window (which moves
    * every row to ONE task; [[packByCumsum]] keeps that declarative
    * tier for oracle parity, this is the 100-TB tier). Classic two-pass
    * prefix sum:
    *
    *  1. range-partition on the order key (ranges ascend with partition
    *     id — the repartitionByRange contract) and run the window
    *     WITHIN each partition, all partitions in parallel;
    *  2. aggregate per-partition TOTALS — an O(numPartitions)-row
    *     driver collect, model-sized, not data-sized — into exclusive
    *     prefix offsets, broadcast-joined back and added to the local
    *     running sums.
    *
    * Output: input columns + `cum_tokens` (inclusive global running
    * total of `tokensCol` in `orderCol` order). `orderCol` must be
    * globally unique for a deterministic result. */
  def cumsumDistributed(df: DataFrame, orderCol: String, tokensCol: String,
      numPartitions: Int = 0): DataFrame =
    cumsumDistributedCols(df, orderCol, Seq(tokensCol), numPartitions)
      .withColumnRenamed(s"cum_$tokensCol", "cum_tokens")

  /** Multi-column [[cumsumDistributed]]: running totals of every column
    * in `cols` over ONE range shuffle, one window pass, and one
    * O(numPartitions)-row totals collect. Output adds `cum_<col>` per
    * input column (inclusive global running totals in `orderCol`
    * order). */
  def cumsumDistributedCols(df: DataFrame, orderCol: String,
      cols: Seq[String], numPartitions: Int = 0): DataFrame = {
    require(cols.nonEmpty, "need at least one column to accumulate")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .transform(OperatorCache.persist)
    val totals = ranged.groupBy("__pid")
      .agg(cols.map(c => sum(col(c).cast("long")).as(s"__t_$c")).head,
        cols.map(c => sum(col(c).cast("long")).as(s"__t_$c")).tail: _*)
      .collect()
      .map(r => (r.getInt(0), cols.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val zero = cols.map(_ => 0L)
    val offsets = totals.scanLeft((0, zero, zero)) {
      case ((_, acc, _), (pid, ts)) =>
        (pid, acc.zip(ts).map { case (a, t) => a + t }, acc)
    }.drop(1).map { case (pid, _, excl) => (pid, excl) }
    import spark.implicits._
    val offDf = offsets.toSeq
      .map { case (pid, excl) => (pid, excl.toArray) }
      .toDF("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = cols.zipWithIndex.foldLeft(ranged) {
      case (d, (c, i)) =>
        d.withColumn(s"__local_$i", sum(col(c).cast("long")).over(w))
    }
    cols.zipWithIndex.foldLeft(
        withLocal.join(broadcast(offDf), Seq("__pid"))) {
      case (d, (c, i)) =>
        d.withColumn(s"cum_$c",
          col(s"__local_$i") + element_at(col("__off"), i + 1))
    }.drop("__pid" +: "__off" +: cols.indices.map(i => s"__local_$i"): _*)
  }

  /** Token-budget selection: keep documents, in `orderCol` order, while
    * the inclusive running token total stays within `budget` — the
    * "fill a 10B-token training budget in quality order" shape. Runs on
    * [[cumsumDistributed]], so it scales; integer-exact end to end. */
  def budgetSelect(df: DataFrame, orderCol: String, tokensCol: String,
      budget: Long): DataFrame =
    cumsumDistributed(df, orderCol, tokensCol)
      .where(col("cum_tokens") <= budget)

  /** Best-fit-DECREASING packing within each deterministic part (the
    * classic offline bin-packing heuristic — Johnson 1973; ≤ 11/9·OPT+1
    * bins): items sorted by size descending, each placed into the open
    * bin with the LEAST remaining capacity that still fits (ties: lowest
    * bin index), a new bin opened when none fits. Tighter packing than
    * first-fit ([[packGreedyPerPartition]]) at the cost of a sort —
    * the padding-waste difference is real money at 100 TB of training
    * windows.
    *
    * Parts come from `orderCol % parts` — a pure projection both engines
    * replay exactly (range partitioning would sample), and the way a
    * 1000-executor packing job shards anyway: bins never span executors,
    * each part packs independently. An item larger than `budget` opens
    * its own (overflowing) bin and nothing else ever joins it.
    *
    * Output: (doc, tokens, part, bin) — bin 0-based in creation order
    * within the part. Integer state only; the DuckDB oracle replays the
    * whole sequential fold as a recursive CTE. */
  def packBestFitDecreasing(df: DataFrame, orderCol: String,
      tokensCol: String, budget: Long, parts: Int): DataFrame = {
    require(parts >= 1 && budget >= 1, s"need parts/budget >= 1; got $parts, $budget")
    // The oracle's best-fit argmax packs (load << 32 | inverted index)
    // into one BIGINT. Only loads that PASS the fit filter are encoded
    // (DuckDB list comprehensions filter before transforming), and a
    // passing load is < budget, so budget < 2^31 keeps the encoding
    // overflow-free — oversized items' overflowing bins never pass the
    // filter. Context windows are orders of magnitude below this bound.
    require(budget < (1L << 31),
      s"budget must be < 2^31 (the oracle's argmax encoding); got $budget")
    val spark = df.sparkSession
    val in = df.select(col(orderCol).cast("long").as("doc"),
        col(tokensCol).cast("long").as("tokens"),
        pmod(col(orderCol).cast("long"), lit(parts.toLong)).cast("int").as("part"))
      .repartition(parts, col("part"))
      .sortWithinPartitions(col("part"), col("tokens").desc, col("doc"))
    val outSchema = StructType(Seq(
      StructField("doc", LongType, nullable = false),
      StructField("tokens", LongType, nullable = false),
      StructField("part", IntegerType, nullable = false),
      StructField("bin", LongType, nullable = false)))
    // hash partitioning may co-locate parts; state resets on part change
    // (parts are contiguous under the sort)
    val packed = in.rdd.mapPartitions { rows =>
      var curPart = Int.MinValue
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      rows.map { r =>
        val doc = r.getLong(0)
        val tokens = r.getLong(1)
        val part = r.getInt(2)
        if (part != curPart) { curPart = part; bins.clear() }
        var best = -1
        var bestLoad = -1L
        var j = 0
        while (j < bins.length) {
          val b = bins(j)
          if (b + tokens <= budget && b > bestLoad) { bestLoad = b; best = j }
          j += 1
        }
        if (best < 0) { bins += tokens; best = bins.length - 1 }
        else bins(best) += tokens
        Row(doc, tokens, part, best.toLong)
      }
    }
    spark.createDataFrame(packed, outSchema)
  }

  /** DuckDB replay of [[packBestFitDecreasing]]: the per-part sequential
    * fold as a recursive CTE whose state row carries the bin-load list;
    * the best-fit argmax is a filtered list comprehension reduced by
    * list_max over a (load << 32 | inverted-index) encoding — max load,
    * ties to the LOWEST index, exactly the operator's loop. */
  def bestFitOracleSql(table: String, idSql: String, tokensSql: String,
      budget: Long, parts: Int): String =
    s"""WITH RECURSIVE base AS (
       |  SELECT $idSql AS doc, $tokensSql AS tokens,
       |    CAST((($idSql % $parts) + $parts) % $parts AS INT) AS part
       |  FROM $table),
       |items AS (
       |  SELECT part, doc, tokens,
       |    CAST(row_number() OVER (PARTITION BY part
       |      ORDER BY tokens DESC, doc) AS BIGINT) AS i
       |  FROM base),
       |fold AS (
       |  SELECT part, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS bins,
       |         CAST(NULL AS BIGINT) AS doc, CAST(NULL AS BIGINT) AS tokens,
       |         CAST(NULL AS BIGINT) AS bin
       |  FROM (SELECT DISTINCT part FROM items)
       |  UNION ALL
       |  SELECT part, i,
       |    CASE WHEN j IS NULL THEN list_append(bins, tokens)
       |         ELSE [CASE WHEN k = j THEN bins[CAST(k AS INT)] + tokens
       |                    ELSE bins[CAST(k AS INT)] END
       |               for k in range(1, len(bins) + 1)] END AS bins,
       |    doc, tokens,
       |    CAST(CASE WHEN j IS NULL THEN len(bins) ELSE j - 1 END AS BIGINT) AS bin
       |  FROM (
       |    SELECT part, i, bins, doc, tokens,
       |      CASE WHEN enc IS NULL THEN NULL
       |           ELSE 4294967295 - (enc % 4294967296) END AS j
       |    FROM (
       |      SELECT f.part AS part, f.i + 1 AS i, f.bins AS bins,
       |        it.doc AS doc, it.tokens AS tokens,
       |        list_max([f.bins[CAST(k AS INT)] * 4294967296 + (4294967295 - k)
       |                  for k in range(1, len(f.bins) + 1)
       |                  if f.bins[CAST(k AS INT)] + it.tokens <= $budget]) AS enc
       |      FROM fold f JOIN items it
       |        ON it.part = f.part AND it.i = f.i + 1) t) t2
       |)
       |SELECT doc, tokens, part, bin FROM fold
       |WHERE doc IS NOT NULL ORDER BY doc""".stripMargin

  /** Greedy first-fit packing within each range partition of `orderCol`.
    * Output: (orderCol value, tokens, partition, bin-within-partition).
    * Deterministic for a fixed `numPartitions`. */
  def packGreedyPerPartition(df: DataFrame, orderCol: String,
      tokensCol: String, budget: Long, numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val in = df.select(col(orderCol).cast("long").as("doc"),
        col(tokensCol).cast("long").as("tokens"))
      .repartitionByRange(numPartitions, col("doc"))
      .sortWithinPartitions("doc")
    val outSchema = StructType(Seq(
      StructField("doc", LongType, nullable = false),
      StructField("tokens", LongType, nullable = false),
      StructField("part", IntegerType, nullable = false),
      StructField("bin", LongType, nullable = false)))
    val packed = in.rdd.mapPartitionsWithIndex { (pid, rows) =>
      var bin = 0L
      var used = 0L
      rows.map { r =>
        val doc = r.getLong(0)
        val tokens = r.getLong(1)
        if (used > 0 && used + tokens > budget) { bin += 1; used = 0L }
        used += tokens
        Row(doc, tokens, pid, bin)
      }
    }
    spark.createDataFrame(packed, outSchema)
  }
}
