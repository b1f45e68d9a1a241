package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftaccess.Internals

import graft.functions.{WinnowFingerprints, WinnowPairKeys}

/** Local document fingerprinting (winnowing) and fingerprint-overlap
  * copy detection — the MOSS pipeline as Spark relational algebra.
  *
  * Scale shape: [[fingerprints]] is a pure projection (the kernel is one
  * codegen call per row — no shuffle, no state). [[overlapPairs]] explodes
  * each document into ~len/w fingerprint rows and self-joins on the
  * fingerprint — the fingerprint IS the blocking key, so the join only
  * touches documents that actually share a ≥(k+w−1)-char passage, never
  * all pairs. Both sides shuffle on `fp`; the optional ubiquitous-gram
  * guard (`maxDocFreq`) rides that same hash partitioning as a window
  * count — zero extra exchanges, same fusion trick as
  * [[Dedup.bandedCandidates]] — and drops boilerplate fingerprints that
  * appear in more than `maxDocFreq` docs (at corpus scale: license
  * headers, navigation chrome) before they can quadratically blow up a
  * bucket.
  *
  * Selectivity caveat (measured, BASELINE.md): blocking on
  * a SINGLE fingerprint assumes k-grams are high-entropy. On a
  * tiny-vocabulary corpus (the synthetic testdata: ~40 distinct words)
  * fingerprints go ubiquitous and the self-join degenerates toward
  * all-pairs — there `maxDocFreq` bounds the work but also the recall,
  * because true near-dups share exactly those ubiquitous fingerprints.
  * Corpus-level near-dup at scale belongs to [[Dedup.minhashLshPairs]];
  * this operator is the passage-level copy-detection tier.
  */
object Fingerprint {

  /** Winnowed fingerprint column over a text column. */
  def winnow(text: Column, k: Int = 8, w: Int = 4): Column =
    Internals.column(WinnowFingerprints(Internals.expression(text), k, w))

  /** (id, fps) — sorted distinct winnowed fingerprints per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    df.select(col(idCol), winnow(col(textCol), k, w).as("fps"))

  /** Pairs of documents whose winnowed-fingerprint sets overlap with
    * Jaccard ≥ `minJaccard`. Output: (d1, d2, shared, m1, m2, jac),
    * d1 < d2. The Jaccard is one IEEE division of exact integers —
    * bit-identical across engines. */
  def overlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minJaccard: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = fingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fps"), size(col("fps")).as("m"))
    val e0 = fps.select(col("id"), col("m"), explode(col("fps")).as("fp"))
    // Ubiquitous-fingerprint guard on the join's own fp-partitioning.
    val e = maxDocFreq match {
      case Some(cap) =>
        e0.withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
          .where(col("__df") <= cap).drop("__df")
      case None => e0
    }
    val a = e.select(col("id").as("d1"), col("m").as("m1"), col("fp"))
    val b = e.select(col("id").as("d2"), col("m").as("m2"), col("fp"))
    a.join(b, Seq("fp"))
      .where(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("shared"),
        // min, not first: m1/m2 are functionally determined by d1/d2,
        // but min is deterministic by construction (and what the oracle
        // computes) while first depends on task arrival order
        min(col("m1")).as("m1"), min(col("m2")).as("m2"))
      .withColumn("jac",
        col("shared").cast("double") / (col("m1") + col("m2") - col("shared")))
      .where(col("jac") >= minJaccard)
  }

  /** Band-of-2 variant of [[overlapPairs]] — the SCALE path on
    * low-entropy corpora. Blocking key = a pair of CONSECUTIVE positional
    * winnow fingerprints ([[graft.functions.WinnowPairKeys]]): candidate
    * generation selectivity squares (a shared bucket needs a shared
    * two-window passage, not one ubiquitous k-gram), then candidates are
    * verified EXACTLY against the full fingerprint sets via one sorted
    * array intersection per pair — same output columns and same Jaccard
    * arithmetic as [[overlapPairs]], so verified pairs hash-match it.
    * Recall loss is confined to copied passages shorter than two winnow
    * windows (< k + 2w − 1 chars), which never yield two consecutive
    * shared minima; on the sf0.01 corpus the banded candidates recover
    * the full 25-pair planted truth set (FingerprintSpec pins subset +
    * equality there).
    *
    * Two measured guards keep the candidate step subquadratic on
    * low-entropy corpora (BASELINE.md):
    *   - `maxDocFreq` caps a pair-key bucket's document count (the same
    *     fused-window guard [[overlapPairs]] uses — it rides the
    *     candidate join's own bk-partitioning, zero extra exchanges):
    *     keys in more documents than the cap are boilerplate, and
    *     boilerplate buckets are where candidates go quadratic.
    *   - `minKeys` requires a candidate pair to collide in at least
    *     that many SURVIVING pair keys before the exact verify runs
    *     (multi-collision, as in multi-band LSH).
    * Measured on the synthetic corpus at sf0.1: cap 20 alone shrinks
    * the candidate join 40× (92.6M → 2.2M rows); minKeys 2 cuts
    * verified pairs a further 5.6× (819k → 146k); the jaccard ≥ 0.5
    * truth set is fully recovered at both sf0.01 (25/25) and sf0.1
    * (256/256) — its pairs all share ≥ 3 surviving keys, so both
    * guards hold with margin. True near-dups always share rare pair
    * keys too. */
  def overlapPairsBanded(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minJaccard: Double = 0.5,
      maxDocFreq: Int = 20, minKeys: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Size-dispatched parallelism ([[OpConf.sizeBytes]], limit
    // [[OpConf.SpreadBytes]]). A compact corpus arrives in few scan
    // partitions (one 600 KB file at sf0.1 = ONE task), which would
    // serialize every kernel evaluation behind single-task stages: an
    // explicit-count repartition (REPARTITION_BY_NUM, so AQE cannot
    // coalesce the ~1 MB shuffle back to one task) spreads the raw
    // text and the winnow/pair-key kernels run 32-way in each consumer
    // branch. A corpus not known to be compact skips it: a large scan is
    // already wide, and a full-text repartition is exactly the 100-TB
    // shuffle this operator must not pay.
    val sel = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val compact = OpConf.sizeBytes(sel).exists(_ <= OpConf.SpreadBytes)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spread = if (compact) sel.repartition(par, col("id")) else sel
    // Persisted: four consumer branches (kept, raw right side, and the
    // two verify joins on fps) would otherwise each re-execute the
    // scan + both kernels — differently-aliased subtrees defeat
    // exchange/broadcast reuse, so the winnow kernel ran 4× without
    // it. One MEMORY_AND_DISK block of (id, fps, keys) pays the
    // kernels once; lifecycle via [[OperatorCache]] (engine statement
    // close / clearCache releases it, same as [[Dedup]]/[[LmScore]]).
    val base = spread.select(col("id"),
      winnow(col("__text"), k, w).as("fps"),
      Internals.column(WinnowPairKeys(
        Internals.expression(col("__text")), k, w)).as("keys"))
      .transform(OperatorCache.persist)
    val fps = base.select(col("id"), col("fps"), size(col("fps")).as("m"))
    val e = base.select(col("id"), explode(col("keys")).as("bk"))
    // ONE window pass for the doc-freq cap — streaming count over the
    // bk hash-partitioning, no per-bucket buffering, whale-safe.
    val kept = e
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("bk")))
      .where(col("__df") <= maxDocFreq).drop("__df")
    // Candidate pairs WITHOUT a self-join. Joining `kept ⋈ raw` on bk
    // would be exact (one windowed side suffices: a whale bucket keeps
    // no left rows, so raw rows from it never find a partner) — but that same argument cuts deeper: since whale
    // buckets contribute NOTHING, every surviving pair lives entirely
    // inside a ≤ maxDocFreq bucket, where kept == raw. So the join is
    // pairs-within-kept, and post-cap buckets are small enough to
    // enumerate directly: collect_list per bk is BOUNDED by the cap
    // (never the unbounded collect-skew-bomb [[Dedup.bandedCandidates]]
    // avoids — the window filter runs first and streams), rides the
    // window's own bk-partitioning with zero new exchanges, and two
    // codegen Generates emit each bucket's ascending (d1, d2) pairs.
    // vs the join (measured, EXPLAIN ANALYZE at sf0.1): the second 5.7 MB /
    // 569k-row exchange of the exploded table and the 34 MB
    // shuffled-hash build both disappear (AQE never reused the twin
    // exchanges — rename placement defeats canonical equality); the
    // ~1.0 M join-output rows are emitted by slice+explode instead.
    // sort_array makes pair order deterministic and `d1 < d2` by
    // construction (array ordering = Spark's `<` for the id type).
    val buckets = kept.groupBy("bk")
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
    val cand = buckets
      .select(posexplode(col("__ids")).as(Seq("__i", "d1")), col("__ids"))
      .select(col("d1"), explode(slice(col("__ids"), col("__i") + lit(2),
        size(col("__ids")))).as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("__nk"))
      .where(col("__nk") >= minKeys)
      .select("d1", "d2")
    // (Negative A/B: pinning these two verify joins to shuffle_hash
    // — to avoid the planner's ~1 s-per-side driver collect of the 8.4 MB
    // fps-array broadcast — measured 1.86 s → 2.66 s: the two extra
    // exchanges of the candidate pairs cost more than the collects,
    // which overlap other stages. The broadcast stays.)
    cand
      .join(fps.select(col("id").as("d1"), col("fps").as("fps1"),
        col("m").as("m1")), Seq("d1"))
      .join(fps.select(col("id").as("d2"), col("fps").as("fps2"),
        col("m").as("m2")), Seq("d2"))
      // size-ratio prefilter (exact, like the length filter of string
      // similarity joins): shared ≤ min(m1,m2) and union ≥ max(m1,m2),
      // so jac ≤ min/max — a pair failing min ≥ j·max can never reach
      // minJaccard and the exact intersection is skipped for it
      .where(least(col("m1"), col("m2")).cast("double") >=
        lit(minJaccard) * greatest(col("m1"), col("m2")))
      .withColumn("shared",
        size(array_intersect(col("fps1"), col("fps2"))).cast("bigint"))
      .withColumn("jac",
        col("shared").cast("double") / (col("m1") + col("m2") - col("shared")))
      .where(col("jac") >= minJaccard)
      .select(col("d1"), col("d2"), col("shared"),
        col("m1").cast("bigint").as("m1"), col("m2").cast("bigint").as("m2"),
        col("jac"))
  }

  /** DuckDB CTE replaying the kernel's exact integer math (validated
    * against the kernel in FingerprintSpec; FIXTURES.md conventions).
    * Yields relation f(id, fps). */
  def oracleFpsCte(table: String, idCol: String, textCol: String,
      k: Int, w: Int): String = {
    val pw = Array.iterate(1L, k)(p => p * WinnowFingerprints.Base
      % WinnowFingerprints.Mod).reverse
    val terms = (0 until k).map(j =>
      s"CAST(unicode(substr(text, CAST(i AS INT)+$j, 1)) AS BIGINT) * ${pw(j)}")
      .mkString(" + ")
    s"""t AS (SELECT $idCol AS id, $textCol AS text,
       |  length($textCol) AS n FROM $table),
       |h AS (SELECT id,
       |  [ ($terms) % ${WinnowFingerprints.Mod} for i in range(1, n - $k + 2) ] AS hh
       |  FROM t),
       |f AS (SELECT id, list_sort(list_distinct(
       |  CASE WHEN len(hh) = 0 THEN []::BIGINT[]
       |       WHEN len(hh) <= $w THEN [list_min(hh)]
       |       ELSE [ list_min(hh[CAST(i AS INT) : CAST(i AS INT)+${w - 1}])
       |              for i in range(1, len(hh) - $w + 2) ]
       |  END)) AS fps FROM h)""".stripMargin
  }

  /** Full oracle for [[fingerprints]] on `table`. */
  def fingerprintsOracleSql(table: String, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): String =
    s"""WITH ${oracleFpsCte(table, idCol, textCol, k, w)}
       |SELECT id AS $idCol, fps FROM f ORDER BY $idCol""".stripMargin

  /** Full oracle for [[overlapPairsBanded]]: replays the positional
    * minima sequence, the consecutive-dedup, the `h1·P + h2` pair keys,
    * the pair-key candidate join, AND the exact set-intersection verify —
    * every stage of the banded operator, not just its final answer. */
  def overlapBandedOracleSql(table: String, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minJaccard: Double = 0.5,
      maxDocFreq: Int = 20, minKeys: Int = 2): String = {
    val P = WinnowFingerprints.Mod
    s"""WITH ${oracleFpsCte(table, idCol, textCol, k, w)},
       |sq AS (SELECT id,
       |  CASE WHEN len(hh) = 0 THEN []::BIGINT[]
       |       WHEN len(hh) <= $w THEN [list_min(hh)]
       |       ELSE [ list_min(hh[CAST(i AS INT) : CAST(i AS INT)+${w - 1}])
       |              for i in range(1, len(hh) - $w + 2) ]
       |  END AS s FROM h),
       |sq2 AS (SELECT id,
       |  [ s[CAST(i AS INT)] for i in range(1, len(s)+1)
       |    if i = 1 OR s[CAST(i AS INT)] != s[CAST(i AS INT)-1] ] AS s
       |  FROM sq),
       |pk0 AS MATERIALIZED (SELECT id, unnest(list_distinct(
       |  [ s[CAST(i AS INT)] * $P + s[CAST(i AS INT)+1]
       |    for i in range(1, len(s)) ])) AS bk FROM sq2),
       |fr AS (SELECT bk FROM pk0 GROUP BY bk
       |       HAVING count(*) <= $maxDocFreq),
       |pk AS (SELECT pk0.id, pk0.bk FROM pk0 JOIN fr USING (bk)),
       |cand AS (SELECT a.id AS d1, b.id AS d2
       |         FROM pk a JOIN pk b ON a.bk = b.bk AND a.id < b.id
       |         GROUP BY 1, 2 HAVING count(*) >= $minKeys),
       |v AS (SELECT d1, d2,
       |        CAST(len(list_intersect(fa.fps, fb.fps)) AS BIGINT) AS shared,
       |        CAST(len(fa.fps) AS BIGINT) AS m1,
       |        CAST(len(fb.fps) AS BIGINT) AS m2
       |      FROM cand JOIN f fa ON fa.id = cand.d1
       |                JOIN f fb ON fb.id = cand.d2)
       |SELECT d1, d2, shared, m1, m2,
       |  CAST(shared AS DOUBLE)/(m1 + m2 - shared) AS jac
       |FROM v
       |WHERE CAST(shared AS DOUBLE)/(m1 + m2 - shared) >= $minJaccard
       |ORDER BY d1, d2""".stripMargin
  }

  /** Full oracle for [[overlapPairs]] (no doc-freq guard — the guard is
    * plan-shape machinery, spec-forced in FingerprintSpec). */
  def overlapOracleSql(table: String, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minJaccard: Double = 0.5): String =
    s"""WITH ${oracleFpsCte(table, idCol, textCol, k, w)},
       |e AS (SELECT id, unnest(fps) AS fp, len(fps) AS m FROM f),
       |p AS (SELECT a.id AS d1, b.id AS d2, count(*) AS shared,
       |        min(a.m) AS m1, min(b.m) AS m2
       |      FROM e a JOIN e b ON a.fp = b.fp AND a.id < b.id
       |      GROUP BY 1, 2)
       |SELECT d1, d2, shared, m1, m2,
       |  CAST(shared AS DOUBLE)/(m1 + m2 - shared) AS jac
       |FROM p
       |WHERE CAST(shared AS DOUBLE)/(m1 + m2 - shared) >= $minJaccard
       |ORDER BY d1, d2""".stripMargin
}
