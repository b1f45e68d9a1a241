package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the builder prompt:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Queries are broadcast (they're the small side by construction), so
  *    the corpus streams through one codegen stage with zero shuffle of
  *    the embedding data; the only shuffle is the per-query top-k window.
  *  - [[lshBuckets]]: random-hyperplane (sign) LSH — the 100 TB path.
  *    Bucketing is a pure projection; candidate generation becomes a
  *    bucket equi-join instead of a cross join, cutting the candidate set
  *    by ~2^planes.
  *
  * All math is double-precision `zip_with`/`aggregate` expressions —
  * codegen'd, sequential summation (deterministic, matches the DuckDB
  * oracle's list_dot_product exactly).
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the codegen'd kernel (graft.functions.CosineSim): same
    * sequential double accumulation as the declarative form, ~100× less
    * interpreter overhead — the difference between 158s and 2s for the
    * quadratic near-dup probe at sf0.1. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftaccess.Internals
    Internals.column(graft.functions.CosineSim(
      Internals.expression(a), Internals.expression(b)))
  }

  /** Kernel dot product (sequential accumulation, same order as
    * [[cosine]]'s dot term). */
  def dotKernel(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftaccess.Internals
    Internals.column(graft.functions.DotProduct(
      Internals.expression(a), Internals.expression(b)))
  }

  /** Kernel Euclidean norm — precompute ONCE per row before a pairwise
    * join; `dotKernel(a,b) / (norm_a * norm_b)` is then bit-identical to
    * [[cosine]] computed per pair, at a third of the per-pair FLOPs. */
  def normKernel(a: Column): Column = {
    import org.apache.spark.sql.graftaccess.Internals
    Internals.column(graft.functions.VecNorm(Internals.expression(a)))
  }

  /** Exact top-k neighbors by cosine for each query vector. Ties broken by
    * neighbor id for determinism. Self-pairs excluded. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normKernel(col(vecCol)).as("qn"))
    // a small corpus often arrives as ONE parquet file = one task; spread
    // the quadratic scoring across cores before the join (same lesson as
    // the minhash shingle stage: repartition BEFORE the expensive work).
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      normKernel(col(vecCol)).as("nn")).repartition(par)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotKernel(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for embedding training (the contrastive /
    * retrieval-training staple — DPR, Karpukhin et al. 2020): for each
    * query, the top-k most similar corpus vectors whose LABEL differs —
    * the near-miss negatives that actually move a contrastive loss.
    * Same exact-tier shape as [[bruteForceTopK]] (queries broadcast,
    * corpus streamed once, per-query bounded rank) with the cross-label
    * filter applied BEFORE ranking so every returned row is usable; at
    * 100 TB swap the scorer for the IVF/PQ tiers — the label filter
    * composes with any of them. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(labelCol).as("qlabel"), normKernel(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      col(labelCol).as("nlabel"), normKernel(col(vecCol)).as("nn"))
      .repartition(par)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nlabel") =!= col("qlabel"))
      .select(col("qid"), col("nid"),
        (dotKernel(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine >= threshold. Dispatches on corpus size
    * ([[OpConf.sizeBytes]]): inputs known to fit
    * [[OpConf.SmallInputBytes]] take the exact quadratic broadcast path
    * ([[cosineNearDupPairsExact]]); anything else takes the banded
    * sign-LSH candidate path ([[cosineNearDupPairsLsh]]), whose cost is
    * governed by bucket collisions instead of n². */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int = 8, planesPerBand: Int = 8,
      maxBucket: Int = 4096): DataFrame = {
    val small = OpConf.sizeBytes(df).exists(_ <= OpConf.SmallInputBytes)
    if (small) cosineNearDupPairsExact(df, idCol, vecCol, threshold)
    else df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1) match {
      // no non-null vector: no pair can pass the cosine filter (null
      // rows are skipped by the probe: size(null) would NPE the
      // getInt). Rows may still exist, so emit the empty result WITHOUT
      // broadcasting the frame the dispatch just judged too large.
      case Array() =>
        cosineNearDupPairsExact(df.limit(0), idCol, vecCol, threshold)
      case Array(row) => cosineNearDupPairsLsh(df, idCol, vecCol, threshold,
        bands, planesPerBand, row.getInt(0), maxBucket = maxBucket)
    }
  }

  /** Quadratic exact form: fine while one side fits the broadcast limit;
    * the corpus streams through a codegen nested-loop stage. */
  def cosineNearDupPairsExact(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Norms once per ROW (n sqrt+dots), not once per PAIR (n²); the pair
    // stage is then one dot + one divide. repartition spreads the streamed
    // side of the nested-loop join across all cores (single-file input
    // would otherwise run the whole n² loop in one task).
    val t = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      normKernel(col(vecCol)).as("nrm"))
    t.repartition(par).alias("a")
      .join(broadcast(t).alias("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        (dotKernel(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Banded sign-LSH groups: `bands` independent tables of `planesPerBand`
    * hyperplanes each (same seeded generator as [[planes]], consumed in
    * band-major order). */
  def bandedPlanes(bands: Int, planesPerBand: Int,
      dim: Int): Seq[Seq[Seq[Double]]] =
    planes(bands * planesPerBand, dim).grouped(planesPerBand).toSeq

  /** The 100 TB near-dup path — same shuffle shape as
    * [[Dedup.minhashLshPairs]]: per-band sign-bucket keys (pure
    * projection), candidate pairs from a (band, key) equi-join, exact
    * cosine verification of the colliding pairs only. Nothing quadratic
    * ever materializes: the join shuffles (id, band, key) triples and the
    * verify join re-reads vectors for candidates only. A pair at cosine c
    * survives with probability 1-(1-p^r)^b for p = 1 - arccos(c)/π — at
    * the near-dup thresholds this is ~1 (c=0.95, r=8, b=8 → 0.998).
    *
    * Recall contract under the skew guard: buckets larger than
    * `maxBucket` emit a min-id STAR (each member paired with the
    * bucket's min id) instead of all in-bucket pairs — O(m) candidates,
    * connectivity preserved for [[Dedup.clusterPairsStar]], but non-star
    * in-bucket pairs from a whale bucket are NOT emitted as direct
    * pairs (they remain reachable through the star's hub). Raise
    * `maxBucket` if direct pair enumeration inside giant buckets
    * matters more than skew safety. Persist note: on the large-corpus
    * path see [[Dedup.semiReduceForVerify]]'s caller contract. */
  def cosineNearDupPairsLsh(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int, planesPerBand: Int, dim: Int,
      maxBucket: Int = 4096): DataFrame = {
    // all band keys in ONE kernel call (bit-identical to summing
    // CASE WHEN dot_product(v, plane) > 0 columns — the declarative form
    // built 64 expression nodes and traversed the vector 64 times)
    val ps = planes(bands * planesPerBand, dim)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        normKernel(col(vecCol)).as("nrm"))
      .repartition(col("id"))  // parallelism before the per-row plane dots
      .withColumn("keys", org.apache.spark.sql.graftaccess.Internals.column(
        graft.functions.SignBands(
          org.apache.spark.sql.graftaccess.Internals.expression(col("v")),
          ps, bands)))
      .transform(OperatorCache.persist)
    val banded = base.select(col("id"),
      posexplode(col("keys")).as(Seq("band", "key")))
    // same skew guard as the MinHash path: an adversarial corpus (many
    // identical embeddings) would otherwise turn one sign-bucket into a
    // quadratic self-join; oversized buckets emit the min-id star and
    // every emitted pair still passes the exact cosine verify below.
    // Large corpora also semi-reduce the vector table to candidate ids
    // before the verify joins (Dedup.semiReduceForVerify contract).
    //
    // Broadcast tier (measured on the cross-relation twin): when the
    // SOURCE is known to fit [[OpConf.BroadcastPayloadBytes]] (see
    // [[OpConf.sizeBytes]]) the candidate pairs stream through two
    // chained hash joins whose build sides are the PER-ID vector table
    // — bounded by corpus size, never by the pair count, so no
    // payload-carrying pair table is ever broadcast. The generic
    // stitch-by-pair-key shape (attachPairPayloads) planned a
    // SortMergeJoin on (ida, idb) here — two payload-carrying exchanges
    // + sorts that the broadcast form does for free (2.55 s → 1.76 s on
    // 37k candidates at sf0.1).
    val candPairs = Dedup.bandedCandidates(banded, maxBucket)
    val attached =
      if (OpConf.sizeBytes(df).exists(_ <= OpConf.BroadcastPayloadBytes)) {
        candPairs
          .join(broadcast(base.select(col("id").as("ida"),
            col("v").as("va"), col("nrm").as("nrma"))), "ida")
          .join(broadcast(base.select(col("id").as("idb"),
            col("v").as("vb"), col("nrm").as("nrmb"))), "idb")
      } else {
        val (cand, vecs, small) = Dedup.semiReduceForVerify(df,
          candPairs, base.select(col("id"), col("v"), col("nrm")))
        Dedup.attachPairPayloads(cand, vecs, small)
      }
    attached
      .select(col("ida"), col("idb"),
        (dotKernel(col("va"), col("vb")) /
          (col("nrma") * col("nrmb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** DuckDB equivalent of [[cosineNearDupPairsLsh]] for the correctness
    * oracle: identical plane literals → per-band keys, pairs agreeing on
    * ANY band, exact cosine filter. (The oracle side may go quadratic —
    * it only ever runs at oracle scale.) */
  def cosineLshOracleSql(bands: Int, planesPerBand: Int, dim: Int,
      threshold: Double, table: String): String =
    s"""WITH t AS (${bandedSideSql(bands, planesPerBand, dim, table)})
       |SELECT * FROM (
       |  SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
       |  FROM t a JOIN t b ON a.vec_id < b.vec_id AND (${anyBandPred(bands)}))
       |WHERE cos >= $threshold
       |ORDER BY ida, idb""".stripMargin

  /** Cross-relation embedding cosine ε-join: every (left, right) pair
    * with cosine ≥ threshold — the embedding-space member of the
    * deterministic join tier (FuzzyJoin / SetJoin are its token-space
    * siblings; [[cosineNearDupPairs]] is the SELF-join form, and a
    * cross-relation query — "which candidate docs match which curated
    * seeds" — cannot be phrased as a self-dedup without materializing
    * the union and re-filtering a quadratically larger pair set).
    * Extends the reference's similarity surface the same way
    * (reference scopes search to its engine's SQL; lib.rs:678).
    *
    * Dispatch mirrors [[cosineNearDupPairs]]: a right side known to fit
    * [[OpConf.SmallInputBytes]] (see [[OpConf.sizeBytes]]) takes the
    * exact nested-loop path; anything else takes banded sign-LSH
    * blocking over BOTH relations with one shared plane family. */
  def cosineJoin(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      bands: Int = 8, planesPerBand: Int = 8,
      maxBucket: Int = 4096): DataFrame = {
    val small = OpConf.sizeBytes(right).exists(_ <= OpConf.SmallInputBytes)
    if (small) cosineJoinExact(left, right, idCol, vecCol, threshold)
    else left.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1) match {
      // the dimension probe found no usable left row: the join is
      // empty. Emit the empty result WITHOUT broadcasting the right
      // side the dispatch just judged too large (the self-join's
      // fallback does the same)
      case Array() =>
        cosineJoinExact(left.limit(0), right.limit(0), idCol, vecCol,
          threshold)
      case Array(row) => cosineJoinLsh(left, right, idCol, vecCol,
        threshold, bands, planesPerBand, row.getInt(0),
        maxBucket = maxBucket)
    }
  }

  /** Exact tier: norms once per ROW, right side broadcast, the left
    * relation streams through one codegen nested-loop stage (the same
    * shape as [[cosineNearDupPairsExact]] without the `<` diagonal). */
  def cosineJoinExact(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val par = left.sparkSession.sparkContext.defaultParallelism
    left.select(col(idCol).as("id_l"), col(vecCol).as("vl"),
        normKernel(col(vecCol)).as("nl"))
      .repartition(par) // spread the streamed side across all cores
      .crossJoin(broadcast(right.select(col(idCol).as("id_r"),
        col(vecCol).as("vr"), normKernel(col(vecCol)).as("nr"))))
      .select(col("id_l"), col("id_r"),
        (dotKernel(col("vl"), col("vr")) / (col("nl") * col("nr")))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The 100 TB tier: both relations keyed by the SAME banded
    * sign-planes (pure projection), candidates from a (band, key)
    * equi-join, exact cosine verify on colliding pairs only — nothing
    * quadratic materializes. Recall per true pair is 1-(1-p^r)^b for
    * p = 1 - arccos(c)/π, ~1 at near-dup thresholds (c=0.95, r=8,
    * b=8 → 0.998); EXACT duplicates agree on every band
    * deterministically.
    *
    * Skew guard: unlike the self-join's min-id star (whose contract is
    * cluster CONNECTIVITY), a cross-relation ε-join has no hub
    * semantics, so a (band, key) bucket larger than `maxBucket` on
    * either side — the "ubiquitous token" of sign space, carrying no
    * plane selectivity — is dropped from that band entirely; a true
    * pair landing in a whale keeps its chance through the remaining
    * b−1 bands. The guard never triggers at oracle scale, so the
    * replayed-band oracle ([[cosineJoinLshOracleSql]]) is exact. */
  def cosineJoinLsh(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bands: Int, planesPerBand: Int,
      dim: Int, maxBucket: Int = 4096): DataFrame = {
    import org.apache.spark.sql.graftaccess.Internals
    val ps = planes(bands * planesPerBand, dim)
    // (id, vector, norm, band keys) once per relation — one kernel call
    // computes all band keys. PERSISTED: each side feeds its banded
    // explode AND the verify join; unpersisted, the source would be
    // re-scanned per consumer (as measured on the SetJoin/FuzzyJoin
    // inputs).
    def prep(df: DataFrame): DataFrame = OperatorCache.persist(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
          normKernel(col(vecCol)).as("nrm"))
        .repartition(col("id"))
        .withColumn("keys", Internals.column(graft.functions.SignBands(
          Internals.expression(col("v")), ps, bands))))
    val bl = prep(left)
    val br = prep(right)
    def banded(b: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("band"), col("key"))
      b.select(col("id"), posexplode(col("keys")).as(Seq("band", "key")))
        .withColumn("cnt", count(lit(1)).over(w))
        .filter(col("cnt") <= maxBucket).drop("cnt")
    }
    // shuffle_hash: both sides arrive hash-partitioned by (band, key)
    // from their windows, so the join adds no third exchange — and AQE's
    // alternative (driver-broadcasting a banded table) is exactly what a
    // 1000-executor plan must not do.
    val cand = banded(bl).alias("a")
      .join(banded(br).alias("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.id").as("id_l"), col("b.id").as("id_r"))
      .distinct()
    def fits(df: DataFrame, limit: Long) = OpConf.sizeBytes(df).exists(_ <= limit)
    val lv = bl.select(col("id").as("id_l"), col("v").as("vl"),
      col("nrm").as("nl"))
    val rv = br.select(col("id").as("id_r"), col("v").as("vr"),
      col("nrm").as("nr"))
    val attached = if (fits(left, OpConf.SmallInputBytes) &&
        fits(right, OpConf.SmallInputBytes)) {
      // small path: the bare pair table STREAMS through two chained
      // broadcast hash joins whose build sides are the PER-ID payload
      // tables — bounded by corpus size, never by the (potentially
      // quadratic) pair count, so the no-payload-pair-broadcast
      // contract holds with zero shuffles and zero sorts. The earlier
      // stitch-by-pair-key shape (attachPairPayloads' small path)
      // measured 2.0 s on 37k candidates here: AQE declined to
      // broadcast the 11 MB payload-carrying halves and planned a
      // SortMergeJoin on (id_l, id_r) — two payload exchanges + ~3 s
      // of sort churn for a join the broadcast form does for free.
      cand.join(broadcast(lv), "id_l").join(broadcast(rv), "id_r")
    } else {
      // large path: spread the bare pair table with an EXPLICIT-count
      // repartition — candidate rows are two longs, so AQE's
      // bytes-based coalescing would otherwise fuse the expensive
      // per-pair verify onto a handful of tasks (as measured on SetJoin)
      // — and shuffle_hash keeps the chained joins sort-free (pair
      // order is useless). Sides not known to fit
      // [[OpConf.SemiReduceBytes]] are first SEMI-REDUCED to colliding
      // ids so the verify exchanges carry vectors for candidates only;
      // the id sets feed off the PERSISTED pair table directly (c0),
      // NOT the repartitioned view — they have no use for the pair
      // spread, and routing them through it would re-execute the
      // explicit exchange per consumer whenever ReusedExchange
      // declines to fire.
      val c0 = OperatorCache.persist(cand)
      val bare = c0.repartition(OpConf.shufflePartitions(left),
        col("id_l"), col("id_r"))
      val lvr = if (fits(left, OpConf.SemiReduceBytes)) lv
        else lv.join(c0.select("id_l").distinct(), Seq("id_l"), "left_semi")
      val rvr = if (fits(right, OpConf.SemiReduceBytes)) rv
        else rv.join(c0.select("id_r").distinct(), Seq("id_r"), "left_semi")
      bare.join(lvr.hint("shuffle_hash"), "id_l")
        .join(rvr.hint("shuffle_hash"), "id_r")
    }
    attached
      .select(col("id_l"), col("id_r"),
        (dotKernel(col("vl"), col("vr")) / (col("nl") * col("nr")))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** DuckDB equivalent of [[cosineJoinLsh]]: identical plane literals →
    * per-band keys on both relations, pairs agreeing on ANY band, exact
    * cosine filter. Quadratic on the oracle side only. */
  def cosineJoinLshOracleSql(bands: Int, planesPerBand: Int, dim: Int,
      threshold: Double, leftTable: String, rightTable: String): String = {
    def side(t: String) = bandedSideSql(bands, planesPerBand, dim, t)
    s"""WITH tl AS (${side(leftTable)}), tr AS (${side(rightTable)})
       |SELECT * FROM (
       |  SELECT a.vec_id AS id_l, b.vec_id AS id_r,
       |    list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
       |  FROM tl a JOIN tr b ON (${anyBandPred(bands)}))
       |WHERE cos >= $threshold
       |ORDER BY id_l, id_r""".stripMargin
  }

  /** Shared SQL fragments of the two LSH oracles — the plane-key
    * encoding must stay IDENTICAL between the self-join and
    * cross-relation forms (a drift would silently diverge the two
    * oracles from the one [[planes]] family the operators share). */
  private def bandKeyColsSql(bands: Int, planesPerBand: Int,
      dim: Int): String =
    bandedPlanes(bands, planesPerBand, dim).zipWithIndex.map {
      case (grp, b) =>
        val sum = grp.zipWithIndex.map { case (p, i) =>
          val arr = p.map(_.toString).mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr) > 0 THEN ${1L << i} ELSE 0 END)"
        }.mkString(" + ")
        s"($sum) AS k$b"
    }.mkString(", ")

  private def anyBandPred(bands: Int): String =
    (0 until bands).map(b => s"a.k$b = b.k$b").mkString(" OR ")

  private def bandedSideSql(bands: Int, planesPerBand: Int, dim: Int,
      table: String): String =
    s"""SELECT vec_id, embedding::DOUBLE[] AS v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
       |  ${bandKeyColsSql(bands, planesPerBand, dim)} FROM $table""".stripMargin

  /** Deterministic pseudo-random hyperplanes (seeded), shared with the
    * SQL-oracle generator so both engines bucket identically. */
  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id (0 .. 2^nPlanes-1) for each vector. */
  def lshBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dim: Int): DataFrame = {
    val ps = planes(nPlanes, dim)
    // single-band SignBands kernel — same sequential dots, one traversal
    val keys = org.apache.spark.sql.graftaccess.Internals.column(
      graft.functions.SignBands(
        org.apache.spark.sql.graftaccess.Internals.expression(col(vecCol)),
        ps, bands = 1))
    df.select(col(idCol).as("vec_id"), element_at(keys, 1).as("bucket"))
  }

  /** IVF-style coarse quantization, the second 100 TB ANN path beside
    * sign-LSH: assign every vector to its nearest centroid (max inner
    * product), then search only `nprobe` inverted lists instead of the
    * whole corpus. Centroids here are DETERMINISTIC — the first k corpus
    * vectors — so the oracle can recompute assignments from the same
    * literals (a trained k-means would drop in without changing the
    * plan shape: it only swaps the centroid constants). */
  def ivfCentroidsFrom(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[Seq[Double]] =
    // cast-first so float AND double vector columns both work (the
    // widening cast is exact; rotated/projected corpora are doubles)
    df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  /** Cell id = argmax inner product over the centroid literals (first
    * index wins ties — mirrored in the oracle's CASE order). A pure
    * per-row expression: attach it with one `select`, never a join.
    * Runs as the [[graft.functions.ArgMaxDot]] kernel — the declarative
    * greatest+CASE form evaluated every centroid dot twice (once inside
    * greatest, once per WHEN), 2k passes over the vector for k cells. */
  def ivfCellExpr(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.graftaccess.Internals
    Internals.column(graft.functions.ArgMaxDot(
      Internals.expression(vec), centroids))
  }

  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol).as("vec_id"),
      ivfCellExpr(col(vecCol), centroids).as("cell"))

  /** Incremental IVF index maintenance — the ANN twin of
    * [[Dedup.minhashNovelty]]'s continual-ingest shape: instead of
    * re-assigning the whole corpus when a catalog table grows, read
    * ONLY the rows that changed between two snapshot versions
    * ([[graft.catalog.Changelog]] — data reads touch just the changed
    * files, planning is a metadata-only snapshot diff) and run them
    * through the same cell-assign projection the full build uses.
    * Output is the index DELTA: 'insert' rows are postings to add,
    * 'delete' rows (COW rewrites emit whole-file delete+insert pairs)
    * are postings to retract — apply both and the index equals a full
    * rebuild, because assignment is a pure per-row function of the
    * frozen centroids. At 100 TB this is the difference between an
    * index refresh costing O(delta) and O(corpus). */
  def ivfIndexDelta(spark: org.apache.spark.sql.SparkSession,
      ident: String, fromVersion: Long, toVersion: Long,
      idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    graft.catalog.Changelog.read(spark, ident, fromVersion, toVersion)
      .select(col(idCol).as("vec_id"),
        ivfCellExpr(col(vecCol), centroids).as("cell"),
        col("_change_type"), col("_commit_version"))

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embeddings, then WITHIN each cluster drop every vector whose cosine
    * to a lower-id cluster-mate reaches `threshold` — the cluster
    * assignment bounds the quadratic stage to within-cell pairs, which
    * is the paper's entire scale argument (k grows with the corpus so
    * cells stay bounded; training is the deterministic [[kmeansFit]], so
    * the whole operator replays exactly in the oracle). Output:
    * (vec_id, cell, keep). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, threshold: Double): DataFrame = {
    val cents = kmeansFit(df, idCol, vecCol, k, iters)
    val t = ivfAssign(df, idCol, vecCol, cents)
      .join(df.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        normKernel(col(vecCol)).as("nrm")), "vec_id")
    val dropped = t.alias("a")
      .join(t.alias("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .where(dotKernel(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    t.select(col("vec_id"), col("cell"))
      .join(dropped.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("__d"), lit(false)).unary_!.as("keep"))
  }

  /** Lloyd's k-means over the corpus, the IVF centroid trainer
    * ([[ivfCellExpr]] consumes its output unchanged — training only
    * swaps the centroid constants). Classic distributed shape: each
    * round is one assign PROJECTION (the ArgMaxDot kernel inside the
    * scan stage) plus one per-(cell, position) aggregate — map-side
    * combined, shuffling at most k·dim·partitions rows — and the only
    * driver traffic is the k×dim aggregated result per round, which is
    * how Lloyd's iterations are supposed to look on a cluster.
    *
    * Determinism: component sums are accumulated as QUANTIZED int64
    * (round(val·2^quantBits)) — integer addition is associative, so the
    * trained centroids are bit-identical regardless of partitioning,
    * run order, or engine, which (a) makes training artifacts
    * reproducible at 100 TB where float reduction order never is, and
    * (b) lets the DuckDB oracle replay training exactly
    * ([[kmeansOracleSql]]). At 2^20 the grid error (~1e-6 per
    * component) is far below embedding noise. Empty cells keep their
    * previous centroid. */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, quantBits: Int = 20): Seq[Seq[Double]] = {
    val scale = (1L << quantBits).toDouble
    var cents = ivfCentroidsFrom(df, idCol, vecCol, k)
    for (_ <- 1 to iters) {
      val sums = df
        .select(ivfCellExpr(col(vecCol), cents).as("cell"),
          col(vecCol).cast("array<double>").as("dv"))
        .select(col("cell"), posexplode(col("dv")).as(Seq("pos", "val")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("val") * scale).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getAs[Int]("cell"))
      cents = cents.indices.map { c =>
        byCell.get(c) match {
          case Some(rows) => rows.sortBy(_.getAs[Int]("pos"))
            .map(r => r.getAs[Long]("sq").toDouble / scale /
              r.getAs[Long]("n")).toSeq
          case None => cents(c)
        }
      }
    }
    cents
  }

  /** DuckDB replay of [[kmeansFit]] + final [[ivfAssign]]: first-k init,
    * `iters` unrolled assign/quantized-mean rounds, then the final
    * assignment — bit-identical to Spark because every reduction is over
    * int64 (see kmeansFit's determinism note). Assumes no cell goes
    * empty (true for the probe's parameters; kmeansFit itself handles
    * empty cells, the SQL replay would need a COALESCE branch). */
  def kmeansOracleSql(k: Int, iters: Int, table: String,
      quantBits: Int = 20): String = {
    val scale = s"${1L << quantBits}.0"
    def assign(cents: String, out: String) =
      s"""$out AS (SELECT vec_id, cell FROM (
         |  SELECT t.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY t.vec_id
         |      ORDER BY list_dot_product(t.v, c.v) DESC, c.cell) AS rn
         |  FROM t CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    def refit(asg: String, outS: String, outC: String) =
      s"""$outS AS (SELECT cell, g.pos,
         |    CAST(sum(CAST(round(t.v[g.pos] * $scale) AS BIGINT)) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM $asg JOIN t USING (vec_id),
         |       LATERAL (SELECT unnest(generate_series(1, len(t.v))) AS pos) g
         |  GROUP BY cell, g.pos),
         |$outC AS (SELECT cell, list(sq / $scale / n ORDER BY pos) AS v
         |  FROM $outS GROUP BY cell)""".stripMargin
    val rounds = (1 to iters).map { i =>
      assign(s"c${i - 1}", s"a$i") + ",\n" + refit(s"a$i", s"s$i", s"c$i")
    }.mkString(",\n")
    s"""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM $table),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v
       |       FROM t ORDER BY vec_id LIMIT $k),
       |$rounds,
       |${assign(s"c$iters", "fin")}
       |SELECT vec_id, cell FROM fin ORDER BY vec_id""".stripMargin
  }

  /** DuckDB equivalent of [[ivfAssign]] for the correctness oracle. */
  def ivfAssignOracleSql(centroids: Seq[Seq[Double]], table: String): String = {
    val dots = centroids.map { c =>
      val arr = c.map(_.toString).mkString("[", ", ", "]")
      s"list_dot_product(embedding::DOUBLE[], $arr)"
    }
    val best = s"greatest(${dots.mkString(", ")})"
    val cases = dots.zipWithIndex
      .map { case (d, i) => s"WHEN $d = $best THEN $i" }.mkString(" ")
    s"SELECT vec_id, CAST(CASE $cases ELSE -1 END AS INT) AS cell " +
      s"FROM $table ORDER BY vec_id"
  }

  /** IVF search: score only vectors whose cell is among the query's
    * `nprobe` best centroids, then exact top-k rerank within candidates.
    * At 100 TB the corpus side is pre-partitioned by cell, so a probe
    * touches nprobe/k of the data. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], nprobe: Int,
      k: Int): DataFrame = {
    // cell assignment is a projection on the corpus scan — one pass,
    // zero joins (the old id self-join scanned the corpus twice).
    val assigned = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      normKernel(col(vecCol)).as("nn"),
      ivfCellExpr(col(vecCol), centroids).as("cell"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        normKernel(col(vecCol)).as("qn"))
      .withColumn("probe_cells", probeCellsExpr(centroids, nprobe))
    val scored = assigned.join(broadcast(q),
        array_contains(col("probe_cells"), col("cell")) &&
          col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dotKernel(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k evaluation of an approximate ANN result set against the
    * exact truth — the metric every IVF/LSH/PQ deployment is tuned by
    * (nprobe/bands/code-size trade recall for cost; this measures what
    * was traded). Inputs are two (qid, nid) result sets (extra columns
    * ignored); output per query: n_truth, n_hit, recall = one IEEE
    * division of exact counts — bit-identical cross-engine.
    *
    * Scale shape: both sides are top-k tables (k rows per query, never
    * corpus-sized); one (qid, nid) equi-join and one per-query
    * aggregate, both on the same shuffle key family. Queries with zero
    * hits keep a row (left join) — silently dropping them would inflate
    * the measured recall. */
  def recallAtK(truth: DataFrame, approx: DataFrame,
      qidCol: String = "qid", nidCol: String = "nid"): DataFrame = {
    val t = truth.select(col(qidCol).as("qid"), col(nidCol).as("nid"))
    val a = approx.select(col(qidCol).as("qid"), col(nidCol).as("nid"))
      .withColumn("__hit", lit(1L))
    t.join(a, Seq("qid", "nid"), "left_outer")
      .groupBy(col("qid"))
      .agg(count(lit(1)).cast("long").as("n_truth"),
        sum(coalesce(col("__hit"), lit(0L))).cast("long").as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))
  }

  /** MinHash-LSH PARAMETER TUNING (the MMDS S-curve analysis, Leskovec/
    * Rajaraman/Ullman ch. 3.4): for a hash budget H, every (rows r,
    * bands b) split with r·b = H trades false positives against false
    * negatives around the target threshold τ — collision probability
    * p(s) = 1 − (1 − s^r)^b. This scores each divisor split on a
    * uniform similarity grid: fp_mass = mean of p(s) below τ, fn_mass =
    * mean of 1 − p(s) at/above τ, err = fp + fn, rank 1 = the split a
    * [[Dedup.minhashPairs]]-style pipeline should use. Ends
    * guess-the-(bands, rows) tuning the same way skewProfile ended
    * guess-the-salt.
    *
    * Driver-side by design (like the Jacobi eigensolve): the whole
    * computation is O(divisors(H)·gridN) scalar math, and EXACTNESS
    * demands a fixed evaluation order — s^r and (1−s^r)^b as
    * left-associated multiply chains, sequential accumulation over the
    * grid, single divisions — every step a correctly-rounded IEEE op
    * the DuckDB oracle replays bit-identically (the probability-PRODUCT
    * recipe; libm pow would diverge cross-engine). A distributed sum
    * would be order-dependent and is neither needed nor exact.
    *
    * Output rows: (r, b, fp_mass, fn_mass, err, rank). */
  def lshTune(spark: org.apache.spark.sql.SparkSession, tau: Double,
      hashes: Int, gridN: Int = 200): DataFrame = {
    require(hashes >= 1 && gridN >= 2 && tau > 0.0 && tau < 1.0,
      s"need hashes>=1, gridN>=2, 0<tau<1; got $hashes, $gridN, $tau")
    val splits = (1 to hashes).filter(hashes % _ == 0)
      .map(r => (r, hashes / r))
    val rows = splits.map { case (r, b) =>
      var fpSum = 0.0
      var fnSum = 0.0
      var k = 0
      while (k < gridN) {
        val s = k.toDouble / gridN
        val sr = (1 until r).foldLeft(s)((acc, _) => acc * s)
        val qb0 = 1.0 - sr
        val qb = (1 until b).foldLeft(qb0)((acc, _) => acc * qb0)
        val p = 1.0 - qb
        // both branches ADD (the skipped side adds 0.0) so the fold is
        // literally the oracle's CASE-expression sum
        fpSum = fpSum + (if (s < tau) p else 0.0)
        fnSum = fnSum + (if (s < tau) 0.0 else 1.0 - p)
        k += 1
      }
      val fp = fpSum / gridN
      val fn = fnSum / gridN
      (r, b, fp, fn, fp + fn)
    }
    val ranked = rows.sortBy { case (r, _, _, _, err) => (err, r) }
      .zipWithIndex
      .map { case ((r, b, fp, fn, err), i) => (r, b, fp, fn, err, i + 1L) }
    spark.createDataFrame(ranked)
      .toDF("r", "b", "fp_mass", "fn_mass", "err", "rank")
  }

  /** The (rows, bands) [[lshTune]] ranks first — feed it to a banded
    * minhash join instead of hand-picked constants. */
  def lshPick(spark: org.apache.spark.sql.SparkSession, tau: Double,
      hashes: Int, gridN: Int = 200): (Int, Int) = {
    val best = lshTune(spark, tau, hashes, gridN)
      .where(col("rank") === 1L).collect().head
    (best.getAs[Int]("r"), best.getAs[Int]("b"))
  }

  /** DuckDB replay of [[lshTune]]: per split, the SAME left-associated
    * multiply chains (generated as explicit `s*s*…` / `q*q*…` SQL), the
    * same grid, CASE-summed via list_reduce (sequential left fold), the
    * same final divisions and rank order. */
  def lshTuneOracleSql(tau: Double, hashes: Int, gridN: Int = 200): String = {
    val splits = (1 to hashes).filter(hashes % _ == 0)
      .map(r => (r, hashes / r))
    // every literal CAST to DOUBLE: DuckDB bare decimals are DECIMAL and
    // would run decimal arithmetic where the engine ran IEEE doubles
    val one = "CAST(1.0 AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    val n = s"CAST($gridN AS DOUBLE)"
    val t = s"CAST($tau AS DOUBLE)"
    val rowsSql = splits.map { case (r, b) =>
      val s = s"(CAST(k AS DOUBLE) / $n)"
      val sr = Seq.fill(r)(s).mkString(" * ")
      val q = s"($one - ($sr))"
      val qb = Seq.fill(b)(q).mkString(" * ")
      val p = s"($one - ($qb))"
      s"""SELECT $r AS r, $b AS b,
         |  list_reduce([CASE WHEN $s < $t THEN $p ELSE $zero END
         |    for k in range(0, $gridN)], (x, y) -> x + y) / $n
         |    AS fp_mass,
         |  list_reduce([CASE WHEN $s < $t THEN $zero ELSE $one - $p END
         |    for k in range(0, $gridN)], (x, y) -> x + y) / $n
         |    AS fn_mass""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH grid AS (
       |$rowsSql
       |),
       |scored AS (SELECT r, b, fp_mass, fn_mass,
       |    fp_mass + fn_mass AS err FROM grid)
       |SELECT r, b, fp_mass, fn_mass, err,
       |  CAST(row_number() OVER (ORDER BY err, r) AS BIGINT) AS rank
       |FROM scored ORDER BY rank""".stripMargin
  }

  /** Binary-code ANN (Faiss IndexBinaryFlat shape): scan
    * [[Quantize.binarySign]] codes by Hamming distance for a per-query
    * candidate set, then rerank the candidates by EXACT cosine. Two-stage
    * plan, each stage touching only what it needs:
    *
    *  1. Hamming scan over (id, b0..bW) ONLY — 8-16 bytes/row against
    *     256+ for the floats, so at 100 TB the first stage reads a
    *     codes column parquet prunes down to GBs. Queries broadcast;
    *     distance is W xor+popcount ops per pair (codegen'd integer
    *     math, no floats). Top-`cands` per query by (hamming, nid).
    *  2. Exact rerank of the nq·cands candidates only: the candidate
    *     list (a few thousand (qid, nid) rows) is broadcast back against
    *     the corpus to fetch JUST those vectors, then scored with the
    *     same kernel-dot/norm recipe as [[bruteForceTopK]].
    *
    * Everything rankable is exact cross-engine: Hamming is integer,
    * cosine is the dot/(norm·norm) single-division recipe. Output:
    * (qid, nid, hamming, cos, rnk) with rnk <= k. */
  def binaryAnnTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, cands: Int): DataFrame =
    binaryAnnTopKIndexed(queries,
      Quantize.binarySign(corpus, idCol, vecCol, dim), corpus,
      idCol, vecCol, dim, k, cands)

  /** [[binaryAnnTopK]] against a PRECOMPUTED codes table (the
    * [[Quantize.binarySign]] output, stored once) — the production
    * build-once-search-many shape: the Hamming scan reads ONLY the
    * 8-16-byte code columns (parquet prunes the floats entirely), and
    * the exact rerank fetches vectors for just the nq·cands candidate
    * ids from `corpus`. */
  def binaryAnnTopKIndexed(queries: DataFrame, codes: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, cands: Int): DataFrame = {
    require(k >= 1 && cands >= k, s"need 1 <= k <= cands; got k=$k, cands=$cands")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val w = Quantize.binaryWords(dim)
    val qc = Quantize.binarySign(queries, idCol, vecCol, dim)
      .toDF("qid" +: (0 until w).map(i => s"qb$i"): _*)
    // select BY NAME before the positional rename: a codes table whose
    // columns were reordered on reload would otherwise silently bind
    // words as ids; this fails loudly instead
    // (spread BEFORE the quadratic scan — the bruteForceTopK lesson: a
    // one-file corpus otherwise scans on one task)
    val cc = codes
      .select(col(idCol) +: (0 until w).map(i => col(s"b$i")): _*)
      .toDF("nid" +: (0 until w).map(i => s"cb$i"): _*)
      .repartition(par)
    val cand = hammingCand(
      cc.crossJoin(broadcast(qc)).filter(col("qid") =!= col("nid")),
      w, cands)
    binaryRerank(cand, queries, corpus, idCol, vecCol, dim, k, cands)
  }

  /** Shared Hamming scan stage: sums xor+popcount over the qbI/cbI code
    * columns of an already-joined (query × corpus-codes) frame and keeps
    * the top-`cands` per query by (hamming, nid). ONE copy of the
    * distance and the cut, whatever the join that feeds it. */
  private def hammingCand(joined: DataFrame, w: Int, cands: Int): DataFrame = {
    val hamming = (0 until w).map { i =>
      bit_count(col(s"qb$i").bitwiseXOR(col(s"cb$i"))).cast("int")
    }.reduce(_ + _)
    val scanW = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("nid"))
    joined.select(col("qid"), col("nid"), hamming.as("hamming"))
      .withColumn("crank", row_number().over(scanW))
      .filter(col("crank") <= cands)
      .drop("crank")
  }

  /** The query's `nprobe` best cells over `qv` — dot DESC, higher index
    * on ties (reverse of ascending (d, i) struct order). Shared by
    * [[ivfTopK]] and [[ivfBinaryTopKIndexed]] so the routing convention
    * has one copy. */
  private def probeCellsExpr(centroids: Seq[Seq[Double]],
      nprobe: Int): Column = {
    val qDots = centroids.zipWithIndex.map { case (c, i) =>
      struct(dotKernel(col("qv"), typedLit(c)).as("d"), lit(i).as("i"))
    }
    transform(slice(reverse(array_sort(array(qDots: _*))), 1, nprobe),
      p => p.getField("i"))
  }

  /** Shared exact-cosine rerank of a (qid, nid, hamming) candidate set.
    * At serving scale the candidates are the SMALL side (nq·cands
    * rows) — broadcast them at the corpus, never the reverse. A BATCH
    * scoring job (millions of queries) outgrows that broadcast, so the
    * dispatch mirrors the cosine verify's: decide on the QUERY SOURCE's
    * size ([[OpConf.sizeBytes]]), bounding the candidate table from
    * above by nq·cands 24-byte rows with nq ≤ qBytes/(8+4·dim). Unless
    * both are known to fit [[OpConf.BroadcastPayloadBytes]], plain
    * shuffle joins take over: candidates join the corpus on nid, then
    * the queries on qid — and that final qid partitioning is exactly
    * the rerank window's, so no extra exchange follows. Identical
    * results either way (OperatorsSpec pins the shuffle plan +
    * equality). */
  private def binaryRerank(cand: DataFrame, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      k: Int, cands: Int): DataFrame = {
    val nv = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      normKernel(col(vecCol)).as("nn"))
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      normKernel(col(vecCol)).as("qn"))
    val rerankW = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid"))
    val maxBytes = OpConf.BroadcastPayloadBytes
    val small = OpConf.sizeBytes(queries).exists { qBytes =>
      val nqUpper = qBytes / (8L + 4L * dim) + 1L // id + float4 vector
      qBytes <= maxBytes && nqUpper * 24L * cands <= maxBytes
    }
    val joined =
      if (small)
        nv.join(broadcast(cand), "nid").join(broadcast(qv), "qid")
      else
        cand.join(nv, "nid").join(qv, "qid")
    joined
      .select(col("qid"), col("nid"), col("hamming"),
        (dotKernel(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos"))
      .withColumn("rnk", row_number().over(rerankW))
      .filter(col("rnk") <= k)
  }

  /** The stored artifact for [[ivfBinaryTopKIndexed]]: ONE corpus pass
    * attaching the coarse cell and the sign-code words —
    * (idCol, cell, b0..b{W-1}). Persist this once; searches then scan
    * 12-20 bytes/row with the floats parquet-pruned away. */
  def ivfBinaryIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], dim: Int): DataFrame =
    corpus.select(col(idCol) +:
      ivfCellExpr(col(vecCol), centroids).as("cell") +:
      Quantize.binaryWordCols(col(vecCol), dim)
        .zipWithIndex.map { case (c, i) => c.as(s"b$i") }: _*)

  /** IVF + binary codes composed (Faiss IndexBinaryIVF shape): coarse
    * routing restricts the Hamming scan to the query's `nprobe` best
    * cells, the Hamming cut restricts the exact rerank to `cands`
    * candidates — the two pruning axes multiply. This overload builds
    * the [[ivfBinaryIndex]] inline (one full-vector pass); use the
    * Indexed variant with a stored index for the scan-only-codes shape.
    * Same routing semantics as [[ivfTopK]] (ArgMaxDot assignment,
    * first-index ties; probe cells by dot DESC with higher-index ties),
    * same code/rerank semantics as [[binaryAnnTopK]] — so the oracle
    * composes the two replays. */
  def ivfBinaryTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], dim: Int,
      nprobe: Int, k: Int, cands: Int): DataFrame =
    ivfBinaryTopKIndexed(queries,
      ivfBinaryIndex(corpus, idCol, vecCol, centroids, dim), corpus,
      idCol, vecCol, centroids, dim, nprobe, k, cands)

  /** [[ivfBinaryTopK]] against a stored [[ivfBinaryIndex]]: the scan
    * stage reads only (id, cell, codes) columns. */
  def ivfBinaryTopKIndexed(queries: DataFrame, index: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], dim: Int,
      nprobe: Int, k: Int, cands: Int): DataFrame = {
    require(k >= 1 && cands >= k && nprobe >= 1,
      s"need 1 <= k <= cands, nprobe >= 1; got k=$k, cands=$cands, nprobe=$nprobe")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val w = Quantize.binaryWords(dim)
    // by-name select before the positional rename, as in the flat path
    val cc = index
      .select(col(idCol) +: col("cell") +:
        (0 until w).map(i => col(s"b$i")): _*)
      .toDF(Seq("nid", "cell") ++ (0 until w).map(i => s"cb$i"): _*)
      .repartition(par)
    val qwords = Quantize.binaryWordCols(col(vecCol), dim)
      .zipWithIndex.map { case (c, i) => c.as(s"qb$i") }
    val q = queries
      .select(Seq(col(idCol).as("qid"), col(vecCol).as("qv")) ++ qwords: _*)
      .withColumn("probe_cells", probeCellsExpr(centroids, nprobe))
      .drop("qv")
    val cand = hammingCand(
      cc.join(broadcast(q),
        array_contains(col("probe_cells"), col("cell")) &&
          col("qid") =!= col("nid")),
      w, cands)
    binaryRerank(cand, queries, corpus, idCol, vecCol, dim, k, cands)
  }

  /** Shared SQL fragments of the binary-ANN oracles — ONE copy of the
    * packed-word list, the Hamming sum, the cosine recipe, and the
    * rerank tail (resc/ranked/final SELECT over a `cand` CTE), so the
    * flat and IVF-composed replays cannot drift. */
  private def binaryPackedSql(vecSql: String, dim: Int): String =
    Quantize.binarySignOracleCols(vecSql, dim).zipWithIndex
      .map { case (t, i) => s"$t AS b$i" }.mkString(",\n    ")

  private def binaryHamSql(dim: Int): String =
    (0 until Quantize.binaryWords(dim))
      .map(i => s"CAST(bit_count(xor(q.b$i, c.b$i)) AS INT)")
      .mkString(" + ")

  private def binaryCosSql(vecSql: String): String =
    s"list_dot_product(q.$vecSql::DOUBLE[], n.$vecSql::DOUBLE[]) /" +
      s" (sqrt(list_dot_product(q.$vecSql::DOUBLE[], q.$vecSql::DOUBLE[])) *" +
      s" sqrt(list_dot_product(n.$vecSql::DOUBLE[], n.$vecSql::DOUBLE[])))"

  private def binaryRerankTailSql(vecSql: String, k: Int): String =
    s"""resc AS (SELECT cand.qid, cand.nid, cand.hamming,
       |    ${binaryCosSql(vecSql)} AS cos
       |  FROM cand JOIN qc q ON cand.qid = q.qid
       |  JOIN cc n ON cand.nid = n.nid),
       |ranked AS (SELECT qid, nid, hamming, cos,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid) AS rnk
       |  FROM resc)
       |SELECT qid, nid, hamming, cos, CAST(rnk AS INT) AS rnk
       |FROM ranked WHERE rnk <= $k
       |ORDER BY qid, rnk""".stripMargin

  /** DuckDB replay of [[binaryAnnTopK]]: the same sign-packed words
    * ([[Quantize.binarySignOracleCols]]), xor+bit_count Hamming, the
    * same two rank stages, the same cosine recipe. `querySql` filters
    * the query rows out of `table`. */
  def binaryAnnOracleSql(table: String, idSql: String, vecSql: String,
      dim: Int, k: Int, cands: Int, querySql: String): String = {
    val packed = binaryPackedSql(vecSql, dim)
    val ham = binaryHamSql(dim)
    // assembled by concatenation: the tail is already margin-stripped
    s"""WITH qc AS (SELECT $idSql AS qid, $vecSql,
       |    $packed
       |  FROM $table WHERE $querySql),
       |cc AS (SELECT $idSql AS nid, $vecSql,
       |    $packed
       |  FROM $table),
       |cand AS (
       |  SELECT qid, nid, hamming FROM (
       |    SELECT q.qid, c.nid, $ham AS hamming,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY $ham, c.nid) AS crank
       |    FROM qc q JOIN cc c ON q.qid <> c.nid)
       |  WHERE crank <= $cands),
       |""".stripMargin + binaryRerankTailSql(vecSql, k)
  }

  /** DuckDB replay of [[ivfBinaryTopK]] with centroids = the first
    * `nCents` corpus vectors by id (the [[ivfCentroidsFrom]] contract):
    * routing (assignment rn=1 dot DESC cell ASC; probe cells prn<=nprobe
    * dot DESC cell DESC) composed with the binary scan + rerank replay
    * of [[binaryAnnOracleSql]]. */
  def ivfBinaryOracleSql(table: String, idSql: String, vecSql: String,
      dim: Int, nCents: Int, nprobe: Int, k: Int, cands: Int,
      querySql: String): String = {
    val packed = binaryPackedSql(vecSql, dim)
    val ham = binaryHamSql(dim)
    // assembled by concatenation: the tail is already margin-stripped
    s"""WITH cent AS (SELECT CAST(row_number() OVER (ORDER BY $idSql) - 1
       |      AS INT) AS cell, $vecSql::DOUBLE[] AS c
       |  FROM (SELECT $idSql, $vecSql FROM $table
       |        ORDER BY $idSql LIMIT $nCents)),
       |cc AS (SELECT $idSql AS nid, $vecSql,
       |    $packed
       |  FROM $table),
       |qc AS (SELECT $idSql AS qid, $vecSql,
       |    $packed
       |  FROM $table WHERE $querySql),
       |pc AS (SELECT qid, cell FROM (
       |    SELECT q.qid, c.cell, row_number() OVER (PARTITION BY q.qid
       |      ORDER BY list_dot_product(q.$vecSql::DOUBLE[], c.c) DESC,
       |               c.cell DESC) AS prn
       |    FROM qc q CROSS JOIN cent c) t
       |  WHERE prn <= $nprobe),
       |asg AS (SELECT nid, cell FROM (
       |    SELECT e.nid, c.cell, row_number() OVER (PARTITION BY e.nid
       |      ORDER BY list_dot_product(e.$vecSql::DOUBLE[], c.c) DESC,
       |               c.cell) AS rn
       |    FROM cc e CROSS JOIN cent c) t
       |  WHERE rn = 1),
       |cand AS (SELECT qid, nid, hamming FROM (
       |    SELECT pc.qid, c.nid, $ham AS hamming,
       |      row_number() OVER (PARTITION BY pc.qid
       |        ORDER BY $ham, c.nid) AS crank
       |    FROM pc JOIN asg a USING (cell)
       |    JOIN cc c ON c.nid = a.nid
       |    JOIN qc q ON q.qid = pc.qid
       |    WHERE c.nid <> pc.qid) t
       |  WHERE crank <= $cands),
       |""".stripMargin + binaryRerankTailSql(vecSql, k)
  }

  /** DuckDB equivalent of [[lshBuckets]] (for the correctness oracle):
    * identical plane literals, list_dot_product, same bit weights. */
  def lshBucketsOracleSql(nPlanes: Int, dim: Int, table: String): String = {
    val ps = planes(nPlanes, dim)
    val terms = ps.zipWithIndex.map { case (p, i) =>
      val arr = p.map(_.toString).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $arr) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"SELECT vec_id, CAST($terms AS BIGINT) AS bucket FROM $table ORDER BY vec_id"
  }
}
