package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (builder-prompt extension surface; not present in the reference, whose
  * SQL engine stops at relational ops — lib.rs:678).
  *
  * Everything here is a declarative `DataFrame → DataFrame` transform built
  * from codegen'd `functions._` expressions — no UDFs, no driver-side
  * collection — so Catalyst can pipeline shingling/hashing inside the scan
  * stage and the only shuffles are the ones the algorithm genuinely needs
  * (group-by-fingerprint, band-bucket join). At 100 TB:
  *   - exact dedup shuffles 16-byte fingerprints, not documents;
  *   - MinHash-LSH shuffles (id, band-key) pairs — candidate verification
  *     re-joins the shingle sets only for the (rare) colliding pairs;
  *   - banding bounds the self-join blowup; skewed buckets (all-identical
  *     corpora) are capped by [[bandedCandidates]]: oversized buckets emit
  *     a min-id star instead of going quadratic.
  */
object Dedup {

  /** Candidate pairs from an exploded (id, band, key) table, with a skew
    * guard: a bucket of m members normally yields m(m-1)/2 candidates, so
    * an adversarial corpus (everything identical) turns one bucket into a
    * quadratic blowup. Buckets larger than `maxBucket` instead emit a
    * min-id STAR — each member paired with the bucket's min id: O(m)
    * candidates, connectivity preserved for [[clusterPairsStar]], and
    * every emitted pair still passes the exact verification downstream.
    * Below the cap, semantics are unchanged (all in-bucket pairs).
    *
    * Shape: no join. Bucket count and min id are WINDOW functions over
    * (band, key), and that window's exchange is the candidate step's
    * only shuffle; the per-bucket aggregate and the pair Generates ride
    * its partitioning. A self-join of the banded table would read it
    * twice, and the two consumer exchanges never canonicalize equal
    * (filter placement differs), so ReusedExchange would not fire and
    * the triples would shuffle twice. A TypedImperativeAggregate that
    * collected unbounded bucket ids in-row falls back to sort-based
    * aggregation on real-corpus key cardinality (buckets are
    * overwhelmingly singletons); the window instead buffers one bucket
    * per partition (spilling, rows are bare triples) and streams
    * count/min in one pass. */
  def bandedCandidates(banded: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key"))
    // Per-bucket enumeration:
    //   - small buckets (cnt <= maxBucket): collect the bucket's ids —
    //     BOUNDED by the cap, never an unbounded collect — and emit
    //     ascending (ida, idb) pairs;
    //   - whale rows: each member row already KNOWS its pair — the
    //     min-id star edge (bmin, id) — so it needs no bucket state.
    //     Grouping whale rows by their own id makes them singleton
    //     groups (hashpartitioning(band, key) still satisfies the
    //     3-key clustering, so no new exchange), and `ids2` below turns
    //     each into the 2-element ascending array [bmin, id]; the hub
    //     row itself (id = bmin) degenerates to a 1-element array and
    //     emits nothing. Aggregate state stays O(maxBucket) on EVERY
    //     corpus, adversarial ones included.
    // The trailing strict `ida < idb` guard drops the (x, x) self-pair a
    // degenerate duplicate-id bucket would otherwise emit.
    val win = banded.filter(col("id").isNotNull)
      .select(col("id"), col("band"), col("key"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("bmin", min(col("id")).over(w))
    val grouped = win
      .groupBy(col("band"), col("key"),
        when(col("cnt") > maxBucket, col("id")).as("__solo"))
      .agg(sort_array(collect_list(col("id"))).as("__ids"),
        min(col("bmin")).as("__bmin"))
    val ids2 = when(col("__solo").isNull, col("__ids"))
      .when(col("__solo") =!= col("__bmin"),
        array(col("__bmin"), col("__solo")))
      .otherwise(array(col("__solo")))
    grouped.select(ids2.as("__ids2"))
      .select(posexplode(col("__ids2")).as(Seq("__i", "ida")),
        col("__ids2"))
      .select(col("ida"), explode(slice(col("__ids2"),
        col("__i") + lit(2), size(col("__ids2")))).as("idb"))
      .where(col("ida") < col("idb"))
      .distinct()
  }

  /** Verify-join sizing, dispatched on the CORPUS's size
    * ([[OpConf.sizeBytes]]): corpora known to fit
    * [[OpConf.SemiReduceBytes]] feed their payload table (shingle sets /
    * sign vectors / embeddings) straight into the verify joins — fewest
    * stages, AQE broadcasts a side; any other corpus first SEMI-REDUCEs
    * the payload table to candidate ids, so the verify exchange carries
    * heavy payload columns only for colliding documents — at 100 TB
    * candidates ≪ corpus and shuffling every document's payload would
    * dominate the whole job. On that path the candidate pairs get
    * persisted (the id-set union reads them twice, the verify join
    * once; small by construction, post-cap).
    *
    * CACHE LIFECYCLE: the persisted candidate block is registered in
    * [[OperatorCache]] against the owning session — the Engine's
    * closeStatement/closeSession release it automatically, and the
    * batch mains (Bench/Verify) clearCache() between queries. Plain
    * library callers in a long-lived session can call
    * `OperatorCache.release(session)` (or clearCache) when done with
    * the returned lazy DataFrame. */
  /** Returns (candidates, payload, small). On the small-corpus path the
    * caller should attach payloads via [[attachPairPayloads]]: the bare
    * pair table is broadcast (candidates ≪ corpus by construction,
    * post-banding, post-cap) while the payload side carries heavy
    * columns — without the hint Spark's static planner sees an unknown
    * size for the candidate subtree and a known sub-threshold size for
    * the (cached) payload, so it collects + broadcasts the HEAVY side
    * through the driver, twice (once per verify join; measured ~1 s per
    * collect at sf0.1 on minhash). On the large path no hint: the
    * persisted candidates' runtime size is known to AQE and the payload
    * is semi-reduced, so the planner's own choice is sound. */
  private[operators] def semiReduceForVerify(corpus: DataFrame,
      candPairs: DataFrame,
      payload: DataFrame): (DataFrame, DataFrame, Boolean) = {
    val small = OpConf.sizeBytes(corpus).exists(_ <= OpConf.SemiReduceBytes)
    if (small) (candPairs, payload, true)
    else {
      val c = OperatorCache.persist(candPairs)
      val candIds = c.select(col("ida").as("id"))
        .union(c.select(col("idb").as("id"))).distinct()
      (c, payload.join(candIds, Seq("id"), "left_semi"), false)
    }
  }

  /** Attach both documents' payload columns (shingle sets / sign
    * vectors / embeddings) to each candidate pair, suffixing every
    * non-id payload column "a"/"b".
    *
    * Small-corpus path: TWO broadcast joins of the BARE (ida, idb)
    * pair table — one per side — against the cached payload, stitched
    * by a pair-keyed join of the two halves. Only bare id pairs ever
    * go through the driver. The previous shape chained the joins and
    * broadcast-hinted the probe side of the SECOND one, but by then
    * that side was pairs-already-joined-with-payload: a corpus under
    * the small-path size estimate can still legally form buckets up to
    * `maxBucket`, yielding millions of candidate pairs × one payload
    * array each — past the driver heap / 8 GB broadcast hard limit,
    * turning a slow-but-working plan into a job failure. The bare pair
    * table is persisted so both broadcast builds read one computation
    * (and the two broadcast exchanges canonicalize identically for
    * reuse); the stitch join's sides carry payload for candidates
    * only, and AQE may broadcast one from MEASURED runtime size — a
    * data-driven decision, unlike the removed static hint.
    *
    * Large path: chained shuffle joins, no hints — the candidates are
    * persisted and the payload is semi-reduced to colliding ids, so
    * AQE sees real sizes and the exchanges carry heavy columns only
    * for candidates. */
  private[operators] def attachPairPayloads(cand: DataFrame,
      payload: DataFrame, small: Boolean): DataFrame = {
    // CONTRACT: `cand` is a bare (ida, idb) pair table — enforced, not
    // just documented, because the two paths could not honor extra
    // columns equivalently: the small path's stitch is built from a
    // persisted bare-pair projection (re-joining the original `cand`
    // for extras would re-execute the whole un-persisted candidate
    // pipeline, square any duplicate pairs, and hand AQE a
    // payload-carrying side to runtime-broadcast — an out-of-memory
    // failure mode invisible to the static-broadcast PlanSpec pin).
    // A caller needing per-pair columns should join them onto the
    // RESULT by (ida, idb) instead.
    require(cand.columns.toSet == Set("ida", "idb"),
      s"attachPairPayloads expects bare (ida, idb) pairs, got " +
        cand.columns.mkString("(", ", ", ")"))
    val pcols = payload.columns.filter(_ != "id")
    def side(suffix: String, idAs: String): DataFrame =
      payload.select(col("id").as(idAs) +:
        pcols.map(c => col(c).as(c + suffix)): _*)
    if (small) {
      val bare = OperatorCache.persist(cand)
      broadcast(bare).join(side("a", "ida"), "ida")
        .join(broadcast(bare).join(side("b", "idb"), "idb"),
          Seq("ida", "idb"))
    } else {
      cand.join(side("a", "ida"), "ida").join(side("b", "idb"), "idb")
    }
  }

  /** Lower-cased whitespace tokens, empties dropped. */
  def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => w =!= "")

  /** Distinct n-word shingles ("n-grams of words"). Documents shorter than
    * n words yield their whole text as one shingle. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graftaccess.Internals.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graftaccess.Internals.expression(text), n))

  /** Declarative reference formulation of [[shingles]] (interpreted HOF
    * lambdas — the shape the DuckDB oracles replay; OperatorsSpec pins
    * kernel equality against it). */
  def shinglesRef(text: Column, n: Int): Column = {
    val ws = words(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => array_join(slice(ws, i, lit(n)), " ")))
  }

  /** 2^31-1; keeping hash values under 2^31 makes a*h+b overflow-free in
    * Long arithmetic, which matters because Spark 4 runs ANSI mode (where
    * silent wraparound would instead throw ARITHMETIC_OVERFLOW). */
  val HashPrime = 2147483647L

  /** xxhash64 per shingle, reduced below the overflow-safe prime. Keep
    * this in its OWN projection (separated from [[minhashSigFromHashes]]
    * by an exchange) — inlined into the per-permutation lambda it would
    * re-hash every shingle string numPerms× per document. */
  def hashShingles(sh: Column): Column =
    transform(sh, s => pmod(xxhash64(s), lit(HashPrime)))

  /** MinHash signature from pre-hashed shingles: for each of `numPerms`
    * affine permutations (a*h + b) mod P, the minimum value — computed by
    * the codegen'd [[graft.functions.MinHashSignature]] kernel (one tight
    * loop per row; the equivalent higher-order-function formulation runs
    * interpreted and measured ~100× slower at sf0.1). */
  def minhashSigFromHashes(hs: Column, numPerms: Int): Column =
    org.apache.spark.sql.graftaccess.Internals.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graftaccess.Internals.expression(hs),
        numPerms, HashPrime))

  /** Convenience composition (single-projection; fine for small inputs,
    * prefer the hash/sig split with a barrier for large corpora). */
  def minhashSig(sh: Column, numPerms: Int): Column =
    minhashSigFromHashes(hashShingles(sh), numPerms)

  /** Exact dedup: group identical (lower-cased) texts by MD5 fingerprint;
    * representative = min id. Shuffles only (fp, id) pairs. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(col(textCol))).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-source exact dedup with PROVENANCE: when the same text
    * appears in several sources, keep the copy from the
    * highest-priority source — the "prefer the curated edition over
    * the crawl copy" rule every multi-corpus assembly applies (C4 vs
    * books vs wiki overlap) — and report where else it appeared.
    * `priority` lists sources best-first; unlisted sources rank after
    * all listed ones; ties break by (source name, min id), so the
    * representative is total-order deterministic. Output per distinct
    * text: keep_id, keep_source, n_copies, n_sources, and the sorted
    * distinct source list (provenance — what a data card reports).
    *
    * Scale shape: ONE exchange keyed on the 16-byte fingerprint; the
    * argmin rides a struct `min` (partial-aggregated map-side), the
    * text column never shuffles, and the per-group source list is
    * bounded by the number of corpora, not the corpus size. */
  def provenanceDedup(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, priority: Seq[String]): DataFrame = {
    val rank = priority.zipWithIndex
      .foldLeft(lit(priority.size): Column) { case (acc, (s0, i)) =>
        when(col(sourceCol) === s0, lit(i)).otherwise(acc)
      }
    df.select(md5(lower(col(textCol))).as("fp"),
        col(idCol).as("__id"), col(sourceCol).as("__src"), rank.as("__rk"))
      .groupBy("fp")
      .agg(
        min(struct(col("__rk"), col("__src"), col("__id"))).as("best"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("__src")).as("n_sources"),
        array_sort(collect_set(col("__src"))).as("__sources"))
      .select(col("best.__id").as("keep_id"),
        col("best.__src").as("keep_source"),
        col("n_copies"), col("n_sources"),
        array_join(col("__sources"), ",").as("sources"))
  }

  /** SoftDedup (Xue et al. 2024, "SoftDedup: an Efficient Data
    * Reweighting Method for Speeding Up Language Model Pre-training"):
    * instead of DROPPING duplicates, keep every document and DOWNWEIGHT
    * duplicated content — here by its exact copy count, weight =
    * 1/n_copies (one IEEE division of exact integers, bit-identical
    * cross-engine), so each distinct text contributes unit total mass
    * to the sampling distribution. Output: every input row + n_copies +
    * weight, ready for [[Sampling.prioritySample]] / [[Mixing]].
    *
    * Scale shape: ONE exchange of (id, 16-byte fp) on the fingerprint —
    * the window aggregate needs no second join-back pass, and the text
    * column never shuffles. For NEAR-dup downweighting compose
    * [[clusterPairsStar]] with [[softDedupWeightsFromClusters]] instead. */
  def softDedupWeights(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    df.select(col(idCol), md5(lower(col(textCol))).as("fp"))
      .withColumn("n_copies", count(lit(1)).over(w).cast("long"))
      .withColumn("weight", lit(1.0) / col("n_copies").cast("double"))
      .drop("fp")
  }

  /** Near-dup tier of SoftDedup: weight = 1/|cluster| from a
    * [[clusterPairsStar]] assignment; ids in no cluster keep weight 1.
    * One aggregate over the (id, cluster) table + one id-keyed join —
    * nothing document-sized moves. */
  def softDedupWeightsFromClusters(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_copies"))
    val withN = clusters.join(sizes, "cluster")
      .select(col("id").as(idCol), col("n_copies"))
    df.join(withN, Seq(idCol), "left_outer")
      .withColumn("n_copies", coalesce(col("n_copies"), lit(1L)))
      .withColumn("weight", lit(1.0) / col("n_copies").cast("double"))
  }

  /** Chunk-level exact duplication stats — the ExactSubstr tier of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022) at fixed word-window granularity, Spark-shaped: each
    * document's token stream is cut into consecutive non-overlapping
    * `chunkWords`-word windows (the tail keeps its short remainder),
    * each chunk is fingerprinted (md5 — cross-engine replicable), and a
    * chunk counts as DUPLICATED when its fingerprint occurs in at least
    * two distinct documents. Output per document: (id, n_chunks,
    * n_dup_chunks, dup_ratio); dup_ratio is one IEEE division of exact
    * integers (hash-safe). Real pipelines drop or trim documents above
    * a dup_ratio threshold.
    *
    * Scale shape: chunking is a projection; the only shuffles carry
    * (id, 16-byte fp) rows — never text — once to count distinct docs
    * per fingerprint and once to join the tiny duplicated-fp set back
    * (left_semi-style via an inner join on fp; both sides already hash
    * on fp). Same "shuffle fingerprints, not documents" argument as
    * [[exactDedup]]. */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 20): DataFrame = {
    val ws = df.select(col(idCol).as("id"), words(col(textCol)).as("ws"))
      .where(size(col("ws")) >= 1)
    val chunks = ws.select(col("id"), explode(expr(
        s"transform(sequence(1, size(ws), $chunkWords), " +
          s"i -> array_join(slice(ws, i, $chunkWords), ' '))")).as("chunk"))
      .select(col("id"), md5(col("chunk")).as("fp"))
    // fingerprints seen in ≥2 distinct docs (tiny by construction)
    val dupFps = chunks.distinct()
      .groupBy("fp").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("fp")
    val dupCounts = chunks.join(dupFps, Seq("fp"))
      .groupBy("id").agg(count(lit(1)).as("n_dup_chunks"))
    chunks.groupBy("id").agg(count(lit(1)).as("n_chunks"))
      .join(dupCounts, Seq("id"), "left")
      .select(col("id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        (coalesce(col("n_dup_chunks"), lit(0L)).cast("double") /
          col("n_chunks").cast("double")).as("dup_ratio"))
  }

  /** Maximal duplicated-SPAN detection + removal — the full ExactSubstr
    * semantics of "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al. 2022) at word granularity, Spark-shaped. Where
    * [[chunkDupStats]] scores fixed non-overlapping windows, this tier
    * slides a `gramWords`-word gram over every position, marks a gram
    * DUPLICATED when it occurs in ≥2 distinct documents, merges
    * overlapping/adjacent duplicated gram positions into maximal spans,
    * and REBUILDS each document with every duplicated span removed (the
    * conservative remove-all-occurrences variant; keep-one-copy is a
    * policy layer on top — pick a representative per fingerprint à la
    * [[exactDedup]] — deliberately not baked in here).
    *
    * Output per document: (id, n_spans, dup_words, clean_text), where
    * clean_text joins the surviving words with single spaces (docs with
    * no duplicated spans get their whitespace-normalized text back, so
    * the rebuild formula is uniform and cross-engine replayable).
    *
    * Scale shape: the gram explode is a projection off the scan; the
    * FLAG stages shuffle only (id, pos, 16-byte md5) rows — once to
    * find cross-doc fingerprints and once to hash-partition by doc for
    * the span-merge window; the duplicated-fp set is tiny by
    * construction and its join back onto the gram stream broadcasts.
    * Span merging is two window functions over (id, pos) on one
    * partitioning; the per-row rebuild itself is a higher-order-function
    * projection (O(len · n_spans), no shuffle of its own), but the
    * rebuild JOIN (word arrays × per-doc span lists on id) exchanges
    * the text once when the flagged-doc table outgrows a broadcast —
    * the one text-carrying shuffle AT CLUSTER SCALE (on an under-split
    * local file the conditional [[OpConf.spreadForKernel]] adds a
    * round-robin exchange of the small word arrays before the gram
    * kernel; a finely-split real table skips it). Positions are 1-based;
    * a gram at p covers words [p, p+k-1], so two grams merge iff the
    * later start is ≤ the earlier end + 1, i.e. pos - prev_pos ≤ k. */
  def dupSpanDedup(df: DataFrame, idCol: String, textCol: String,
      gramWords: Int = 10): DataFrame = {
    val k = gramWords
    val w = df.select(col(idCol).as("id"), words(col(textCol)).as("ws"))
    val grams = spanGrams(w, k)
    // fingerprints seen in ≥2 distinct docs (within-doc-only repeats are
    // NOT duplication at this tier — the cross-doc contract of the paper)
    val dupFps = grams.select("id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("fp")
    val dupPos = grams.join(dupFps, Seq("fp")).select("id", "pos")
    removeSpans(w, dupPos, k)
  }

  /** (id, pos, fp) sliding k-word gram fingerprints off a (id, ws)
    * table — the shared front of [[dupSpanDedup]] and
    * [[decontaminateSpans]]. Same cheap-bytes/expensive-rows spread as
    * [[charGrams]] (one md5 per word position serializes on an
    * under-split scan); `spread = false` skips it for inputs that are
    * tiny BY CONTRACT (an eval set), where even the conditional
    * exchange is pure overhead. */
  private def spanGrams(w: DataFrame, k: Int,
      spread: Boolean = true): DataFrame =
    (if (spread) OpConf.spreadForKernel(w.where(size(col("ws")) >= k))
     else w.where(size(col("ws")) >= k))
      .select(col("id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1}), " +
          s"i -> struct(i AS pos, md5(array_join(slice(ws, i, $k), ' ')) AS fp))"))
        .as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.fp").as("fp"))

  /** Maximal-span merge over flagged gram positions (islands over lag,
    * one window partitioning): a gram at `pos` covers units
    * [pos, pos+k-1], so hits whose starts are ≤ k apart merge. Shared
    * by the word-level span ops and [[exactSubstrDedup]]'s char tier.
    * Output: (id, sid, s, e) disjoint, non-adjacent spans. */
  private def mergeSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    dupPos
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("ns",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1)
          .otherwise(0))
      .withColumn("sid", sum("ns").over(byDoc))
      .groupBy("id", "sid")
      .agg(min("pos").as("s"), (max("pos") + lit(k - 1)).as("e"))
  }

  /** Span merge + word-level rebuild over flagged gram positions — the
    * shared back of [[dupSpanDedup]] and [[decontaminateSpans]]:
    * (id, pos) gram hits → maximal spans (islands over lag) → per-doc
    * (n_spans, dup_words, clean_text). */
  private def removeSpans(w: DataFrame, dupPos: DataFrame,
      k: Int): DataFrame = {
    val spans = mergeSpans(dupPos, k)
    val perDoc = spans.groupBy("id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).as("dup_words"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    w.join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        expr("""array_join(
                  transform(
                    filter(
                      transform(ws, (w, i) -> struct(w AS w, i + 1 AS i)),
                      x -> spans IS NULL OR
                           NOT exists(spans, sp -> x.i >= sp.s AND x.i <= sp.e)),
                    x -> x.w),
                  ' ')""").as("clean_text"))
  }

  /** Span-level DECONTAMINATION (the GPT-3 appendix-C procedure, Brown
    * et al. 2020: rather than dropping a contaminated training document
    * wholesale, REMOVE the overlapping spans): every k-word gram of a
    * train document that also appears in the EVAL set flags its
    * positions; flagged grams merge into maximal spans and the document
    * is rebuilt without them — the surgical complement of
    * [[Contamination.overlap]]'s flag-only tier. Shares
    * [[dupSpanDedup]]'s gram/merge/rebuild machinery; only the flag
    * source differs (eval-gram membership instead of cross-doc
    * duplication).
    *
    * Scale shape: the eval set's distinct gram fingerprints are a
    * benchmark-sized table (thousands of rows) — broadcast against the
    * train gram stream, so the FLAG stage shuffles only (id, pos) hits
    * into the span-merge window; like [[dupSpanDedup]], the rebuild
    * join is the one place train text exchanges (once, on id) when the
    * contaminated-doc table outgrows a broadcast. Output per train
    * document: (id, n_spans, dup_words, clean_text). */
  def decontaminateSpans(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, gramWords: Int = 10): DataFrame = {
    val k = gramWords
    val w = train.select(col(idCol).as("id"), words(col(textCol)).as("ws"))
    val evalFps = spanGrams(
        eval.select(col(idCol).as("id"), words(col(textCol)).as("ws")), k,
        spread = false) // benchmark-sized by contract: no exchange
      .select("fp").distinct()
    val dupPos = spanGrams(w, k)
      .join(broadcast(evalFps), Seq("fp"))
      .select("id", "pos")
    removeSpans(w, dupPos, k)
  }

  /** EXACT-SUBSTRING deduplication at CHARACTER granularity — the
    * bounded, oracle-able variant of Lee et al. 2022's ExactSubstr
    * (\"Deduplicating Training Data Makes Language Models Better\",
    * §4.2): every duplicated substring of length ≥ `gramChars` that
    * appears in ≥ 2 DISTINCT documents is removed surgically, the
    * document rebuilt around it. Where the paper builds a corpus-wide
    * suffix array, this tier slides a `gramChars`-char gram over each
    * document: a duplicated substring of length M ≥ L contains exactly
    * M − L + 1 duplicated L-grams, so flagging every duplicated L-gram
    * start and merging flags ≤ L apart (the shared [[mergeSpans]])
    * reconstructs precisely the maximal duplicated regions — same
    * result as the suffix-array walk for matches ≥ L, no global
    * suffix sort.
    *
    * Scale shape: the gram stream shuffles only (id, pos, 16-byte md5)
    * rows — never text — once for the cross-doc duplicate count and
    * once into the span-merge window; the duplicated-fp set joins back
    * via AQE's runtime-size broadcast (deliberately NOT hint-forced: a
    * pathologically duplicated corpus makes dupFps as big as the gram
    * stream, where a forced broadcast would OOM and a shuffle join is
    * the right plan). Per-char grams are O(total chars) rows, the price of the
    * EXACT guarantee; at 100 TB the winnowed fingerprint tier
    * ([[graft.operators.Fingerprint]]) selects O(len/w) grams per doc
    * with the ≥ L+w−1 match guarantee and feeds the same span merge —
    * this exact tier is for corpora (or the verify pass) where every
    * ≥ L match must go. Within-doc-only repeats are NOT flagged (the
    * cross-doc contract of [[dupSpanDedup]]).
    *
    * Output per document: (id, n_spans, dup_chars, clean_text) —
    * clean_text concatenates the surviving segments; positions are
    * 1-based code points, a span at [s, e] covers chars s..e
    * inclusive. The rebuild is a single higher-order fold over the
    * (few) merged spans — O(len + n_spans) per row, no shuffle. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int = 40): DataFrame = {
    val L = gramChars
    require(L >= 2, s"gramChars must be >= 2, got $L")
    val t = df.select(col(idCol).as("id"), col(textCol).as("text"))
    removeCharSpans(t, crossDocDupPositions(charGrams(t, L)), L)
  }

  /** The cross-doc duplicate flag over an (id, pos, fp) gram stream —
    * flag a position iff its fingerprint appears in ≥ 2 DISTINCT
    * documents; shared by the exact and winnowed substring tiers (the
    * Scala twin of [[crossDocDupFlagCteSql]]). The dupFps join-back is
    * deliberately NOT hint-broadcast: a pathologically duplicated
    * corpus makes it as big as the gram stream — AQE picks. */
  private def crossDocDupPositions(grams: DataFrame): DataFrame = {
    val dupFps = grams.select("id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select("fp")
    grams.join(dupFps, Seq("fp")).select("id", "pos")
  }

  /** INTRA-document exact-substring dedup — the within-doc complement
    * of [[exactSubstrDedup]] (Lee et al. '22 treat both; scraped pages
    * repeat their own boilerplate: navigation blocks, footers,
    * templated paragraphs). Every occurrence of a ≥ `gramChars`-char
    * substring whose fingerprint already appeared at an EARLIER
    * position of the SAME document is flagged and removed. For
    * NON-overlapping repeats the first occurrence survives intact; an
    * OVERLAPPING self-repeat (period < gramChars, e.g. a padding run)
    * flags every gram start after the first, so the maximal merged
    * span collapses the run to its first character(s) — spec-pinned
    * ('d'·120 → clean_text "d"), the maximal-span contract rather
    * than a keep-one-period rewrite.
    *
    * Scale shape: one projection explodes (id, pos, 16-byte md5) rows;
    * the first-occurrence window partitions by (id, fp) — fixed-width
    * rows on one hash exchange, per-doc-gram granularity, no cross-doc
    * state at all (this tier composes WITH, not instead of, the
    * cross-doc one). Output: (id, n_spans, dup_chars, clean_text). */
  def intraDocSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int = 40): DataFrame = {
    val L = gramChars
    require(L >= 2, s"gramChars must be >= 2, got $L")
    val t = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy("id", "fp")
    val dupPos = charGrams(t, L)
      .withColumn("mp", min("pos").over(byFp))
      .where(col("pos") > col("mp"))
      .select("id", "pos")
    removeCharSpans(t, dupPos, L)
  }

  /** WINNOWED exact-substring dedup — the 100 TB gram-selection tier of
    * [[exactSubstrDedup]] (Schleimer et al. '03
    * winnowing composed with Lee et al. '22 §4.2 span removal). Where
    * the exact tier fingerprints EVERY L-char gram (O(total chars)
    * gram rows — the price of the every-match-≥L contract), this tier
    * selects only the winnow's ~1/w density subset
    * ([[graft.functions.WinnowPositions]]: min-hash per window of `w`
    * consecutive grams, rightmost tie) and feeds the SAME
    * [[mergeSpans]]/[[removeCharSpans]] back end.
    *
    * Guarantees (both directions, documented for the contract):
    *  - COMPLETENESS: every substring of length ≥ L+w−1 duplicated
    *    across ≥ 2 documents is caught — such a region contains a full
    *    window of w grams in both copies, winnow selection is LOCAL
    *    (window contents only), so both copies select the same gram
    *    hash there, its doc-count reaches 2, and the gram's span is
    *    removed from every copy. Matches in [L, L+w−1) may be missed
    *    entirely (they can straddle windows whose minima lie outside
    *    the match) — the false-negative band the w-fold gram saving
    *    buys. Region EDGES: the first/last selected gram inside a
    *    duplicated region can lie up to w−1 grams in, so up to
    *    w−1 duplicated chars per edge can survive (the exact tier
    *    removes the full maximal region).
    *  - SOUNDNESS: only duplicated chars are ever removed. The rolling
    *    hash is used for position SELECTION ONLY (a collision merely
    *    picks a different gram of the window — selection stays a pure
    *    function of content, so completeness is untouched); the
    *    cross-doc FLAG identity is the md5 of the selected L-gram
    *    itself, the same 128-bit identity the exact tier uses. A
    *    ~30-bit flag identity would destroy unique text on hash
    *    collisions — at 100 TB gram volumes EVERY rolling-hash bucket
    *    collides cross-doc, so flag-on-rolling-hash would remove
    *    essentially the whole corpus. Flags merge at gap ≤ L
    *    ([[mergeSpans]]), so consecutive flagged grams have
    *    overlapping extents and every char of a merged span lies
    *    inside SOME cross-doc-duplicated L-gram. (Within one shared
    *    region consecutive selections are ≤ w apart; w ≤ L holds for
    *    any sane parameterization, enforced below.)
    *
    * Scale shape: identical to [[exactSubstrDedup]] — fixed-width
    * (id, pos, fp) shuffles, AQE-sized dupFps join-back — at ~1/w the
    * gram-row volume; the winnow kernel itself is one codegen call per
    * document. Output: (id, n_spans, dup_chars, clean_text). */
  def winnowSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int = 40, window: Int = 8): DataFrame = {
    val L = gramChars
    require(L >= 2, s"gramChars must be >= 2, got $L")
    require(window >= 1 && window <= L,
      s"window must be in [1, gramChars]: soundness of the gap-<=L span " +
        s"merge needs consecutive in-region selections <= L apart, got " +
        s"window=$window gramChars=$L")
    val t = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val sel = OpConf.spreadForKernel(t.where(length(col("text")) >= L))
      .select(col("id"), col("text"), explode(
        org.apache.spark.sql.graftaccess.Internals.column(
          graft.functions.WinnowPositions(
            org.apache.spark.sql.graftaccess.Internals.expression(
              col("text")), L, window))).as("g"))
      // the kernel's rolling hash picked the POSITION; the flag
      // fingerprint is the md5 of the gram itself (see SOUNDNESS above)
      .select(col("id"), col("g.pos").as("pos"),
        expr(s"md5(substring(text, g.pos, $L))").as("fp"))
    removeCharSpans(t, crossDocDupPositions(sel), L)
  }

  /** (id, pos, fp) sliding L-char gram fingerprints off a (id, text)
    * table — the shared front of the char-granularity substring ops.
    * The explode is the canonical cheap-bytes/expensive-rows stage (one
    * md5 PER CHARACTER of input): left on a small local file's few scan
    * splits it ran on 6 of 32 threads at sf0.1 (4.5 s stages, measured)
    * — [[OpConf.spreadForKernel]] spreads it only when the scan
    * under-splits, so a finely-split cluster table never pays a text
    * exchange for it. */
  private def charGrams(t: DataFrame, L: Int): DataFrame =
    OpConf.spreadForKernel(t.where(length(col("text")) >= L))
      .select(col("id"), explode(expr(
        s"transform(sequence(1, length(text) - ${L - 1}), " +
          s"i -> struct(i AS pos, md5(substring(text, i, $L)) AS fp))"))
        .as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.fp").as("fp"))

  /** Char-span merge + rebuild over flagged gram positions — the shared
    * back of [[exactSubstrDedup]] and [[intraDocSubstrDedup]]: flags →
    * maximal spans ([[mergeSpans]]) → per-doc
    * (n_spans, dup_chars, clean_text) with a segment-concat fold. */
  private def removeCharSpans(t: DataFrame, dupPos: DataFrame,
      L: Int): DataFrame = {
    val spans = mergeSpans(dupPos, L)
    val perDoc = spans.groupBy("id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).as("dup_chars"),
      sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    t.join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        // segment-concat fold over the sorted spans: spans are disjoint
        // and non-adjacent (mergeSpans), so s > prev always and every
        // substring length is >= 0; the finish clause appends the tail
        expr("""CASE WHEN spans IS NULL THEN text ELSE
                  aggregate(spans,
                    struct(CAST(0 AS INT) AS prev, CAST('' AS STRING) AS acc),
                    (st, sp) -> struct(CAST(sp.e AS INT),
                      concat(st.acc,
                        substring(text, st.prev + 1, sp.s - st.prev - 1))),
                    st -> concat(st.acc,
                      substring(text, st.prev + 1,
                        length(text) - st.prev)))
                END""").as("clean_text"))
  }

  /** DuckDB replay of [[exactSubstrDedup]]: char-gram fingerprints,
    * the same span-merge CTEs, and a per-char coverage rebuild. Kept
    * textually separate from [[spanRemovalOracleSql]] because every
    * LEAF differs (gram source = substr not word-slice, unit table =
    * chars not words, separator '' not ' ', dup_chars not dup_words);
    * the span-merge skeleton (s/si/sp CTEs) mirrors it line for
    * line. */
  def exactSubstrOracleSql(table: String, idCol: String,
      gramChars: Int): String =
    charSpanRemovalOracleSql(table, idCol, gramChars,
      everyCharGramCteSql(idCol, gramChars), crossDocDupFlagCteSql(idCol))

  /** The cross-doc duplicate flag CTEs (`p0` → flagged `p`), shared by
    * the exact and winnowed substring tiers — both flag a gram iff its
    * fingerprint appears in ≥ 2 distinct documents. */
  private def crossDocDupFlagCteSql(idCol: String): String =
    s"""dfp AS (SELECT fp FROM (
       |    SELECT fp, count(*) AS nd
       |    FROM (SELECT DISTINCT $idCol, fp FROM p0) GROUP BY fp)
       |  WHERE nd >= 2),
       |p AS (SELECT $idCol, pos FROM p0 JOIN dfp USING (fp))"""
      .stripMargin

  /** The exact tier's gram source (`w` → `p0`): one md5 per character
    * position. */
  private def everyCharGramCteSql(idCol: String, gramChars: Int): String = {
    val k = gramChars
    s"""g AS (SELECT $idCol, unnest(
       |    [ {'pos': i, 'fp': md5(substr(text, CAST(i AS INT), $k))}
       |      for i in range(1, length(text) - ${k - 2}) ]) AS u
       |  FROM w WHERE length(text) >= $k),
       |p0 AS (SELECT $idCol, u.pos AS pos, u.fp AS fp FROM g)"""
      .stripMargin
  }

  /** DuckDB replay of [[winnowSubstrDedup]]: the winnow kernel's exact
    * integer math (same Rabin–Karp Base/Mod as
    * [[graft.operators.Fingerprint.oracleFpsCte]]), per-window
    * rightmost-minimum selection via the `hash·2^31 + (2^31 − pos)`
    * BIGINT encoding (lossless: hash < 2^30, pos < 2^31; larger pos ⇒
    * smaller encoding ⇒ rightmost wins ties under list_min), then —
    * like the operator — the md5 of the SELECTED gram as the flag
    * fingerprint (the rolling hash only picks positions), into the
    * SAME cross-doc flag and span-merge/rebuild CTEs as the exact
    * tier. */
  def winnowSubstrOracleSql(table: String, idCol: String,
      gramChars: Int, window: Int): String = {
    val k = gramChars
    val W = window
    val B = 2147483648L // 2^31
    import graft.functions.WinnowFingerprints.{Base, Mod}
    val pw = Array.iterate(1L, k)(p => p * Base % Mod).reverse
    val terms = (0 until k).map(j =>
      s"CAST(unicode(substr(text, CAST(i AS INT)+$j, 1)) AS BIGINT) * ${pw(j)}")
      .mkString(" + ")
    val gramCte =
      s"""h AS (SELECT $idCol,
         |  [ ($terms) % $Mod
         |    for i in range(1, length(text) - $k + 2) ] AS hh
         |  FROM w WHERE length(text) >= $k),
         |sel AS (SELECT $idCol, list_distinct(CASE
         |    WHEN len(hh) = 0 THEN []::BIGINT[]
         |    WHEN len(hh) <= $W THEN
         |      [ list_min([ hh[CAST(p AS INT)] * $B + ($B - p)
         |                   for p in range(1, len(hh) + 1) ]) ]
         |    ELSE
         |      [ list_min([ hh[CAST(p AS INT)] * $B + ($B - p)
         |                   for p in range(CAST(i AS INT),
         |                                  CAST(i AS INT) + $W) ])
         |        for i in range(1, len(hh) - $W + 2) ]
         |  END) AS encs FROM h),
         |psel AS (SELECT $idCol, CAST($B - (e % $B) AS BIGINT) AS pos
         |       FROM (SELECT $idCol, unnest(encs) AS e FROM sel)),
         |p0 AS (SELECT psel.$idCol, psel.pos,
         |       md5(substr(w.text, CAST(psel.pos AS INT), $k)) AS fp
         |       FROM psel JOIN w USING ($idCol))"""
        .stripMargin
    charSpanRemovalOracleSql(table, idCol, gramChars, gramCte,
      crossDocDupFlagCteSql(idCol))
  }

  /** DuckDB replay of [[intraDocSubstrDedup]]: the same char-gram and
    * span-removal chain with the flag stage swapped to
    * later-than-first-occurrence within the document. */
  def intraDocSubstrOracleSql(table: String, idCol: String,
      gramChars: Int): String =
    charSpanRemovalOracleSql(table, idCol, gramChars,
      everyCharGramCteSql(idCol, gramChars),
      s"""p AS (SELECT $idCol, pos FROM (
         |    SELECT $idCol, pos,
         |      min(pos) OVER (PARTITION BY $idCol, fp) AS mp FROM p0)
         |  WHERE pos > mp)""".stripMargin)

  /** The shared char-granularity span-removal replay: `gramCteSql`
    * supplies the CTE(s) deriving the gram table `p0($idCol, pos, fp)`
    * from `w($idCol, text)` (every-char md5 for the exact tier, winnow
    * selection for the winnowed tier); `flagCteSql` the CTE(s) deriving
    * the flagged starts `p($idCol, pos)` from `p0`; everything else
    * (span merge, coverage, per-char rebuild) is ONE copy, mirroring
    * the Scala side's charGrams/removeCharSpans split. */
  private def charSpanRemovalOracleSql(table: String, idCol: String,
      gramChars: Int, gramCteSql: String, flagCteSql: String): String = {
    val k = gramChars
    s"""WITH w AS (SELECT $idCol, text FROM $table),
       |""".stripMargin + gramCteSql + ",\n" + flagCteSql + s""",
       |s AS (SELECT $idCol, pos,
       |    CASE WHEN lag(pos) OVER win IS NULL
       |          OR pos - lag(pos) OVER win > $k
       |      THEN 1 ELSE 0 END AS ns
       |  FROM p WINDOW win AS (PARTITION BY $idCol ORDER BY pos)),
       |si AS (SELECT $idCol, pos,
       |    sum(ns) OVER (PARTITION BY $idCol ORDER BY pos) AS sid FROM s),
       |sp AS (SELECT $idCol, sid, min(pos) AS st,
       |       max(pos) + ${k - 1} AS en
       |       FROM si GROUP BY $idCol, sid),
       |agg AS (SELECT $idCol, CAST(count(*) AS BIGINT) AS n_spans,
       |        CAST(sum(en - st + 1) AS BIGINT) AS dup_chars
       |        FROM sp GROUP BY $idCol),
       |cov AS (SELECT DISTINCT $idCol,
       |        unnest([ i for i in range(st, en + 1) ]) AS i FROM sp),
       |ci0 AS (SELECT $idCol, unnest(
       |    [ {'i': i, 'ch': substr(text, CAST(i AS INT), 1)}
       |      for i in range(1, length(text) + 1) ]) AS u
       |  FROM w),
       |ci AS (SELECT $idCol, u.i AS i, u.ch AS ch FROM ci0),
       |keep AS (SELECT * FROM ci ANTI JOIN cov USING ($idCol, i)),
       |ct AS (SELECT $idCol,
       |       array_to_string(list(ch ORDER BY i), '') AS clean_text
       |       FROM keep GROUP BY $idCol)
       |SELECT w.$idCol,
       |  coalesce(agg.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(agg.dup_chars, 0)::BIGINT AS dup_chars,
       |  CASE WHEN w.text IS NULL THEN NULL
       |       ELSE coalesce(ct.clean_text, '') END AS clean_text
       |FROM w LEFT JOIN agg USING ($idCol) LEFT JOIN ct USING ($idCol)
       |ORDER BY w.$idCol""".stripMargin
    // NULL text passes through as NULL clean_text on BOTH sides (the
    // Spark CASE keeps text; a blanket coalesce('') here would diverge
    // from the operator).
  }

  /** Shared DuckDB replay of the span-removal pipeline ([[dupSpanDedup]]
    * and [[decontaminateSpans]] — ONE copy of the gram fingerprinting,
    * span merge, coverage and rebuild CTEs, mirroring the Scala side's
    * spanGrams/removeSpans split): `flagCteSql` supplies the `dfp` CTE
    * body (a single-column `fp` SELECT — the only part the two
    * operators disagree on). */
  def spanRemovalOracleSql(table: String, idCol: String,
      duckWords: String, gramWords: Int, flagCteSql: String): String = {
    val k = gramWords
    s"""WITH w AS (SELECT $idCol, $duckWords AS ws FROM $table),
       |g0 AS (SELECT $idCol, unnest(
       |    [ {'pos': i, 'fp': md5(array_to_string(ws[i:i+${k - 1}], ' '))}
       |      for i in range(1, len(ws) - ${k - 2}) ]) AS u
       |  FROM w WHERE len(ws) >= $k),
       |g AS (SELECT $idCol, u.pos AS pos, u.fp AS fp FROM g0),
       |dfp AS ($flagCteSql),
       |p AS (SELECT $idCol, pos FROM g JOIN dfp USING (fp)),
       |s AS (SELECT $idCol, pos,
       |    CASE WHEN lag(pos) OVER win IS NULL
       |          OR pos - lag(pos) OVER win > $k
       |      THEN 1 ELSE 0 END AS ns
       |  FROM p WINDOW win AS (PARTITION BY $idCol ORDER BY pos)),
       |si AS (SELECT $idCol, pos,
       |    sum(ns) OVER (PARTITION BY $idCol ORDER BY pos) AS sid FROM s),
       |sp AS (SELECT $idCol, sid, min(pos) AS st,
       |       max(pos) + ${k - 1} AS en
       |       FROM si GROUP BY $idCol, sid),
       |agg AS (SELECT $idCol, CAST(count(*) AS BIGINT) AS n_spans,
       |        CAST(sum(en - st + 1) AS BIGINT) AS dup_words
       |        FROM sp GROUP BY $idCol),
       |cov AS (SELECT DISTINCT $idCol,
       |        unnest([ i for i in range(st, en + 1) ]) AS i FROM sp),
       |wi0 AS (SELECT $idCol, unnest(
       |    [ {'i': i, 'wd': ws[i]} for i in range(1, len(ws) + 1) ]) AS u
       |  FROM w),
       |wi AS (SELECT $idCol, u.i AS i, u.wd AS wd FROM wi0),
       |keep AS (SELECT * FROM wi ANTI JOIN cov USING ($idCol, i)),
       |ct AS (SELECT $idCol,
       |       array_to_string(list(wd ORDER BY i), ' ') AS clean_text
       |       FROM keep GROUP BY $idCol)
       |SELECT w.$idCol,
       |  coalesce(agg.n_spans, 0)::BIGINT AS n_spans,
       |  coalesce(agg.dup_words, 0)::BIGINT AS dup_words,
       |  coalesce(ct.clean_text, '') AS clean_text
       |FROM w LEFT JOIN agg USING ($idCol) LEFT JOIN ct USING ($idCol)
       |ORDER BY w.$idCol""".stripMargin
  }

  /** CONTENT-DEFINED chunking duplication stats — the LBFS recipe
    * (Muthitacharoen et al., SOSP '01) at word granularity, in the
    * stateless-boundary form: a chunk boundary falls AFTER word i when
    * the `gramWords`-word gram ENDING at i hashes to 0 mod `modulus`
    * (expected chunk length = modulus words). Boundaries depend only on
    * the local gram, so an insertion near the top of a page shifts ONLY
    * the chunks overlapping the edit — where [[chunkDupStats]]'s fixed
    * windows all shift and every downstream chunk's fingerprint changes.
    * That shift robustness is what makes CDC the industrial dedup tier
    * for near-identical scraped pages (headers injected, dates bumped).
    *
    * Scale shape: gram AND word hashing happen INSIDE the per-doc array,
    * so the rows the boundary-cumsum window shuffles are fixed-width
    * (id, pos, 60-bit word hash, boundary bool) — never text at cluster
    * scale (an under-split local scan first pays the conditional
    * [[OpConf.spreadForKernel]] round-robin of the small word arrays),
    * the same fingerprint-only-shuffle discipline as [[dupSpanDedup]]; chunk
    * fingerprinting groups on the same (id) partitioning (exchange
    * reusable); duplicate detection shuffles 16-byte fingerprints; the
    * (tiny) duplicated-fp set broadcasts back. A chunk's identity is the
    * md5 of its word-hash sequence — two chunks collide only through a
    * 60-bit word-hash collision, the tier every md5-60bit operator here
    * accepts. Docs with no words are excluded. Output:
    * (id, n_chunks, n_dup_chunks, dup_frac) — duplication = fingerprint
    * in ≥2 DISTINCT docs, as in [[chunkDupStats]]; dup_frac is one IEEE
    * division of exact counts. */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
      gramWords: Int = 4, modulus: Int = 8): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, gramWords, modulus)
    val dupFps = chunks.select("id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= 2).select(col("fp").as("dfp"))
    chunks.join(dupFps, col("fp") === col("dfp"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dfp").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
  }

  /** The CDC chunk table (id, chunk index, fingerprint) — the reusable
    * half of [[cdcChunkDedup]]; the spec pins shift robustness on it. */
  private[graft] def cdcChunks(df: DataFrame, idCol: String,
      textCol: String, gramWords: Int, modulus: Int): DataFrame = {
    val w = gramWords
    val pos = df
      .select(col(idCol).as("id"), words(col(textCol)).as("ws"))
      .where(size(col("ws")) >= 1)
      // TWO md5s per word position serialize on an under-split scan
      // (3-task 1.0-1.2 s stages measured at sf0.1); conditional, so a
      // finely-split cluster table pays nothing
      .transform(OpConf.spreadForKernel)
      .select(col("id"), explode(expr(
        s"""transform(ws, (wd, i) -> struct(i + 1 AS pos,
           |  CAST(conv(substr(md5(wd), 1, 15), 16, 10) AS BIGINT) AS h,
           |  CASE WHEN i + 1 >= $w THEN
           |    CAST(conv(substr(md5(array_join(
           |      slice(ws, i + 2 - $w, $w), ' ')), 1, 15), 16, 10)
           |      AS BIGINT) % $modulus = 0
           |  ELSE false END AS bnd))""".stripMargin)).as("g"))
      .select(col("id"), col("g.pos").as("pos"),
        col("g.h").as("h"), col("g.bnd").as("bnd"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    // word i's chunk = boundaries strictly before i (boundary AFTER j
    // opens a new chunk at j+1)
    val chunked = pos.withColumn("chunk",
      coalesce(sum(col("bnd").cast("int")).over(
          byDoc.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0)))
    chunked
      .groupBy("id", "chunk")
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("h")))),
        x => x.getField("h").cast("string")), " ")).as("fp"))
  }

  /** DuckDB replay of [[cdcChunkDedup]]: same gram-hash boundary rule
    * (the md5-hex digit arithmetic of the simhash oracle), same shifted
    * cumsum, same distinct-doc duplication rule. */
  def cdcOracleSql(table: String, idCol: String,
      gramWords: Int = 4, modulus: Int = 8): String = {
    val w = gramWords
    val duckWords =
      """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""
    val md5int = (s: String) =>
      s"""CAST(list_sum(list_transform(range(15), j ->
         |  CAST(instr('0123456789abcdef',
         |    substr(md5($s), CAST(j AS INT)+1, 1)) - 1 AS BIGINT)
         |  << CAST(4*(14-j) AS BIGINT))) AS BIGINT)""".stripMargin
    val gram =
      s"array_to_string(ws[CAST(i-$w+1 AS INT):CAST(i AS INT)], ' ')"
    s"""WITH w AS (SELECT $idCol, $duckWords AS ws FROM $table),
       |p AS (SELECT $idCol, unnest([{'pos': i,
       |    'h': ${md5int(s"ws[CAST(i AS INT)]")},
       |    'bnd': CASE WHEN i >= $w THEN
       |      (${md5int(gram)}) % $modulus = 0 ELSE false END}
       |  for i in range(1, len(ws)+1)]) AS g
       |  FROM w WHERE len(ws) >= 1),
       |q AS (SELECT $idCol, g.pos AS pos, g.h AS h, g.bnd AS bnd
       |      FROM p),
       |c AS (SELECT $idCol, pos, h,
       |    coalesce(sum(CASE WHEN bnd THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY $idCol ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM q),
       |ch AS (SELECT $idCol, chunk,
       |    md5(string_agg(CAST(h AS VARCHAR), ' ' ORDER BY pos)) AS fp
       |  FROM c GROUP BY $idCol, chunk),
       |dup AS (SELECT fp FROM (SELECT DISTINCT $idCol, fp FROM ch)
       |        GROUP BY fp HAVING count(*) >= 2)
       |SELECT $idCol, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(count(*) FILTER (WHERE fp IN (SELECT fp FROM dup))
       |    AS BIGINT) AS n_dup_chunks,
       |  CAST(count(*) FILTER (WHERE fp IN (SELECT fp FROM dup))
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_frac
       |FROM ch GROUP BY $idCol
       |ORDER BY $idCol""".stripMargin
  }

  /** Exact blocked all-pairs n-gram Jaccard: the quadratic baseline, kept
    * honest by a blocking key (same language, similar length, ...). The
    * scale path is [[minhashLshPairs]]; this is its verification oracle. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int, threshold: Double): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      shingles(col(textCol), n).as("sh"))
    t.alias("a").join(t.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + LSH near-dup pairs: signature → band keys → bucket
    * self-join for candidates → exact-Jaccard verification of candidates
    * only. With numPerms=128, bands=32 (r=4), a pair at J=0.8 is missed
    * with probability (1-0.8^4)^32 ≈ 4e-8 — effectively exact above the
    * threshold, while never comparing non-colliding documents. */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    // Repartition FIRST (on the raw rows — cheap shuffle of ids+text):
    // shingling, hashing and signatures then all run post-shuffle across
    // every core even when the corpus arrives as one parquet file. The
    // hash step can safely sit inside the kernel's child expression —
    // unlike the old higher-order-function formulation, the kernel
    // evaluates its child ONCE per row and loops internally, so no
    // optimizer barrier is needed between hashing and signatures.
    // Persisted because three downstream branches read it (band explode +
    // both sides of the verification join); at cluster scale this is the
    // "materialize the signature table" step of a production MinHash
    // pipeline, MEMORY_AND_DISK for corpora that outgrow memory.
    val base = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(col("id"))
      .select(col("id"), shingles(col("__text"), n).as("sh"))
      .withColumn("sig", minhashSigFromHashes(hashShingles(col("sh")), numPerms))
      .transform(OperatorCache.persist)

    // Band keys from the kernel (position = band): the declarative
    // slice→stringify→concat→xxhash chain ran as interpreted lambdas,
    // bands× per document. Keys only bucket candidates (never compared
    // cross-engine), so hashing the raw signature longs is equivalent.
    val banded = base.select(col("id"),
        posexplode(org.apache.spark.sql.graftaccess.Internals.column(
          graft.functions.BandKeys(
            org.apache.spark.sql.graftaccess.Internals.expression(col("sig")),
            bands))).as(Seq("band", "key")))

    val candPairs = bandedCandidates(banded, maxBucket)

    val (cand, sets, small) = semiReduceForVerify(df, candPairs,
      base.select(col("id"), col("sh")))
    attachPairPayloads(cand, sets, small)
      .select(col("ida"), col("idb"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[minhashLshPairs]] with its (rows, bands) split picked by
    * [[Similarity.lshPick]] for the target threshold — the composed form
    * of the MMDS S-curve tuning, ending guess-the-(bands, rows) the way
    * [[saltedJoinAuto]]'s profile ended guess-the-salt. The pick is
    * O(divisors(numPerms)·gridN) driver math (no Spark job); the pairs
    * pipeline is identical to [[minhashLshPairs]]. Output adds the
    * picked (pick_r, pick_b) so callers (and the oracle) can audit the
    * parameters actually used. */
  def minhashLshPairsAuto(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 128, threshold: Double = 0.7,
      maxBucket: Int = 4096): DataFrame = {
    val (r, b) = Similarity.lshPick(df.sparkSession, threshold, numPerms)
    minhashLshPairs(df, idCol, textCol, n, numPerms, bands = b,
        threshold = threshold, maxBucket = maxBucket)
      .withColumn("pick_r", lit(r))
      .withColumn("pick_b", lit(b))
  }

  /** Incremental NOVELTY dedup — the continual-pretraining ingest shape:
    * given an already-curated `base` corpus and a NEW `batch`, report per
    * batch document whether a near-duplicate (MinHash-Jaccard >=
    * `threshold`) already exists in base, with the duplicate count and
    * the best match. Unlike [[minhashLshPairs]] (self-join), candidates
    * come from a CROSS band join — batch bands probe base bands — so
    * neither side ever pairs with itself: at 100 TB the base is the big
    * side and is bucketed/partitioned by (band, key) exactly once, the
    * batch (typically orders of magnitude smaller) streams against it.
    *
    * Whale guard: a base bucket larger than `maxBucket` participates
    * through its min-id representative only — EXISTENCE survives (a
    * colliding batch doc still meets the representative) but `n_dups`
    * under-counts inside whale buckets and `best_match` may be the
    * representative; the same O(m)-not-O(m²) trade as
    * [[bandedCandidates]], documented rather than silent.
    *
    * Output: (idCol, novel, n_dups, best_match_id, best_jaccard) for
    * EVERY batch document (novel rows carry 0 / -1 / 0.0). Jaccards are
    * single IEEE divisions of exact integers — bit-identical
    * cross-engine, so best-match selection (max jaccard, min base id)
    * replays exactly. */
  def minhashNovelty(base: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    def prep(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(col("id"))
      .select(col("id"), shingles(col("__text"), n).as("sh"))
      .withColumn("sig",
        minhashSigFromHashes(hashShingles(col("sh")), numPerms))
      .transform(OperatorCache.persist)
    def bandedOf(b: DataFrame): DataFrame = b.select(col("id"),
      posexplode(org.apache.spark.sql.graftaccess.Internals.column(
        graft.functions.BandKeys(
          org.apache.spark.sql.graftaccess.Internals.expression(col("sig")),
          bands))).as(Seq("band", "key")))
    val baseP = prep(base)
    val batchP = prep(batch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key"))
    val baseBanded = bandedOf(baseP)
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("bmin", min(col("id")).over(w))
      .filter(col("cnt") <= maxBucket || col("id") === col("bmin"))
      .select(col("id").as("idb"), col("band"), col("key"))
    val cand = bandedOf(batchP)
      .join(baseBanded.hint("shuffle_hash"), Seq("band", "key"))
      .select(col("id").as("ida"), col("idb")).distinct()
    val verified = cand
      .join(batchP.select(col("id").as("ida"), col("sh").as("sha")), "ida")
      .join(baseP.select(col("id").as("idb"), col("sh").as("shb")), "idb")
      .select(col("ida"), col("idb"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val report = verified.groupBy(col("ida"))
      .agg(count(lit(1)).as("n_dups"),
        max(struct(col("jaccard").as("j"), (-col("idb")).as("nb")))
          .as("__b"))
      .select(col("ida").as("id"), col("n_dups"),
        (-col("__b.nb")).as("best_match_id"),
        col("__b.j").as("best_jaccard"))
    batch.select(col(idCol).as("id")).join(report, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        col("n_dups").isNull.as("novel"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }

  /** Per-document 64-dim SimHash sign vector from pre-hashed words: sum of
    * ±1 per bit of each word hash. Positive component ⇒ bit set. The word
    * hashes must arrive as a separate column (same inlining hazard as
    * [[hashShingles]]: a raw `xxhash64(w)` here would be re-evaluated for
    * each of the 64 bits). */
  def simhashVectorFromHashes(hashes: Column): Column =
    org.apache.spark.sql.graftaccess.Internals.column(
      graft.functions.SimHashVector(
        org.apache.spark.sql.graftaccess.Internals.expression(hashes)))

  def simhashVector(text: Column): Column =
    simhashVectorFromHashes(transform(words(text), w => xxhash64(w)))

  /** Duplicate CLUSTERS from near-dup pairs — the step a real dedup
    * pipeline needs after pair generation (pairs (a,b),(b,c) are ONE
    * duplicate group; keep min-id, drop the rest) — as connected
    * components by the ALTERNATING large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SOCC '14). Min-label propagation converges in DIAMETER rounds: a
    * 100 TB corpus whose boilerplate chains into one deep component
    * (page-1 ~ page-2 ~ page-3 ...) would crawl through hundreds of
    * shuffle rounds. The alternating algorithm converges in
    * O(log^2 n) rounds regardless of diameter, and each round's edge
    * count never exceeds the input's.
    *
    * Per round, two phases over the directed edge list (u, v):
    *   - large-star: symmetrize; per node u with m = min(N(u) ∪ {u}),
    *     re-point every STRICTLY LARGER neighbour v > u at m;
    *   - small-star: on big→small edges, per node u with m = min(N(u)),
    *     re-point u and every other smaller neighbour at m.
    * The fixpoint is disjoint min-rooted stars.
    *
    * Input: (ida, idb) pairs of any one orderable id type. Output:
    * (id, cluster) for every id that appears in a pair, cluster = min id
    * of its component, both columns of the input id type. The pair table
    * (and, for non-integral ids, the id dictionary) is persisted through
    * [[OperatorCache]], so the Engine's statement close releases it. */
  def clusterPairsStar(pairs: DataFrame, idaCol: String = "ida",
      idbCol: String = "idb", maxRounds: Int = 100): DataFrame =
    clusterPairsStarWithRounds(pairs, idaCol, idbCol, maxRounds)._1

  private[graft] def clusterPairsStarWithRounds(pairs: DataFrame,
      idaCol: String, idbCol: String, maxRounds: Int,
      onDriver: Boolean = true): (DataFrame, Int) = {
    import org.apache.spark.sql.types._
    // Persisted: the loop input and the label assembly both read it, and
    // the pair subtree is usually an expensive upstream join that must
    // run once.
    val canon = OperatorCache.persist(pairs
      .select(greatest(col(idaCol), col(idbCol)).as("u"),
        least(col(idaCol), col(idbCol)).as("v")))
    // EVERY id appearing in a pair is labeled — ids whose only pair is a
    // self-pair (a, a) have no edge after the self-loop filter and
    // label themselves.
    def assembleLabels(forest: DataFrame): DataFrame = {
      val starLabels = forest
        .select(col("u").as("id"), col("v").as("cluster"))
        .union(forest.select(col("v").as("id"), col("v").as("cluster")))
        .distinct()
      val allIds = canon.select(col("u").as("id"))
        .union(canon.select(col("v").as("id"))).distinct()
      allIds.join(starLabels, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    }
    // The loop runs on Long keys. Every phase only compares ids, so any
    // order-preserving injection into Long yields the same star forest
    // up to that mapping, and the min key decodes to the min id.
    canon.schema("u").dataType match {
      case t @ (ByteType | ShortType | IntegerType | LongType) =>
        // widening to long round-trips losslessly
        val (forest, rounds) = starLoop(canon.select(
          col("u").cast(LongType).as("u"), col("v").cast(LongType).as("v")),
          maxRounds, onDriver)
        (assembleLabels(forest.select(col("u").cast(t).as("u"),
          col("v").cast(t).as("v"))), rounds)
      case t =>
        // Dense rank over the distinct edge ids: a cluster-wide range
        // sort, then zipWithIndex — no single-task unpartitioned window.
        // The codes are a pure function of the id set, so a recomputed
        // dictionary block decodes identically.
        val edges = canon.where(col("u") =!= col("v"))
        val sorted = edges.select(col("u").as("id"))
          .union(edges.select(col("v").as("id"))).distinct().orderBy("id")
        val dict = OperatorCache.persist(canon.sparkSession.createDataFrame(
          sorted.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row(r.get(0), i) },
          StructType(Seq(StructField("id", t), StructField("code", LongType)))))
        def recode(e: DataFrame, from: String, to: String): DataFrame = {
          def side(c: String) =
            dict.select(col(from).as(c), col(to).as("__" + c))
          e.join(side("u"), "u").join(side("v"), "v")
            .select(col("__u").as("u"), col("__v").as("v"))
        }
        val (forest, rounds) =
          starLoop(recode(edges, "id", "code"), maxRounds, onDriver)
        (assembleLabels(recode(forest, "code", "id")), rounds)
    }
  }

  /** Hash partitioner on the FIRST element of a ((u, v), _) edge key —
    * composite keys sort fully within partitions while grouping stays
    * per-u, which is what lets the star iterators stream each group
    * (min v is the group's first v) with zero buffering, hub-safe. */
  private final class EdgeKeyPartitioner(val parts: Int)
      extends org.apache.spark.Partitioner {
    override def numPartitions: Int = parts
    override def getPartition(key: Any): Int = key match {
      case (u: Long, _) =>
        val h = java.lang.Long.hashCode(u) % parts
        if (h < 0) h + parts else h
      case _ => 0
    }
    override def equals(other: Any): Boolean = other match {
      case p: EdgeKeyPartitioner => p.parts == parts
      case _ => false
    }
    override def hashCode: Int = parts
  }

  /** The alternating-star loop over (u, v) edges of Long keys (see
    * [[clusterPairsStar]] for the algorithm). Each round:
    *   - sorts both directions of every edge by (u, v) and keeps the
    *     distinct forward (u > v) set ([[dedupForward]]);
    *   - stops when that set equals the previous round's ([[sameSorted]]);
    *   - otherwise runs [[largeStar]] over the symmetric groups, sorts
    *     its output, and runs [[smallStar]] over that.
    * Every phase streams one sorted neighbour group at a time with O(1)
    * state, and sorting replaces groupBy-min + join + distinct: a
    * group's min is its first v, duplicates are adjacent. smallStar's
    * output keeps benign cross-group duplicates; the next sort dedups
    * them.
    *
    * The partition count is derived once from the measured input edge
    * count (~2 MB of pair bytes per task, floor 1, cap 4× parallelism)
    * and fixed across rounds, so consecutive rounds stay co-partitioned
    * for the compare. When it is 1, the rounds run on the driver over
    * sorted packed arrays (`onDriver = false` forces the RDD rounds);
    * both backends run the same phases through [[starRounds]], so they
    * take the same number of rounds.
    *
    * RDD rounds: each sort is one repartitionAndSortWithinPartitions on
    * the composite (u, v) key, partitioned by u; the convergence compare
    * is a co-partitioned zipPartitions stream-compare and the round's ONE
    * action, so largeStar + smallStar + compare run as a single job with
    * no Catalyst/AQE planning in the loop. A giant component's hub lands
    * its group in one task, but the phases hold O(1) state, so a
    * 10⁶-degree hub costs sequential time, never memory (OperatorsSpec
    * pins the skewed hub case).
    *
    * Durability matches [[Checkpoints]]: when `graft.checkpoint.dir` is
    * set, each RDD round's deduped set is reliably checkpointed and the
    * superseded round's files are deleted; the final forest's files are
    * left for the caller (the driver rounds checkpoint only the forest).
    * Returns the fixpoint star forest as a (u, v) DataFrame. */
  private def starLoop(canon: DataFrame, maxRounds: Int,
      onDriver: Boolean): (DataFrame, Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = canon.sparkSession
    val sc = parent.sparkContext
    val ckDir = parent.conf.getOption(Checkpoints.DirKey).filter(_.nonEmpty)
    ckDir.foreach(d => if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d))
    val schema = StructType(Seq(StructField("u", LongType),
      StructField("v", LongType)))
    // No pre-distinct of the input: round 1's sort dedups while
    // streaming, and largeStar is duplicate-insensitive. The caller
    // persists `canon`, so the sizing count and round 1 read it once.
    val input = canon.where(col("u") =!= col("v")).rdd
      .map(r => ((r.getLong(0), r.getLong(1)), ()))
    val n0 = input.count()
    val parts = math.max(1L, math.min(n0 / 131072L + 1L,
      sc.defaultParallelism.toLong * 4L)).toInt
    if (parts == 1 && onDriver) {
      val (forest, rounds) = driverStarLoop(input.keys.collect(), maxRounds)
      val rows = forest.map { case (u, v) => Row(u, v) }
      val df = ckDir match {
        case None => parent.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema)
        case Some(_) =>
          val rdd = sc.parallelize(rows.toSeq, 1)
          rdd.checkpoint()
          rdd.count()
          parent.createDataFrame(rdd, schema)
      }
      (df, rounds)
    } else {
      val (forest, rounds) =
        starRounds(new RddEdges(new EdgeKeyPartitioner(parts), ckDir),
          input, maxRounds)
      (parent.createDataFrame(
        forest.map { case ((u, v), _) => Row(u, v) }, schema), rounds)
    }
  }

  /** The driver backend of [[starLoop]]: ids are replaced by their dense
    * rank (order-preserving, so every phase makes the same choices and
    * the min decodes to the min id), each edge is packed into one Long
    * as `rank(u) << 32 | rank(v)`, and each sort is a primitive sort of
    * the packed array. Ranks are array indices, below 2^31, so packed
    * order is (u, v) order. */
  private def driverStarLoop(edges: Array[(Long, Long)],
      maxRounds: Int): (Array[(Long, Long)], Int) = {
    val ids = edges.flatMap { case (u, v) => Array(u, v) }.distinct.sorted
    def rank(x: Long): Long = java.util.Arrays.binarySearch(ids, x).toLong
    val packed = edges.map { case (u, v) => (rank(u) << 32) | rank(v) }
    val (forest, rounds) = starRounds(LocalEdges, packed, maxRounds)
    (LocalEdges.pairs(forest).map { case (u, v) =>
      (ids(u.toInt), ids(v.toInt)) }.toArray, rounds)
  }

  /** One backend of the star rounds: a set of (u, v) edges of type `C`,
    * the sort, and a way to run a phase over every sorted group. */
  private trait StarEdges[C <: AnyRef] {
    /** Both directions of every edge, sorted by (u, v). */
    def symSorted(state: C): C
    def sorted(edges: C): C
    def through(edges: C, phase: Iterator[(Long, Long)] =>
      Iterator[(Long, Long)]): C
    def same(a: C, b: C): Boolean
    /** Hold a round's forward set until the next round's compare. */
    def keep(edges: C): C = edges
    def release(edges: C): Unit = ()
  }

  /** The round structure of [[starLoop]], the same for every backend. */
  private def starRounds[C <: AnyRef](e: StarEdges[C], input: C,
      maxRounds: Int): (C, Int) = {
    var state = input
    var prevSet: Option[C] = None
    var rounds = 0
    var result: Option[C] = None
    while (result.isEmpty) {
      val symSorted = e.symSorted(state)
      val fwdSet = e.keep(e.through(symSorted, dedupForward))
      if (prevSet.exists(e.same(fwdSet, _))) result = Some(fwdSet)
      else {
        // a non-fixpoint edge list after maxRounds applications is NOT a
        // star forest — labels built from it would carry conflicting
        // clusters per id, so never return it (the paper bound is
        // O(log² n) rounds; hitting maxRounds means something is wrong)
        if (rounds >= maxRounds) throw new IllegalStateException(
          s"clusterPairsStar did not converge within $maxRounds rounds")
        state = e.through(e.sorted(e.through(symSorted, largeStar)),
          smallStar)
        prevSet.foreach(e.release)
        prevSet = Some(fwdSet)
        rounds += 1
      }
    }
    prevSet.foreach(e.release)
    (result.get, rounds)
  }

  /** Sorted symmetric edges → the distinct forward (u > v) edges. */
  private def dedupForward(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var any = false; var lu = 0L; var lv = 0L
    it.flatMap { case e @ (u, v) =>
      if (any && u == lu && v == lv) Iterator.empty
      else {
        any = true; lu = u; lv = v
        if (u > v) Iterator.single(e) else Iterator.empty
      }
    }
  }

  /** Per node u over its sorted neighbour group: m = min(N(u) ∪ {u}) =
    * min(first v, u); re-point every strictly larger v at m. */
  private def largeStar(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var any = false; var cu = 0L; var m = 0L; var lv = 0L
    it.flatMap { case (u, v) =>
      if (!any || u != cu) {
        any = true; cu = u; m = math.min(v, u); lv = v
        if (v > u) Iterator.single((v, m)) else Iterator.empty
      } else if (v == lv) Iterator.empty
      else {
        lv = v
        if (v > u) Iterator.single((v, m)) else Iterator.empty
      }
    }
  }

  /** Input invariant: u > v on every edge; m = min(N(u)) = first v;
    * emit (u, m) once plus (v, m) for every other distinct v. */
  private def smallStar(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var any = false; var cu = 0L; var m = 0L; var lv = 0L
    it.flatMap { case (u, v) =>
      if (!any || u != cu) {
        any = true; cu = u; m = v; lv = v
        Iterator.single((u, m))
      } else if (v == lv) Iterator.empty
      else { lv = v; Iterator.single((v, m)) }
    }
  }

  /** Two sorted, distinct edge streams hold the same set. */
  private def sameSorted(a: Iterator[(Long, Long)],
      b: Iterator[(Long, Long)]): Boolean = {
    var same = true
    while (same && a.hasNext && b.hasNext)
      if (a.next() != b.next()) same = false
    same && !a.hasNext && !b.hasNext
  }

  /** Driver edges: packed `u << 32 | v` Longs (see [[driverStarLoop]]). */
  private object LocalEdges extends StarEdges[Array[Long]] {
    def pairs(edges: Array[Long]): Iterator[(Long, Long)] =
      edges.iterator.map(p => (p >>> 32, p & 0xFFFFFFFFL))
    def symSorted(state: Array[Long]): Array[Long] = {
      val out = new Array[Long](state.length * 2)
      var i = 0
      while (i < state.length) {
        val p = state(i)
        out(2 * i) = p
        out(2 * i + 1) = (p << 32) | (p >>> 32)
        i += 1
      }
      java.util.Arrays.sort(out)
      out
    }
    def sorted(edges: Array[Long]): Array[Long] = {
      java.util.Arrays.sort(edges)
      edges
    }
    def through(edges: Array[Long], phase: Iterator[(Long, Long)] =>
        Iterator[(Long, Long)]): Array[Long] =
      phase(pairs(edges)).map { case (u, v) => (u << 32) | v }.toArray
    def same(a: Array[Long], b: Array[Long]): Boolean =
      sameSorted(pairs(a), pairs(b))
  }

  /** Spark edges: each sort is one shuffle under `part`; the round's
    * forward set is persisted (and checkpointed under `ckDir`) until the
    * next round's compare has read it. */
  private final class RddEdges(part: EdgeKeyPartitioner,
      ckDir: Option[String])
      extends StarEdges[org.apache.spark.rdd.RDD[((Long, Long), Unit)]] {
    import org.apache.spark.rdd.RDD
    type E = RDD[((Long, Long), Unit)]
    def symSorted(state: E): E = sorted(state.flatMap { case ((u, v), _) =>
      Iterator(((u, v), ()), ((v, u), ())) })
    def sorted(edges: E): E = edges.repartitionAndSortWithinPartitions(part)
    def through(edges: E, phase: Iterator[(Long, Long)] =>
        Iterator[(Long, Long)]): E =
      edges.mapPartitions(it => phase(it.map(_._1)).map((_, ())))
    def same(a: E, b: E): Boolean =
      a.zipPartitions(b, preservesPartitioning = false) { (ia, ib) =>
        Iterator.single(sameSorted(ia.map(_._1), ib.map(_._1)))
      }.fold(true)(_ && _)
    override def keep(edges: E): E = {
      edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ckDir.foreach(_ => edges.checkpoint())
      edges
    }
    override def release(edges: E): Unit = {
      edges.unpersist(blocking = false)
      try edges.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(edges.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case _: Exception => () } // reclamation must never fail
    }
  }

  /** INCREMENTAL connected components — the continual-ingest shape (the
    * CC analog of [[minhashNovelty]]): merge a NEW batch of near-dup
    * pairs into an EXISTING (id, cluster) assignment without re-running
    * CC over the full history. The old assignment is already a star
    * forest, so re-starring (old star edges ∪ new pairs) converges in
    * O(log² batch-diameter) rounds over |old labels| + |new pairs| edges
    * — never re-reads the corpus, never re-generates old pairs. Labels
    * of untouched components come back unchanged (their stars are
    * already fixpoints); components bridged by a new pair re-root at the
    * combined min. */
  def clusterPairsDelta(labels: DataFrame, newPairs: DataFrame,
      idaCol: String = "ida", idbCol: String = "idb"): DataFrame = {
    val starEdges = labels
      .select(col("id").as(idaCol), col("cluster").as(idbCol))
      .where(col(idaCol) =!= col(idbCol)) // roots' self-rows aren't edges
    val merged = clusterPairsStar(starEdges.unionByName(
      newPairs.select(col(idaCol), col(idbCol))), idaCol, idbCol)
    // old SINGLETON labels (id == cluster, no co-members) have no star
    // edge and no new pair — carry them through unchanged
    merged.unionByName(labels.select(col("id"), col("cluster"))
      .join(merged.select("id"), Seq("id"), "left_anti"))
  }

  /** SimHash band keys over DuckDB-REPLICABLE word hashes: the 60-bit
    * prefix of md5(word) (both engines render the same lowercase hex, and
    * 15 hex chars fit a BIGINT under ANSI). This is the cross-engine
    * oracle for the SimHash mechanism itself — [[simhashPairs]] keeps
    * xxhash64 (faster, Spark-only) for the production path; the sketch
    * math is the identical kernel in both. */
  def simhashMd5Bands(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftaccess.Internals
    val hs = transform(words(col(textCol)), w =>
      conv(substring(md5(w), 1, 15), 16, 10).cast("long"))
    df.select(col(idCol).as("doc_id"),
        Internals.column(graft.functions.SimHashBands(
          Internals.expression(simhashVectorFromHashes(hs)))).as("__bands"))
      .select(col("doc_id"),
        element_at(col("__bands"), 1).as("k0"),
        element_at(col("__bands"), 2).as("k1"),
        element_at(col("__bands"), 3).as("k2"),
        element_at(col("__bands"), 4).as("k3"))
  }

  /** SimHash near-dup pairs: 4×16-bit band keys (two docs within Hamming
    * distance 3 must agree on ≥1 band — pigeonhole) → bucket join →
    * exact Hamming verification. Same shuffle shape as MinHash-LSH.
    * `hashFn` is the per-word hash: xxhash64 for production (fast,
    * Spark-only); the md5-60bit prefix for cross-engine oracling (both
    * engines render identical lowercase hex — see [[simhashMd5Bands]]). */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(col("id"))  // parallelism first, as in minhash
      .select(col("id"), simhashVectorFromHashes(
        transform(words(col("__text")), w => hashFn(w))).as("sv"))
      .transform(OperatorCache.persist)
    // 4×16-bit band keys via kernel — value-identical to the declarative
    // Σ 2^j aggregate it replaces (which ran 64 interpreted lambda evals
    // per document).
    val banded = base.select(col("id"), col("sv"),
      posexplode(org.apache.spark.sql.graftaccess.Internals.column(
        graft.functions.SimHashBands(
          org.apache.spark.sql.graftaccess.Internals.expression(col("sv")))))
        .as(Seq("band", "key")))
    val (cand, sets, small) = semiReduceForVerify(df,
      bandedCandidates(banded, maxBucket), base.select(col("id"), col("sv")))
    // Hamming via the codegen kernel — the zip_with+filter HOF form ran
    // interpreted; only candidate pairs reach this stage, but the kernel
    // keeps the verify join inside whole-stage codegen like the others.
    attachPairPayloads(cand, sets, small)
      .select(col("ida"), col("idb"),
        org.apache.spark.sql.graftaccess.Internals.column(
          graft.functions.HammingSigns(
            org.apache.spark.sql.graftaccess.Internals.expression(col("sva")),
            org.apache.spark.sql.graftaccess.Internals.expression(col("svb"))))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
