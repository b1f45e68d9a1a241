package graft.probes

import graft.{Probe, Tables}
import graft.operators.{Dedup, Packing, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Training-data pipeline probes (builder-prompt extension surface):
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
  * search (brute-force cosine top-k / sign-LSH), text analysis. Each
  * oracle recomputes the same deterministic formula in DuckDB SQL; the
  * MinHash-LSH probe is checked against the *exact* blocked-Jaccard
  * answer (at the corpus's planted similarity levels the LSH miss
  * probability is ~4e-8, i.e. the outputs must coincide).
  */
object Pipeline {

  // NOTE on `\s`: Java regex \s (Spark's split) includes \x0B while
  // RE2/DuckDB \s does not — the testdata corpus is ASCII word-salad
  // with no vertical tabs, so both tokenizers agree; a corpus that can
  // contain \x0B needs an explicit ASCII class on both sides.
  private val duckWords =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  /** q_dedup_spans gram width — ONE source of truth interpolated into
    * both the Spark call and every oracle literal (span merge gap, gram
    * end offset, min doc length) so the two sides cannot drift. */
  private val SpanGramWords = 10

  // 3-word shingles in DuckDB (list comprehension mirrors Dedup.shingles)
  private def duckShingleCte(src: String): String =
    s"""WITH w AS (SELECT doc_id, lang, $duckWords AS ws FROM $src),
       |s AS (SELECT doc_id, lang,
       |  list_distinct([array_to_string(ws[i:i+2], ' ')
       |                 for i in range(1, greatest(len(ws)-2, 1)+1)]) AS sh
       |  FROM w)""".stripMargin

  val probes: Seq[Probe] = Seq(

    Probe.df("q_dedup_exact",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM (SELECT doc_id, md5(lower(text)) AS fp
        |      FROM (SELECT * FROM documents
        |            UNION ALL SELECT * FROM documents)) t
        |GROUP BY fp
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Dedup.exactDedup(d.unionAll(d), "doc_id", "text")
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    },

    // SoftDedup reweighting (Dedup.softDedupWeights): duplicates are
    // KEPT and downweighted by copy count so each distinct text holds
    // unit sampling mass. Exact duplicates are planted (every 5th doc
    // collapses onto one of 3 shared pages — the corpus itself has
    // none); weight is one IEEE division of exact counts.
    Probe.df("q_dedup_soft",
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'shared boilerplate page about topic '
        |         || CAST(doc_id % 3 AS VARCHAR)
        |    ELSE text END AS text FROM documents),
        |f AS (SELECT doc_id, md5(lower(text)) AS fp FROM d),
        |c AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies
        |      FROM f GROUP BY fp)
        |SELECT doc_id, n_copies,
        |  CAST(1 AS DOUBLE) / n_copies::DOUBLE AS weight
        |FROM f JOIN c USING (fp)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val planted = Tables.load(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("shared boilerplate page about topic "),
            (col("doc_id") % 3).cast("string")))
          .otherwise(col("text")).as("text"))
      Dedup.softDedupWeights(planted, "doc_id", "text")
        .orderBy("doc_id")
    },

    // EXACT set-similarity self-join (SetJoin.jaccardJoin — ppjoin
    // family): all pairs with word-set Jaccard >= 0.5, prefix-filtered
    // blocking + integer-exact verify; the deterministic complement of
    // the banded minhash path, so the oracle is the naive all-pairs
    // cross join. Planted shared pages give ~3k genuine cross-id pairs
    // on top of the self-pairs.
    Probe.df("q_join_jaccard",
      s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |    THEN 'shared boilerplate page about topic '
         |         || CAST(doc_id % 3 AS VARCHAR)
         |    ELSE text END AS text FROM documents),
         |w AS (SELECT doc_id, list_distinct($duckWords) AS t FROM d),
         |f AS (SELECT * FROM w WHERE len(t) > 0),
         |p AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r,
         |    CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
         |    CAST(len(a.t) AS BIGINT) AS sz_l,
         |    CAST(len(b.t) AS BIGINT) AS sz_r
         |  FROM f a, f b)
         |SELECT id_l, id_r, inter, sz_l, sz_r,
         |  inter::DOUBLE / (sz_l + sz_r - inter)::DOUBLE AS jaccard
         |FROM p
         |WHERE inter::DOUBLE / (sz_l + sz_r - inter)::DOUBLE
         |  >= CAST(0.5 AS DOUBLE)
         |ORDER BY id_l, id_r""".stripMargin) { (s, dir) =>
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("shared boilerplate page about topic "),
              (col("doc_id") % 3).cast("string")))
            .otherwise(col("text")).as("text"))
      val toks = planted.select(col("doc_id"),
        Dedup.words(col("text")).as("toks"))
      graft.operators.SetJoin.jaccardJoin(
          toks, toks, "doc_id", "toks", "doc_id", "toks", tau = 0.5)
        .orderBy("id_l", "id_r")
    },

    // Cross-source provenance dedup (Dedup.provenanceDedup): identical
    // texts collapse onto the highest-priority source's copy (listed
    // sources best-first, unlisted after, ties by source/id — total
    // order), with n_copies/n_sources/sorted provenance list. Planted
    // like q_dedup_soft: every 5th doc collapses onto one of 3 shared
    // pages, which therefore span many sources.
    Probe.df("q_dedup_provenance",
      """WITH d AS (SELECT doc_id, source, CASE WHEN doc_id % 5 = 0
        |    THEN 'shared boilerplate page about topic '
        |         || CAST(doc_id % 3 AS VARCHAR)
        |    ELSE text END AS text FROM documents),
        |f AS (SELECT doc_id, source, md5(lower(text)) AS fp,
        |  CASE source WHEN 'src3' THEN 0 WHEN 'src7' THEN 1 ELSE 2 END
        |    AS rk FROM d),
        |g AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  array_to_string(list_sort(list_distinct(list(source))), ',')
        |    AS sources
        |  FROM f GROUP BY fp),
        |r AS (SELECT *, row_number() OVER (PARTITION BY fp
        |    ORDER BY rk, source, doc_id) AS rn FROM f)
        |SELECT r.doc_id AS keep_id, r.source AS keep_source,
        |  g.n_copies, g.n_sources, g.sources
        |FROM r JOIN g USING (fp) WHERE rn = 1
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0,
            concat(lit("shared boilerplate page about topic "),
              (col("doc_id") % 3).cast("string")))
            .otherwise(col("text")).as("text"))
      Dedup.provenanceDedup(planted, "doc_id", "text", "source",
          priority = Seq("src3", "src7"))
        .orderBy("keep_id")
    },

    // Incremental NOVELTY dedup (Dedup.minhashNovelty — the continual-
    // pretraining ingest shape): even doc_ids play the curated BASE,
    // odd ones the NEW batch; per batch doc the operator reports
    // novel / n_dups / best match vs base. Oracle = the exact
    // all-pairs batch×base Jaccard truth (the banded operator must
    // recall every >= 0.5 pair, like q_dedup_minhash's oracle).
    Probe.df("q_dedup_novelty",
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2], ' ')
        |                 for i in range(1, greatest(len(ws)-2, 1)+1)]) AS sh
        |  FROM w),
        |a AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |b AS (SELECT * FROM s WHERE doc_id % 2 = 1),
        |v AS (SELECT * FROM (
        |    SELECT b.doc_id AS doc_id, a.doc_id AS base_id,
        |      len(list_intersect(b.sh, a.sh))::DOUBLE /
        |        len(list_distinct(list_concat(b.sh, a.sh))) AS jaccard
        |    FROM b CROSS JOIN a)
        |  WHERE jaccard >= 0.5),
        |best AS (SELECT doc_id, base_id, jaccard FROM v
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY jaccard DESC, base_id ASC) = 1),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups
        |  FROM v GROUP BY doc_id)
        |SELECT b.doc_id, r.doc_id IS NULL AS novel,
        |  COALESCE(r.n_dups, 0) AS n_dups,
        |  COALESCE(best.base_id, -1) AS best_match_id,
        |  COALESCE(best.jaccard, 0.0) AS best_jaccard
        |FROM b LEFT JOIN r USING (doc_id) LEFT JOIN best USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.minhashNovelty(
          base = docs.where(col("doc_id") % 2 === 0),
          batch = docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // Changelog-driven NOVELTY ingest (round 12 — the continual-
    // pretraining loop closed end-to-end over the CATALOG): the corpus
    // table grows by one append commit; the base is read by TIME TRAVEL
    // at the prior version, the new batch arrives via the CHANGELOG
    // (data reads touch only the new files), and minhashNovelty screens
    // batch against base. Same splits as q_dedup_novelty, so the exact
    // all-pairs truth oracle is identical — parity proves the catalog
    // route delivers exactly the base/batch partition.
    Probe.df("q_dedup_novelty_delta",
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |  list_distinct([array_to_string(ws[i:i+2], ' ')
        |                 for i in range(1, greatest(len(ws)-2, 1)+1)]) AS sh
        |  FROM w),
        |a AS (SELECT * FROM s WHERE doc_id % 2 = 0),
        |b AS (SELECT * FROM s WHERE doc_id % 2 = 1),
        |v AS (SELECT * FROM (
        |    SELECT b.doc_id AS doc_id, a.doc_id AS base_id,
        |      len(list_intersect(b.sh, a.sh))::DOUBLE /
        |        len(list_distinct(list_concat(b.sh, a.sh))) AS jaccard
        |    FROM b CROSS JOIN a)
        |  WHERE jaccard >= 0.5),
        |best AS (SELECT doc_id, base_id, jaccard FROM v
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY jaccard DESC, base_id ASC) = 1),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups
        |  FROM v GROUP BY doc_id)
        |SELECT b.doc_id, r.doc_id IS NULL AS novel,
        |  COALESCE(r.n_dups, 0) AS n_dups,
        |  COALESCE(best.base_id, -1) AS best_match_id,
        |  COALESCE(best.jaccard, 0.0) AS best_jaccard
        |FROM b LEFT JOIN r USING (doc_id) LEFT JOIN best USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val wh = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_probe_wh").getAbsolutePath
      s.conf.set("spark.sql.catalog.gprobe", "graft.catalog.MetaCatalog")
      s.conf.set("spark.sql.catalog.gprobe.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gprobe.db")
      s.sql("DROP TABLE IF EXISTS gprobe.db.docdelta")
      s.sql("CREATE TABLE gprobe.db.docdelta (doc_id BIGINT, text STRING)")
      s.sql("INSERT INTO gprobe.db.docdelta " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0")
      s.sql("INSERT INTO gprobe.db.docdelta " +
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1")
      val tdir = java.nio.file.Paths.get(wh, "db", "docdelta")
      val vs = graft.catalog.Snapshots.list(tdir).map(_.version)
      val base = s.sql("SELECT doc_id, text FROM gprobe.db.docdelta " +
        s"VERSION AS OF ${vs(vs.length - 2)}")
      val batch = graft.catalog.Changelog.read(s, "gprobe.db.docdelta",
          vs(vs.length - 2), vs.last)
        .where(col("_change_type") === "insert")
        .select(col("doc_id"), col("text"))
      Dedup.minhashNovelty(base, batch, "doc_id", "text")
        .orderBy("doc_id")
    },

    // LINE-level dedup with curation bookkeeping
    // (Boilerplate.dedupLinesProfile — the stats tier of the C4
    // dedupLines operator: every doc retained, exact n_lines/n_dropped;
    // q_pipeline_curation covers the drop-emptied-docs base tier): the
    // single-line synthetic docs get two PLANTED corpus-wide
    // boilerplate lines (dropped from every doc) plus one per-doc
    // unique line (kept); original text lines dedup by their own
    // corpus frequency. clean_text itself hash-compares.
    Probe.df("q_dedup_lines",
      """WITH t AS (SELECT doc_id, text || chr(10) ||
        |    'Subscribe to our newsletter today' || chr(10) ||
        |    'Copyright 2024 Example Corp' || chr(10) ||
        |    'Unique line for doc ' || CAST(doc_id AS VARCHAR) AS txt
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(txt, chr(10)) AS la FROM t),
        |l0 AS (SELECT doc_id, unnest(
        |    [{'pos': i, 'line': la[i]} for i in range(1, len(la) + 1)]) AS u
        |  FROM ls),
        |l AS (SELECT doc_id, u.pos AS pos, u.line AS line,
        |    md5(u.line) AS fp FROM l0),
        |b AS (SELECT fp FROM (
        |    SELECT fp, count(DISTINCT doc_id) AS nd FROM l GROUP BY fp)
        |  WHERE nd >= 2),
        |k AS (SELECT l.* FROM l ANTI JOIN b USING (fp)),
        |r AS (SELECT doc_id,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept FROM k GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(la) AS BIGINT) AS n_lines FROM ls)
        |SELECT n.doc_id, COALESCE(r.clean_text, '') AS clean_text,
        |  n.n_lines, n.n_lines - COALESCE(r.n_kept, 0) AS n_dropped
        |FROM n LEFT JOIN r USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin) { (s, dir) =>
      val wrapped = Tables.load(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          lit("\nSubscribe to our newsletter today\n" +
            "Copyright 2024 Example Corp\nUnique line for doc "),
          col("doc_id").cast("string")).as("text"))
      graft.operators.Boilerplate.dedupLinesProfile(wrapped, "doc_id", "text")
        .select(col("doc_id"), col("clean_text"),
          col("n_lines"), col("n_dropped"))
        .orderBy("doc_id")
    },

    Probe.df("q_dedup_ngram",
      duckShingleCte("documents") +
        """
          |SELECT * FROM (
          |  SELECT a.doc_id AS ida, b.doc_id AS idb,
          |    len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          |  FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
          |) WHERE jaccard >= 0.5
          |ORDER BY ida, idb""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", "lang", 3, 0.5)
        .orderBy("ida", "idb")
    },

    // Duplicate clusters: connected components over the near-dup pairs
    // (min-id representative per component). Oracle: recursive-CTE
    // transitive closure over the same exact pairs.
    Probe.df("q_dedup_clusters",
      (duckShingleCte("documents") +
        """
          |, pairs AS (
          |  SELECT * FROM (
          |    SELECT a.doc_id AS ida, b.doc_id AS idb,
          |      len(list_intersect(a.sh, b.sh))::DOUBLE /
          |        len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          |    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
          |  ) WHERE jaccard >= 0.5),
          |edges AS (
          |  SELECT ida AS src, idb AS dst FROM pairs
          |  UNION SELECT idb, ida FROM pairs),
          |reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
          |  WHERE r.src <> e.dst)
          |SELECT src AS id, least(src, min(dst)) AS cluster
          |FROM reach
          |GROUP BY src
          |ORDER BY id""".stripMargin)
        .replace("WITH w AS", "WITH RECURSIVE w AS")) { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", "lang", 3, 0.5)
      Dedup.clusterPairsStar(pairs).orderBy("id")
    },

    // Large-star/small-star connected components (Kiveris SOCC '14) on
    // an ADVERSARIAL deep-chain graph: documents ranked by doc_id and
    // chained consecutively in blocks of 50 — components of diameter 49,
    // where min-label propagation would need ~49 shuffle rounds and the
    // alternating algorithm stays logarithmic (the spec pins the round
    // count; this probe pins the labels). The rank window is probe input
    // SCAFFOLDING, not the operator — clusterPairsStar consumes a plain
    // edge list. Oracle: blocks of 50 ranks, cluster = block-min doc_id.
    Probe.df("q_dedup_cc_star",
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY doc_id) AS r FROM documents),
        |g AS (SELECT doc_id, (r - 1) // 50 AS blk FROM r)
        |SELECT doc_id AS id,
        |       min(doc_id) OVER (PARTITION BY blk) AS cluster
        |FROM g ORDER BY id""".stripMargin) { (s, dir) =>
      val ranked = Tables.load(s, dir, "documents").select("doc_id")
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      val chain = ranked.as("a")
        .join(ranked.as("b"), col("b.r") === col("a.r") + 1 &&
          col("a.r") % 50 =!= 0)
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      Dedup.clusterPairsStar(chain).orderBy("id")
    },

    // Incremental CC delta (the continual-ingest shape): the chain
    // blocks of q_dedup_cc_star are the EXISTING assignment; the new
    // batch is exactly the bridge edges between consecutive blocks
    // (rank % 50 == 0 — the edges the base chain omitted), so pairs of
    // blocks merge: cluster = min doc_id of each 100-rank super-block.
    // The corpus is never re-read — the delta runs on (labels ∪ batch).
    Probe.df("q_dedup_cc_delta",
      """WITH r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY doc_id) AS r FROM documents),
        |g AS (SELECT doc_id, (r - 1) // 100 AS blk FROM r)
        |SELECT doc_id AS id,
        |       min(doc_id) OVER (PARTITION BY blk) AS cluster
        |FROM g ORDER BY id""".stripMargin) { (s, dir) =>
      val ranked = Tables.load(s, dir, "documents").select("doc_id")
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
      val chain = ranked.as("a")
        .join(ranked.as("b"), col("b.r") === col("a.r") + 1 &&
          col("a.r") % 50 =!= 0)
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      val labels = Dedup.clusterPairsStar(chain)
      val bridges = ranked.as("a")
        .join(ranked.as("b"), col("b.r") === col("a.r") + 1 &&
          col("a.r") % 50 === 0 && col("a.r") % 100 =!= 0)
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      Dedup.clusterPairsDelta(labels, bridges).orderBy("id")
    },

    // LSH pairs vs the exact all-pairs answer (no blocking on either side)
    Probe.df("q_dedup_minhash",
      duckShingleCte("documents") +
        """
          |SELECT * FROM (
          |  SELECT a.doc_id AS ida, b.doc_id AS idb,
          |    len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          |  FROM s a JOIN s b ON a.doc_id < b.doc_id
          |) WHERE jaccard >= 0.5
          |ORDER BY ida, idb""".stripMargin) { (s, dir) =>
      Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, numPerms = 128, bands = 32,
          threshold = 0.5)
        .orderBy("ida", "idb")
    },

    // Auto-tuned LSH pairs: the (rows, bands) split comes from the
    // lshTune S-curve pick at the probe's threshold instead of a
    // hand-picked constant. The oracle pins BOTH halves: the pick (the
    // full lshTune replay as a derived table, rank 1) and the pairs
    // (exact all-pairs truth at the threshold — every corpus pair >= 0.5
    // sits at J >= 0.89, where the picked (4, 16) split's miss
    // probability is (1-0.89^4)^16 ~ 1.4e-7 per pair AND the minhash
    // signatures are deterministic, so the outcome is fixed, verified
    // at both SFs). Hash budget 64, not 128: the oracle's b-long
    // multiply chain must stay under DuckDB's 128 binder recursion
    // depth (the r=1 split binds a b=budget chain).
    Probe.df("q_dedup_minhash_auto",
      "WITH pick AS (SELECT r, b FROM (" +
        Similarity.lshTuneOracleSql(0.5, 64) +
        ") t WHERE rank = 1),\n" +
        duckShingleCte("documents").stripPrefix("WITH ") +
        """
          |SELECT ida, idb, jaccard,
          |  pick.r AS pick_r, pick.b AS pick_b
          |FROM (
          |  SELECT a.doc_id AS ida, b.doc_id AS idb,
          |    len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
          |  FROM s a JOIN s b ON a.doc_id < b.doc_id
          |) p, pick WHERE jaccard >= 0.5
          |ORDER BY ida, idb""".stripMargin) { (s, dir) =>
      Dedup.minhashLshPairsAuto(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, numPerms = 64, threshold = 0.5)
        .orderBy("ida", "idb")
    },

    // Full oracle (VERDICT r7 #5): the probe runs the SAME banded
    // pairs operator over md5-60bit word hashes (DuckDB-replicable, see
    // simhashMd5Bands) so DuckDB can recompute every signature and do
    // the exact all-pairs Hamming truth — banding + verify must equal
    // it (≤3 diffs across 4×16-bit bands leave ≥1 band untouched).
    Probe.df("q_dedup_simhash",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |h AS (SELECT doc_id, list_transform(ws, s ->
         |    CAST(list_sum(list_transform(range(15), i ->
         |      CAST(instr('0123456789abcdef', substr(md5(s), CAST(i AS INT)+1, 1)) - 1
         |        AS BIGINT) << CAST(4*(14-i) AS BIGINT))) AS BIGINT)) AS hs
         |  FROM w),
         |b AS (SELECT doc_id, list_transform(range(64), bb ->
         |    CASE WHEN list_sum(list_transform(hs, hh ->
         |        CASE WHEN ((hh >> CAST(bb AS BIGINT)) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |    THEN 1 ELSE 0 END) AS bv
         |  FROM h),
         |sig AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+1] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k0,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+17] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k1,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+33] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k2,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+49] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k3
         |  FROM b)
         |SELECT * FROM (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    CAST(bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
         |         bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) AS INT)
         |      AS hamming
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |) WHERE hamming <= 3
         |ORDER BY ida, idb""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", maxHamming = 3,
          hashFn = w => conv(substring(md5(w), 1, 15), 16, 10).cast("long"))
        .orderBy("ida", "idb")
    },

    // Chunk-level exact duplication (Lee et al. 2022 ExactSubstr tier
    // at fixed word-window granularity): per-doc counts of 20-word
    // chunks whose md5 fingerprint occurs in ≥2 distinct documents.
    // 112 duplicated chunks across 60 docs at sf0.01 — real signal.
    // dup_ratio is one IEEE division of exact integers (hash-safe).
    Probe.df("q_dedup_chunks",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |c AS (SELECT doc_id, unnest(
         |  [ md5(array_to_string(ws[i:i+19], ' '))
         |    for i in range(1, len(ws)+1, 20) ]) AS fp
         |  FROM w WHERE len(ws) >= 1),
         |d AS (SELECT fp FROM (
         |    SELECT fp, count(*) AS nd
         |    FROM (SELECT DISTINCT doc_id, fp FROM c) GROUP BY fp)
         |  WHERE nd >= 2),
         |nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
         |       FROM c GROUP BY doc_id),
         |nd AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |       FROM c JOIN d USING (fp) GROUP BY c.doc_id)
         |SELECT nc.doc_id, nc.n_chunks,
         |  CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup_chunks,
         |  coalesce(nd.n_dup, 0)::DOUBLE / nc.n_chunks::DOUBLE AS dup_ratio
         |FROM nc LEFT JOIN nd USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.chunkDupStats(Tables.load(s, dir, "documents"),
          "doc_id", "text", chunkWords = 20)
        .select(col("id").as("doc_id"), col("n_chunks"),
          col("n_dup_chunks"), col("dup_ratio"))
        .orderBy("doc_id")
    },

    // CONTENT-DEFINED chunking dedup (LBFS, stateless w-gram boundary):
    // boundaries from the content itself, so shifted near-copies keep
    // their downstream chunk fingerprints (OperatorsSpec pins the shift
    // robustness; q_dedup_chunks' fixed windows are the contrast).
    // Oracle replays gram hashing (md5-hex digits), the shifted
    // boundary cumsum, and the distinct-doc duplication rule.
    Probe.df("q_dedup_cdc",
      Dedup.cdcOracleSql("documents", "doc_id")) { (s, dir) =>
      Dedup.cdcChunkDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_chunks"),
          col("n_dup_chunks"), col("dup_frac"))
        .orderBy("doc_id")
    },

    // Maximal duplicated-SPAN removal (Lee et al. 2022 ExactSubstr at
    // word granularity): sliding 10-word grams, cross-doc duplicated
    // grams merged into maximal spans, documents REBUILT with the spans
    // removed. clean_text itself is hash-compared — the oracle replays
    // gram fingerprinting, span merge (islands over lag), coverage and
    // the word-level rebuild (Dedup.spanRemovalOracleSql — ONE copy,
    // shared with q_decontaminate_spans; only the flag-source CTE
    // differs). Integer positions end to end; md5 grams.
    Probe.df("q_dedup_spans",
      Dedup.spanRemovalOracleSql("documents", "doc_id", duckWords,
        SpanGramWords,
        """SELECT fp FROM (
          |    SELECT fp, count(*) AS nd
          |    FROM (SELECT DISTINCT doc_id, fp FROM g) GROUP BY fp)
          |  WHERE nd >= 2""".stripMargin)) { (s, dir) =>
      Dedup.dupSpanDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", gramWords = SpanGramWords)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_words"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // EXACT-SUBSTRING dedup at CHAR granularity (Lee et al. 2022
    // ExactSubstr, the bounded sliding-gram variant — no suffix array;
    // VERDICT r13 #3): every cross-doc duplicated substring >= 40 chars
    // is surgically removed and the doc rebuilt. The corpus plants
    // shifted full-copy twins ('XX ' prefix) for every 50th doc, so the
    // duplicated region sits at DIFFERENT positions in the two copies —
    // the alignment case fixed-chunk dedup misses. Oracle replays gram
    // fingerprints, span merge, and the per-char coverage rebuild.
    Probe.df("q_dedup_substr",
      Dedup.exactSubstrOracleSql(
        "(SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 1000000 AS doc_id, 'XX ' || text AS text " +
          "FROM documents WHERE doc_id % 50 = 0)",
        "doc_id", gramChars = 40)) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val planted = d.unionAll(d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("XX "), col("text")).as("text")))
      Dedup.exactSubstrDedup(planted, "doc_id", "text", gramChars = 40)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_chars"),
          col("clean_text"))
        .orderBy("doc_id")
    },

    // WINNOWED exact-substring dedup (the 100 TB gram-selection tier,
    // VERDICT r14 #2): the winnow selects ~1/w of the char grams
    // (min-hash per window of w=8, rightmost tie) and the SAME span
    // merge/rebuild runs on the selected subset — every cross-doc
    // duplicate >= L+w-1 = 47 chars is caught; [40, 47) may be missed
    // and up to w-1 chars per region edge survive (contract documented
    // at Dedup.winnowSubstrDedup). Same shifted-twin plant as
    // q_dedup_substr; the oracle replays the rolling hash, the
    // rightmost-min window selection (BIGINT-encoded argmin), flagging
    // and rebuild.
    Probe.df("q_dedup_substr_winnow",
      Dedup.winnowSubstrOracleSql(
        "(SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 1000000 AS doc_id, 'XX ' || text AS text " +
          "FROM documents WHERE doc_id % 50 = 0)",
        "doc_id", gramChars = 40, window = 8)) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val planted = d.unionAll(d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("XX "), col("text")).as("text")))
      Dedup.winnowSubstrDedup(planted, "doc_id", "text",
          gramChars = 40, window = 8)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_chars"),
          col("clean_text"))
        .orderBy("doc_id")
    },

    // INTRA-document exact-substring dedup (the within-doc complement:
    // scraped pages repeating their own boilerplate). Every 40th doc
    // gets its own first 80 chars appended — the duplicated tail is
    // flagged as later-than-first-occurrence and removed; the head (the
    // FIRST occurrence) survives. Same shared char-gram/span/rebuild
    // chain, flag stage swapped to a per-(doc, fp) first-occurrence
    // window.
    Probe.df("q_dedup_substr_intra",
      Dedup.intraDocSubstrOracleSql(
        "(SELECT doc_id, CASE WHEN doc_id % 40 = 0 " +
          "THEN text || ' ' || substr(text, 1, 80) ELSE text END AS text " +
          "FROM documents)",
        "doc_id", gramChars = 40)) { (s, dir) =>
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 40 === 0,
            concat(col("text"), lit(" "), substring(col("text"), 1, 80)))
            .otherwise(col("text")).as("text"))
      Dedup.intraDocSubstrDedup(planted, "doc_id", "text", gramChars = 40)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_chars"),
          col("clean_text"))
        .orderBy("doc_id")
    },

    // Span-level DECONTAMINATION (GPT-3 appendix C): train = the whole
    // corpus, eval = doc_id % 17 = 0; every train gram that appears in
    // eval flags its span, flagged spans are surgically removed. Eval
    // members of train redact fully; near-dups of eval docs lose the
    // shared spans only. Same merge/rebuild replay as q_dedup_spans
    // (the shared builder), different flag source.
    Probe.df("q_decontaminate_spans",
      Dedup.spanRemovalOracleSql("documents", "doc_id", duckWords,
        SpanGramWords,
        "SELECT DISTINCT fp FROM g WHERE doc_id % 17 = 0")) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup.decontaminateSpans(docs,
          docs.filter(col("doc_id") % 17 === 0),
          "doc_id", "text", gramWords = SpanGramWords)
        .select(col("id").as("doc_id"), col("n_spans"), col("dup_words"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // BM25 relevance against a fixed term set (Okapi, Lucene idf
    // variant) — the lexical retrieval/RAG tier. Hash-checked column is
    // sum_qcore (idf-free core, quantized int64 — every step single
    // correctly-rounded IEEE ops); the ln-based bm25 itself is
    // engine-local (Bm25Spec pins it against a naive reference).
    Probe.df("q_bm25",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |st AS (SELECT count(*) AS n_docs,
         |               CAST(sum(len(ws)) AS BIGINT) AS sum_dl FROM w),
         |t AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS wd FROM w),
         |tf AS (SELECT doc_id, dl, wd, count(*) AS tf FROM t
         |       WHERE wd IN ('table','query','spark','join','stream')
         |       GROUP BY 1, 2, 3),
         |p AS (SELECT tf.doc_id,
         |    (tf.tf::DOUBLE * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |  / (tf.tf::DOUBLE + CAST(1.2 AS DOUBLE) *
         |      (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
         |        (tf.dl::DOUBLE / (st.sum_dl::DOUBLE / st.n_docs::DOUBLE))))
         |    AS core
         |  FROM tf, st)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(CAST(floor(core * 1073741824) AS BIGINT)) AS BIGINT)
         |    AS sum_qcore
         |FROM p GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Bm25.score(Tables.load(s, dir, "documents"),
          "doc_id", "text",
          Seq("table", "query", "spark", "join", "stream"))
        .select(col("id").as("doc_id"), col("n_terms"), col("sum_qcore"))
        .orderBy("doc_id")
    },

    // Token-budget selection on the DISTRIBUTED prefix sum
    // (Packing.cumsumDistributed — range partitions + per-partition
    // windows + broadcast offsets; no single-task global window): fill
    // a 12k-token budget in doc_id order. Integer-exact end to end.
    Probe.df("q_budget_select",
      s"""WITH w AS (SELECT doc_id, CAST(len($duckWords) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM w)
         |SELECT doc_id, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 12000
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(Dedup.words(col("text"))).cast("long").as("n_tokens"))
      graft.operators.Packing.budgetSelect(d, "doc_id", "n_tokens",
          budget = 12000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("doc_id")
    },

    // SimHash mechanism with a full cross-engine oracle: word hashes are
    // the 60-bit md5 prefix (identical lowercase hex in both engines), so
    // DuckDB recomputes the kernel's bit votes and band keys exactly.
    Probe.df("q_simhash_md5",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |h AS (SELECT doc_id, list_transform(ws, s ->
         |    CAST(list_sum(list_transform(range(15), i ->
         |      CAST(instr('0123456789abcdef', substr(md5(s), CAST(i AS INT)+1, 1)) - 1
         |        AS BIGINT) << CAST(4*(14-i) AS BIGINT))) AS BIGINT)) AS hs
         |  FROM w),
         |b AS (SELECT doc_id, list_transform(range(64), bb ->
         |    CASE WHEN list_sum(list_transform(hs, hh ->
         |        CASE WHEN ((hh >> CAST(bb AS BIGINT)) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |    THEN 1 ELSE 0 END) AS bv
         |  FROM h)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+1] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k0,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+17] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k1,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+33] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k2,
         |  CAST(list_sum(list_transform(range(16), j ->
         |    CAST(bv[CAST(j AS INT)+49] AS BIGINT) << CAST(j AS BIGINT))) AS BIGINT) AS k3
         |FROM b
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.simhashMd5Bands(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    Probe.df("q_text_stats",
      s"""WITH w AS (
         |  SELECT doc_id, text, $duckWords AS ws FROM documents
         |), c AS (
         |  SELECT doc_id,
         |    len(ws) AS n_tokens,
         |    list_sum(list_transform(ws, x -> length(x)))::DOUBLE
         |      / greatest(len(ws), 1) AS avg_word_len,
         |    len(list_distinct(ws))::DOUBLE / greatest(len(ws), 1) AS distinct_ratio,
         |    length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
         |      / greatest(length(text), 1) AS punct_ratio,
         |    len(list_filter(ws, x -> list_contains(['the','a','of','and','to','in','is'], x)))::DOUBLE
         |      / greatest(len(ws), 1) AS stop_ratio,
         |    len(list_filter(ws, x -> list_contains(['der','die','und','das','ist'], x)))::DOUBLE
         |      / greatest(len(ws), 1) AS s_de,
         |    len(list_filter(ws, x -> list_contains(['the','a','of','and','is'], x)))::DOUBLE
         |      / greatest(len(ws), 1) AS s_en,
         |    len(list_filter(ws, x -> list_contains(['el','la','los','que','es'], x)))::DOUBLE
         |      / greatest(len(ws), 1) AS s_es,
         |    len(list_filter(ws, x -> list_contains(['le','les','et','est','une'], x)))::DOUBLE
         |      / greatest(len(ws), 1) AS s_fr,
         |    md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fp
         |  FROM w)
         |SELECT doc_id, n_tokens, avg_word_len, distinct_ratio, punct_ratio,
         |  stop_ratio,
         |  least(greatest((least(n_tokens / 100.0, 1.0) + distinct_ratio) / 2.0
         |    - least(punct_ratio * 5.0, 1.0), 0.0), 1.0) AS quality,
         |  CASE
         |    WHEN s_de > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         |    WHEN s_en > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         |    WHEN s_es > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         |    WHEN s_fr > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
         |    ELSE 'und' END AS lang_guess,
         |  fp
         |FROM c
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.stats(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // END-TO-END training-data pipeline: exact dedup -> quality filter ->
    // deterministic train split -> sequence packing, composed from the
    // library's own operators. The oracle recomputes every stage in one
    // DuckDB query (fingerprint dedup, the q_text_stats quality formula,
    // the md5 split boundary, the running-sum pack) — if any stage
    // drifts, the hash breaks.
    Probe.df("q_pipeline_e2e",
      s"""WITH w AS (SELECT doc_id, text, $duckWords AS ws FROM documents),
         |c AS (SELECT doc_id,
         |        len(ws) AS n_tokens,
         |        len(list_distinct(ws))::DOUBLE / greatest(len(ws), 1) AS dr,
         |        length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
         |          / greatest(length(text), 1) AS pr,
         |        md5(lower(text)) AS fp
         |      FROM w),
         |keep AS (SELECT min(doc_id) AS kid FROM c GROUP BY fp),
         |q AS (SELECT doc_id, n_tokens,
         |        least(greatest((least(n_tokens / 100.0, 1.0) + dr) / 2.0
         |          - least(pr * 5.0, 1.0), 0.0), 1.0) AS quality
         |      FROM c JOIN keep ON doc_id = kid),
         |t AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS tokens
         |      FROM q
         |      WHERE quality >= 0.3
         |        AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666')
         |SELECT doc_id, tokens,
         |  CAST(sum(tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |  CAST(floor((sum(tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - tokens) / 512.0) AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val keep = Dedup.exactDedup(d, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val stats = TextAnalysis.stats(d.join(keep, "doc_id"), "doc_id", "text")
      val good = stats.filter(col("quality") >= 0.3)
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("tokens"))
      val train = Sampling.hashSplit(good, "doc_id",
          Seq(("train", 0.9), ("val", 0.1)))
        .filter(col("split") === "train")
        .select("doc_id", "tokens")
      Packing.packByCumsum(train, "doc_id", "tokens", 512)
        .orderBy("doc_id")
    },

    // Sequence packing (training-batch construction): bin = cumulative
    // token count / budget over deterministic doc order. One window; the
    // oracle recomputes the identical running sum. floor() on BOTH sides
    // (DuckDB CAST(double AS BIGINT) rounds where Spark truncates).
    Probe.df("q_pack_cumsum",
      s"""WITH w AS (SELECT doc_id, len($duckWords) AS tokens FROM documents)
         |SELECT doc_id, tokens,
         |  CAST(sum(tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |  CAST(floor((sum(tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - tokens) / 512.0) AS BIGINT) AS bin
         |FROM w ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Packing.packByCumsum(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              size(Dedup.words(col("text"))).cast("bigint").as("tokens")),
          "doc_id", "tokens", 512)
        .orderBy("doc_id")
    },

    // Best-fit-decreasing packing: the classic offline heuristic, per
    // deterministic (doc_id % 8) part. The oracle replays the ENTIRE
    // sequential fold — sorted items, best-fit argmax with
    // lowest-index ties, bin creation — as a recursive CTE carrying the
    // bin-load list; integer state only, so the match is exact.
    Probe.df("q_pack_bfd",
      Packing.bestFitOracleSql("documents", "doc_id", "n_chars",
        budget = 1000, parts = 8)) { (s, dir) =>
      Packing.packBestFitDecreasing(
          Tables.load(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", budget = 1000, parts = 8)
        .orderBy("doc")
    },

    // Packed-batch boundary metadata: per bin, the cu_seqlens offsets
    // ([0, l1, l1+l2, …]) a flash-attention training loader consumes to
    // mask attention across packed documents — integer prefix sums, so
    // the full arrays hash-match. Comma-joined to a scalar (driver's
    // pandas row-sorter cannot sort array cells); PackingSpec covers the
    // typed offsets array.
    Probe.df("q_pack_cuseqlens",
      s"""WITH w AS (SELECT doc_id, len($duckWords) AS tokens FROM documents),
         |p AS (SELECT doc_id, tokens,
         |  CAST(floor((sum(tokens) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - tokens) / 512.0) AS BIGINT) AS bin
         |  FROM w),
         |b AS (SELECT bin, count(*) AS n_docs,
         |        CAST(sum(tokens) AS BIGINT) AS bin_tokens,
         |        list(tokens ORDER BY doc_id) AS ls
         |      FROM p GROUP BY bin)
         |SELECT bin, n_docs, bin_tokens,
         |  array_to_string(list_prepend(CAST(0 AS BIGINT),
         |    [CAST(list_sum(ls[1:CAST(i AS INT)]) AS BIGINT)
         |     for i in range(1, len(ls)+1)]), ',') AS cu_seqlens
         |FROM b ORDER BY bin""".stripMargin) { (s, dir) =>
      val packed = Packing.packByCumsum(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            size(Dedup.words(col("text"))).cast("bigint").as("tokens")),
        "doc_id", "tokens", 512)
      packed.groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("bin_tokens"),
          aggregate(
            transform(array_sort(collect_list(struct(col("doc_id"),
              col("tokens")))), x => x.getField("tokens")),
            array(lit(0L)),
            (acc, x) => concat(acc, array(element_at(acc, -1) + x)))
            .as("cu_seqlens"))
        .withColumn("cu_seqlens",
          array_join(col("cu_seqlens").cast("array<string>"), ","))
        .orderBy("bin")
    },

    // Corpus-level vocabulary: token frequencies across all documents —
    // explode inside the scan stage, one shuffle on the token (map-side
    // combine first), deterministic top-100. The corpus-wide companion of
    // q_text_stats' per-document token counting.
    Probe.df("q_vocab",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |t AS (SELECT unnest(ws) AS token FROM w),
         |c AS (SELECT token, count(*) AS n, CAST(count(*) AS DOUBLE) /
         |        (SELECT count(*) FROM t) AS frac
         |      FROM t GROUP BY token)
         |SELECT token, n, frac FROM c
         |ORDER BY n DESC, token
         |LIMIT 100""".stripMargin) { (s, dir) =>
      // total token count aggregated over the |vocab|-row relation and
      // broadcast back — NOT an empty-window sum, which would force the
      // whole vocabulary (100M+ tokens at corpus scale) through one
      // partition. Exchange reuse keeps this at ONE corpus scan: both
      // branches share the identical partial-agg + shuffle subtree.
      val toks = Tables.load(s, dir, "documents")
        .select(explode(Dedup.words(col("text"))).as("token"))
      val counts = toks.groupBy("token").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("tot"))
      counts.crossJoin(broadcast(total))
        .withColumn("frac", col("n").cast("double") / col("tot"))
        .drop("tot")
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    },

    // Deterministic train/val/test split: pure projection, hash-stable
    // across cluster sizes; both engines compute identical md5 hex.
    Probe.df("q_sample_split",
      s"""SELECT doc_id,
         |  ${Sampling.hashSplitOracleCase("doc_id",
                Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))} AS split
         |FROM documents
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.hashSplit(
          Tables.load(s, dir, "documents").select("doc_id"), "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy("doc_id")
    },

    // Exactly-n-per-stratum sampling on the bounded-heap TopKPerKey
    // operator; oracle recomputes the same md5-ordered row_number.
    Probe.df("q_sample_stratified",
      """SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin) { (s, dir) =>
      Sampling.stratifiedSampleN(
          Tables.load(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", 20)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")
    },

    // Per-document top-5 tf-idf terms. Selection rides the bounded-heap
    // TopKPerKey on an INTEGER-exact order (tf DESC, doc_freq ASC, term);
    // the ln in the reported score is ulp-tolerated, never order-setting.
    Probe.df("q_tfidf",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq
         |        FROM t GROUP BY 1),
         |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.doc_freq,
         |        row_number() OVER (PARTITION BY tf.doc_id
         |          ORDER BY tf.tf DESC, dfq.doc_freq, tf.term) AS rn
         |      FROM tf JOIN dfq USING (term))
         |SELECT doc_id, term, tf, doc_freq, CAST(rn AS INT) AS rn,
         |  tf * ln((SELECT count(*) FROM documents)::DOUBLE / doc_freq) AS tfidf
         |FROM r WHERE rn <= 5
         |ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.load(s, dir, "documents"),
          "doc_id", "text", 5)
        .select("doc_id", "term", "tf", "doc_freq", "rn", "tfidf")
        .orderBy("doc_id", "rn")
    },

    // Deterministic distributed BPE vocabulary training: 8 merge rounds,
    // argmax pair by (count DESC, pair ASC). The oracle replays the FULL
    // training loop — per-round pair counts, argmax, and the identical
    // replace-pass merge rewrite — as chained CTEs.
    Probe.df("q_bpe_train",
      graft.operators.BpeTrain.oracleSql("documents", 8)) { (s, dir) =>
      graft.operators.BpeTrain.train(
          Tables.load(s, dir, "documents"), "text", 8)
        .orderBy("rank")
    },

    // WordPiece-score training: same loop, argmax by likelihood score
    // n/(l·r) — two chained correctly-rounded double divisions of exact
    // integer counts, so the oracle's full-loop replay (extra unigram
    // CTE per round) is bit-identical including the reported score.
    Probe.df("q_wordpiece_train",
      graft.operators.BpeTrain.wordPieceOracleSql("documents", 8)) { (s, dir) =>
      graft.operators.BpeTrain.trainWordPiece(
          Tables.load(s, dir, "documents"), "text", 8)
        .orderBy("rank")
    },

    // BYTE-level BPE training (the GPT-2 vocabulary construction): seed
    // symbols are UTF-8 bytes through the ByteUnicode bijection, so
    // multi-byte characters start split and must earn their merge. The
    // corpus is ASCII — where byte level degenerates to character level
    // — so the probe PLANTS multi-byte characters ('a'→'ä', 'e'→'é',
    // both engines' translate) and the learned table must merge the
    // split UTF-8 pairs back. Oracle replays the full loop, including
    // the hex-digit byte extraction and the 256-entry symbol map.
    Probe.df("q_bpe_bytes_train",
      graft.operators.BpeTrain.bytesOracleSql("documents", 8,
        "translate(text, 'ae', '\u00e4\u00e9')")) { (s, dir) =>
      graft.operators.BpeTrain.trainBytes(
          Tables.load(s, dir, "documents")
            .withColumn("text",
              translate(col("text"), "ae", "\u00e4\u00e9")),
          "text", 8)
        .orderBy("rank")
    },

    // BPE encoding through the learned merge table: per-document symbol
    // sequences, flattened in word order. Oracle joins the training
    // chain's final word→symbols mapping back to the corpus. Symbols are
    // space-joined to a scalar (symbols never contain spaces — words are
    // whitespace-split; the driver's pandas row-sorter cannot sort array
    // cells); OperatorsSpec covers the typed sequence.
    Probe.df("q_bpe_encode",
      "SELECT doc_id, array_to_string(syms, ' ') AS syms FROM (" +
        graft.operators.BpeTrain.encodeOracleSql("documents", "doc_id", 8) +
        ") ORDER BY doc_id") { (s, dir) =>
      graft.operators.BpeTrain.encode(
          Tables.load(s, dir, "documents"), "doc_id", "text", 8)
        .withColumn("syms", array_join(col("syms"), " "))
        .orderBy("doc_id")
    },

    // The same encode composition under the WordPiece-score vocabulary:
    // the merge table RANKS differently (likelihood, not count) but
    // applies identically, so one probe pins the full train→encode chain
    // for the third trainer too.
    Probe.df("q_wordpiece_train_encode",
      "SELECT doc_id, array_to_string(syms, ' ') AS syms FROM (" +
        graft.operators.BpeTrain.encodeOracleSql("documents", "doc_id", 8,
          scoreBy = true) +
        ") ORDER BY doc_id") { (s, dir) =>
      graft.operators.BpeTrain.encodeWordPiece(
          Tables.load(s, dir, "documents"), "doc_id", "text", 8)
        .withColumn("syms", array_join(col("syms"), " "))
        .orderBy("doc_id")
    },

    // Join-key SKEW profile: top-K heaviest keys with exact counts,
    // integer-exact corpus share (ppm) and the salt factor a skew
    // mitigation should split each key into — the pre-flight report a
    // 100 TB shuffle needs. Top-K via TakeOrdered over the distinct-key
    // table, never a global window.
    Probe.df("q_skew_profile",
      graft.operators.Stats.skewProfileOracleSql(
        "documents", "lang", 5, 32)) { (s, dir) =>
      graft.operators.Stats.skewProfile(
          Tables.load(s, dir, "documents"), "lang", 5, 32)
        .orderBy("rank")
    },

    // Tokenizer FERTILITY / compression evaluation (the standard
    // tokenizer-comparison metrics): per language, words, subword
    // tokens under the 8-merge BPE vocab, characters, fertility =
    // tokens/word and chars/token — integer sums + single IEEE
    // divisions, so the whole report is hash-exact. Oracle reuses the
    // BPE-encode training chain and aggregates it per lang.
    Probe.df("q_tokenizer_fertility",
      "WITH encd AS (\n" +
        graft.operators.BpeTrain.encodeOracleSql("documents", "doc_id", 8) +
        """),
          |agg AS (SELECT d.lang,
          |    CAST(sum(len(e.syms)) AS BIGINT) AS n_tokens,
          |    CAST(sum(len(list_filter(string_split_regex(lower(d.text),
          |      '\s+'), x -> x <> ''))) AS BIGINT) AS n_words,
          |    CAST(sum(length(replace(lower(d.text), ' ', '')))
          |      AS BIGINT) AS n_chars
          |  FROM encd e JOIN documents d USING (doc_id)
          |  GROUP BY d.lang)
          |SELECT lang, n_words, n_tokens, n_chars,
          |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
          |    AS fertility,
          |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
          |    AS chars_per_token
          |FROM agg ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val enc = graft.operators.BpeTrain.encode(docs, "doc_id", "text", 8)
      enc.join(docs.select(col("doc_id"), col("lang"), col("text")),
          "doc_id")
        .groupBy("lang")
        .agg(sum(size(col("syms"))).cast("long").as("n_tokens"),
          sum(size(graft.operators.Dedup.words(col("text")))).cast("long")
            .as("n_words"),
          sum(length(regexp_replace(lower(col("text")), " ", "")))
            .cast("long").as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
          (col("n_tokens").cast("double") / col("n_words").cast("double"))
            .as("fertility"),
          (col("n_chars").cast("double") / col("n_tokens").cast("double"))
            .as("chars_per_token"))
        .orderBy("lang")
    },

    // Unigram-LM (SentencePiece-family) tokenizer training via hard
    // (Viterbi) EM — the trainer that complements BPE. The oracle
    // replays EVERYTHING: the substring seed vocab, each round's
    // probability table, the per-position Viterbi recurrence as
    // unrolled CTEs (probability PRODUCTS, never ln — IEEE ops are
    // bit-identical cross-engine; libm logs are not), and the M-step
    // recounts with the single-char coverage floor.
    Probe.df("q_unigram_train",
      graft.operators.UnigramLm.oracleSql("documents",
        targetSize = 40)) { (s, dir) =>
      graft.operators.UnigramLm.train(
          Tables.load(s, dir, "documents"), "text", targetSize = 40)
        .orderBy("rank")
    },

    // Per-document segmentation under the trained unigram model — one
    // more Viterbi pass with the final vocab, flattened in word order
    // (space-joined scalar for the same pandas-sorter reason as
    // q_bpe_encode).
    Probe.df("q_unigram_encode",
      "SELECT doc_id, array_to_string(syms, ' ') AS syms FROM (" +
        graft.operators.UnigramLm.encodeOracleSql("documents", "doc_id") +
        ") ORDER BY doc_id") { (s, dir) =>
      graft.operators.UnigramLm.encode(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .withColumn("syms", array_join(col("syms"), " "))
        .orderBy("doc_id")
    },

    // MaxMatch (greedy longest-match-first — WordPiece INFERENCE)
    // under the SAME unigram-trained vocab: the third tokenizer-family
    // member (BPE merges / unigram Viterbi / WordPiece greedy). Fully
    // score-free, so the oracle replay is pure set membership: the
    // trained-vocab CTEs plus a step-unrolled greedy chain.
    Probe.df("q_wordpiece_encode",
      "SELECT doc_id, array_to_string(syms, ' ') AS syms FROM (" +
        graft.operators.UnigramLm.maxMatchOracleSql("documents", "doc_id") +
        ") ORDER BY doc_id") { (s, dir) =>
      graft.operators.UnigramLm.maxMatchEncode(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .withColumn("syms", array_join(col("syms"), " "))
        .orderBy("doc_id")
    },

    // Frequency-dense dictionary encoding: deterministic vocab ids
    // (count DESC, token ASC), documents re-encoded as int sequences in
    // token order. Oracle replays rank + ordered list rebuild.
    Probe.df("q_dict_encode",
      s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |t AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos,
         |        unnest(ws) AS term FROM w),
         |c AS (SELECT term, count(*) AS n FROM t GROUP BY 1),
         |d AS (SELECT term, CAST(row_number()
         |        OVER (ORDER BY n DESC, term) AS INT) AS id FROM c),
         |e AS (SELECT t.doc_id, t.pos, d.id FROM t JOIN d USING (term))
         |SELECT doc_id, array_to_string(list(id ORDER BY pos), ',') AS ids
         |FROM e GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.DictEncode.encode(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .withColumn("ids", array_join(col("ids").cast("array<string>"), ","))
        .orderBy("doc_id")
    },

    // Split-leakage QA: after the deterministic train/val/test split,
    // find exact-duplicate content that straddles split boundaries — the
    // train/test contamination a split pipeline must audit for. The
    // corpus has no exact cross-id dups, so the probe PLANTS copies of
    // every 20th doc under shifted ids (different id ⇒ independent split
    // hash ⇒ some copies land across the boundary — same planting
    // technique as q_pii_redact).
    Probe.df("q_split_leakage",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 20 = 0),
         |s AS (SELECT doc_id, md5(lower(text)) AS fp,
         |  ${Sampling.hashSplitOracleCase("doc_id",
              Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))} AS split
         |  FROM corpus)
         |SELECT a.doc_id AS ida, a.split AS split_a,
         |       b.doc_id AS idb, b.split AS split_b
         |FROM s a JOIN s b
         |  ON a.fp = b.fp AND a.doc_id < b.doc_id AND a.split <> b.split
         |ORDER BY ida, idb""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "documents").select("doc_id", "text")
      val corpus = base.unionAll(
        base.where(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val d = Sampling.hashSplit(
        corpus.select(col("doc_id"), md5(lower(col("text"))).as("fp")),
        "doc_id", Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      d.alias("a").join(d.alias("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
            col("a.split") =!= col("b.split"))
        .select(col("a.doc_id").as("ida"), col("a.split").as("split_a"),
          col("b.doc_id").as("idb"), col("b.split").as("split_b"))
        .orderBy("ida", "idb")
    },

    // Curriculum ordering (Bengio et al. 2009 shape): quality deciles
    // easy-first, deterministic md5 shuffle within each decile — the
    // ordering a curriculum loader consumes. Quality is the exact
    // q_text_stats formula (every op same-operand IEEE), so deciles and
    // ranks are bit-stable cross-engine.
    Probe.df("q_curriculum",
      s"""WITH w AS (SELECT doc_id, text, $duckWords AS ws FROM documents),
         |c AS (SELECT doc_id,
         |  least(greatest((least(len(ws) / 100.0, 1.0) +
         |      len(list_distinct(ws))::DOUBLE / greatest(len(ws), 1)) / 2.0
         |    - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
         |        / greatest(length(text), 1) * 5.0, 1.0), 0.0), 1.0) AS q
         |  FROM w),
         |d AS (SELECT doc_id, q,
         |  CAST(ntile(10) OVER (ORDER BY q DESC, doc_id) AS INT) AS decile
         |  FROM c)
         |SELECT doc_id, q, decile,
         |  CAST(row_number() OVER (PARTITION BY decile
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
         |FROM d
         |ORDER BY decile, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("q").desc, col("doc_id"))))
        .withColumn("rnk", row_number().over(Window.partitionBy(col("decile"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .orderBy("decile", "rnk")
    },

    // Uniform k-of-n sampling (deterministic reservoir equivalent):
    // md5-permutation rank, first 150 — same rows under any
    // partitioning and in the oracle.
    Probe.df("q_sample_uniform",
      """SELECT doc_id, lang FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |LIMIT 150""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.uniformSample(
        Tables.load(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", 150)
    },

    // Weight-proportional priority sampling (w = n_chars): projection +
    // TakeOrderedAndProject; oracle replays the md5-prefix priority via
    // the shift-sum hex parse. Both engines' priorities are bit-identical
    // (power-of-two divide + one IEEE division — no ln/pow).
    Probe.df("q_sample_priority",
      s"""SELECT doc_id, n_chars,
         |  ${Sampling.priorityOracleExpr("doc_id", "n_chars")} AS priority
         |FROM documents
         |ORDER BY priority DESC, doc_id
         |LIMIT 100""".stripMargin) { (s, dir) =>
      Sampling.prioritySample(
          Tables.load(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", 100)
        .orderBy(col("priority").desc, col("doc_id"))
    },

    // BPE-ish token counting: the GPT-2 pre-tokenizer regex, evaluated
    // natively by Java regex (Spark) and RE2 (DuckDB); the md5 over the
    // \x01-joined token sequence pins the exact token STREAM, not just
    // counts.
    Probe.df("q_tokenize_bpe",
      s"""WITH t AS (SELECT doc_id,
         |  regexp_extract_all(text, '${TextAnalysis.BpePattern
              .replace("'", "''")}') AS toks
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tok,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |  md5(array_to_string(toks, chr(1))) AS tok_md5
         |FROM t
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeTokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tok"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          md5(concat_ws("\u0001", col("toks"))).as("tok_md5"))
        .orderBy("doc_id")
    },

    Probe.df("q_ann_topk",
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        |  FROM scored)
        |SELECT qid, nid, cos, rnk FROM ranked
        |WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Binary-code ANN: 1-bit sign quantization (32× compression), Hamming
    // scan over the codes only, exact cosine rerank of the top-50
    // candidates. Hamming is integer, cosine the single-division kernel
    // recipe — the oracle replays both stages bit-identically. The probe
    // pins the WHOLE pipeline (codes, candidate cut, rerank), not just
    // the final ranking.
    Probe.df("q_ann_binary",
      Similarity.binaryAnnOracleSql("embeddings", "vec_id", "embedding",
        dim = 64, k = 5, cands = 50, querySql = "vec_id < 10")) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.binaryAnnTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", dim = 64, k = 5, cands = 50)
        .orderBy("qid", "rnk")
    },

    // IVF + binary composed (Faiss IndexBinaryIVF): routing restricts
    // the Hamming scan to 4 of 8 cells, the 30-candidate cut restricts
    // the exact rerank. The oracle composes the two exact replays.
    Probe.df("q_ann_ivfbin",
      Similarity.ivfBinaryOracleSql("embeddings", "vec_id", "embedding",
        dim = 64, nCents = 8, nprobe = 4, k = 5, cands = 30,
        querySql = "vec_id < 8")) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsFrom(e, "vec_id", "embedding", 8)
      Similarity.ivfBinaryTopK(e.filter(col("vec_id") < 8), e,
          "vec_id", "embedding", cents, dim = 64, nprobe = 4, k = 5,
          cands = 30)
        .orderBy("qid", "rnk")
    },

    Probe.df("q_dedup_cosine",
      """WITH scored AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT ida, idb, cos FROM scored
        |WHERE cos >= 0.5
        |ORDER BY ida, idb""".stripMargin) { (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", 0.5)
        .orderBy("ida", "idb")
    },

    // The scale path for cosine near-dup: banded sign-LSH candidates →
    // exact cosine verify (no quadratic stage). The oracle mirrors the
    // SAME semantics from the identical plane literals — pairs agreeing on
    // any band, exact cosine >= 0.9 — so the match is deterministic. The
    // corpus plants 20 exact duplicates (ids +10000) because the raw
    // table's max off-diagonal cosine is ~0.51: without them a 0.9
    // threshold would only ever return 0 rows.
    Probe.df("q_dedup_cosine_lsh",
      Similarity.cosineLshOracleSql(8, 8, 64, 0.9,
        "(SELECT vec_id, embedding FROM embeddings UNION ALL " +
          "SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 20) u")) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val dup = e.filter(col("vec_id") < 20)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      Similarity.cosineNearDupPairsLsh(e.select("vec_id", "embedding").unionByName(dup),
          "vec_id", "embedding", 0.9, bands = 8, planesPerBand = 8, dim = 64)
        .orderBy("ida", "idb")
    },

    // Cross-relation cosine ε-join, exact tier: the "which candidate
    // docs match which curated seeds" question. Parity split of the
    // embeddings table; τ=0.4 sits under the corpus's ~0.51 max
    // off-diagonal cosine so the answer is a real, non-empty pair set
    // (39 / 27 pairs at sf0.001 / sf0.01).
    Probe.df("q_join_cosine",
      """WITH l AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
        |     r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
        |scored AS (
        |  SELECT l.vec_id AS id_l, r.vec_id AS id_r,
        |    list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))) AS cos
        |  FROM l, r)
        |SELECT id_l, id_r, cos FROM scored
        |WHERE cos >= 0.4
        |ORDER BY id_l, id_r""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.cosineJoinExact(e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", 0.4)
        .orderBy("id_l", "id_r")
    },

    // Same join, scale tier forced: banded sign-LSH blocking on BOTH
    // relations. The right side plants exact duplicates of 20 left rows
    // (ids +10000) because the raw cross-parity max cosine is ~0.51 —
    // at τ=0.9 the answer IS the planted-pair set, and exact duplicates
    // agree on every band deterministically (recall 1, not 1-(1-p^r)^b).
    // The oracle replays the identical plane literals on both relations.
    Probe.df("q_join_cosine_lsh",
      Similarity.cosineJoinLshOracleSql(8, 8, 64, 0.9,
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0) lrel",
        "(SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings " +
          "WHERE vec_id % 2 = 0 AND vec_id < 40 UNION ALL " +
          "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1) rrel")) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val l = e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
      val r = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 40)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 2 === 1)
          .select("vec_id", "embedding"))
      Similarity.cosineJoinLsh(l, r, "vec_id", "embedding", 0.9,
          bands = 8, planesPerBand = 8, dim = 64)
        .orderBy("id_l", "id_r")
    },

    Probe.df("q_ann_lsh",
      Similarity.lshBucketsOracleSql(8, 64, "embeddings")) { (s, dir) =>
      Similarity.lshBuckets(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", nPlanes = 8, dim = 64)
        .orderBy("vec_id")
    },

    // IVF SEARCH end-to-end at nprobe = all cells, where probing is
    // provably exhaustive — the oracle is the exact brute-force top-k.
    // (Partial-nprobe recall is covered in OperatorsSpec; it has no exact
    // oracle by design.)
    Probe.df("q_ann_ivf_search",
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 5 AND q.vec_id <> c.vec_id
        |), ranked AS (
        |  SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        |  FROM scored)
        |SELECT qid, nid, cos, rnk FROM ranked
        |WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsFrom(e, "vec_id", "embedding", 16)
      Similarity.ivfTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", cents, nprobe = 16, k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // Recall@k evaluation (Similarity.recallAtK) — the metric ANN
    // deployments tune nprobe/bands by. Truth = exact brute-force
    // top-5; approx = IVF at PARTIAL nprobe (4 of 16 cells), which is
    // fully deterministic here (first-16-vector centroids), so the
    // oracle replays the probe-cell ranking (dot DESC, cell DESC — the
    // reversed-sort tie-break), the cell assignment (dot DESC, cell
    // ASC), the within-candidate rerank, AND the per-query hit counts;
    // recall is one IEEE division of exact counts.
    Probe.df("q_ann_recall",
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |         embedding::DOUBLE[] AS c
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |pc AS (SELECT qid, cell FROM (
        |    SELECT q.qid, c.cell, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_dot_product(q.qv, c.c) DESC, c.cell DESC) AS prn
        |    FROM q CROSS JOIN cent c) t
        |  WHERE prn <= 4),
        |asg AS (SELECT vec_id AS nid, cell FROM (
        |    SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
        |               c.cell) AS rn
        |    FROM embeddings e CROSS JOIN cent c) t
        |  WHERE rn = 1),
        |ivf AS (SELECT qid, nid FROM (
        |    SELECT pc.qid, a.nid,
        |      row_number() OVER (PARTITION BY pc.qid ORDER BY
        |        list_dot_product(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) /
        |          (sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[])) *
        |           sqrt(list_dot_product(ne.embedding::DOUBLE[], ne.embedding::DOUBLE[]))) DESC,
        |        a.nid) AS rnk
        |    FROM pc JOIN asg a USING (cell)
        |         JOIN embeddings qe ON qe.vec_id = pc.qid
        |         JOIN embeddings ne ON ne.vec_id = a.nid
        |    WHERE a.nid <> pc.qid) t
        |  WHERE rnk <= 5),
        |truth AS (SELECT qid, nid FROM (
        |    SELECT q.qid, c.vec_id AS nid,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        list_dot_product(q.qv, c.embedding::DOUBLE[]) /
        |          (sqrt(list_dot_product(q.qv, q.qv)) *
        |           sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) DESC,
        |        c.vec_id) AS rnk
        |    FROM q JOIN embeddings c ON c.vec_id <> q.qid) t
        |  WHERE rnk <= 5)
        |SELECT t.qid, CAST(count(*) AS BIGINT) AS n_truth,
        |  CAST(count(i.nid) AS BIGINT) AS n_hit,
        |  count(i.nid)::DOUBLE / count(*)::DOUBLE AS recall
        |FROM truth t LEFT JOIN ivf i ON t.qid = i.qid AND t.nid = i.nid
        |GROUP BY t.qid
        |ORDER BY t.qid""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
      val cents = Similarity.ivfCentroidsFrom(e, "vec_id", "embedding", 16)
      val truth = Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5)
      val approx = Similarity.ivfTopK(q, e, "vec_id", "embedding", cents,
        nprobe = 4, k = 5)
      Similarity.recallAtK(truth, approx).orderBy("qid")
    },

    // IVF coarse quantization (the second ANN scale path beside sign-LSH):
    // centroids are the first 16 corpus vectors on BOTH sides, so the
    // oracle recomputes identical assignments with no shared literals.
    Probe.df("q_ann_ivf",
      """WITH cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |         embedding::DOUBLE[] AS c
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |best AS (
        |  SELECT e.vec_id, c.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
        |               c.cell) AS rn
        |  FROM embeddings e CROSS JOIN cent c)
        |SELECT vec_id, CAST(cell AS INT) AS cell FROM best
        |WHERE rn = 1
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsFrom(e, "vec_id", "embedding", 16)
      Similarity.ivfAssign(e, "vec_id", "embedding", cents)
        .orderBy("vec_id")
    },

    // Incremental ANN index maintenance (Similarity.ivfIndexDelta —
    // VERDICT r11 stretch): a catalog table of vectors grows by one
    // append commit; the index delta is read from the CHANGELOG (data
    // reads touch only the new files, planning is a snapshot-log diff)
    // and run through the same frozen-centroid cell-assign projection
    // the full build uses. The oracle recomputes the delta batch's
    // assignments directly from the parquet source — parity proves the
    // changelog route delivers exactly the delta rows and assignment is
    // version-independent. Centroids are the first 8 BASE vectors, so
    // both sides derive them with no shared literals. The COW delete
    // side of the delta contract is pinned in CatalogV2Spec (changelog)
    // + StreamingSpec (foreachBatch ingest).
    Probe.df("q_ann_index_delta",
      """WITH b AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 <> 0),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |         embedding::DOUBLE[] AS c
        |  FROM (SELECT * FROM b ORDER BY vec_id LIMIT 8)),
        |d AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |best AS (
        |  SELECT d.vec_id, c.cell,
        |    row_number() OVER (PARTITION BY d.vec_id
        |      ORDER BY list_dot_product(d.embedding::DOUBLE[], c.c) DESC,
        |               c.cell) AS rn
        |  FROM d CROSS JOIN cent c)
        |SELECT vec_id, CAST(cell AS INT) AS cell,
        |  'insert' AS change_type
        |FROM best WHERE rn = 1
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val wh = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_probe_wh").getAbsolutePath
      s.conf.set("spark.sql.catalog.gprobe", "graft.catalog.MetaCatalog")
      s.conf.set("spark.sql.catalog.gprobe.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gprobe.db")
      s.sql("DROP TABLE IF EXISTS gprobe.db.annidx")
      s.sql("CREATE TABLE gprobe.db.annidx (vec_id BIGINT, embedding ARRAY<FLOAT>)")
      s.sql("INSERT INTO gprobe.db.annidx " +
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 != 0")
      s.sql("INSERT INTO gprobe.db.annidx " +
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0")
      val tdir = java.nio.file.Paths.get(wh, "db", "annidx")
      val vs = graft.catalog.Snapshots.list(tdir).map(_.version)
      val base = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") % 10 =!= 0)
      val cents = Similarity.ivfCentroidsFrom(base, "vec_id", "embedding", 8)
      Similarity.ivfIndexDelta(s, "gprobe.db.annidx",
          vs(vs.length - 2), vs.last, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("cell"),
          col("_change_type").as("change_type"))
        .orderBy("vec_id")
    },

    // Trained IVF: two Lloyd rounds of deterministic k-means (quantized
    // int64 accumulation — bit-reproducible regardless of partitioning),
    // then the final cell assignment. The oracle REPLAYS the whole
    // training loop in SQL; any drift in init, tie-break, quantization,
    // or the mean breaks the hash.
    Probe.df("q_ann_kmeans",
      Similarity.kmeansOracleSql(8, 2, "embeddings")) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = Similarity.kmeansFit(e, "vec_id", "embedding", 8, 2)
      Similarity.ivfAssign(e, "vec_id", "embedding", cents)
        .orderBy("vec_id")
    },

    // Hard-negative mining: per query the top-5 nearest CROSS-label
    // vectors (the contrastive-training negatives). Cosines ride the
    // same exact kernel==list_dot_product recipe as q_ann_topk.
    Probe.df("q_hard_negatives",
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 10 AND q.label <> c.label
        |), ranked AS (
        |  SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
        |  FROM scored)
        |SELECT qid, nid, cos, rnk FROM ranked
        |WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      Similarity.hardNegatives(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", "label", 5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("qid", "rnk")
    },

    // SemDeDup: k-means clusters bound the quadratic cosine stage to
    // within-cell pairs (the paper's scale argument). The oracle replays
    // kmeans training (reusing the q_ann_kmeans chain) + per-cell exact
    // cosine drops.
    Probe.df("q_semdedup",
      // reuse the kmeans training CTE chain; swap its final SELECT for
      // the within-cell cosine dedup
      Similarity.kmeansOracleSql(8, 2, "embeddings")
        .stripSuffix("SELECT vec_id, cell FROM fin ORDER BY vec_id")
        .stripSuffix("\n") + ",\n" +
        """p AS (SELECT b.vec_id AS dropped
          |  FROM fin a JOIN fin b ON a.cell = b.cell AND a.vec_id < b.vec_id
          |  JOIN t ta ON ta.vec_id = a.vec_id
          |  JOIN t tb ON tb.vec_id = b.vec_id
          |  WHERE list_dot_product(ta.v, tb.v) /
          |    (sqrt(list_dot_product(ta.v, ta.v)) *
          |     sqrt(list_dot_product(tb.v, tb.v))) >= 0.5)
          |SELECT f.vec_id, f.cell,
          |  f.vec_id NOT IN (SELECT dropped FROM p) AS keep
          |FROM fin f ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Similarity.semDedup(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", 8, 2, 0.5)
        .orderBy("vec_id")
    },

    // Product quantization, encode: 8 subspaces x 16 codes over the
    // 64-dim embeddings (first-k codebooks so the oracle recomputes them
    // from the table). The argmin-L2 pick runs as the ArgMaxDot kernel
    // via the (x,1)·(c,-|c|²/2) augmentation; the oracle replays slice,
    // augmented score, and first-index tie-break per subspace.
    Probe.df("q_ann_pq",
      graft.operators.Pq.pqEncodeOracleSql("embeddings", 64, 8, 16)) {
      (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cbs = graft.operators.Pq.pqCodebooksFrom(
        e, "vec_id", "embedding", 64, 8, 16)
      graft.operators.Pq.pqEncode(e, "vec_id", "embedding", cbs)
        .orderBy("vec_id")
    },

    // MinHash-LSH parameter tuning (MMDS ch. 3.4 S-curve): every
    // (rows, bands) divisor split of a 64-hash budget scored on
    // fp/fn mass around tau=0.5 — all left-associated IEEE multiply
    // chains + sequential grid sums, replayed bit-identically (the
    // probability-product recipe; pow() would diverge cross-engine).
    Probe.df("q_lsh_tune",
      Similarity.lshTuneOracleSql(0.5, 64)) { (s, _) =>
      Similarity.lshTune(s, 0.5, 64)
    },

    // OPQ encode (VERDICT r12 #6; Ge et al. CVPR '13): rotate, then PQ
    // in the rotated space. The probe uses the BLOCK rotation twin —
    // closed-form 2×2 Jacobi per dimension pair over the INTEGER Gram,
    // a fixed sequence of correctly-rounded IEEE ops — so the oracle
    // replays rotation AND codebooks exactly; the full PCA+eigenvalue-
    // allocation rotation (driver Jacobi, no SQL replay) is spec-tested
    // for recall in OperatorsSpec.
    Probe.df("q_ann_opq",
      graft.operators.Pq.opqBlockOracleSql("embeddings", 64, 8, 16)) {
      (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cs = graft.operators.Pq.opqBlockRotation(e, "embedding", 64)
      val rot = graft.operators.Pq.opqBlockRotate(e, "vec_id", "embedding", cs)
      val cbs = graft.operators.Pq.pqCodebooksFrom(
        rot, "vec_id", "proj", 64, 8, 16)
      graft.operators.Pq.pqEncode(rot, "vec_id", "proj", cbs)
        .orderBy("vec_id")
    },

    // IVF-PQ composed end-to-end: IVF routing (8 cells, nprobe=3) and
    // PQ-ADC scoring (8 subspaces × 16 codes) in ONE plan — one corpus
    // projection (cell + codes), one broadcast join. The oracle replays
    // routing (incl. both tie-break conventions) and the LUT-sum scores.
    Probe.df("q_ann_ivfpq",
      graft.operators.Pq.ivfPqOracleSql("embeddings", 64, 8, 16,
        nCells = 8, nprobe = 3, nQueries = 3, topK = 5)) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cents = Similarity.ivfCentroidsFrom(e, "vec_id", "embedding", 8)
      val cbs = graft.operators.Pq.pqCodebooksFrom(
        e, "vec_id", "embedding", 64, 8, 16)
      graft.operators.Pq.ivfPqTopK(e.filter(col("vec_id") < 3), e,
          "vec_id", "embedding", cents, cbs, nprobe = 3, k = 5)
        .orderBy("qid", "rank")
    },

    // PQ-ADC search: 3 queries score the WHOLE corpus from codes only —
    // M lookups + M-1 adds per candidate, LUTs computed once per query
    // on the broadcast side. The oracle rebuilds codes AND LUT sums in
    // the same operation order, so scores hash-match exactly.
    Probe.df("q_ann_pq_search",
      graft.operators.Pq.pqAdcOracleSql("embeddings", 64, 8, 16, 3, 5)) {
      (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val cbs = graft.operators.Pq.pqCodebooksFrom(
        e, "vec_id", "embedding", 64, 8, 16)
      val enc = graft.operators.Pq.pqEncode(e, "vec_id", "embedding", cbs)
      graft.operators.Pq.pqAdcTopK(
          e.filter(col("vec_id") < 3), enc, "vec_id", "embedding", cbs, 5)
        .orderBy("qid", "rank")
    },

    // Sparse random projection (operators/RandomProjection — Achlioptas
    // JL transform): 64 → 32 dims through a constant md5-derived
    // {+1,−1,0} sign matrix, vectors quantized by floor(x·2^20) so the
    // accumulation is all-integer and bit-exact. A shuffle-free
    // projection on Spark (matrix is a codegen constant); the oracle
    // rebuilds the matrix in SQL and replays every dot product.
    // Flattened to (vec_id, j, pj) scalar rows for the driver hash;
    // the JL distance-preservation property is pinned by
    // RandomProjectionSpec.
    Probe.df("q_embed_project",
      graft.operators.RandomProjection.oracleSql(
        "embeddings", "vec_id", "embedding", 32, 64)) { (s, dir) =>
      graft.operators.RandomProjection.project(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding", 32, 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "pj")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("pj"))
        .orderBy("vec_id", "j")
    },

    // Trained PCA's distributed pass (operators/Pca): the integer Gram
    // G = n·S − m·mᵀ from floor-quantized vectors, decimal-exact sums —
    // bit-identical under any partitioning, replayed per cell by DuckDB
    // (nested-comprehension outer products, HUGEINT sums). The driver
    // eigensolve + projection on top are PcaSpec's (float eigenvectors
    // are not oracle territory; the data pass is).
    Probe.df("q_pca_gram",
      graft.operators.Pca.gramOracleSql("embeddings", "embedding", 64)) {
      (s, dir) =>
      graft.operators.Pca.gramTable(
          Tables.load(s, dir, "embeddings"), "embedding", 64)
        .orderBy("i", "j")
    },

    // Training-shard export plan + manifest (operators/ShardExport):
    // md5 shard deal, salted deterministic intra-shard read order, and
    // the per-shard manifest whose content_md5 chains per-doc hashes in
    // rank order — shard membership, order, counts and fingerprints all
    // replay bit-exactly in DuckDB. The physical writer + read-back
    // order contract is ShardExportSpec's.
    Probe.df("q_shard_export",
      graft.operators.ShardExport.oracleSql(
        "documents", "doc_id", "text", numShards = 8)) { (s, dir) =>
      val planned = graft.operators.ShardExport.plan(
        Tables.load(s, dir, "documents"), "doc_id", numShards = 8)
      graft.operators.ShardExport.manifest(planned, "text").orderBy("shard")
    }
  )
}
