package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 surfaces here as a named
  * probe: `queries` runs it on Spark, `oracleSql` is the equivalent DuckDB
  * SQL the driver hash-compares against (FIXTURES.md conventions: total
  * ORDER BY, identical column aliases on both sides).
  */
object SparkEntry {

  def probesAll: Seq[Probe] =
    probes.Aggregates.probes ++
    probes.Joins.probes ++
    probes.Windows.probes ++
    probes.SetOpsSorts.probes ++
    probes.Constructs.probes ++
    probes.ScalarFunctions.probes ++
    probes.ScalarFunctions2.probes ++
    probes.ScalarFunctions3.probes ++
    probes.Pipeline.probes ++
    probes.Curation.probes ++
    probes.StreamingWindows.probes ++
    probes.SourcesSinks.probes ++
    probes.Headline.probes ++
    probes.TpchFull.probes ++
    probes.Extras.probes ++
    probes.Selection.probes

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    probesAll.find(_.name == "q1_agg").get.run(spark, dir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    probesAll.map(p => p.name -> p.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    probesAll.flatMap(p => p.oracle.map(p.name -> _)).toMap

  /** Headline subset for Bench (join-heavy, window, agg, pipeline ops).
    * Round-3 additions: the end-to-end pipeline composition, the banded
    * cosine-LSH scale path, and the corpus vocabulary. Round 4 adds the
    * widest TPC-H shapes: full Q1 (9-aggregate scan), Q8 (8-table
    * snowflake), Q21 (double-correlated EXISTS/NOT EXISTS). */
  def benchNames: Seq[String] = Seq(
    "q1_agg", "q_join_star", "q_win_rank", "q_agg_distinct",
    "q_grouping_sets", "q_corr_scalar_subquery", "q_topk", "q_date_bin",
    "q_dedup_minhash", "q_ann_topk", "q_text_stats",
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q10", "q_tpch_q18",
    "q_window_session", "q_dedup_cosine", "q_ann_ivf",
    "q_pipeline_e2e", "q_dedup_cosine_lsh", "q_vocab",
    "q_tpch_q1", "q_tpch_q8", "q_tpch_q21",
    // round 5: the new operator classes' bench shapes — as-of
    // (union+window, one shuffle), sessionization (two windows + rollup
    // on one exchange), one-pass HLL profile over lineitem (the scale
    // tier; q_profile's exact-distinct Expand is the oracle tier)
    "q_join_asof", "q_sessionize", "q_profile_approx",
    // round-5 late additions: binned interval-overlap join (equi-join
    // replacing the nested-loop theta join), per-doc tf-idf top-k on the
    // bounded-heap operator, BPE pre-tokenizer counting (native regex).
    // q_fingerprint_overlap is deliberately NOT here: on this
    // tiny-vocabulary synthetic corpus single-fingerprint blocking is
    // non-selective (see BASELINE.md round-5 notes); it remains a
    // correctness-tier probe. The BENCHED copy-detection path is the
    // round-6 band-of-2 variant, whose paired-fingerprint buckets stay
    // selective on exactly this corpus.
    "q_join_interval", "q_tfidf", "q_tokenize_bpe",
    "q_fingerprint_overlap_banded",
    // round 7: bigram-LM quality scoring (persisted single tokenize,
    // three key joins, per-doc aggregate)
    "q_lm_score",
    // round 8: Kneser-Ney LM tier, chunk-level exact dedup
    // (fingerprint-only shuffles), BM25 term scoring (pre-shuffle
    // token filter + broadcast stats), and the partsupp quartet on the
    // derived inventory table
    "q_lm_score_kn", "q_dedup_chunks", "q_bm25",
    "q_tpch_q2", "q_tpch_q11", "q_tpch_q16", "q_tpch_q20",
    // round 10: language ID — gram explode + broadcast model join
    // (non-profile grams dropped pre-shuffle) + integer vote
    "q_langid",
    // round 11: trained quality classifier — 3 perceptron sweeps over
    // the persisted id-partitioned feature table (broadcast model join
    // per sweep, one dim-row shuffle each) + whole-corpus scoring
    "q_quality_classifier",
    // round 11 late: hybrid retrieval composition — BM25 + brute-force
    // cosine runs fused by fixed-point RRF, both top-N cuts on the
    // bounded-heap operator (two heaps, candidate-stream-only shuffle)
    "q_retrieval_rrf",
    // round 12: the deterministic similarity-join tier (VERDICT r11 #3)
    // — prefix-filtered + ppjoin-positional q-gram edit-distance join,
    // and the exact Jaccard set join on its bench-tier sparse corpus
    // (q_join_jaccard's natural-text corpus emits 12.46M true pairs at
    // sf0.1 — inherently quadratic output, so it stays correctness-tier
    // like q_fingerprint_overlap; see BASELINE.md round 12)
    "q_join_fuzzy", "q_join_jaccard_groups",
    // round 12 late: the asymmetric containment variant (left-only
    // prefix blocking) and the integer-idf weighted Jaccard join track
    // the same linear corpus
    "q_join_containment", "q_join_jaccard_weighted",
    // round 12 close: the embedding-space join-tier member — banded
    // sign-LSH blocking on BOTH relations + exact cosine verify — and
    // the unigram-LM tokenizer trainer (2 Viterbi-EM rounds: per round
    // one model-sized collect + one word-table aggregate; encode stays
    // correctness-tier — it reruns training then adds one pass)
    "q_join_cosine_lsh", "q_unigram_train",
    // round 12 third session: large-star/small-star connected components
    // on the adversarial deep-chain graph (~7 alternating rounds, two
    // edge-list shuffles each, per-round localCheckpoint) — the
    // diameter-independent CC the dedup cluster step needs at 100 TB
    "q_dedup_cc_star",
    // round 12 third session: content-defined chunking dedup — boolean
    // boundary flags ride the explode, one doc-partitioned window, chunk
    // group on the same partitioning
    "q_dedup_cdc",
    // round 12 third session: the PCA Gram pass — upper-triangle
    // integer outer products, decimal-exact map-side combine into dim²
    // groups (the heavy-numeric aggregation benchmark)
    "q_pca_gram",
    // round 13: the auto-salted join (skew profile → per-key factors →
    // broadcast lookup, one extra count-aggregate pass over the fact
    // key), block-OPQ encode (integer Gram + closed-form 2×2 rotations
    // + rotated PQ codes — the trained-rotation ANN path), and CCNet
    // perplexity bucketing (self-trained bigram LM + one window per
    // language). q_lsh_tune stays correctness-tier: pure driver math at
    // noise level (~40 ms)
    "q_join_salted_auto", "q_ann_opq", "q_lm_ppl_buckets",
    // round 13 extension: binary-code ANN (codes-only Hamming scan +
    // broadcast exact rerank — the 32× compression tier), the
    // S-curve-auto-tuned minhash pairs, best-fit-decreasing packing
    // (per-part imperative fold after one hash exchange), and the
    // blocklist word filter (distinct-word explode + broadcast semi).
    // q_wordpiece_train stays out of the bench set with the other
    // trainers: 8 rounds × two aggregates each dominate the 3-pass
    // suite budget the same way q_bpe_train does.
    "q_ann_binary", "q_dedup_minhash_auto", "q_pack_bfd", "q_blocklist",
    // round 13 extension, late: the IVF-composed binary tier (routed
    // Hamming scan + exact rerank) and sentence-boundary chunking (one
    // materialized HOF projection + per-chunk regroup)
    "q_ann_ivfbin", "q_text_sentence_chunks")
}
