package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these
  * queries scale (pushdown, pruning, broadcast dims, top-k fusion,
  * two-phase aggregation, codegen'd custom expressions) must survive
  * future edits — a probe can stay correct while silently losing its
  * plan shape, and at 100 TB the plan IS the behavior.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    Tables.register(s, "/root/testdata/sf0.001")
    s
  }

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    df.queryExecution.executedPlan.toString
  }

  test("langid's two branches share ONE corpus exchange at runtime " +
      "(ReusedExchange — else the corpus scans and shuffles twice)") {
    // The invariant is RUNTIME exchange reuse (AQE canonical-subtree
    // matching), invisible in the static plan: the vote branch must not
    // accumulate any pushed-below-the-exchange filter the base branch
    // lacks (round 11 found inferred isnotnull(id) + explode's size>0
    // doing exactly that). Execute, then walk the final adaptive plan.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = SparkEntry.queries("q_langid")(spark, "/root/testdata/sf0.001")
    df.collect()
    var reused = 0
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => reused += 1
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(reused >= 1,
      "the corpus repartition must be computed once and reused")
  }

  test("similarity-join verifies sit behind a NON-COALESCIBLE exchange " +
      "(REPARTITION_BY_NUM — AQE must not fuse the per-pair verify onto " +
      "a couple of tasks)") {
    // The candidates relation is two longs/row, so AQE's bytes-based
    // coalescing would squeeze the fused distinct→join→verify pipeline
    // to ~2 tasks while the per-ROW verify cost dominates (measured at
    // sf0.1: minutes of wall on 32 idle cores). repartition(N, keys) is
    // exempt — this pins that every join-tier probe still carries it.
    for (name <- Seq("q_join_fuzzy", "q_join_jaccard_groups",
        "q_join_containment", "q_join_jaccard_weighted")) {
      val p = planOf(name)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$name lost its explicit-count verify repartition:\n${p.take(600)}")
    }
  }

  test("star join broadcasts every dimension (no fact shuffle before agg)") {
    val p = planOf("q_join_star")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast at this size")
    assert(p.contains("PushedFilters"))
  }

  test("filters reach the parquet scan") {
    val p = spark.sql(
      "SELECT l_orderkey FROM lineitem WHERE l_quantity > 30 AND l_shipdate > TIMESTAMP '1995-01-01'"
    ).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity,30.0)"),
      p.take(1200))
  }

  test("projection prunes the parquet read schema") {
    val p = spark.sql("SELECT l_orderkey, l_quantity FROM lineitem")
      .queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"),
      s"scan must not read unprojected columns: $readSchema")
  }

  test("ORDER BY + LIMIT fuses into TakeOrderedAndProject") {
    assert(planOf("q_topk").contains("TakeOrderedAndProject"))
  }

  test("aggregation runs partial then final (map-side combine)") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    assert(p.contains("partial_sum") || p.contains("partial_"),
      "expected partial aggregation before the shuffle")
  }

  test("CDC chunking plans ONE hash exchange (chunk aggregation reuses " +
      "the boundary-window's hash(id) partitioning) plus at most the " +
      "conditional kernel spread") {
    // the window needs hash(id); groupBy(id, chunk) is satisfied by the
    // same partitioning (subset clustering) — a SECOND hash exchange
    // before the chunk fingerprints would re-shuffle the whole corpus's
    // rows. The round-robin exchange is OpConf.spreadForKernel: present
    // here because the tiny local file under-splits, absent on a
    // finely-split table (conditional — r14).
    val chunks = graft.operators.Dedup.cdcChunks(
      Tables.load(spark, "/root/testdata/sf0.001", "documents"),
      "doc_id", "text", 4, 8)
    val p = chunks.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n" +
      p.take(1200))
    // case varies by node (hashpartitioning prints lowercase,
    // RoundRobinPartitioning as the case-class name)
    val rrEx = "(?i)Exchange roundrobinpartitioning".r.findAllIn(p).size
    // The spread is CONDITIONAL on this machine's parallelism vs the
    // fixture's scan-split count (ADVICE r14: on a low-core box the
    // scan may already match defaultParallelism and the spread
    // correctly stays out) — derive the expectation from the same
    // predicate the operator dispatches on instead of hard-coding 1.
    val scanParts = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").rdd.getNumPartitions
    val expected =
      if (scanParts < spark.sparkContext.defaultParallelism) 1 else 0
    assert(rrEx == expected, s"expected $expected kernel spread(s) " +
      s"(scan splits $scanParts vs parallelism " +
      s"${spark.sparkContext.defaultParallelism}), got $rrEx:\n" +
      p.take(1200))
  }

  test("PCA's Gram pass map-side combines before its dim^2-group exchange") {
    val s = graft.operators.Pca.gramTable(
      Tables.load(spark, "/root/testdata/sf0.001", "embeddings"),
      "embedding", 64)
    val p = s.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"),
      "expected partial aggregation of the outer products before the " +
        "shuffle — without it the exchange carries dim^2 rows per input " +
        "row instead of dim^2 per partition\n" + p.take(1200))
  }

  test("date_bin stays inside whole-stage codegen") {
    // AQE wraps the plan pre-execution; disable it so codegen stages show
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = planOf("q_date_bin")
      assert(p.contains("date_bin"))
      // codegen'd stages print as "*(n) Operator" in plan toString
      assert(p.contains("*("), p.take(800))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("EXISTS rewrites to a semi join, NOT EXISTS to anti") {
    assert(planOf("q_join_semi").contains("LeftSemi"))
    assert(planOf("q_join_anti").contains("LeftAnti"))
  }

  test("TPC-H Q5 snowflake: every dimension broadcasts, fact never shuffles pre-agg") {
    val p = planOf("q_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "all five dims must broadcast at this size; the only exchange is the agg's")
  }

  test("minhash pipeline shuffles band keys, not documents, for candidates") {
    val p = planOf("q_dedup_minhash")
    assert(p.contains("minhash_signature"), "kernel expression must be in the plan")
  }

  test("IVF search plans exactly one join (broadcast queries, no corpus self-join)") {
    // Cell assignment is a projection on the corpus scan; the only join in
    // the whole plan is the broadcast of the (tiny) query side. A second
    // join would mean the corpus is being scanned/joined twice.
    val p = planOf("q_ann_ivf_search")
    val joins = "Join".r.findAllIn(p).size
    assert(joins == 1, s"expected exactly one join, found $joins:\n${p.take(1500)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("IVF cell assignment runs as one kernel inside whole-stage codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = planOf("q_ann_ivf")
      assert(p.contains("arg_max_dot"), p.take(800))
      assert(p.contains("*("), "kernel must stay inside a codegen stage")
      assert(!p.contains("dot_product"),
        "per-centroid dot columns must be gone (single-pass kernel)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("cosine-LSH candidate generation never materializes a quadratic stage") {
    // The candidate join must equi-join on (band, key) — never a cross or
    // pure-theta join of the corpus against itself — and the vectors ride
    // along only into the verify joins (hash joins on ida/idb).
    val p = planOf("q_dedup_cosine_lsh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join in the LSH path:\n${p.take(1200)}")
  }

  test("dedup verify joins statically broadcast ONLY bare id pairs") {
    // The ADVICE r9 regression guard: the small-corpus verify path must
    // never hint a payload-carrying side into a broadcast — a capped
    // bucket can emit millions of pairs, and collecting each pair's
    // shingle set / sign vector / embedding through the driver turns a
    // working plan into a broadcast-limit failure. Only the STATIC plan
    // is checked: a runtime AQE broadcast is a measured-size decision.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def broadcastOutputs(p: SparkPlan): Seq[Seq[String]] = {
      val buf = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      def walk(n: SparkPlan): Unit = n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BroadcastExchangeExec =>
          buf += b.output.map(_.name); b.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(p); buf.toSeq
    }
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val outs = broadcastOutputs(df.queryExecution.executedPlan)
      assert(outs.nonEmpty, s"$q: expected the bare-pair broadcasts")
      outs.foreach { cols =>
        assert(cols.toSet.subsetOf(Set("ida", "idb")),
          s"$q: broadcast must carry bare id pairs only, saw $cols")
      }
    }
    // The cosine-LSH verify (round 12) broadcasts the PER-ID vector
    // table instead — bounded by corpus size, never by the pair count,
    // so the r9 hazard (quadratic pair-payload through the driver)
    // still cannot occur. Pin: every broadcast is either bare pairs or
    // a one-vector-per-id side; never pair keys TOGETHER WITH payload.
    for (q <- Seq("q_dedup_cosine_lsh", "q_join_cosine_lsh")) {
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val outs = broadcastOutputs(df.queryExecution.executedPlan)
      assert(outs.nonEmpty, s"$q: expected the verify broadcasts")
      val pairCols = Set("ida", "idb", "id_l", "id_r")
      outs.foreach { cols =>
        val pairKeys = cols.toSet.intersect(pairCols)
        val hasPayload = cols.exists(c => !pairCols.contains(c))
        assert(!(pairKeys.size >= 2 && hasPayload),
          s"$q: broadcast carries pair keys AND payload, saw $cols")
      }
    }
  }

  test("AQE converts a sort-merge join to broadcast at runtime") {
    // Static planning can't see filter selectivity; AQE measures the
    // actual shuffle output and swaps in a broadcast join — the runtime
    // re-plan that saves the fact-side shuffle at scale.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // static: never
    try {
      val big = spark.range(200000).select($"id".as("k"), ($"id" * 3).as("v"))
      val small = spark.range(100000).select($"id".as("k"))
        .filter($"k" % 1000 === 0) // tiny AFTER the filter; static est is big
      val j = big.join(small, "k").agg(count(lit(1)))
      assert(j.collect().head.getLong(0) == 100L)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"expected runtime broadcast conversion:\n${p.take(1200)}")
    } finally {
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("CACHE TABLE serves repeat scans from the columnar cache") {
    spark.sql("CACHE TABLE cached_nation AS SELECT * FROM nation")
    try {
      val p = spark.sql(
        "SELECT n_name FROM cached_nation WHERE n_regionkey = 1")
        .queryExecution.executedPlan.toString
      // Spark 4 spells the cached scan "Scan In-memory table"; the
      // InMemoryRelation lineage below it still PRINTS the FileScan it was
      // built from, but execution reads the columnar cache.
      assert(p.contains("Scan In-memory table"), p.take(800))
    } finally spark.sql("UNCACHE TABLE cached_nation")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The no-salting skew path: AQE detects the oversized partition after
    // the shuffle writes and splits it into parallel sub-joins. Thresholds
    // are lowered so local[32] test data trips the same logic a 100 TB
    // skewed key would.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val conf = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // a downstream agg would otherwise veto the split (extra-shuffle rule)
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.shuffle.partitions" -> "4")
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 100k rows of key 0 + uniform tail vs a small dimension; the random
      // payload must survive into the shuffle (a constant would compress
      // below the skew threshold)
      val left = spark.range(100000).select(
        when($"id" < 95000, lit(0L)).otherwise($"id" % 100).as("k"),
        sha2(concat(lit("payload_"), $"id".cast("string")), 256).as("pay"))
      val right = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length($"pay")).as("paylen"))
      assert(joined.collect().head.getLong(0) == 100000L)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew split in final plan:\n${finalPlan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join with zero exchanges (co-located shuffle-free join)") {
    // The 100 TB pattern: pre-bucket both sides of a recurring join key so
    // every future join is a local zip of sorted buckets — no exchange of
    // fact data ever again. Broadcast is disabled to prove the co-location
    // (at real scale neither side broadcasts).
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${p.take(1200)}")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("TPC-H Q8 8-table snowflake: all seven dims broadcast, fact unshuffled pre-agg") {
    val p = planOf("q_tpch_q8")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "every dimension must broadcast; lineitem shuffles only at the aggregate")
  }

  test("hashMix is a zero-shuffle projection over the corpus scan") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val p = graft.operators.Mixing
      .hashMix(docs, "doc_id", "source", 0.5, 100)
      .queryExecution.executedPlan.toString
    // the take-count aggregate ran as its own (driver-collected) job;
    // the RESULT plan must be scan -> filter -> project with no exchange
    assert(!p.contains("Exchange"), s"hashMix must not shuffle:\n${p.take(1200)}")
  }

  test("contamination join carries hashed grams and broadcasts the bench side") {
    val p = planOf("q_contamination")
    assert(p.contains("xxhash64"), "grams must be hashed before the join")
    assert(p.contains("BroadcastHashJoin"),
      s"bench gram set must broadcast at this size:\n${p.take(1200)}")
  }

  test("banded winnow-overlap: candidate step is join-free, one window, " +
      "one exploded-table exchange") {
    // The doc-freq cap is ONE window pass riding the bk hash-partitioning,
    // and (r19) candidate pairs come from bounded per-bucket enumeration
    // on that SAME partitioning — no candidate self-join at all. A
    // SortMergeJoin/ShuffledHashJoin below the pair aggregate, a second
    // Window, or a second hashpartitioning(bk) exchange means the r18
    // twin-exchange shape (or the r7 double-sort shape) regressed back.
    val p = planOf("q_fingerprint_overlap_banded")
    assert("(?m)^\\s*[+:-]*\\s*Window ".r.findAllIn(p).size <= 1,
      s"expected at most one Window operator:\n${p.take(1500)}")
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"candidate step must be join-free (per-bucket explode):\n${p.take(1200)}")
    assert("hashpartitioning\\(bk".r.findAllIn(p).size <= 1,
      s"the exploded key table must shuffle exactly once:\n${p.take(1500)}")
    assert(p.contains("InMemoryTableScan"),
      "the (fps, keys) base must serve all branches from one cache")
  }

  test("BM25 filters the token stream before its only data shuffle") {
    val p = planOf("q_bm25")
    // term filter is a Filter over the exploded projection (pre-shuffle);
    // df and corpus stats come back as broadcasts, not extra exchanges
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"df/stats must broadcast:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"),
      "corpus stats must ride a broadcast, never a cartesian")
  }

  test("chunk dedup shuffles 16-byte fingerprints, never text") {
    val p = planOf("q_dedup_chunks")
    // every Exchange's output must be (id, fp)-shaped — the raw text
    // column may appear only below the chunking projection
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"an exchange carries raw text:\n${exchanges.mkString("\n")}")
  }

  test("quality-classifier scoring: model broadcasts, margins aggregate " +
      "on the explicit id partitioning (exactly the two planned exchanges)") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val model = Seq((1L, 5L), (2L, -3L)).toDF("b", "wt")
    val p = graft.operators.QualityClassifier
      .score(docs, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // two explicit repartitions (feature branch + id branch) and
    // NOTHING else: the (id,b) counts, the per-doc margin aggregate and
    // the final id join all ride the same hash partitioning
    val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(n == 2, s"expected exactly 2 shuffles, saw $n:\n" +
      p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .mkString("\n"))
  }

  test("coreset assignment is a shuffle-free projection (centers fold " +
      "as literals — no join, no exchange)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centers = graft.operators.Coreset
      .kCenterGreedy(e, "vec_id", "embedding", k = 3)
    val p = graft.operators.Coreset
      .assign(e, "vec_id", "embedding", centers)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("saltedJoinAuto attaches factors by BROADCAST on both sides and " +
      "never degenerates to a cartesian") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fact = ((1 to 400).map(i => (0L, i.toDouble)) ++
      (1 to 60).map(i => (i.toLong, i.toDouble))).toDF("k", "v")
    val dim = (0 to 30).map(i => (i.toLong, s"d$i")).toDF("dk", "name")
    val out = graft.operators.SkewJoin
      .saltedJoinAuto(fact, dim, Seq("k" -> "dk"), topK = 8)
    out.collect() // finalize AQE
    val p = out.queryExecution.executedPlan.toString
    // the 1-ROW total attach inside the factor derivation legitimately
    // plans as a broadcast nested-loop CROSS (same shape as
    // skewProfile); what must never appear is a data-sized cartesian
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the two factor lookups (big side + small side) ride broadcasts —
    // the topK-row factor table must NEVER shuffle the fact for a lookup
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"expected >=2 broadcast factor attaches, saw $bhj:\n" +
      p.take(1200))
  }

  test("perplexityBucketsHist ranks docs in (lang, value) partitions — " +
      "never one whole-language sort window over the doc stream") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def docWindowPartitionWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.collect()
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      def walk(n: SparkPlan): Unit = n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case w: WindowExec =>
          if (w.windowExpression.toString.contains("row_number"))
            out += w.partitionSpec.length
          w.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      out.toSeq
    }
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val hist = docWindowPartitionWidths(graft.operators.LmScore
      .perplexityBucketsHist(docs, "doc_id", "text", "lang"))
    // the doc-level row_number partitions by (lang, avg_q) — fine-
    // grained; the window FORM partitions its doc ranks by lang alone
    assert(hist.nonEmpty && hist.forall(_ == 2),
      s"hist doc-rank window must partition by (lang, avg_q): $hist")
    val win = docWindowPartitionWidths(graft.operators.LmScore
      .perplexityBuckets(docs, "doc_id", "text", "lang"))
    assert(win.nonEmpty && win.forall(_ == 1),
      s"window form partitions doc ranks by lang alone: $win")
  }

  test("RRF fusion cuts per-key top-N with the bounded-heap operator, " +
      "not a sort (only the candidate stream shuffles)") {
    val df = SparkEntry.queries("q_retrieval_rrf")(
      spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    // two bounded heaps: the lexical run's top-20 cut AND the fusion's
    // top-N cut (the semantic run's window rank is inside
    // bruteForceTopK and sorts only its k-bounded candidate set)
    val heaps = p.linesIterator.count(_.contains("TopKPerKey"))
    assert(heaps == 2, s"expected 2 bounded-heap cuts, saw $heaps:\n" +
      p.take(1200))
  }

  test("binary ANN: a STORED codes table scans without the float " +
      "vectors (parquet prunes them) and the Hamming cut rides " +
      "WindowGroupLimit") {
    import graft.operators.{Quantize, Similarity}
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_codes").toString
    Quantize.binarySign(emb, "vec_id", "embedding", 64)
      .write.mode("overwrite").parquet(dir)
    val codes = spark.read.parquet(dir)
    val df = Similarity.binaryAnnTopKIndexed(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
      codes, emb, "vec_id", "embedding", dim = 64, k = 5, cands = 50)
    val p = df.queryExecution.executedPlan.toString
    // the STREAMED (big) side of the Hamming cross join must be the
    // stored-codes scan, not anything reading the float table — the
    // whole point of the stored index. Checking only the codes scan's
    // own line would be vacuous (the codes file has no float column);
    // the pin is that no corpus-table scan appears in the streamed
    // subtree. In toString form the streamed child's lines carry the
    // ':' tree prefix between the join node and its broadcast sibling.
    val lines = p.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    assert(joinIdx >= 0, "expected the Hamming cross join:\n" + p.take(1500))
    val streamed = lines.drop(joinIdx + 1)
      .takeWhile(l => !l.contains("BroadcastExchange"))
    assert(streamed.exists(_.contains("graft_codes")),
      s"streamed side must scan the stored codes:\n${streamed.mkString("\n")}")
    assert(!streamed.exists(_.contains("testdata")),
      s"streamed side must not scan the float table:\n${streamed.mkString("\n")}")
    // BOTH rank cuts (the Hamming crank and the rerank rnk) keep the
    // rank-limit pushdown: 2 windows × (partial + final) = 4 nodes — a
    // bare contains() could be satisfied by the cheap rerank window
    // alone while the expensive Hamming cut regressed
    val wgl = lines.count(_.contains("WindowGroupLimit"))
    assert(wgl == 4,
      s"expected 4 WindowGroupLimit nodes (2 windows × partial+final), saw $wgl:\n" +
        p.take(1500))
    // the IVF-composed indexed path holds the same property: the routed
    // Hamming join streams the stored (cell, codes) index, never floats
    val cents = Similarity.ivfCentroidsFrom(emb, "vec_id", "embedding", 8)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_ivfcodes").toString
    Similarity.ivfBinaryIndex(emb, "vec_id", "embedding", cents, 64)
      .write.mode("overwrite").parquet(idxDir)
    val p2 = Similarity.ivfBinaryTopKIndexed(
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3),
        spark.read.parquet(idxDir), emb, "vec_id", "embedding", cents,
        dim = 64, nprobe = 4, k = 5, cands = 30)
      .queryExecution.executedPlan.toString
    val l2 = p2.linesIterator.toSeq
    val j2 = l2.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    assert(j2 >= 0, "expected the routed Hamming join:\n" + p2.take(1500))
    val streamed2 = l2.drop(j2 + 1)
      .takeWhile(l => !l.contains("BroadcastExchange"))
    assert(streamed2.exists(_.contains("graft_ivfcodes")) &&
      !streamed2.exists(_.contains("testdata")),
      s"routed scan must stream the stored index only:\n${streamed2.mkString("\n")}")
  }

  test("best-fit-decreasing packs after ONE exchange (the part hash " +
      "shuffle); the fold itself adds none") {
    import graft.operators.Packing
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "n_chars")
    val df = Packing.packBestFitDecreasing(docs, "doc_id", "n_chars",
      budget = 1000, parts = 8)
    // the fold runs behind createDataFrame(rdd), so the SQL plan is a
    // detached LogicalRDD — pin the shuffle count in the RDD lineage,
    // where the repartition actually lives
    val lineage = df.rdd.toDebugString
    val shuffles = lineage.linesIterator
      .count(_.contains("ShuffledRowRDD"))
    assert(shuffles == 1,
      s"expected exactly one shuffle in the lineage, saw $shuffles:\n$lineage")
  }

  test("a pending MOR sidecar de-vectorizes ONLY the masked file: the " +
      "clean slice keeps columnar parquet reads (VERDICT r15 #1)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_whplan").toString
    spark.conf.set("spark.sql.catalog.gplan", "graft.catalog.MetaCatalog")
    spark.conf.set("spark.sql.catalog.gplan.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gplan.db")
    spark.sql("""CREATE TABLE gplan.db.morsplit (a INT, s STRING)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO gplan.db.morsplit VALUES (1,'x'), (2,'y')") // file A
    spark.sql("INSERT INTO gplan.db.morsplit VALUES (3,'z'), (4,'w')") // file B
    spark.sql("DELETE FROM gplan.db.morsplit WHERE a = 3")             // masks B only
    val df = spark.sql("SELECT a, s FROM gplan.db.morsplit")
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 4))
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.length == 1, s"expected one scan, got ${scans.length}")
    assert(scans.head.description().contains("mor split"),
      s"expected the composite mor-split scan, got ${scans.head.description()}")
    val batch = scans.head.toBatch
    val parts = batch.planInputPartitions()
    val factory = batch.createReaderFactory()
    assert(parts.length >= 2, "expected clean + masked slices")
    // BOTH slices stay columnar: the clean file via the untouched
    // delegate, the masked file via the RemappedColumnVector row-id
    // mask — the whole scan keeps vectorized parquet reads while the
    // sidecar pends (Spark requires partition-uniform columnar-ness,
    // so a row-based masked slice would de-vectorize everything)
    assert(parts.forall(factory.supportColumnarReads),
      "the r15 scan-cost cliff is back: some partition lost its " +
        "vectorized read while a sidecar pends")
    // compaction folds the sidecar and restores the single-scan path
    graft.catalog.Maintenance.compact(spark, "gplan.db.morsplit", Seq("a"), 1)
    val df2 = spark.sql("SELECT a, s FROM gplan.db.morsplit")
    val scans2 = df2.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(!scans2.head.description().contains("mor split"))
    assert(df2.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 4))
  }

  test("unpartitioned windows appear only in the declared queries: every " +
      "SparkEntry query's analyzed plan, checked against an allow-list") {
    // A Window with no partition keys runs on ONE task (WindowExec's "No
    // Partition Defined" warning): inside an operator it would serialize
    // a 100 TB stage. Each allowed query says why its global window only
    // ever sees bounded rows. The set must match EXACTLY, so a new hit
    // and a stale entry both fail.
    val scaffolding = "probe scaffolding: row_number over doc_id builds " +
      "the test chain graph; clusterPairsStar itself has no window"
    val postAggregate = "bounded post-aggregate input"
    val smallTier = "bounded input: packByCumsum's window tier runs only " +
      "below OpConf's size threshold; above it cumsumDistributed " +
      "partitions every window by __pid"
    val globalRank = "declared global-rank semantics of the query"
    val allowed = Map(
      "q_dedup_cc_star" -> scaffolding,
      "q_dedup_cc_delta" -> scaffolding,
      "q_tpch_q15" -> s"$postAggregate (supplier revenue, |suppliers| rows)",
      "q_skew_profile" -> s"$postAggregate (the distinct-key profile)",
      "q_dict_encode" -> s"$postAggregate (the distinct-token vocabulary)",
      "q_pack_cumsum" -> smallTier,
      "q_pipeline_e2e" -> smallTier,
      "q_pack_cuseqlens" -> smallTier,
      "q_win_global" -> s"$globalRank (row_number over all orders)",
      "q_histogram_depth" -> s"$globalRank (equi-depth ntile bins)",
      "q_curriculum" -> s"$globalRank (global curriculum deciles)")
    import org.apache.spark.sql.catalyst.plans.logical.Window
    // a child session: probes set confs and temp views of their own
    val s = spark.newSession()
    val hits = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, mk) =>
      try mk(s, "/root/testdata/sf0.001").queryExecution.analyzed.exists {
        case w: Window => w.partitionSpec.isEmpty
        case _ => false
      } finally s.catalog.clearCache()
    }.map(_._1).toSet
    assert(hits -- allowed.keySet == Set.empty,
      "new unpartitioned window(s): attribute them or partition them")
    val stale = allowed -- hits
    assert(stale.isEmpty, "stale allow-list entries, these queries no " +
      s"longer have an unpartitioned window: ${stale.mkString("; ")}")
  }
}
