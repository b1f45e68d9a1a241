package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}

class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"),   // near-dup of 1
    (3L, "completely different content about spark engines", "en"),
    (4L, "the quick brown fox jumps over the lazy dog", "en"),   // exact dup of 1
    (5L, "der schnelle braune fuchs und die katze", "de")
  ).toDF("doc_id", "text", "lang")

  test("exactDedup groups identical texts and keeps the min id") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 4)   // 1&4 merge
    val merged = out.find(_.getAs[Long]("keep_id") == 1L).get
    assert(merged.getAs[Long]("n_copies") == 2L)
  }

  test("chunkDupStats counts cross-doc duplicated chunks, not within-doc repeats") {
    val d = Seq(
      (1L, "a b c d"),     // chunks: "a b", "c d"
      (2L, "a b x y"),     // "a b" shared with doc 1
      (3L, "z z"),         // unique
      (4L, "a b c"),       // tail chunk "c" stays its short remainder
      (5L, "q r q r")      // same chunk twice WITHIN one doc: not a dup
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDupStats(d, "doc_id", "text", chunkWords = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((2L, 1L, 0.5))) // its "a b" chunk is shared too
    assert(out(5L) == ((2L, 0L, 0.0)),
      "a chunk repeated only within one document is not duplication")
  }

  test("minhashNovelty flags batch docs with base near-dups; novel docs " +
      "pass; best match picks (max jaccard, min base id)") {
    val mk = (id: Long, t: String) => (id, t)
    val common = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val base = Seq(
      mk(2L, common + " base two"),
      mk(4L, common + " base four"),
      mk(6L, "completely different base content about other things entirely " +
        "with many unrelated words in this sentence")
    ).toDF("doc_id", "text")
    val batch = Seq(
      mk(1L, common + " batch one"),   // near-dup of BOTH 2 and 4
      mk(3L, "a wholly novel document about nothing seen before with " +
        "unique vocabulary throughout the entire text")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashNovelty(base, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3)))).toMap
    val (novel1, nDups1, bm1) = out(1L)
    assert(!novel1 && nDups1 == 2L,
      s"doc 1 must match both base twins, got $nDups1")
    // equal jaccard vs 2 and 4 (symmetric edits) → min base id wins
    assert(bm1 == 2L, s"tie must break to the smaller base id, got $bm1")
    assert(out(3L) == ((true, 0L, -1L)), "novel doc reports clean zeros")
  }

  test("dedupLinesProfile drops corpus-frequent lines, keeps order and " +
      "all docs, counts within-doc repeats as ONE corpus occurrence") {
    import graft.operators.Boilerplate
    val d = Seq(
      (1L, "alpha one\nshared footer\nbody text 1"),
      (2L, "alpha two\nshared footer\nbody text 2"),
      (3L, "alpha three\nrepeat me\nrepeat me\nbody text 3"),
      (4L, "shared footer")               // doc that is ALL boilerplate
    ).toDF("doc_id", "text")
    val out = Boilerplate.dedupLinesProfile(d, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "shared footer" is in 3 distinct docs → dropped everywhere;
    // "repeat me" twice in ONE doc is a single distinct-doc count → kept
    assert(out(1L) == (("alpha one\nbody text 1", 3L, 1L)))
    assert(out(2L) == (("alpha two\nbody text 2", 3L, 1L)))
    assert(out(3L) == (("alpha three\nrepeat me\nrepeat me\nbody text 3", 4L, 0L)))
    assert(out(4L) == (("", 1L, 1L)), "all-boilerplate doc → empty clean_text")
    // the base tier keeps its C4 contract: the emptied doc DISAPPEARS
    val base = Boilerplate.dedupLines(d, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!base.contains(4L))
    assert(base(1L) == "alpha one\nbody text 1")
    // trailing empty lines are lines (split limit -1): two docs ending
    // in \n share the trailing "" → both lose it
    val e = Seq((1L, "x\n"), (2L, "y\n")).toDF("doc_id", "text")
    val eo = Boilerplate.dedupLinesProfile(e, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(eo(1L) == (("x", 2L, 1L)) && eo(2L) == (("y", 2L, 1L)))
  }

  test("Bm25.score matches a naive reference; more hits rank higher") {
    val texts = Seq(
      (1L, "spark engine spark cluster spark"),
      (2L, "spark engine once only here now"),
      (3L, "nothing relevant in this document"),
      (4L, "query planner and query optimizer for spark"))
    val d = texts.toDF("doc_id", "text")
    val terms = Seq("spark", "query")
    val k1 = 1.2; val b = 0.75
    // naive driver-side BM25 (same tokenization, Lucene idf variant)
    val toks = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val nDocs = toks.size.toLong
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / nDocs.toDouble
    val dfreq = terms.map(t =>
      t -> toks.count(_._2.contains(t)).toLong).toMap
    val expected = toks.flatMap { case (id, ws) =>
      val matched = terms.map(t => t -> ws.count(_ == t).toLong)
        .filter(_._2 > 0)
      if (matched.isEmpty) None
      else {
        val cores = matched.map { case (t, tf) =>
          val core = (tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * ((1.0 - b) + b * (ws.size.toDouble / avgdl)))
          val idf = math.log(1.0 +
            (nDocs.toDouble - dfreq(t).toDouble + 0.5) / (dfreq(t).toDouble + 0.5))
          (math.floor(core * 1073741824L).toLong, idf * core)
        }
        Some(id -> (matched.size.toLong, cores.map(_._1).sum, cores.map(_._2).sum))
      }
    }.toMap
    val out = graft.operators.Bm25.score(d, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet == expected.keySet) // doc 3 matches nothing
    out.foreach { case (id, (n, q, s)) =>
      assert((n, q) == (expected(id)._1, expected(id)._2), s"doc $id")
      assert(math.abs(s - expected(id)._3) < 1e-12, s"doc $id bm25")
    }
    // three "spark" hits outrank one, which outranks zero
    assert(out(1L)._3 > out(2L)._3)
    assert(!out.contains(3L))
  }

  test("ngramJaccardPairs finds the near-dup and the exact dup only") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 3, 0.5)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("minhashLshPairs agrees with the exact answer on this corpus") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("binarySign matches a driver bit-for-bit reference on 200 random " +
      "vectors (zeros land on the not-> 0 side)") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(50)(
        if (rnd.nextInt(4) == 0) 0.0f else (rnd.nextFloat() - 0.5f)))
    }
    val got = graft.operators.Quantize
      .binarySign(rows.toDF("vec_id", "embedding"), "vec_id", "embedding", 50)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { case (id, v) =>
      var w0 = 0L
      var w1 = 0L
      for (j <- 0 until 32) if (v(j) > 0) w0 |= 1L << j
      for (j <- 32 until 50) if (v(j) > 0) w1 |= 1L << (j - 32)
      assert(got(id) == ((w0, w1)), s"vec $id")
    }
  }

  test("minhashLshPairsAuto finds the same pairs with the S-curve pick attached") {
    val rows = Dedup.minhashLshPairsAuto(docs, "doc_id", "text",
        numPerms = 64, threshold = 0.5)
      .orderBy("ida", "idb").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val expectPick = Similarity.lshPick(spark, 0.5, 64)
    assert(rows.forall(r =>
      (r.getAs[Int]("pick_r"), r.getAs[Int]("pick_b")) == expectPick))
    assert(expectPick._1 * expectPick._2 == 64)
  }

  test("decontaminateSpans removes exactly the eval-overlapping span") {
    val train = Seq(
      (1L, "a b c x y z d e f"), // shares the 3-gram 'x y z' with eval
      (2L, "p q r s t")          // clean
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(train, eval, "doc_id", "text",
        gramWords = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 3L, "a b c d e f")))
    assert(out(2L) == ((0L, 0L, "p q r s t")))
  }

  test("simhashPairs finds exact dup at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 4L)))
  }

  test("simhash banding+verify equals a driver-side EXHAUSTIVE hamming " +
      "reference on random corpora (oracle-independence: the probe's " +
      "DuckDB oracle shares the hash, so only an independent " +
      "formulation can catch a banding bug — VERDICT r15 #7)") {
    // independence target: the banded candidate generation + bucket
    // caps + semi-reduced verify must produce EXACTLY the pairs an
    // all-pairs comparison of the sign vectors yields — computed here
    // driver-side from the collected vectors, no banding involved
    val rnd = new scala.util.Random(9341)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc(n: Int): String =
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (1L to 30L).map(i => (i, doc(30 + rnd.nextInt(60))))
    // planted near-dups: copies with 0-2 word substitutions
    val dups = base.take(8).map { case (i, t) =>
      val ws = t.split(" ")
      (0 until rnd.nextInt(3)).foreach { _ =>
        ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
      }
      (i + 100L, ws.mkString(" "))
    }
    val corpus = (base ++ dups).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val svs = corpus.select(col("doc_id"),
        Dedup.simhashVector(col("text")).as("sv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def hamming(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
    val want = (for {
      a <- svs.keys; b <- svs.keys; if a < b
      if hamming(svs(a), svs(b)) <= 3
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture must plant at least one near-dup")
    assert(got == want,
      s"banding lost ${(want -- got).take(3)} / invented ${(got -- want).take(3)}")
  }

  test("Stats.profile: one-pass per-column min/max/nulls/distinct") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(5L), None),
      (None, Some("a")), (Some(5L), Some("b"))
    ).toDF("n", "s")
    val p = graft.operators.Stats.profile(df, exactDistinct = true)
      .orderBy("column_name").collect()
    assert(p.map(_.getString(0)).toSeq == Seq("n", "s"))
    val n = p(0); val s = p(1)
    assert(n.getString(1) == "1" && n.getString(2) == "5")
    assert(n.getLong(3) == 1L && n.getLong(4) == 2L && n.getLong(5) == 4L)
    assert(s.getString(1) == "a" && s.getString(2) == "b")
    assert(s.getLong(3) == 1L && s.getLong(4) == 2L)
    // approx path (the 100 TB default) agrees on these tiny cardinalities
    val ap = graft.operators.Stats.profile(df)
      .orderBy("column_name").collect()
    assert(ap.map(r => (r.getString(0), r.getLong(4))).toSeq ==
      Seq(("n", 2L), ("s", 2L)))
    // width-split plan: at most one scan per width class (fixed-width /
    // var-width — column-disjoint under parquet pruning), and the
    // var-width branch routes through ObjectHashAggregate (StringMinMax),
    // never an interpreted SortAggregate
    val plan = graft.operators.Stats.profile(df)
      .queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("HammingSigns kernel equals the zip_with HOF form; verify stage has no lambda") {
    import org.apache.spark.sql.graftaccess.Internals
    val sv = Seq(
      (1L, Array(3L, -1L, 0L, 7L)),   // signs: + - - +  (0 is not > 0)
      (2L, Array(-2L, -1L, 5L, 7L)),  // signs: - - + +
      (3L, Array(3L, -1L, 0L, 7L))
    ).toDF("id", "sv")
    val both = sv.alias("a").crossJoin(sv.alias("b"))
      .select(
        Internals.column(graft.functions.HammingSigns(
          Internals.expression(col("a.sv")),
          Internals.expression(col("b.sv")))).as("kernel"),
        size(filter(zip_with(col("a.sv"), col("b.sv"),
          (a, b) => (a > 0) =!= (b > 0)), x => x)).as("hof"))
      .collect()
    assert(both.nonEmpty && both.forall(r => r.getInt(0) == r.getInt(1)))
    // the production verify stage must carry the kernel, not a lambda
    val plan = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hamming_signs"))
    assert(!plan.contains("zip_with"))
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 2L))  // identical first
  }

  test("lshBuckets puts identical vectors in the same bucket") {
    val vecs = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.fill(64)(0.5f)),
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val b = Similarity.lshBuckets(vecs, "vec_id", "embedding", 8, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
  }

  /** Driver-side connected components reference (union-find, root =
    * min id): id -> min id of its component for every id in a pair. */
  private def ccRef[T](pairs: Seq[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra
      else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  test("clusterPairs merges transitive pairs into min-id components") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (3L, 5L))
      .toDF("ida", "idb")
    val clusters = graft.operators.Dedup.clusterPairsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      7L -> 7L, 9L -> 7L))
  }

  test("clusterPairsStar equals a union-find reference on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      val pairs = edges.toDF("ida", "idb")
      val star = Dedup.clusterPairsStar(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = ccRef(edges)
      assert(star == ref, s"trial $trial: star $star vs ref $ref")
    }
  }

  test("clusterPairsStar labels ids whose only pair is a self-pair " +
      "(contract parity with clusterPairs)") {
    val pairs = Seq((4L, 4L), (1L, 2L)).toDF("ida", "idb")
    val star = Dedup.clusterPairsStar(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == Map(1L -> 1L, 2L -> 1L, 4L -> 4L))
    assert(star == ccRef(Seq((4L, 4L), (1L, 2L))))
  }

  test("clusterPairsDelta merges new pairs into an existing assignment " +
      "without re-reading old pairs") {
    // old clusters: {1,2,3} rooted at 1, {7,9} at 7, singleton 5
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L),
      (5L, 5L)).toDF("id", "cluster")
    // a new pair bridges the two components; another adds a new doc
    val newPairs = Seq((3L, 9L), (11L, 12L)).toDF("ida", "idb")
    val out = Dedup.clusterPairsDelta(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 9L -> 1L,
      5L -> 5L, 11L -> 11L, 12L -> 11L))
    // equivalent to full CC over old+new pairs (plus the singleton)
    val full = ccRef(Seq((1L, 2L), (2L, 3L), (7L, 9L), (3L, 9L), (11L, 12L)))
    assert(out - 5L == full)
  }

  test("clusterPairsStar streams a skewed hub (10^6-degree node) " +
      "without buffering the group (VERDICT r18 skew guard)") {
    // one giant star whose hub is the component MAX, so largeStar must
    // traverse the hub's full million-neighbour group and re-point every
    // member; the sorted-group iterators hold O(1) state, so the hot
    // key costs sequential time in one task, never memory
    val n = 1000000L
    val pairs = spark.range(n)
      .select(col("id").as("ida"), lit(n).as("idb"))
    val labels = Dedup.clusterPairsStar(pairs)
    val agg = labels.agg(count(lit(1)).as("n"),
      min(col("cluster")).as("lo"), max(col("cluster")).as("hi"))
      .collect()(0)
    assert(agg.getLong(0) == n + 1)                      // every id labeled
    assert(agg.getLong(1) == 0L && agg.getLong(2) == 0L) // one root: min id
  }

  test("clusterPairsStar on string and decimal ids equals a union-find " +
      "reference") {
    // string order differs from numeric order ("d10" < "d9"), so a
    // dictionary code that does not preserve id order picks wrong mins;
    // the fixed chain d9-d10-d100 must label "d10"
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val edges = (Seq(("d9", "d10"), ("d100", "d9")) ++
        Seq.fill(60)((s"d${rnd.nextInt(30)}", s"d${rnd.nextInt(30)}")))
        .filter(p => p._1 != p._2)
      val star = Dedup.clusterPairsStar(edges.toDF("ida", "idb"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(star == ccRef(edges), s"trial $trial")
      assert(star("d9") <= "d10")
    }
    // DecimalType(10,2), negatives included
    val dec = org.apache.spark.sql.types.DecimalType(10, 2)
    for (trial <- 0 until 3) {
      val edges = Seq.fill(50)((BigDecimal(rnd.nextInt(60) - 30) * 1.25,
        BigDecimal(rnd.nextInt(60) - 30) * 1.25)).filter(p => p._1 != p._2)
      val pairs = edges.toDF("a", "b")
        .select($"a".cast(dec).as("ida"), $"b".cast(dec).as("idb"))
      val star = Dedup.clusterPairsStar(pairs).collect()
        .map(r => BigDecimal(r.getDecimal(0)) -> BigDecimal(r.getDecimal(1)))
        .toMap
      assert(star == ccRef(edges), s"decimal trial $trial")
    }
    // the deep-chain round bound holds on the dictionary-coded path
    val chain = (1 until 64).map(i => (s"c$i", s"c${i + 1}"))
    val (labels, rounds) = Dedup.clusterPairsStarWithRounds(
      chain.toDF("ida", "idb"), "ida", "idb", maxRounds = 100)
    val out = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == (1 to 64).map(i => s"c$i" -> "c1").toMap)
    assert(rounds <= 12, s"expected O(log^2 n) rounds, took $rounds")
  }

  test("clusterPairsStar keeps the input id type for byte, short, int, " +
      "long and string ids") {
    import org.apache.spark.sql.types._
    val pairs = Seq((1, 2), (2, 3), (7, 9)).toDF("a", "b")
    for (t <- Seq(ByteType, ShortType, IntegerType, LongType, StringType)) {
      val out = Dedup.clusterPairsStar(
        pairs.select($"a".cast(t).as("ida"), $"b".cast(t).as("idb")))
      assert(out.schema.map(_.dataType) == Seq(t, t), s"$t: ${out.schema}")
      val got = out.collect().map(r => r.get(0).toString -> r.get(1).toString)
        .toMap
      assert(got == Map("1" -> "1", "2" -> "1", "3" -> "1",
        "7" -> "7", "9" -> "7"), s"$t: $got")
    }
  }

  test("substring dedup (cross-doc AND intra-doc) matches a driver-side " +
      "reference on random small-alphabet corpora") {
    import graft.operators.Dedup
    val L = 12
    val rnd = new scala.util.Random(421)
    // plain-Scala replay of the definition: grams → flags → merged
    // spans (gap <= L on START positions) → coverage rebuild
    def ref(texts: Seq[(Long, String)],
        intra: Boolean): Map[Long, (Long, Long, String)] = {
      val grams = texts.flatMap { case (id, t) =>
        (0 to t.length - L).map(p => (id, p + 1, t.substring(p, p + L)))
      }
      val flagged: Map[Long, Seq[Int]] =
        if (!intra) {
          val dup = grams.groupBy(_._3)
            .filter(_._2.map(_._1).distinct.size >= 2).keySet
          grams.filter(g => dup(g._3)).groupBy(_._1)
            .map { case (id, g) => id -> g.map(_._2).sorted }
        } else grams.groupBy(g => (g._1, g._3)).toSeq
          .flatMap { case ((id, _), g) =>
            g.map(_._2).sorted.tail.map(p => (id, p))
          }.groupBy(_._1).map { case (id, g) => id -> g.map(_._2).sorted }
      texts.map { case (id, t) =>
        val ps = flagged.getOrElse(id, Seq.empty)
        var groups = Vector.empty[Vector[Int]]
        ps.foreach { p =>
          if (groups.nonEmpty && p - groups.last.last <= L)
            groups = groups.init :+ (groups.last :+ p)
          else groups = groups :+ Vector(p)
        }
        val spans = groups.map(g => (g.head, g.last + L - 1))
        val covered = spans.flatMap { case (s, e) => s to e }.toSet
        val clean = t.zipWithIndex
          .collect { case (c, i) if !covered(i + 1) => c }.mkString
        id -> ((spans.size.toLong,
          spans.map { case (s, e) => (e - s + 1).toLong }.sum, clean))
      }.toMap
    }
    (0 until 3).foreach { round =>
      def randText(n: Int): String =
        (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val shared = randText(30)
      val docs = (1L to 12L).map { i =>
        var t = randText(40 + rnd.nextInt(120))
        if (i % 3 == 0) t = t.take(20) + shared + t.drop(20) // cross-doc
        if (i % 4 == 0) t = t + t.take(25) // intra-doc self-repeat
        (i, t)
      }
      val df = docs.toDF("doc_id", "text")
      for (intra <- Seq(false, true)) {
        val got = (if (intra) Dedup.intraDocSubstrDedup(df, "doc_id", "text", L)
          else Dedup.exactSubstrDedup(df, "doc_id", "text", L))
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
        val want = ref(docs, intra)
        assert(got == want,
          s"round=$round intra=$intra diff=${
            (got.toSet -- want.toSet).take(2)} vs ${
            (want.toSet -- got.toSet).take(2)}")
      }
    }
  }

  test("clusterPairsDelta re-applied with the SAME batch is a fixpoint " +
      "(foreachBatch re-delivery is safe by algebra)") {
    import graft.operators.Dedup
    // at-least-once foreachBatch can re-deliver a batch after a crash;
    // the CC-delta ingest is safe without batchId bookkeeping iff
    // merging the same pairs twice changes nothing
    val labels0 = Seq((1L, 1L), (2L, 1L), (7L, 7L), (9L, 7L), (5L, 5L))
      .toDF("id", "cluster")
    val batch = Seq((2L, 9L), (11L, 12L)).toDF("ida", "idb")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val once = Dedup.clusterPairsDelta(labels0, batch)
    val onceM = m(once)
    val twiceM = m(Dedup.clusterPairsDelta(once, batch))
    assert(twiceM == onceM, s"re-delivery changed labels: $twiceM vs $onceM")
    assert(onceM(9L) == 1L && onceM(12L) == 11L && onceM(5L) == 5L)
  }

  test("clusterPairsStar converges in O(log n) rounds on a deep chain") {
    // a 64-node path has diameter 63: min-label propagation needs ~63
    // shuffle rounds; the alternating algorithm must stay logarithmic
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("ida", "idb")
    val (labels, rounds) = Dedup.clusterPairsStarWithRounds(
      pairs, "ida", "idb", maxRounds = 100)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (1L to 64L).map(_ -> 1L).toMap)
    assert(rounds <= 12, s"expected O(log^2 n) rounds, took $rounds")
  }

  test("clusterPairsStar: the driver rounds and the RDD rounds give " +
      "equal labels and equal round counts") {
    val sc = spark.sparkContext
    var calls = 0
    // labels, round count and Spark jobs of one run
    def run(pairs: org.apache.spark.sql.DataFrame,
        onDriver: Boolean): (Map[Any, Any], Int, Int) = {
      calls += 1
      val group = s"cc-rounds-$calls"
      sc.setJobGroup(group, group)
      try {
        val (labels, rounds) = Dedup.clusterPairsStarWithRounds(
          pairs, "ida", "idb", maxRounds = 100, onDriver = onDriver)
        (labels.collect().map(r => r.get(0) -> r.get(1)).toMap, rounds,
          sc.statusTracker.getJobIdsForGroup(group).length)
      } finally sc.clearJobGroup()
    }
    def both(pairs: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val (dl, dr, dj) = run(pairs, onDriver = true)
      val (rl, rr, rj) = run(pairs, onDriver = false)
      assert(dl == rl && dr == rr, s"$what: driver ($dr rounds) $dl vs " +
        s"RDD ($rr rounds) $rl")
      // the RDD rounds run one job per round after the first; the
      // driver rounds run none
      if (rr >= 3) assert(dj < rj, s"$what: driver $dj jobs vs RDD $rj")
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val edges = Seq.fill(30 + trial * 10)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      both(edges.toDF("ida", "idb"), s"random trial $trial")
    }
    both((1L until 64L).map(i => (i, i + 1)).toDF("ida", "idb"), "64-path")
    both((1 until 64).map(i => (s"c$i", s"c${i + 1}")).toDF("ida", "idb"),
      "string 64-path")
    both(Seq((4L, 4L)).toDF("ida", "idb"), "self-pair only")
  }

  test("IVF assignment + probed search recovers brute-force neighbors") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val cents = Similarity.ivfCentroidsFrom(emb, "vec_id", "embedding", 8)
    assert(cents.length == 8 && cents.head.length == 64)
    // every vector lands in exactly one cell, all cells in [0, 8)
    val cells = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    val dist = cells.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dist.keySet.forall(c => c >= 0 && c < 8))
    assert(dist.values.sum == emb.count())
    // with nprobe = all cells, IVF == brute force exactly
    val queries = emb.filter($"vec_id" < 3)
    val ivfAll = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        cents, nprobe = 8, k = 5)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivfAll == bf)
    // with nprobe = 2 the probe touches a fraction of the corpus but still
    // finds most true neighbors (recall sanity, not exactness)
    val ivf2 = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        cents, nprobe = 2, k = 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfPairs = bf.map(t => (t._1, t._2))
    assert(ivf2.intersect(bfPairs).size >= bfPairs.size / 2,
      s"recall too low: ${ivf2.intersect(bfPairs).size}/${bfPairs.size}")
  }

  test("binarySign packs sign bits; binaryAnnTopK == brute force at full cands") {
    // hand-checkable packing: dim 34 spans two 32-bit words
    val v = Seq((1L, Array.tabulate(34)(i =>
      if (i == 0 || i == 33) 1.0f else if (i == 32) 0.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val row = graft.operators.Quantize
      .binarySign(v, "vec_id", "embedding", 34).collect().head
    assert(row.getLong(1) == 1L)      // bit 0 only (0.0 is not > 0)
    assert(row.getLong(2) == 2L)      // word 1: bit 1 (= dim index 33)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val n = emb.count().toInt
    // cands >= corpus: the Hamming cut keeps everything, rerank IS exact
    val full = Similarity.binaryAnnTopK(queries, emb, "vec_id", "embedding",
        dim = 64, k = 5, cands = n)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == bf)
    // the precomputed-codes (stored index) path is the same answer
    val codes = graft.operators.Quantize
      .binarySign(emb, "vec_id", "embedding", 64)
    val indexed = Similarity.binaryAnnTopKIndexed(queries, codes, emb,
        "vec_id", "embedding", dim = 64, k = 5, cands = n)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(indexed == bf)
    // a dim that spans a PARTIAL second word (34 = 32 + 2) searches
    // exactly too — the packing's last-word mask is the risk spot
    val odd = emb.select($"vec_id",
      org.apache.spark.sql.functions.slice($"embedding", 1, 34).as("embedding"))
    val oddFull = Similarity.binaryAnnTopK(odd.filter($"vec_id" < 3), odd,
        "vec_id", "embedding", dim = 34, k = 5, cands = n)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val oddBf = Similarity.bruteForceTopK(odd.filter($"vec_id" < 3), odd,
        "vec_id", "embedding", 5)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(oddFull == oddBf)
    // IVF-binary with all cells probed and all candidates kept IS exact
    val cents = Similarity.ivfCentroidsFrom(emb, "vec_id", "embedding", 8)
    val ivfbin = Similarity.ivfBinaryTopK(queries, emb, "vec_id",
        "embedding", cents, dim = 64, nprobe = 8, k = 5, cands = n)
      .select("qid", "nid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivfbin == bf)
    // a 50-candidate Hamming cut still recovers most true neighbors
    val cut = Similarity.binaryAnnTopK(queries, emb, "vec_id", "embedding",
        dim = 64, k = 5, cands = 50)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfPairs = bf.map(t => (t._1, t._2))
    assert(cut.intersect(bfPairs).size >= bfPairs.size / 2,
      s"recall too low: ${cut.intersect(bfPairs).size}/${bfPairs.size}")
  }

  test("binary rerank above the broadcast ceiling plans shuffle joins " +
      "with identical results (VERDICT r13 stretch)") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    def run(q: org.apache.spark.sql.DataFrame) = Similarity.binaryAnnTopK(
      q, emb, "vec_id", "embedding", dim = 64, k = 5, cands = 50)
    // disable the planner's own size-based auto-broadcast so the plans
    // show the DISPATCH's decision: the broadcast tier places hints
    // (which override the threshold), the fallback places none (at real
    // scale the planner's size estimates decide — and a huge candidate
    // table then plans a shuffle join, as pinned here)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dflt = run(queries)
      assert(!dflt.queryExecution.sparkPlan.toString.contains("SortMergeJoin"),
        "default rerank must stay broadcast at probe scale")
      val before = dflt.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(4))).toSet
      // a join above the queries makes their size unknown
      val forced = run(TestSpark.joinedAbove(queries, "vec_id"))
      assert(forced.queryExecution.sparkPlan.toString
          .contains("SortMergeJoin"),
        "forced-large rerank must plan shuffle joins")
      val after = forced.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getInt(4))).toSet
      assert(after == before, "dispatch must not change results")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("softDedup near-dup tier weights by cluster size, singletons keep 1") {
    import graft.operators.Dedup
    // pairs (1,2),(2,3) form one 3-cluster; (7,9) a 2-cluster; 5 alone
    val clusters = ccRef(Seq((1L, 2L), (2L, 3L), (7L, 9L))).toSeq
      .toDF("id", "cluster")
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val out = Dedup.softDedupWeightsFromClusters(docs, "doc_id", clusters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out == Map(
      1L -> ((3L, 1.0 / 3)), 2L -> ((3L, 1.0 / 3)), 3L -> ((3L, 1.0 / 3)),
      5L -> ((1L, 1.0)), 7L -> ((2L, 0.5)), 9L -> ((2L, 0.5))))
  }

  test("recallAtK counts hits per query and keeps zero-hit queries") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("qid", "nid")
    // q1 fully recovered, q2 half, q3 missed entirely (and the approx
    // set's extra non-truth rows must not count as hits)
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L), (3L, 98L))
      .toDF("qid", "nid")
    val out = Similarity.recallAtK(truth, approx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == Map(1L -> ((2L, 2L, 1.0)), 2L -> ((2L, 1L, 0.5)),
      3L -> ((1L, 0L, 0.0))))
  }

  test("bounded_collect keeps the count and the k smallest ids only") {
    import org.apache.spark.sql.graftaccess.Internals
    val df = spark.range(1, 1001).select(
      ($"id" % 2).as("g"), (lit(1001) - $"id").as("v")) // values 1..1000 reversed
    val bc = Internals.column(graft.functions.BoundedCollect(
      Internals.expression(col("v")), 5).toAggregateExpression())
    val out = df.groupBy("g").agg(bc.as("bc"))
      .select($"g", $"bc.cnt", $"bc.ids").orderBy("g").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 500L) // full count survives the bound
      val ids = r.getSeq[Long](2)
      assert(ids.length == 5 && ids == ids.sorted)
      // g=0 holds even values 2..1000 (v=1001-id for even id), g=1 odd
      val expect = if (r.getLong(0) == 0L) Seq(1L, 3L, 5L, 7L, 9L)
        else Seq(2L, 4L, 6L, 8L, 10L)
      assert(ids == expect, s"g=${r.getLong(0)}: $ids")
    }
  }

  test("WordShingles kernel equals the declarative shingles chain") {
    // the kernel is the minhash/ngram hot path; the declarative chain
    // is what the DuckDB oracles replay — byte-wise agreement required,
    // including the degenerate shapes: no tokens -> [""], fewer than n
    // tokens -> one clipped shingle, repeated shingles -> first-
    // occurrence distinct order, any \s separator, case folding
    val tricky = Seq(
      "", " \t\n ", "one", "one two", "a b c d e",
      "dup dup dup dup dup", "A  B\tC\nD", "x y x y x y x y",
      "Ünïcode wörds ÉÀ ß", "今天 天气 很好 我们 一起")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = tricky.toDF("doc_id", "text")
    import graft.operators.Dedup
    df.select(col("doc_id"),
        Dedup.shingles(col("text"), 3).as("k"),
        Dedup.shinglesRef(col("text"), 3).as("d"))
      .collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"doc ${r.getLong(0)}: kernel ${r.getSeq[String](1)} != " +
            s"declarative ${r.getSeq[String](2)}")
      }
  }

  test("oversized LSH buckets emit a bounded star, not a quadratic blowup") {
    // 300 identical documents: every band bucket holds the whole corpus,
    // so uncapped candidates would be 300*299/2 per band. With the cap,
    // each oversized bucket emits a min-id star -> exactly n-1 pairs.
    val n = 300
    val same = spark.range(1, n + 1)
      .select($"id".as("doc_id"),
        lit("identical text repeated across the whole corpus").as("text"))
    val pairs = Dedup.minhashLshPairs(same, "doc_id", "text",
        threshold = 0.5, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == n - 1, s"expected star of ${n - 1}, got ${pairs.length}")
    assert(pairs.forall(_._1 == 1L), "star must anchor at the bucket min id")
    // connectivity preserved: clustering still yields ONE component
    val clusters = ccRef(pairs.toSeq).values.toSet
    assert(clusters == Set(1L))
  }

  test("bandedCandidates mixes small-bucket pairs and whale stars in one pass " +
      "(r19 join-free enumeration)") {
    // One call, three bucket regimes: a small bucket (all ascending
    // in-bucket pairs), a whale bucket over maxBucket (min-id star,
    // n-1 pairs, never quadratic), and a cross-band duplicate of a
    // small-bucket pair (deduped once). Pins the exact pair-set parity
    // contract of the join-free rewrite.
    val rows =
      Seq((3L, 0, 101L), (1L, 0, 101L), (2L, 0, 101L)) ++     // small: {1,2,3}
      (10L to 15L).map(i => (i, 0, 202L)) ++                   // whale: 6 > cap 4
      Seq((1L, 1, 303L), (2L, 1, 303L))                        // dup pair via band 1
    val banded = rows.toDF("id", "band", "key")
    val got = Dedup.bandedCandidates(banded, maxBucket = 4)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val small = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val star = (11L to 15L).map(i => (10L, i))
    assert(got == (small ++ star).sorted, s"got $got")
    assert(got.forall { case (a, b) => a < b })
  }

  test("banded cosine LSH pairs equal the exact quadratic answer on planted dups") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val dup = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(dup)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairSet(Similarity.cosineNearDupPairsLsh(
      corpus, "vec_id", "embedding", 0.9, bands = 8, planesPerBand = 8, dim = 64))
    val exact = pairSet(Similarity.cosineNearDupPairsExact(
      corpus, "vec_id", "embedding", 0.9))
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
    assert(exact.size == 10)
  }

  test("cross-relation cosine LSH join equals the exact answer on planted dups") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val l = emb.filter($"vec_id" % 2 === 0)
    val r = emb.filter($"vec_id" % 2 === 0 && $"vec_id" < 20)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding")
      .unionByName(emb.filter($"vec_id" % 2 === 1))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_l", "id_r").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
    val lsh = pairSet(Similarity.cosineJoinLsh(
      l, r, "vec_id", "embedding", 0.9, bands = 8, planesPerBand = 8, dim = 64))
    val exact = pairSet(Similarity.cosineJoinExact(l, r, "vec_id", "embedding", 0.9))
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
    assert(exact.size == 10) // the ten planted even-id duplicates
    assert(exact.forall { case (a, b) => b == a + 10000 })
  }

  test("cosineJoin dispatcher: small-right exact path, forced-LSH path, empty-left fallback") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val l = emb.filter($"vec_id" % 2 === 0)
    val r = emb.filter($"vec_id" % 2 === 1)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_l", "id_r").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
    val exact = pairs(Similarity.cosineJoinExact(l, r, "vec_id", "embedding", 0.4))
    assert(exact.nonEmpty)
    // small right → dispatcher takes the exact path
    assert(pairs(Similarity.cosineJoin(l, r, "vec_id", "embedding", 0.4)) == exact)
    // a join above the right side (unknown size) forces the dim probe +
    // LSH tier through the dispatcher; 8x8 banded recall on this corpus
    // at 0.4 is partial, so assert the LSH answer is a SUBSET that
    // includes the planted certainty tier (none here) — i.e. no false
    // positives
    val rLarge = TestSpark.joinedAbove(r, "vec_id")
    val lsh = pairs(Similarity.cosineJoin(l, rLarge, "vec_id", "embedding",
      0.4))
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh -- exact}")
    // empty left with large-judged right must not broadcast the right
    // side — and must return the empty result
    val none = Similarity.cosineJoin(l.filter($"vec_id" < 0), rLarge,
      "vec_id", "embedding", 0.4)
    assert(none.count() == 0)
    // null embeddings are skipped by the dimension probe
    val withNull = l.select($"vec_id",
      when($"vec_id" === 0, lit(null)).otherwise($"embedding").as("embedding"))
    val probed = Similarity.cosineJoin(withNull, rLarge, "vec_id",
      "embedding", 0.4)
    assert(probed.columns.toSeq == Seq("id_l", "id_r", "cos"))
    probed.count() // must not NPE
  }

  test("cosineNearDupPairs on an all-null-embedding input judged large " +
      "returns no rows and broadcasts nothing") {
    // every embedding null, but not a foldable literal: the rows exist
    // and the optimizer cannot prove the pair set empty
    val nulls = spark.range(0, 200).select($"id".as("vec_id"),
      when($"id" < 0, array(lit(1.0f))).as("embedding"))
    val out = Similarity.cosineNearDupPairs(
      TestSpark.joinedAbove(nulls, "vec_id"), "vec_id", "embedding", 0.4)
    assert(out.count() == 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"a large-judged input must not be broadcast:\n$plan")
  }

  test("cosine join whale-bucket cap drops the band but keeps other-band recall") {
    // 300 identical right vectors collide into one whale bucket in EVERY
    // band; with the cap they are all dropped, so the planted true pair
    // (id 1 on both sides, distinct vector) must still arrive through
    // its own (non-whale) buckets.
    val base = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val whaleVec = base.filter($"vec_id" === 0).select($"embedding")
      .collect().head.getSeq[Float](0)
    val whales = spark.range(1000, 1300).select($"id".as("vec_id"),
      typedLit(whaleVec).as("embedding"))
    val l = base.filter($"vec_id" === 1)
    val r = base.filter($"vec_id" === 1).unionByName(whales)
    val out = Similarity.cosineJoinLsh(l, r, "vec_id", "embedding", 0.99,
        bands = 8, planesPerBand = 8, dim = 64, maxBucket = 100)
      .select("id_l", "id_r").collect().map(row => (row.getLong(0), row.getLong(1)))
    assert(out.toSet == Set((1L, 1L)),
      s"expected only the planted self pair, got ${out.toSet}")
  }

  test("text stats formulas") {
    val out = TextAnalysis.stats(docs.filter($"doc_id" === 1), "doc_id", "text")
      .collect().head
    assert(out.getAs[Int]("n_tokens") == 9)
    assert(out.getAs[String]("lang_guess") == "en")
    assert(out.getAs[Double]("distinct_ratio") === 8.0 / 9)
  }

  test("text stats: the kernel runs once per surviving row under a " +
      "quality filter; nulls and values are unchanged") {
    import graft.functions.TextStatsKernel
    val documents = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val kept = TextAnalysis.stats(documents, "doc_id", "text")
      .filter($"quality" >= 0.3).select("doc_id", "n_tokens")
    val plan = kept.queryExecution.optimizedPlan
    val kernels = plan.flatMap(_.expressions)
      .flatMap(_.collect { case k: TextStatsKernel => k })
    assert(kernels.size == 1, s"kernel evaluated ${kernels.size}× in:\n$plan")
    // filtering first keeps exactly the rows and values of the full output
    val all = TextAnalysis.stats(documents, "doc_id", "text").collect()
    assert(kept.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      all.filter(_.getAs[Double]("quality") >= 0.3)
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_tokens")).toMap)
    assert(all.length == documents.count())
    // a null text gives one row of null metrics (least/greatest skip the
    // nulls, so quality reads 0.0 and the language "und")
    val withNull = docs.select("doc_id", "text")
      .unionByName(Seq((9L, null: String)).toDF("doc_id", "text"))
    val out = TextAnalysis.stats(withNull, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 6)
    val nul = out(9L)
    assert(Seq("n_tokens", "avg_word_len", "distinct_ratio", "punct_ratio",
      "stop_ratio", "fp").forall(c => nul.isNullAt(nul.fieldIndex(c))))
    assert(nul.getAs[Double]("quality") == 0.0)
    assert(nul.getAs[String]("lang_guess") == "und")
    assert(out(1L).getAs[Int]("n_tokens") == 9)
  }

  test("salted skew join equals the plain equi-join") {
    import graft.operators.SkewJoin
    val large = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_suppkey", "l_quantity")
    val small = Tables.load(spark, "/root/testdata/sf0.001", "supplier")
      .select($"s_suppkey".as("l_suppkey"), $"s_name")
    val plain = large.join(small, "l_suppkey")
      .agg(count(lit(1)), sum($"l_quantity")).collect().head
    val salted = SkewJoin.saltedJoin(large, small,
      Seq("l_suppkey" -> "l_suppkey"), 8)
      .agg(count(lit(1)), sum($"l_quantity")).collect().head
    assert(plain.getLong(0) == salted.getLong(0))
    assert(math.abs(plain.getDouble(1) - salted.getDouble(1)) < 1e-6)
  }

  test("exact weighted percentile picks the cumulative-weight boundary") {
    import graft.operators.Stats
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 8.0))
      .toDF("grp", "v", "w")
    val out = Stats.exactWeightedPercentile(df, "grp", "v", "w", 0.5,
      tieBreak = Nil).collect().head
    assert(out.getDouble(1) == 3.0)   // 50% of weight 10 lands in v=3
  }

  test("hash split is deterministic and fraction-faithful") {
    import graft.operators.Sampling
    val ids = spark.range(20000).select($"id".as("doc_id"))
    val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val counts = Sampling.hashSplit(ids, "doc_id", fr)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") / 20000.0 - 0.8) < 0.02, counts.toString)
    assert(math.abs(counts("val") / 20000.0 - 0.1) < 0.02, counts.toString)
    // partitioning-invariant: same assignment regardless of layout
    val a = Sampling.hashSplit(ids.repartition(17), "doc_id", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.hashSplit(ids.coalesce(1), "doc_id", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("stratified sample takes exactly n per stratum, hash-deterministic") {
    import graft.operators.Sampling
    val out = Sampling.stratifiedSampleN(docs, "lang", "doc_id", 2)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    assert(out.count(_._1 == "en") == 2)   // 4 en docs -> capped at 2
    assert(out.count(_._1 == "de") == 1)   // 1 de doc -> all of it
    val again = Sampling.stratifiedSampleN(docs.repartition(7), "lang",
      "doc_id", 2).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    assert(out.toSet == again.toSet)
  }

  test("distributed cumsum equals the global window; no single-task window") {
    import graft.operators.Packing
    val docs = spark.range(1, 1001).select($"id".as("doc_id"),
      (($"id" * 31) % 97 + 3).as("tokens"))
    val dist = Packing.cumsumDistributed(docs, "doc_id", "tokens",
        numPartitions = 8)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val global = Packing.packByCumsum(docs, "doc_id", "tokens", budget = 512)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == global,
      "two-pass prefix sum must equal the single-window cumsum")
    // packByCumsum's size dispatch: forcing the distributed tier (a
    // window-tier limit below every size) yields bit-identical
    // (cum_tokens, bin) rows
    val forced = Packing.packByCumsum(docs, "doc_id", "tokens",
        budget = 512, smallBytes = -1L)
      .select("doc_id", "cum_tokens", "bin").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaWindow = Packing.packByCumsum(docs, "doc_id", "tokens", 512)
      .select("doc_id", "cum_tokens", "bin").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(forced == viaWindow,
      "packByCumsum tiers must agree on cum_tokens AND bin")
    // the scale property: every Window in the plan is partitioned (the
    // single-task partition-less window is exactly what this avoids)
    val plan = Packing.cumsumDistributed(docs, "doc_id", "tokens", 8)
      .queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.trim.startsWith("Window")).foreach { l =>
      assert(l.contains("__pid"), s"unpartitioned window in plan: $l")
    }
    // budgetSelect keeps exactly the prefix within budget (inclusive)
    val sel = Packing.budgetSelect(docs, "doc_id", "tokens", budget = 500L)
      .select("doc_id", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(sel.nonEmpty && sel.forall(_._2 <= 500L))
    val boundary = global.toSeq.sortBy(_._1)
      .takeWhile(_._2 <= 500L).map(_._1)
    assert(sel.map(_._1).toSeq == boundary)
  }

  test("OpConf.sizeBytes: a join above makes the size unknown; scans and " +
      "projections keep their estimate") {
    import graft.operators.{OpConf, Packing}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.window.WindowExec
    val sc = spark.sparkContext
    // every sizeBytes call runs in this job group, which must stay
    // empty: the signal is metadata-only
    def sized(df: DataFrame): Option[BigInt] = {
      sc.setJobGroup("opconf-sizebytes", "sizeBytes")
      try OpConf.sizeBytes(df) finally sc.clearJobGroup()
    }
    def partitionLessWindows(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size
    // a tiny table self-joined: unknown; packByCumsum forced past the
    // window tier takes the distributed tier
    val tiny = Seq((1L, 3L), (2L, 5L), (3L, 7L)).toDF("doc_id", "tokens")
    val joined = TestSpark.joinedAbove(tiny, "doc_id")
    assert(sized(joined).isEmpty)
    assert(partitionLessWindows(Packing.packByCumsum(joined, "doc_id",
      "tokens", budget = 4, smallBytes = -1L)) == 0)
    // a 2^32-row range projection: known and far above every limit
    val huge = spark.range(1L << 32)
      .select($"id".as("doc_id"), ($"id" % 7).as("tokens"))
    assert(sized(huge).exists(_ > (1L << 30)))
    // the sf0.001 documents scan: known small, takes the window tier
    val documents = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    assert(sized(documents).exists(_ <= (64L << 20)))
    assert(partitionLessWindows(
      Packing.packByCumsum(documents, "doc_id", "n_chars", budget = 4096)) == 1)
    assert(sc.statusTracker.getJobIdsForGroup("opconf-sizebytes").isEmpty)
  }

  test("OpConf.sizeBytes: a persisted but unloaded cached leaf is " +
      "unknown; once loaded, a fresh Dataset reads its exact size") {
    import graft.operators.OpConf
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val sc = spark.sparkContext
    def sized(df: DataFrame): Option[BigInt] = {
      sc.setJobGroup("opconf-cached-leaf", "sizeBytes")
      try OpConf.sizeBytes(df) finally sc.clearJobGroup()
    }
    val tiny = Seq((1L, 3L), (2L, 5L), (3L, 7L)).toDF("doc_id", "tokens")
    val joined = TestSpark.joinedAbove(tiny, "doc_id").persist()
    try {
      // the unloaded InMemoryRelation would report the join's estimate
      assert(sized(joined.select("*")).isEmpty)
      assert(joined.count() == 3L)
      val fresh = joined.select("*")
      val loaded = fresh.queryExecution.optimizedPlan.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.sizeInBytesStats.value
      }
      assert(loaded.exists(_ > 0L))
      assert(sized(fresh) == loaded.map(BigInt(_)))
      assert(sc.statusTracker.getJobIdsForGroup("opconf-cached-leaf").isEmpty)
    } finally joined.unpersist(blocking = true)
  }

  test("packByCumsum measures an unknown-size input: a tiny join result " +
      "takes the window tier, and the forced distributed tier agrees") {
    import graft.operators.Packing
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.window.WindowExec
    def partitionLessWindows(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.size
    def rows(df: DataFrame): Map[Long, (Long, Long)] =
      df.select("doc_id", "cum_tokens", "bin").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tiny = spark.range(1, 201).select($"id".as("doc_id"),
      (($"id" * 31) % 97 + 3).as("tokens"))
    val windowed = Packing.packByCumsum(
      TestSpark.joinedAbove(tiny, "doc_id"), "doc_id", "tokens", budget = 64)
    assert(partitionLessWindows(windowed) == 1)
    val forced = Packing.packByCumsum(TestSpark.joinedAbove(tiny, "doc_id"),
      "doc_id", "tokens", budget = 64, smallBytes = -1L)
    assert(partitionLessWindows(forced) == 0)
    assert(rows(forced) == rows(windowed))
    assert(rows(windowed).size == 200)
    // an input its caller persisted stays cached: the distributed tier
    // releases only a cache it made itself
    val callers = TestSpark.joinedAbove(tiny.where($"doc_id" > 0), "doc_id")
      .persist()
    try {
      assert(rows(Packing.packByCumsum(callers, "doc_id", "tokens",
        budget = 64, smallBytes = -1L)) == rows(windowed))
      assert(callers.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally callers.unpersist(blocking = true)
  }

  test("greedy packing: every doc once, no bin overflows, order respected") {
    import graft.operators.Packing
    val docs = spark.range(1, 501).select($"id".as("doc_id"),
      (($"id" * 37) % 190 + 10).as("tokens")) // 10..199 tokens each
    val out = Packing.packGreedyPerPartition(docs, "doc_id", "tokens",
      budget = 512, numPartitions = 4).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == (1L to 500L),
      "every doc packed exactly once")
    // no (part, bin) exceeds the budget (no doc here exceeds it alone)
    val binTotals = out.groupBy(r => (r.getInt(2), r.getLong(3)))
      .view.mapValues(_.map(_.getLong(1)).sum)
    assert(binTotals.values.forall(_ <= 512), binTotals.filter(_._2 > 512).toMap.toString)
    // bins are reasonably full (greedy first-fit wastes < 40% on average)
    val fills = binTotals.values.toSeq
    assert(fills.sum.toDouble / (fills.size * 512) > 0.6,
      s"avg fill too low: ${fills.sum.toDouble / (fills.size * 512)}")
    // an oversized doc gets a bin of its own instead of being dropped
    val big = spark.range(1, 4).select($"id".as("doc_id"),
      (when($"id" === 2, 9999L).otherwise(100L)).as("tokens"))
    val packedBig = Packing.packGreedyPerPartition(big, "doc_id", "tokens",
      budget = 512, numPartitions = 1).collect()
    assert(packedBig.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("best-fit-decreasing packs tighter than first-fit, same invariants") {
    import graft.operators.Packing
    val docs = spark.range(1, 501).select($"id".as("doc_id"),
      (($"id" * 37) % 190 + 10).as("tokens"))
    val out = Packing.packBestFitDecreasing(docs, "doc_id", "tokens",
      budget = 512, parts = 4).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == (1L to 500L),
      "every doc packed exactly once")
    val binTotals = out.groupBy(r => (r.getInt(2), r.getLong(3)))
      .view.mapValues(_.map(_.getLong(1)).sum)
    assert(binTotals.values.forall(_ <= 512))
    // BFD's whole point: it needs no more bins than first-fit-by-id here
    val ff = Packing.packGreedyPerPartition(docs, "doc_id", "tokens",
        budget = 512, numPartitions = 4).collect()
      .groupBy(r => (r.getInt(2), r.getLong(3))).size
    assert(binTotals.size <= ff, s"BFD used ${binTotals.size} bins vs first-fit's $ff")
    // an oversized doc opens its own overflowing bin, nothing joins it
    val big = spark.range(1, 4).select($"id".as("doc_id"),
      (when($"id" === 2, 9999L).otherwise(100L)).as("tokens"))
    val packedBig = Packing.packBestFitDecreasing(big, "doc_id", "tokens",
      budget = 512, parts = 1).collect()
    assert(packedBig.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    val bigBin = packedBig.find(_.getLong(0) == 2L).get.getLong(3)
    assert(packedBig.filter(_.getLong(3) == bigBin).map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("fingerprint is order- and duplication-insensitive") {
    val fps = Seq((1L, "b a c"), (2L, "c b a a"), (3L, "a b d"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("minhash semi-reduced verify path returns the same pairs") {
    // a join above the corpus (unknown size) forces the large-corpus
    // shape (candidate-id semi reduction before the verify joins);
    // results must be identical to the direct-join small path.
    val direct = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    val reduced = Dedup.minhashLshPairs(TestSpark.joinedAbove(docs, "doc_id"),
        "doc_id", "text", threshold = 0.5)
      .orderBy("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(direct.toSeq == reduced.toSeq && direct.nonEmpty)
  }

  test("trained PQ-ADC search stays within the query's cluster") {
    // 4 well-separated clusters in 16 dims; after training codebooks on
    // the corpus, every ADC top-3 neighbor of a query must come from the
    // query's own cluster — codes preserve coarse geometry.
    val rnd = new scala.util.Random(5)
    val centers = Seq.tabulate(4)(c =>
      Array.tabulate(16)(j => if (j % 4 == c) 10.0f else 0.0f))
    val pts = (0L until 80L).map { i =>
      val c = (i % 4).toInt
      (i, centers(c).map(x => x + rnd.nextGaussian().toFloat * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
    val cbs = graft.operators.Pq.pqTrain(pts, "vec_id", "embedding", 16, 4, 8, 2)
    val enc = graft.operators.Pq.pqEncode(pts, "vec_id", "embedding", cbs)
    val hits = graft.operators.Pq.pqAdcTopK(
        pts.filter($"vec_id" < 4), enc, "vec_id", "embedding", cbs, 3)
      .collect()
    assert(hits.length == 12)
    assert(hits.forall(r => r.getLong(1) % 4 == r.getLong(0) % 4),
      s"ADC neighbor outside the query cluster: ${hits.mkString(", ")}")
  }

  test("hardNegatives returns only cross-label neighbors, best first") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(6)(rnd.nextGaussian().toFloat).toSeq, (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
      vecs.filter(col("vec_id") < 3), vecs, "vec_id", "embedding", "label", 4)
    val rows = out.collect()
    assert(rows.length == 12) // 3 queries x 4 negatives
    val labels = vecs.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    assert(rows.forall(r => labels(r.getAs[Long]("qid")) !=
      labels(r.getAs[Long]("nid"))), "a negative shares the query's label")
    // ranks are 1..4 descending in cosine per query
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4))
      assert(sorted.map(_.getAs[Double]("cos")).toSeq.reverse.sorted.reverse ==
        sorted.map(_.getAs[Double]("cos")).toSeq)
    }
  }

  test("semDedup drops within-cluster near-duplicates, keeps the min id") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(5)
    val base = (0L until 60L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq))
    // plant an exact duplicate of vector 3 with a HIGHER id
    val vecs = (base :+ ((99L, base(3)._2))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 4, iters = 2, threshold = 0.999)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep"))
      .toMap
    assert(out(3L) && !out(99L), "duplicate must drop, original must stay")
    assert(out.size == 61 && out.count(!_._2) == 1)
  }

  test("kmeansFit centroids are bit-identical under any partitioning") {
    // quantized int64 accumulation makes the float-mean reduction
    // associative — the whole point of the design; verify the claim by
    // training the same corpus as 1 partition and as 13.
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 120L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat).toSeq)).toDF("vec_id", "embedding")
    val c1 = Similarity.kmeansFit(vecs.repartition(1), "vec_id", "embedding", 4, 3)
    val c13 = Similarity.kmeansFit(vecs.repartition(13), "vec_id", "embedding", 4, 3)
    assert(c1 == c13) // exact Double equality, not approx
    // and training moved the centroids off their first-k init
    val init = Similarity.ivfCentroidsFrom(vecs, "vec_id", "embedding", 4)
    assert(c1 != init)
  }

  test("uniformSample is partition-invariant and plans a bounded top-k") {
    import graft.operators.Sampling
    val rows = (1L to 300L).map(i => (i, s"v$i")).toDF("id", "v")
    val a = Sampling.uniformSample(rows, "id", 25)
    val b = Sampling.uniformSample(rows.repartition(11), "id", 25)
    assert(a.select("id").as[Long].collect().toSeq ==
      b.select("id").as[Long].collect().toSeq)
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("prioritySample is weight-proportional and plans a bounded top-k") {
    import graft.operators.Sampling
    // one whale (weight 10^6) among 200 unit-weight rows: the whale's
    // priority w/u >= 10^6 beats any unit row's 1/u except u < 1e-6 —
    // it must be selected; and the plan must be TakeOrderedAndProject
    // (O(k) heaps), never a global Sort.
    val rows = (1L to 200L).map(i => (i, if (i == 77L) 1000000L else 1L))
      .toDF("id", "w")
    val picked = Sampling.prioritySample(rows, "id", "w", 10)
    assert(picked.select("id").as[Long].collect().contains(77L))
    val plan = picked.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "))
    // determinism: same selection under different partitioning
    val again = Sampling.prioritySample(rows.repartition(7), "id", "w", 10)
    assert(picked.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
  }

  test("tfidfTopTerms ranks by integer-exact (tf, doc_freq, term) order") {
    val corpus = Seq(
      (1L, "alpha alpha beta"),
      (2L, "beta gamma gamma"),
      (3L, "alpha gamma")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", 2)
      .orderBy("doc_id", "rn").collect()
    // doc 1: alpha tf=2 beats beta tf=1; doc 2: gamma tf=2 beats beta;
    // doc 3: tf tie (1,1) broken by doc_freq=2 for both alpha/gamma,
    // then term order → alpha first
    val picked = out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rn"),
      r.getAs[String]("term")))
    assert(picked.toSeq == Seq((1L, 1, "alpha"), (1L, 2, "beta"),
      (2L, 1, "gamma"), (2L, 2, "beta"), (3L, 1, "alpha"), (3L, 2, "gamma")))
    val a1 = out.find(r => r.getAs[Long]("doc_id") == 1L &&
      r.getAs[String]("term") == "alpha").get
    assert(math.abs(a1.getAs[Double]("tfidf") - 2.0 * math.log(3.0 / 2.0)) < 1e-12)
  }

  test("bpeTrain learns the classic merges on a hand-checkable corpus") {
    import graft.operators.BpeTrain
    // "low low low lower lowest": pair counts round 1 —
    // (l,o)=5, (o,w)=5, (w,e)=2, ... → tie (l o)/(o w) broken by pair
    // string: 'l o' < 'o w' → merge 1 = (l,o); round 2: (lo,w)=5 wins.
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    val m = BpeTrain.train(docs, "text", 3).orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("n")))
    assert(m(0) == ((1, "l o", "lo", 5L)))
    assert(m(1) == ((2, "lo w", "low", 5L)))
    // round 3: from {low, low+er, low+est}: (e,r)=1,(e,s)=1,(s,t)=1,
    // (low,e)=2 → 'low e' wins with n=2
    assert(m(2) == ((3, "low e", "lowe", 2L)))
  }

  test("trainWordPiece prefers the always-together pair BPE would skip") {
    import graft.operators.BpeTrain
    // u('a')=u('b')=60 (10 via 'ab' + 50 standalone), pair (a,b) n=10 →
    // score 10/3600; u('q')=u('u')=3, pair (q,u) n=3 → score 3/9. BPE's
    // raw count picks 'a b'; the likelihood score picks 'q u'.
    val text = (Seq.fill(10)("ab") ++ Seq.fill(50)("a") ++
      Seq.fill(50)("b") ++ Seq.fill(3)("qu")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val bpe = BpeTrain.train(docs, "text", 1).collect()(0)
    assert(bpe.getAs[String]("pair") == "a b")
    val wp = BpeTrain.trainWordPiece(docs, "text", 1).collect()(0)
    assert(wp.getAs[String]("pair") == "q u")
    assert(wp.getAs[Long]("n") == 3L)
    assert(wp.getAs[Double]("score") == 3.0d / 3.0d / 3.0d)
  }

  test("bpeTrain merge rewrite handles shared-delimiter runs exactly") {
    import graft.operators.BpeTrain
    // 'aaaa' word: (a,a) counted 3 (overlapping adjacencies); merging
    // must produce aa|aa (leftmost non-overlap), making round 2's top
    // pair (aa,aa) with count 1
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m = BpeTrain.train(docs, "text", 2).orderBy("rank").collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n")))
    assert(m(0) == (("a a", 3L)))
    assert(m(1) == (("aa aa", 1L)))
  }

  test("bpe encode applies learned merges per word, flattened in order") {
    import graft.operators.BpeTrain
    val docs = Seq((1L, "low low low lower lowest")).toDF("doc_id", "text")
    // merges: (l,o)→lo then (lo,w)→low
    val syms = BpeTrain.encode(docs, "doc_id", "text", 2)
      .collect()(0).getSeq[String](1)
    assert(syms == Seq("low", "low", "low",
      "low", "e", "r", "low", "e", "s", "t"))
  }

  test("cdc chunking is shift-robust where fixed windows are not") {
    // 80 deterministic pseudo-words; the near-copy prepends ONE word
    val baseWords = (1 to 80).map(i => s"tok${i * 7 % 97}")
    val d = Seq(
      (1L, baseWords.mkString(" ")),
      (2L, ("intro" +: baseWords).mkString(" "))).toDF("doc_id", "text")
    val fps = Dedup.cdcChunks(d, "doc_id", "text", 4, 8)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert(f1.size >= 4, s"fixture too short: ${f1.size} chunks")
    // content-defined boundaries realign after the edit: every chunk of
    // doc 1 except (at most) the head region survives in doc 2
    assert((f1 -- f2).size <= 2,
      s"CDC lost ${(f1 -- f2).size} of ${f1.size} chunks to a 1-word shift")
    // contrast: 20-word FIXED windows all shift -> zero duplication
    val fixed = Dedup.chunkDupStats(d, "doc_id", "text", chunkWords = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixed(1L) == 0L && fixed(2L) == 0L)
    // and the CDC dup stats see the shared chunks
    val cdc = Dedup.cdcChunkDedup(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cdc(1L)._2 >= cdc(1L)._1 - 2,
      s"expected most of doc 1's ${cdc(1L)._1} chunks duplicated, " +
        s"got ${cdc(1L)._2}")
  }

  test("cdcChunkDedup matches a driver-side reference on random corpora") {
    import java.nio.charset.StandardCharsets.UTF_8
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString
    def h60(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val w = 4; val m = 8
    def reference(corpus: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
      val chunks = corpus.flatMap { case (id, text) =>
        val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        if (ws.isEmpty) Seq.empty
        else {
          val bnd = ws.indices.map { i0 =>
            val pos = i0 + 1
            pos >= w && h60(ws.slice(pos - w, pos).mkString(" ")) % m == 0
          }
          // chunk of word i = boundaries strictly before i
          val chunkIdx = bnd.scanLeft(0)((acc, b) => acc + (if (b) 1 else 0))
          ws.indices.groupBy(i0 => chunkIdx(i0)).toSeq.map { case (_, is) =>
            id -> md5hex(is.sorted.map(i0 => h60(ws(i0)).toString)
              .mkString(" "))
          }
        }
      }
      val dupFps = chunks.distinct.groupBy(_._2)
        .filter(_._2.map(_._1).distinct.size >= 2).keySet
      chunks.groupBy(_._1).map { case (id, cs) =>
        id -> ((cs.size.toLong, cs.count(c => dupFps(c._2)).toLong))
      }
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val vocab = (0 until 12).map(v => s"w$v")
      val corpus = (1L to 8L).map { id =>
        id -> Seq.fill(10 + rnd.nextInt(30))(
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val got = Dedup.cdcChunkDedup(corpus.toDF("doc_id", "text"),
          "doc_id", "text", w, m)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got == reference(corpus), s"trial $trial")
    }
  }

  test("ByteUnicode is a 256-way bijection of printable single codepoints") {
    import graft.operators.BpeTrain
    val m = BpeTrain.ByteUnicode
    assert(m.length == 256 && m.distinct.length == 256)
    assert(m.forall(s => s.codePointCount(0, s.length) == 1))
    // printable latin-1 bytes map to themselves; space does not
    assert(m(97) == "a" && m(33) == "!" && m(255) == "\u00ff")
    assert(m(32) == "\u0120") // GPT-2's 'Ġ'
  }

  test("byte-level bpe splits multi-byte chars and earns their merge") {
    import graft.operators.BpeTrain
    // U+00E4 is 0xC3 0xA4 -> seed symbols are bytes 195 and 164; the
    // dominant pair is that UTF-8 split pair, so merge 1 restores it
    val docs = Seq((1L, "b\u00e4 b\u00e4 b\u00e4 c\u00e4"))
      .toDF("doc_id", "text")
    val m = BpeTrain.trainBytes(docs, "text", 2).orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("n")))
    assert(m(0) == ((1, "\u00c3 \u00a4", "\u00c3\u00a4", 4L)))
    // round 2: 'b <0xC3><0xA4>' (3) beats 'c <0xC3><0xA4>' (1)
    assert(m(1) == ((2, "b \u00c3\u00a4", "b\u00c3\u00a4", 3L)))
    // encodeBytes under the same vocab roundtrips through the inverse map
    val syms = BpeTrain.encodeBytes(docs, "doc_id", "text", 2)
      .collect()(0).getSeq[String](1)
    assert(syms == Seq("b\u00c3\u00a4", "b\u00c3\u00a4", "b\u00c3\u00a4",
      "c", "\u00c3\u00a4"))
    val inverse = BpeTrain.ByteUnicode.zipWithIndex
      .map { case (s, b) => s.codePointAt(0) -> b.toByte }.toMap
    val decoded = new String(
      syms.flatMap(t => t.codePoints().toArray.map(inverse)).toArray,
      java.nio.charset.StandardCharsets.UTF_8)
    assert(decoded == "b\u00e4b\u00e4b\u00e4c\u00e4")
  }

  test("dictEncode ranks ids by (freq desc, token) and keeps token order") {
    import graft.operators.DictEncode
    val docs = Seq((1L, "b b a"), (2L, "a c b")).toDF("doc_id", "text")
    // counts: b=3, a=2, c=1 → ids b=1, a=2, c=3
    val dict = DictEncode.dictionary(docs, "text").orderBy("id").collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Int]("id"))).toSeq
    assert(dict == Seq(("b", 1), ("a", 2), ("c", 3)))
    val enc = DictEncode.encode(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(_.getSeq[Int](1)).toSeq
    assert(enc == Seq(Seq(1, 1, 2), Seq(2, 3, 1)))
  }

  test("bpeTokens applies the GPT-2-style pre-tokenizer splits") {
    val toks = Seq(("it's 2026, graft-time!"))
      .toDF("text").select(TextAnalysis.bpeTokens(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(toks == Seq("it", "'s", " 2026", ",", " graft", "-", "time", "!"))
    // reassembling the tokens reproduces the input exactly (the regex
    // partitions the string — nothing dropped, nothing duplicated)
    assert(toks.mkString == "it's 2026, graft-time!")
  }

  test("jaccardJoin equals the naive all-pairs answer at several " +
      "thresholds (stopword-heavy corpus, empties excluded)") {
    import spark.implicits._
    // deterministic corpus where every row shares the stopwords "the a"
    // — the prefix filter must survive ubiquitous tokens — plus planted
    // near-dups and an empty-token row that must match nothing
    val rows = Seq(
      (1L, Seq("the", "a", "quick", "brown", "fox")),
      (2L, Seq("the", "a", "quick", "brown", "wolf")),
      (3L, Seq("the", "a", "slow", "green", "turtle")),
      (4L, Seq("the", "a", "quick", "brown", "fox")), // exact dup of 1
      (5L, Seq[String]()),                            // empty: no matches
      (6L, Seq("the", "a")),
      (7L, Seq("unrelated", "words", "entirely", "different", "here")),
      // null ELEMENTS are stripped by contract (an equi-join can never
      // block them) — 8 must still match 1/4 on its non-null tokens
      (8L, Seq(null, "the", "a", "quick", "brown", "fox")))
    val df = rows.toDF("id", "toks")
    def naive(tau: Double) = (for {
      (il, tl) <- rows; (ir, tr) <- rows
      sl = tl.filter(_ != null).distinct.toSet
      sr = tr.filter(_ != null).distinct.toSet
      if sl.nonEmpty && sr.nonEmpty
      inter = (sl & sr).size
      jac = inter.toDouble / (sl.size + sr.size - inter)
      if jac >= tau
    } yield (il, ir, inter.toLong, jac)).toSet
    for (tau <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val got = graft.operators.SetJoin
        .jaccardJoin(df, df, "id", "toks", "id", "toks", tau)
        .collect()
        .map(r => (r.getAs[Long]("id_l"), r.getAs[Long]("id_r"),
          r.getAs[Long]("inter"), r.getAs[Double]("jaccard")))
        .toSet
      assert(got == naive(tau), s"mismatch at tau=$tau: " +
        s"missing=${naive(tau) -- got} extra=${got -- naive(tau)}")
    }
  }

  test("jaccardJoin randomized adversarial corpus: tiny vocabulary, " +
      "equality with the naive join at several thresholds") {
    import spark.implicits._
    // seeded, deterministic; 6-word vocabulary maximizes set overlap —
    // the hardest recall regime for the prefix filter
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def randSet() =
      (0 until rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(6)))
    val ls = (1L to 20L).map(i => (i, randSet()))
    val rs = (101L to 125L).map(i => (i, randSet()))
    val l = ls.toDF("id", "toks")
    val r = rs.toDF("id", "toks")
    for (tau <- Seq(0.34, 0.5, 0.75)) {
      val expected = (for {
        (il, tl) <- ls; (ir, tr) <- rs
        sl = tl.distinct.toSet; sr = tr.distinct.toSet
        if sl.nonEmpty && sr.nonEmpty
        inter = (sl & sr).size
        jac = inter.toDouble / (sl.size + sr.size - inter)
        if jac >= tau
      } yield (il, ir)).toSet
      val got = graft.operators.SetJoin
        .jaccardJoin(l, r, "id", "toks", "id", "toks", tau)
        .collect().map(x => (x.getAs[Long]("id_l"), x.getAs[Long]("id_r")))
        .toSet
      assert(got == expected, s"mismatch at tau=$tau: " +
        s"missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("containmentJoin equals the naive all-pairs answer at several " +
      "thresholds (asymmetric: small-in-big, stopwords, boundary pairs)") {
    import spark.implicits._
    val ls = Seq(
      (1L, Seq("the", "quick", "fox")),            // 3 tokens
      (2L, Seq("quick", "fox")),                   // fully inside 11
      (3L, Seq("unrelated", "tokens", "here")),
      (4L, Seq("the")),                            // 1 ubiquitous token
      (5L, Seq[String]()))                         // empty: no matches
    val rs = Seq(
      (11L, Seq("the", "quick", "brown", "fox", "jumps")),
      (12L, Seq("the", "slow", "green", "turtle")),
      (13L, Seq("quick", "fox")),
      (14L, Seq(null, "the", "quick", "fox")))     // null stripped
    val l = ls.toDF("id", "toks")
    val r = rs.toDF("id", "toks")
    def naive(tau: Double) = (for {
      (il, tl) <- ls; (ir, tr) <- rs
      sl = tl.filter(_ != null).distinct.toSet
      sr = tr.filter(_ != null).distinct.toSet
      if sl.nonEmpty && sr.nonEmpty
      inter = (sl & sr).size
      c = inter.toDouble / sl.size
      if c >= tau
    } yield (il, ir, inter.toLong, c)).toSet
    for (tau <- Seq(0.5, 0.67, 0.75, 1.0)) {
      val got = graft.operators.SetJoin
        .containmentJoin(l, r, "id", "toks", "id", "toks", tau)
        .collect()
        .map(x => (x.getAs[Long]("id_l"), x.getAs[Long]("id_r"),
          x.getAs[Long]("inter"), x.getAs[Double]("containment")))
        .toSet
      assert(got == naive(tau), s"mismatch at tau=$tau: " +
        s"missing=${naive(tau) -- got} extra=${got -- naive(tau)}")
    }
  }

  test("containmentJoin randomized adversarial corpus: tiny vocabulary, " +
      "equality with the naive join at several thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def randSet() =
      (0 until rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(6)))
    val ls = (1L to 20L).map(i => (i, randSet()))
    val rs = (101L to 125L).map(i => (i, randSet()))
    val l = ls.toDF("id", "toks")
    val r = rs.toDF("id", "toks")
    for (tau <- Seq(0.34, 0.5, 0.75, 1.0)) {
      val expected = (for {
        (il, tl) <- ls; (ir, tr) <- rs
        sl = tl.distinct.toSet; sr = tr.distinct.toSet
        if sl.nonEmpty && sr.nonEmpty
        inter = (sl & sr).size
        if inter.toDouble / sl.size >= tau
      } yield (il, ir)).toSet
      val got = graft.operators.SetJoin
        .containmentJoin(l, r, "id", "toks", "id", "toks", tau)
        .collect().map(x => (x.getAs[Long]("id_l"), x.getAs[Long]("id_r")))
        .toSet
      assert(got == expected, s"mismatch at tau=$tau: " +
        s"missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("weightedJaccardJoin equals the naive weighted answer at several " +
      "thresholds (stopword-heavy corpus: rare tokens dominate)") {
    import spark.implicits._
    val ls = Seq(
      (1L, Seq("the", "a", "of", "is", "rare1")),
      (2L, Seq("the", "a", "of", "is", "rare2")),
      (3L, Seq("the", "a", "of", "is", "rare1")), // shares rare1 with 1
      (4L, Seq("rare3", "rare4")),
      (5L, Seq[String]()),
      (6L, Seq(null, "the", "rare3")))
    val rs = Seq(
      (11L, Seq("the", "a", "of", "is", "rare1")),
      (12L, Seq("the", "a", "of", "is")),
      (13L, Seq("rare3", "rare4", "extra")),
      (14L, Seq("unrelated", "words")))
    def naive(tau: Double) = {
      val sl = ls.map { case (i, t) =>
        i -> t.filter(_ != null).distinct.toSet }.filter(_._2.nonEmpty)
      val sr = rs.map { case (i, t) =>
        i -> t.filter(_ != null).distinct.toSet }.filter(_._2.nonEmpty)
      val n = (sl.size + sr.size).toLong
      val f = (sl.flatMap(_._2) ++ sr.flatMap(_._2))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      def w(t: String) = n / f(t)
      (for {
        (il, a) <- sl; (ir, b) <- sr
        winter = (a & b).toSeq.map(w).sum
        wa = a.toSeq.map(w).sum; wb = b.toSeq.map(w).sum
        jw = winter.toDouble / (wa + wb - winter)
        if jw >= tau
      } yield (il, ir, winter, jw)).toSet
    }
    val l = ls.toDF("id", "toks")
    val r = rs.toDF("id", "toks")
    for (tau <- Seq(0.2, 0.5, 0.9)) {
      val got = graft.operators.SetJoin
        .weightedJaccardJoin(l, r, "id", "toks", "id", "toks", tau)
        .collect()
        .map(x => (x.getAs[Long]("id_l"), x.getAs[Long]("id_r"),
          x.getAs[Long]("w_inter"), x.getAs[Double]("w_jaccard")))
        .toSet
      assert(got == naive(tau), s"mismatch at tau=$tau: " +
        s"missing=${naive(tau) -- got} extra=${got -- naive(tau)}")
    }
  }

  test("weightedJaccardJoin randomized adversarial corpus: tiny " +
      "vocabulary, equality with the naive weighted join") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def randSet() =
      (0 until rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(6)))
    val ls = (1L to 20L).map(i => (i, randSet()))
    val rs = (101L to 125L).map(i => (i, randSet()))
    val l = ls.toDF("id", "toks")
    val r = rs.toDF("id", "toks")
    for (tau <- Seq(0.3, 0.6, 1.0)) {
      val sl = ls.map { case (i, t) => i -> t.distinct.toSet }
        .filter(_._2.nonEmpty)
      val sr = rs.map { case (i, t) => i -> t.distinct.toSet }
        .filter(_._2.nonEmpty)
      val n = (sl.size + sr.size).toLong
      val f = (sl.flatMap(_._2) ++ sr.flatMap(_._2))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      def w(t: String) = n / f(t)
      val expected = (for {
        (il, a) <- sl; (ir, b) <- sr
        winter = (a & b).toSeq.map(w).sum
        wa = a.toSeq.map(w).sum; wb = b.toSeq.map(w).sum
        if winter.toDouble / (wa + wb - winter) >= tau
      } yield (il, ir)).toSet
      val got = graft.operators.SetJoin
        .weightedJaccardJoin(l, r, "id", "toks", "id", "toks", tau)
        .collect().map(x => (x.getAs[Long]("id_l"), x.getAs[Long]("id_r")))
        .toSet
      assert(got == expected, s"mismatch at tau=$tau: " +
        s"missing=${expected -- got} extra=${got -- expected}")
    }
  }

  test("provenanceDedup keeps the highest-priority source's copy and " +
      "reports the full provenance") {
    import spark.implicits._
    val docs = Seq(
      (1L, "crawl", "same text"),
      (2L, "books", "same text"),   // listed priority 0 → wins
      (3L, "crawl", "same text"),
      (4L, "forum", "other text"),  // unlisted sources tie-break by name
      (5L, "blog", "other text"),
      (6L, "crawl", "unique text")
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.Dedup
      .provenanceDedup(docs, "doc_id", "text", "source",
        priority = Seq("books", "crawl"))
      .orderBy("keep_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      (2L, "books", 3L, 2L, "books,crawl"), // priority beats min id
      (5L, "blog", 2L, 2L, "blog,forum"),   // both unlisted: name order
      (6L, "crawl", 1L, 1L, "crawl")))
  }

  /** Driver-side reference BPE with the SAME semantics as BpeTrain:
    * java.lang.String.replace is leftmost non-overlapping replace-all —
    * the very operation Spark's `replace` runs per row — applied the
    * same MergePasses times, ties by (count desc, pair asc). */
  private def refBpeTrain(words: Map[String, Long],
      merges: Int): Seq[(String, String, Long)] = {
    import graft.operators.BpeTrain
    var state = words.map { case (w, c) =>
      (" " + w.toCharArray.mkString(" ") + " ", c)
    }.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    while (r < merges) {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      state.foreach { case (s, c) =>
        val syms = s.trim.split(" ")
        var i = 0
        while (i < syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) return out.toSeq
      val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
      val merged = pair.replace(" ", "")
      out += ((pair, merged, n))
      state = state.map { case (s, c) =>
        var cur = s
        (1 to BpeTrain.MergePasses).foreach { _ =>
          cur = cur.replace(" " + pair + " ", " " + merged + " ")
        }
        (cur, c)
      }
      r += 1
    }
    out.toSeq
  }

  test("bpeTrain at merges=64 matches the driver reference with bounded " +
      "plan depth (VERDICT r12 #1)") {
    import graft.operators.BpeTrain
    // 24 pseudo-words over a 12-char alphabet, 6-9 chars each — enough
    // adjacent-pair diversity to sustain 64 distinct merges
    val alpha = "abcdefghijkl"
    val words = (1 to 24).map { i =>
      val len = 6 + (i * 5) % 4
      (0 until len).map(j => alpha((i * 7 + j * j) % alpha.length)).mkString
    }
    val corpus = words.zipWithIndex
      .map { case (w, i) => s"$w ${words(i * 3 % words.length)}" }
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wordCounts = corpus.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val ref = refBpeTrain(wordCounts, 64)
    // the corpus may exhaust its pair inventory before 64 — train stops
    // at the same round as the reference; ≥ 33 keeps the pin meaningful
    // (at least four RoundsPerMaterialize=8 materializations exercised)
    assert(ref.size >= 33, s"fixture too small: ${ref.size} merges")
    val got = BpeTrain.train(docs, "text", 64).orderBy("rank").collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[String]("merged"),
        r.getAs[Long]("n"))).toSeq
    assert(got == ref)
    // plan-depth pin: the encode output's word→symbols side was
    // materialized every RoundsPerMaterialize merges, so its analyzed
    // plan carries at most ONE segment of replaces — never the 64-merge
    // chain (64 · MergePasses = 384 nested replaces)
    val enc = BpeTrain.encode(docs, "doc_id", "text", 64)
    val planText = enc.queryExecution.analyzed.toString
    val nReplace = "(?i)replace\\(".r.findAllIn(planText).length
    val bound = BpeTrain.RoundsPerMaterialize * BpeTrain.MergePasses
    assert(nReplace <= bound,
      s"encode plan carries $nReplace replaces (> $bound): merge chain " +
        "not materialized")
    // and the encode itself is still right: re-encoding with the ref
    // chain applied driver-side matches one sampled doc
    val row = enc.filter(col("doc_id") === 0L).collect()(0)
    var s0 = " " + corpus(0).split(" ")(0).toCharArray.mkString(" ") + " "
    ref.foreach { case (p, m, _) =>
      (1 to BpeTrain.MergePasses).foreach { _ =>
        s0 = s0.replace(" " + p + " ", " " + m + " ")
      }
    }
    val firstWordSyms = s0.trim.split(" ").toSeq
    assert(row.getSeq[String](1).take(firstWordSyms.size) == firstWordSyms)
  }

  test("hybrid driver-side trainer tier equals the distributed loop " +
      "bit-for-bit across BPE / byte-BPE / WordPiece (VERDICT r13 #2)") {
    import graft.operators.BpeTrain
    // multi-byte chars exercise the byte seed; repeated runs exercise
    // the MergePasses replace semantics; shared prefixes force ties
    val docs = Seq(
      (1L, "ababab ababab abc abäcke wörter"),
      (2L, "abc abc abäcke wörter wörter zzz"),
      (3L, "ababab zzz zzz abc wörter ab")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("rank")
      .collect().map(_.toSeq).toSeq
    def both(f: => org.apache.spark.sql.DataFrame) = {
      val local = rows(f) // default bound: small fixture goes local
      spark.conf.set(BpeTrain.LocalTrainMaxWordsKey, "0")
      val dist = try rows(f)
        finally spark.conf.unset(BpeTrain.LocalTrainMaxWordsKey)
      (local, dist)
    }
    val (bl, bd) = both(BpeTrain.train(docs, "text", 12))
    assert(bl == bd, s"BPE local $bl vs distributed $bd")
    val (yl, yd) = both(BpeTrain.trainBytes(docs, "text", 12))
    assert(yl == yd, s"byte-BPE local $yl vs distributed $yd")
    val (wl, wd) = both(BpeTrain.trainWordPiece(docs, "text", 12))
    assert(wl == wd, s"WordPiece local $wl vs distributed $wd")
    assert(bl.nonEmpty && yl.nonEmpty && wl.nonEmpty)
  }

  test("exactSubstrDedup removes exactly the maximal cross-doc >= L " +
      "substrings (VERDICT r13 #3)") {
    import graft.operators.Dedup
    val L = 40
    // one unique char per filler: no two DOCS share any filler char, so
    // no cross-doc 40-gram can involve filler text (within-doc repeats
    // inside a filler are fine — the cross-doc contract ignores them)
    def filler(tag: Char, n: Int): String = tag.toString * n
    val shared60 = "S" * 25 + "HAREDREGIONSHAREDREGIONSHAREDREGION"
    assert(shared60.length == 60)
    val shared39 = "T" * 39
    val sharedB = "U" * 50
    val docs = Seq(
      // 1 & 2: one 60-char shared region at DIFFERENT offsets
      (1L, filler('a', 100) + shared60 + filler('b', 80)),
      (2L, filler('c', 37) + shared60 + filler('d', 120)),
      // 3: shares BOTH regions with 1/2 and 4 — two separated spans
      (3L, filler('e', 90) + shared60 + filler('f', 70) + sharedB +
        filler('g', 50)),
      (4L, filler('h', 55) + sharedB + filler('i', 66)),
      // 5 & 6: shared substring SHORTER than L — never flagged
      (5L, filler('j', 80) + shared39 + filler('k', 80)),
      (6L, filler('l', 80) + shared39 + filler('m', 80)),
      // 7: a WITHIN-doc repeat only — cross-doc contract: not flagged
      (7L, filler('n', 60) + "V" * 45 + filler('o', 60) + "V" * 45),
      // 8 & 9: full duplicates — everything removed
      (8L, filler('p', 120)),
      (9L, filler('p', 120)),
      // 10: NULL text passes through as NULL (both engines — the oracle
      // CASE mirrors it)
      (10L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 60L, filler('a', 100) + filler('b', 80))))
    assert(out(2L) == ((1L, 60L, filler('c', 37) + filler('d', 120))))
    assert(out(3L)._1 == 2L && out(3L)._2 == 110L)
    assert(out(3L)._3 ==
      filler('e', 90) + filler('f', 70) + filler('g', 50))
    assert(out(4L) == ((1L, 50L, filler('h', 55) + filler('i', 66))))
    assert(out(5L)._1 == 0L && out(5L)._3.contains(shared39))
    assert(out(6L)._1 == 0L)
    assert(out(7L)._1 == 0L, "within-doc repeats are not cross-doc dups")
    assert(out(8L) == ((1L, 120L, "")))
    assert(out(9L) == ((1L, 120L, "")))
    assert(out(10L) == ((0L, 0L, null)))
  }

  test("winnowSubstrDedup catches every planted cross-doc substring " +
      ">= L+w-1, removes ONLY duplicated chars, and matches a " +
      "driver-side replay on random corpora (VERDICT r14 #2)") {
    import graft.operators.Dedup
    val L = 12
    val W = 4 // guarantee threshold: L + W - 1 = 15
    // pairwise-unique tag streams: no accidental shared 12-gram
    def filler(tag: String, n: Int): String =
      (0 until n).map(i => s"<$tag$i>").mkString.take(n)
    val plant = "PLANTEDSEGMENT!" // exactly L + W - 1 = 15 chars
    assert(plant.length == L + W - 1)
    val docs = Seq(
      (1L, filler("a", 40) + plant + filler("b", 40)),
      (2L, filler("c", 25) + plant + filler("d", 55)),
      (3L, filler("e", 80))).toDF("doc_id", "text")
    val out = Dedup.winnowSubstrDedup(docs, "doc_id", "text", L, W)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // COMPLETENESS at the >= L+w-1 threshold: a full window of w grams
    // fits in the plant on both docs, so both remove >= one L-gram.
    // SOUNDNESS: only plant chars go — the unique fillers survive
    // verbatim on both sides of the cut.
    for ((id, pre, post) <- Seq(
        (1L, filler("a", 40), filler("b", 40)),
        (2L, filler("c", 25), filler("d", 55)))) {
      val (n, dup, clean) = out(id)
      assert(n == 1L && dup >= L && dup <= plant.length,
        s"doc $id: $n spans, $dup dup chars")
      assert(clean.startsWith(pre) && clean.endsWith(post) &&
        clean.length == pre.length + post.length + plant.length - dup,
        s"doc $id clean=$clean")
    }
    assert(out(3L) == ((0L, 0L, filler("e", 80))))
    // parameter contract: w > L would break the gap-<=L merge soundness
    intercept[IllegalArgumentException] {
      Dedup.winnowSubstrDedup(docs, "doc_id", "text", 8, 9)
    }

    // randomized driver-side replay of the full definition: rolling
    // hashes -> per-window rightmost-min selection -> cross-doc flags
    // -> gap-<=L span merge -> coverage rebuild (the same reference
    // shape as the exact tier's randomized check above)
    import graft.functions.WinnowFingerprints.{Base, Mod}
    def gramHashes(t: String, k: Int): Array[Long] = {
      val cps = t.codePoints().toArray
      (0 to cps.length - k).map { p =>
        var h = 0L
        var j = 0
        while (j < k) { h = (h * Base + cps(p + j)) % Mod; j += 1 }
        h
      }.toArray
    }
    def selected(t: String): Seq[(Int, Long)] = {
      val hs = gramHashes(t, L)
      val m = hs.length
      if (m == 0) Seq.empty
      else {
        val wins =
          if (m <= W) Seq(0 until m)
          else (0 to m - W).map(i => i until i + W)
        wins.map { win => // rightmost minimal
          val p = win.maxBy(i => (-hs(i), i))
          (p + 1, hs(p))
        }.distinct
      }
    }
    def ref(texts: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
      val sel = texts.flatMap { case (id, t) =>
        selected(t).map { case (p, h) => (id, p, h) } }
      val dup = sel.groupBy(_._3)
        .filter(_._2.map(_._1).distinct.size >= 2).keySet
      val flagged = sel.filter(g => dup(g._3)).groupBy(_._1)
        .map { case (id, g) => id -> g.map(_._2).sorted }
      texts.map { case (id, t) =>
        val ps = flagged.getOrElse(id, Seq.empty)
        var groups = Vector.empty[Vector[Int]]
        ps.foreach { p =>
          if (groups.nonEmpty && p - groups.last.last <= L)
            groups = groups.init :+ (groups.last :+ p)
          else groups = groups :+ Vector(p)
        }
        val spans = groups.map(g => (g.head, g.last + L - 1))
        val covered = spans.flatMap { case (s, e) => s to e }.toSet
        val clean = t.zipWithIndex
          .collect { case (c, i) if !covered(i + 1) => c }.mkString
        id -> ((spans.size.toLong,
          spans.map { case (s, e) => (e - s + 1).toLong }.sum, clean))
      }.toMap
    }
    val rnd = new scala.util.Random(1527)
    (0 until 3).foreach { round =>
      def randText(n: Int): String =
        (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val shared = randText(30)
      val rdocs = (1L to 12L).map { i =>
        var t = randText(40 + rnd.nextInt(120))
        if (i % 3 == 0) t = t.take(20) + shared + t.drop(20)
        (i, t)
      }
      val got = Dedup.winnowSubstrDedup(
          rdocs.toDF("doc_id", "text"), "doc_id", "text", L, W)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val want = ref(rdocs)
      assert(got == want, s"round=$round diff=${
        (got.toSet -- want.toSet).take(2)} vs ${
        (want.toSet -- got.toSet).take(2)}")
    }
  }

  test("intraDocSubstrDedup keeps the FIRST occurrence of a within-doc " +
      "repeat and ignores cross-doc-only duplication") {
    import graft.operators.Dedup
    val L = 40
    // NON-periodic fillers: a single-char (or short-period) run longer
    // than L legitimately self-repeats and WOULD be flagged — the
    // index-embedded form never repeats a 40-char window
    def filler(tag: Char, n: Int): String =
      (0 until n).map(i => s"$tag$i").mkString.take(n)
    val boiler = "NAVIGATIONBLOCKNAVIGATIONBLOCKNAVIGATIONBLOCK" // 45
    assert(boiler.length == 45)
    val docs = Seq(
      // the repeat: boiler at two positions — second occurrence removed
      (1L, boiler + filler('a', 60) + boiler + filler('b', 50)),
      // cross-doc duplication ONLY (same text as doc 3): intra-doc tier
      // must NOT touch it
      (2L, filler('c', 100)),
      (3L, filler('c', 100))
    ).toDF("doc_id", "text")
    val out = Dedup.intraDocSubstrDedup(docs, "doc_id", "text", L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: second boiler occurrence = chars [106, 150]; note the
    // 'c'-filler docs are untouched (within-DOC first occurrences only)
    assert(out(1L)._1 == 1L, out(1L).toString)
    assert(out(1L)._3 == boiler + filler('a', 60) + filler('b', 50),
      out(1L)._3)
    assert(out(1L)._2 == 45L)
    assert(out(2L) == ((0L, 0L, filler('c', 100))))
    assert(out(3L) == ((0L, 0L, filler('c', 100))))
    // single-char run: "d"*120 repeats ITSELF at offset 1 — everything
    // after the first L-gram's start is a later occurrence; the span
    // covers [2, 120] and exactly the first char survives
    val run = Seq((9L, "d" * 120)).toDF("doc_id", "text")
    val r9 = Dedup.intraDocSubstrDedup(run, "doc_id", "text", L)
      .collect().head
    assert(r9.getString(3) == "d" && r9.getLong(2) == 119L)
  }

  test("Checkpoints.truncate reliable mode (graft.checkpoint.dir) and " +
      "local mode produce identical CC labels (VERDICT r12 #3)") {
    import graft.operators.{Checkpoints, Dedup}
    // chain graph deep enough to force several star rounds
    val pairs = (1L to 40L).map(i => (i, i + 1)).toDF("ida", "idb")
    val local = Dedup.clusterPairsStar(pairs).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      val reliable = Dedup.clusterPairsStar(pairs).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(reliable == local)
      assert(local.forall(_._2 == 1L))
      // prove the reliable path actually engaged: checkpoint files exist
      val ckptDir = spark.sparkContext.getCheckpointDir
      assert(ckptDir.isDefined, "reliable checkpoint dir never set")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(
          new java.net.URI(ckptDir.get).getPath))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "no reliable checkpoint files written")
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("OPQ rotation beats plain PQ recall on correlated data and is " +
      "orthonormal with balanced subspaces (VERDICT r12 #6)") {
    import graft.operators.{Pq, Pca}
    // The classic OPQ-win shape: per-coordinate variance is IMBALANCED
    // ACROSS the fixed slices. Dims 0-3 carry four strong independent
    // factors, dims 4-7 near-zero jitter — plain PQ's slices (0,1) and
    // (2,3) each cram TWO strong dimensions into one 16-code codebook
    // while slices (4,5), (6,7) waste theirs on noise. The OPQ
    // eigenvalue allocation re-partitions the (here already principal)
    // axes so every subspace gets ONE strong direction.
    val rawData = (1 to 240).map { i =>
      val f = Seq(
        ((i * 3) % 41 - 20).toDouble / 5.0,   // var ~ 5.4
        ((i * 7) % 37 - 18).toDouble / 5.5,   // var ~ 3.7
        ((i * 11) % 31 - 15).toDouble / 6.0,  // var ~ 2.2
        ((i * 13) % 29 - 14).toDouble / 6.5)  // var ~ 1.6
      val noise = (0 until 4).map(r =>
        ((i * (r + 17)) % 9 - 4).toDouble / 90.0)
      (i.toLong, f ++ noise)
    }
    val data = rawData.toDF("vec_id", "embedding")
    val (m, k, topK) = (4, 16, 5)

    // truth by the SAME functional ADC approximates — inner product —
    // computed exactly on the driver (240 rows)
    val byId = rawData.toMap
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val truth = (1L to 12L).flatMap { q =>
      rawData.filter(_._1 != q)
        .sortBy { case (n, v) => (-dot(byId(q), v), n) }
        .take(topK).map { case (n, _) => (q, n) }
    }.toSet

    def adcPairs(corpus: org.apache.spark.sql.DataFrame,
        vecCol: String): Set[(Long, Long)] = {
      val cbs = Pq.pqTrain(corpus, "vec_id", vecCol, 8, m, k, iters = 5)
      val enc = Pq.pqEncode(corpus, "vec_id", vecCol, cbs)
      Pq.pqAdcTopK(corpus.filter(col("vec_id") <= 12),
          enc, "vec_id", vecCol, cbs, topK)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val plain = adcPairs(data, "embedding")
    val (_, rot) = Pq.opqRotation(data, "embedding", 8, m)
    // rotate WITHOUT centering: an orthonormal R preserves inner
    // products exactly, so recall differences are pure quantization
    // error — the thing OPQ improves
    val rotated = Pca.project(data, "vec_id", "embedding",
      Array.fill(8)(0.0), rot)
    val opq = adcPairs(rotated, "proj")
    val plainRecall = truth.intersect(plain).size.toDouble / truth.size
    val opqRecall = truth.intersect(opq).size.toDouble / truth.size
    assert(opqRecall >= plainRecall,
      s"OPQ recall $opqRecall < plain PQ $plainRecall")
    // deterministic fixture → these are fixed numbers, not a flake
    // surface; the bar guards against a silently-broken rotation (a
    // garbage R scores ≈ chance, ~0.02 here)
    assert(opqRecall > 0.3,
      s"OPQ recall degenerate: opq=$opqRecall plain=$plainRecall")

    // rotation structure: orthonormal rows, and eigenvalue allocation
    // spread the top directions across DIFFERENT subspaces (no subspace
    // hoards the two strongest eigenvalues)
    for (a <- rot.indices; b <- rot.indices) {
      val dot = rot(a).zip(rot(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<$a,$b> = $dot")
    }
    val (_, compsSorted, vals) = Pca.fit(data, "embedding", 8, 8)
    def rowIdx(c: Array[Double]): Int =
      rot.indexWhere(r => r.zip(c).map { case (x, y) => x * y }.sum > 0.999)
    val sub = 8 / m
    val top2Subspaces = Seq(0, 1).map(e => rowIdx(compsSorted(e)) / sub)
    assert(vals(0) > vals(1))
    assert(top2Subspaces.distinct.size == 2,
      s"two strongest directions landed in one subspace: $top2Subspaces")
  }

  test("lshTune ranks a balanced split over the degenerate extremes " +
      "and lshPick returns it") {
    import graft.operators.Similarity
    val out = Similarity.lshTune(spark, tau = 0.5, hashes = 64)
      .collect().map(r => (r.getAs[Int]("r"), r.getAs[Int]("b"),
        r.getAs[Double]("fp_mass"), r.getAs[Double]("fn_mass"),
        r.getAs[Double]("err"), r.getAs[Long]("rank")))
    assert(out.length == 7) // divisor splits of 64
    assert(out.forall { case (r, b, _, _, _, _) => r * b == 64 })
    val best = out.find(_._6 == 1L).get
    // r=1 (64 bands of 1 row) collides almost everything → fp-heavy;
    // r=64 (1 band of 64 rows) collides almost nothing → fn-heavy; the
    // tuned split beats both and is neither extreme
    // each mass averages over its own half of the grid, so 0.5 is the
    // ceiling; the degenerate splits sit near their respective ceilings
    val rOne = out.find(_._1 == 1).get
    val rMax = out.find(_._1 == 64).get
    assert(rOne._3 > 0.4 && rOne._4 < 0.01, s"r=1 should be fp-heavy: $rOne")
    assert(rMax._4 > 0.4 && rMax._3 < 0.01, s"r=64 should be fn-heavy: $rMax")
    assert(best._5 < rOne._5 && best._5 < rMax._5, s"best $best")
    assert(best._1 > 1 && best._1 < 64, s"degenerate pick: $best")
    assert(Similarity.lshPick(spark, 0.5, 64) == ((best._1, best._2)))
  }

  test("perplexityBuckets: per-language thirds, predictable docs head, " +
      "unscorable docs tail") {
    import graft.operators.LmScore
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta", "en"),
      (2L, "alpha beta gamma delta epsilon zeta", "en"),
      (3L, "unique words never repeated anywhere else here", "en"),
      // de: doc 6 has ONE token → no bigrams → unscorable → tail
      (4L, "ein zwei ein zwei ein zwei", "de"),
      (5L, "ein zwei drei vier fuenf", "de"),
      (6L, "einzelwort", "de")
    ).toDF("doc_id", "text", "lang")
    val rows = LmScore.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("avg_q"), r.getAs[Long]("rank"),
        r.getAs[String]("bucket")))
    val out = rows.map(t => t._1 -> (t._5, t._3)).toMap
    assert(out(6L)._1 == "tail" && out(6L)._2 == -1L,
      s"unscorable doc: ${out(6L)}")
    // buckets follow the avg_q order within every language (head's
    // avg_q >= middle's >= tail's), every language splits 1/1/1
    Seq("en", "de").foreach { l =>
      val byBucket = rows.filter(_._2 == l)
        .map(t => t._5 -> t._3).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"), l)
      assert(byBucket("head") >= byBucket("middle") &&
        byBucket("middle") >= byBucket("tail"), s"$l: $byBucket")
      assert(rows.count(t => t._2 == l && t._5 == "head") == 1, l)
    }
    // ranks are 1..3 per language, ordered by avg_q desc then doc_id
    Seq("en", "de").foreach { l =>
      val langRows = rows.filter(_._2 == l).sortBy(_._4)
      assert(langRows.map(_._4).toSeq == Seq(1L, 2L, 3L), l)
      assert(langRows.map(-_._3).toSeq == langRows.map(-_._3).sorted.toSeq, l)
    }
  }

  test("domainReweight upweights hard domains monotonically in excess " +
      "loss; weights normalize to 1") {
    import graft.operators.Mixing
    val docs = Seq(
      // 'easy': repeated predictable bigrams; 'hard': all-hapax text
      (1L, "alpha beta alpha beta alpha beta", "easy"),
      (2L, "alpha beta alpha beta gamma", "easy"),
      (3L, "strange tokens nobody ever repeats", "hard"),
      (4L, "totally different singleton words here", "hard"),
      (5L, "alpha beta gamma alpha beta", "mid"),
      (6L, "gamma alpha beta strange alpha", "mid")
    ).toDF("doc_id", "text", "source")
    val out = Mixing.domainReweight(docs, "doc_id", "text", "source",
        eta = 0.5, rounds = 5)
      .collect().map(r => (r.getString(0), r.getAs[Long]("avg_q"),
        r.getAs[Double]("excess"), r.getAs[Double]("weight")))
    assert(out.length == 3)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-12)
    // weight order mirrors excess order (higher excess → more weight),
    // and the easiest domain (excess 0) ends below uniform
    val byDom = out.map(t => t._1 -> t).toMap
    val sortedByExcess = out.sortBy(_._3).map(_._1).toSeq
    val sortedByWeight = out.sortBy(_._4).map(_._1).toSeq
    assert(sortedByExcess == sortedByWeight, out.mkString(", "))
    val best = out.maxBy(_._2)
    assert(best._3 == 0.0 && best._4 < 1.0 / 3.0,
      s"easiest domain must end under uniform: $out")
  }

  test("domainReweight keeps a NULL domain as real data (sorted last in " +
      "the normalization fold, never an NPE — ADVICE r13)") {
    import graft.operators.Mixing
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta", "easy"),
      (2L, "alpha beta alpha beta gamma", "easy"),
      (3L, "strange tokens nobody ever repeats", null)
    ).toDF("doc_id", "text", "source")
    val out = Mixing.domainReweight(docs, "doc_id", "text", "source",
        eta = 0.5, rounds = 3)
      .collect().map(r => (r.getString(0), r.getAs[Double]("weight")))
    assert(out.length == 2)
    assert(out.count(_._1 == null) == 1, out.mkString(", "))
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-12)
    // under the MLE bigram model the all-hapax NULL domain is the MOST
    // predictable (every bigram's only continuation: p = 1) → excess 0
    // → downweighted relative to 'easy', whose alpha has two followers
    assert(out.find(_._1 == null).get._2 < out.find(_._1 == "easy").get._2)
  }

  test("perplexityBucketsHist equals the window form, including " +
      "boundary ties inside a tie group (the no-whole-language-sort " +
      "scale tier)") {
    import graft.operators.LmScore
    // tie-heavy: six docs share identical text → identical avg_q; the
    // head/middle AND middle/tail boundaries land INSIDE the tie group
    // so the within-value doc_id rank decides the splits
    // includes NULL-lang docs (language-ID failures): both tiers must
    // keep them as their own partition, never drop them
    val docs = (1L to 9L).map { i =>
      val text = if (i <= 6L) "alpha beta alpha beta"
        else s"unique$i words$i nothing$i shared$i"
      (i, text, if (i % 4 == 0) null else "en")
    }.toDF("doc_id", "text", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("avg_q"), r.getAs[Long]("rank"),
        r.getAs[String]("bucket"))).toSet
    val win = rows(LmScore.perplexityBuckets(docs, "doc_id", "text", "lang"))
    val hist = rows(
      LmScore.perplexityBucketsHist(docs, "doc_id", "text", "lang"))
    assert(hist == win, s"hist ${hist -- win} vs win ${win -- hist}")
    assert(win.size == 9 && win.count(_._2 == null) == 2,
      s"NULL-lang docs must be kept: $win")
    // the tie group genuinely straddles the boundary
    val tieBuckets = win.filter(_._1 <= 6L).map(_._5)
    assert(tieBuckets.size >= 2, s"fixture lost its tie straddle: $win")
  }

  test("Checkpoints.discard is a no-op on LAZY frames — a loop's unmater" +
      "ialized first round must never delete an upstream input's " +
      "checkpoint files") {
    import graft.operators.Checkpoints
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2")
    spark.conf.set(Checkpoints.DirKey, dir.toString)
    try {
      val input = Checkpoints.truncate(
        (1L to 50L).toDF("id").withColumn("v", col("id") * 2))
      assert(input.count() == 50)
      // a lazy derivation over the checkpointed input — discarding IT
      // must not touch the input's files
      val lazyDerived = input.select(col("id"), (col("v") + 1).as("v2"))
      Checkpoints.discard(lazyDerived)
      assert(input.count() == 50, "input checkpoint files were deleted")
      // discarding the ROOT checkpoint itself does reclaim it
      Checkpoints.discard(input)
    } finally spark.conf.unset(Checkpoints.DirKey)
  }

  test("pageRank per-round truncation changes nothing (integer ranks)") {
    import graft.operators.PageRank
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L),
      (5L, 1L)).toDF("src", "dst")
    val a = PageRank.ranks(edges, iters = 6, truncateEvery = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = PageRank.ranks(edges, iters = 6, truncateEvery = 100)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }
}
