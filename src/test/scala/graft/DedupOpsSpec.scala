package graft

import graft.ext.{DedupOps, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.{size => arraySize}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingleHashes: JVM kernel equals the SQL fingerprint60 semantics") {
    // kernel shingle of a 1-gram doc must equal fingerprint60 of the text
    val df = Seq((1L, "hello")).toDF("id", "text")
    val kernel = df.select(DedupOps.shingleHashes(col("text"), 3).as("sh"))
      .head().getSeq[Long](0)
    val sql = df.select(TextOps.fingerprint60(col("text"))).head().getLong(0)
    kernel shouldBe Seq(sql)
  }

  test("shingleHashes builds distinct sliding word n-grams") {
    val df = Seq((1L, "a b c d")).toDF("id", "text")
    // 3-grams of 4 tokens: "a b c", "b c d" → 2 distinct hashes
    df.select(arraySize(DedupOps.shingleHashes(col("text"), 3)))
      .head().getInt(0) shouldBe 2
    // repeated grams dedup: "x x x x" → single distinct 3-gram "x x x"
    Seq((1L, "x x x x")).toDF("id", "text")
      .select(arraySize(DedupOps.shingleHashes(col("text"), 3)))
      .head().getInt(0) shouldBe 1
  }

  test("dedupExactByContent groups identical texts under min keep_id") {
    val df = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("doc_id", "text")
    val out = DedupOps.dedupExactByContent(df, "doc_id", "text")
      .orderBy("keep_id").select("keep_id", "n_dups")
      .as[(Long, Long)].collect()
    out shouldBe Array((1L, 2L), (2L, 1L))
  }

  test("minhashDedupPairs finds identical docs with jaccard 1.0") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base), (2L, base),                       // exact dup pair
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val out = DedupOps.minhashDedupPairs(df, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    out shouldBe Array((1L, 2L, 1.0))
  }

  test("minhashTopK retrieves nearest neighbors ranked by exact jaccard") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base),
      (2L, base),                                     // exact dup of 1
      (3L, base + " with a small tail appended here"), // near dup of 1
      (4L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val out = DedupOps.minhashTopK(df, "doc_id", "text",
        Seq(Tuple1(1L)).toDF("doc_id"),
        n = 3, numHashes = 16, bands = 4, k = 5)
      .orderBy("rank")
      .select("query_id", "neighbor_id", "jaccard", "rank")
      .as[(Long, Long, Double, Int)].collect()
    // self never returned; the exact dup outranks the near dup; the
    // unrelated doc shares no band so it is never a candidate
    out.head shouldBe ((1L, 2L, 1.0, 1))
    if (out.length > 1) {
      out(1)._2 shouldBe 3L
      out(1)._3 should (be > 0.5 and be < 1.0)
      out(1)._4 shouldBe 2
    }
    out.map(_._2) should not contain 1L
    out.map(_._2) should not contain 4L
    // k caps the result even with more candidates
    val k1 = DedupOps.minhashTopK(df, "doc_id", "text",
        Seq(Tuple1(1L)).toDF("doc_id"),
        n = 3, numHashes = 16, bands = 4, k = 1)
      .as[(Long, Long, Double, Int)].collect()
    k1.length shouldBe 1
    k1.head._2 shouldBe 2L
  }

  test("jaccardPairs computes exact n-gram jaccard above threshold") {
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "z y x w v"))
      .toDF("doc_id", "text")
    val out = DedupOps.jaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    out shouldBe Array((1L, 2L, 1.0))
  }

  test("jaccardPairsPrefix is output-identical to the inverted-index join") {
    // real corpus slice: thresholds/caps exercised against genuine text
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
    for (t <- Seq(0.3, 0.5, 0.8); cap <- Seq(Int.MaxValue, 50)) {
      val full = DedupOps.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = t, maxShingleDf = cap)
        .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
      val pref = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text",
        n = 3, threshold = t, maxShingleDf = cap)
        .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
      withClue(s"threshold=$t cap=$cap: ") { pref shouldBe full }
    }
    // and on a crafted set with a rounds-up-to-threshold boundary pair
    val crafted = Seq(
      (1L, "a b c d e f g h i j k l"), (2L, "a b c d e f g h i j x y"),
      (3L, "p q r s t u v w"), (4L, "p q r s t u v w")).toDF("doc_id", "text")
    val t2 = 0.5
    val full2 = DedupOps.jaccardPairs(crafted, "doc_id", "text", 3, t2)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
    val pref2 = DedupOps.jaccardPairsPrefix(crafted, "doc_id", "text", 3, t2)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
    pref2 shouldBe full2
  }

  test("containmentPairs (subset-side prefix) is output-identical to the full index") {
    // real corpus slice across thresholds and df-caps, then a crafted
    // quote-inside-long-doc set with a rounds-up-to-threshold boundary
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
    for (t <- Seq(0.3, 0.5, 0.8); cap <- Seq(Int.MaxValue, 50)) {
      val full = DedupOps.containmentPairsFullIndex(docs, "doc_id", "text",
        n = 3, threshold = t, maxShingleDf = cap)
        .orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect()
      val pref = DedupOps.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = t, maxShingleDf = cap)
        .orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect()
      withClue(s"threshold=$t cap=$cap: ") { pref shouldBe full }
    }
    val short = "the quick brown fox jumps over the lazy dog"
    val crafted = Seq(
      (1L, short),                                      // wholly quoted in 2
      (2L, s"a long article begins here $short and then continues on"),
      (3L, "completely unrelated content with nothing shared at all"),
      (4L, "the quick brown fox jumps over the lazy cat")) // partial overlap
      .toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.7, 0.95)) {
      val full = DedupOps.containmentPairsFullIndex(
        crafted, "doc_id", "text", 3, t)
        .orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect()
      val pref = DedupOps.containmentPairs(crafted, "doc_id", "text", 3, t)
        .orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect()
      withClue(s"threshold=$t: ") { pref shouldBe full }
      if (t <= 0.7) full.map(p => (p._1, p._2)) should contain ((1L, 2L))
    }
  }

  test("PPJoin+ positional bound cuts candidates without changing output") {
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
    // jaccard: same code path with the positional conjunct on/off —
    // candidates must shrink (or stay equal), verified output must not move
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val (cOn, rOn) = DedupOps.jaccardPairsPrefixDiag(
        docs, "doc_id", "text", 3, t, Int.MaxValue, positional = true)
      val (cOff, rOff) = DedupOps.jaccardPairsPrefixDiag(
        docs, "doc_id", "text", 3, t, Int.MaxValue, positional = false)
      val (nOn, nOff) = (cOn.count(), cOff.count())
      info(f"jaccard t=$t: candidates $nOff%d -> $nOn%d " +
        f"(${100.0 * (nOff - nOn) / math.max(nOff, 1L)}%.1f%% cut)")
      nOn should be <= nOff
      rOn.orderBy("id1", "id2").as[(Long, Long, Double)].collect() shouldBe
        rOff.orderBy("id1", "id2").as[(Long, Long, Double)].collect()
    }
    // containment: one-sided form, same contract
    for (t <- Seq(0.4, 0.7)) {
      val (cOn, rOn) = DedupOps.containmentPairsDiag(
        docs, "doc_id", "text", 3, t, Int.MaxValue, positional = true)
      val (cOff, rOff) = DedupOps.containmentPairsDiag(
        docs, "doc_id", "text", 3, t, Int.MaxValue, positional = false)
      val (nOn, nOff) = (cOn.count(), cOff.count())
      info(f"containment t=$t: candidates $nOff%d -> $nOn%d " +
        f"(${100.0 * (nOff - nOn) / math.max(nOff, 1L)}%.1f%% cut)")
      nOn should be <= nOff
      rOn.orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect() shouldBe
        rOff.orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect()
    }
  }

  test("early-exit overlap kernel is output-identical to array_intersect " +
    "verification at multiple thresholds") {
    // same code path with only the verification expression toggled:
    // graft_overlap_ge's sorted-merge (early-exits when the remaining-
    // length bound proves overlap < α, returning −1) vs the
    // size(array_intersect(…)) walk — survivors must carry the SAME exact
    // common count (identical scores), cut rows must be exactly the rows
    // the score filter drops
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
    for (t <- Seq(0.3, 0.5, 0.8); cap <- Seq(Int.MaxValue, 50)) {
      val (_, rKernel) = DedupOps.jaccardPairsPrefixDiag(
        docs, "doc_id", "text", 3, t, cap, positional = true,
        overlapKernel = true)
      val (_, rExact) = DedupOps.jaccardPairsPrefixDiag(
        docs, "doc_id", "text", 3, t, cap, positional = true,
        overlapKernel = false)
      withClue(s"jaccard t=$t cap=$cap: ") {
        rKernel.orderBy("id1", "id2").as[(Long, Long, Double)]
          .collect() shouldBe
          rExact.orderBy("id1", "id2").as[(Long, Long, Double)].collect()
      }
    }
    for (t <- Seq(0.4, 0.5, 0.7); cap <- Seq(Int.MaxValue, 50)) {
      val (_, rKernel) = DedupOps.containmentPairsDiag(
        docs, "doc_id", "text", 3, t, cap, positional = true,
        overlapKernel = true)
      val (_, rExact) = DedupOps.containmentPairsDiag(
        docs, "doc_id", "text", 3, t, cap, positional = true,
        overlapKernel = false)
      withClue(s"containment t=$t cap=$cap: ") {
        rKernel.orderBy("id_sub", "id_super").as[(Long, Long, Double)]
          .collect() shouldBe
          rExact.orderBy("id_sub", "id_super").as[(Long, Long, Double)]
          .collect()
      }
    }
  }

  test("graft_overlap_ge: unit semantics (exact count, −1 cut, bounds)") {
    import graft.functions.OverlapGeCount
    val rows = Seq(
      // (a, b, min) — sorted distinct arrays, the library precondition
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 5L, 9L), 1L, 2L),   // exact 2 ≥ 1
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 5L, 9L), 2L, 2L),   // boundary: = min
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 5L, 9L), 3L, -1L),  // provably short
      (Seq(1L, 2L), Seq(3L, 4L), 1L, -1L),              // disjoint, cut
      (Seq(1L, 2L), Seq(3L, 4L), 0L, 0L),               // min ≤ 0: exact
      (Seq.empty[Long], Seq(1L), 0L, 0L),               // empty side
      (Seq.empty[Long], Seq(1L), 1L, -1L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L, 3L))       // full overlap
    rows.zipWithIndex.foreach { case ((a, b, m, want), i) =>
      val got = Seq((a, b, m)).toDF("a", "b", "m")
        .select(OverlapGeCount(col("a"), col("b"), col("m")).as("c"))
        .as[Long].head()
      withClue(s"case $i ($a ∩ $b, min=$m): ") { got shouldBe want }
    }
    // null propagation: null array or null min → null result
    Seq((Some(Seq(1L)), None: Option[Seq[Long]], Some(1L)),
      (None: Option[Seq[Long]], Some(Seq(1L)), Some(1L)),
      (Some(Seq(1L)), Some(Seq(1L)), None: Option[Long]))
      .toDF("a", "b", "m")
      .select(OverlapGeCount(col("a"), col("b"), col("m")).as("c"))
      .collect().map(_.isNullAt(0)) shouldBe Array(true, true, true)
  }

  test("ShingleIndex: one shared shingle cache feeds the set-similarity " +
    "family with identical results") {
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
    // per-DataFrame baselines FIRST (the PreparedGraph eviction caveat:
    // CacheManager keys by canonicalized plan, and a throwaway index over
    // the same frame would evict the shared one if built after it)
    val fullBase = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.5, 50)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
    val prefBase = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8, 50)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
    val contBase = DedupOps.containmentPairs(docs, "doc_id", "text", 3, 0.5, 50)
      .orderBy("id_sub", "id_super").as[(Long, Long, Double)].collect()

    val ix = DedupOps.shingleIndex(docs, "doc_id", "text", 3, 50)
    try {
      DedupOps.jaccardPairs(ix, 0.5)
        .orderBy("id1", "id2").as[(Long, Long, Double)]
        .collect() shouldBe fullBase
      DedupOps.jaccardPairsPrefix(ix, 0.8)
        .orderBy("id1", "id2").as[(Long, Long, Double)]
        .collect() shouldBe prefBase
      DedupOps.containmentPairs(ix, 0.5)
        .orderBy("id_sub", "id_super").as[(Long, Long, Double)]
        .collect() shouldBe contBase
      // index-form consumers answer from ONE materialized shingle cache —
      // the kernel pass + df-cap exchange ran once for the whole family
      DedupOps.jaccardPairs(ix, 0.5)
        .queryExecution.executedPlan.toString should
        include("InMemoryTableScan")
    } finally ix.unpersist()
  }

  test("jaccardPairs df-cap drops hot boilerplate shingles, keeps genuine dups") {
    // 20 docs that share ONLY a boilerplate sentence (df=20 per boilerplate
    // shingle) + one genuine duplicate pair with private content (df=2).
    val boiler = "this footer appears on every single page of the site"
    val docs =
      (1L to 20L).map(i => (i, s"unique$i $boiler")) ++
      Seq((100L, "the real content of the duplicated article body text"),
          (101L, "the real content of the duplicated article body text"))
    val df = docs.toDF("doc_id", "text")

    // without the cap the boilerplate makes every doc pair a candidate and
    // most pass a low threshold — the n² blowup the cap exists to stop
    val uncapped = DedupOps.jaccardPairs(df, "doc_id", "text",
      n = 3, threshold = 0.3).count()
    uncapped should be > 100L

    // with the cap only the genuine pair survives (its shingles have df 2)
    val capped = DedupOps.jaccardPairs(df, "doc_id", "text",
      n = 3, threshold = 0.3, maxShingleDf = 5)
      .as[(Long, Long, Double)].collect()
    capped shouldBe Array((100L, 101L, 1.0))
  }

  test("minhash LSH band-key df-cap bounds hot-bucket candidates") {
    // 20 identical boilerplate docs: every band key has df=20; a genuine
    // dup pair with private text has band-key df=2
    val docs =
      (1L to 20L).map(i => (i, "identical boilerplate body repeated everywhere always")) ++
      Seq((100L, "specific article content that was copied once verbatim"),
          (101L, "specific article content that was copied once verbatim"))
    val df = docs.toDF("doc_id", "text")

    val uncapped = DedupOps.minhashDedupPairs(df, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, threshold = 0.9).count()
    uncapped shouldBe (20L * 19 / 2 + 1)   // full n² on the hot bucket + dup pair

    val capped = DedupOps.minhashDedupPairs(df, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, threshold = 0.9, maxBandDf = 5)
      .as[(Long, Long, Double)].collect()
    capped shouldBe Array((100L, 101L, 1.0))
  }

  test("dedupIncremental: new batch dedups against the corpus index, not its text") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val index = DedupOps.fingerprintIndex(corpus, "text")
    val batch = Seq(
      (10L, "seen before"),        // dup of corpus → dropped
      (11L, "brand new content"),  // survives
      (12L, "brand new content"),  // within-batch dup → collapsed to 11
      (13L, "also seen"))          // dup of corpus → dropped
      .toDF("doc_id", "text")
    val survivors = DedupOps.dedupIncremental(batch, "doc_id", "text", index)
      .select("doc_id").as[Long].collect().sorted
    survivors shouldBe Array(11L)
    // index grows append-only by the survivors' fingerprints
    val newIndex = index.unionByName(
      DedupOps.fingerprintIndex(Seq((11L, "brand new content")).toDF("doc_id", "text"), "text"))
    DedupOps.dedupIncremental(batch, "doc_id", "text", newIndex).count() shouldBe 0L
  }

  test("decontaminate drops corpus docs sharing n-grams with the eval set") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps high"),    // shares "the quick brown"
      (11L, "totally unrelated training words here"),
      (12L, null.asInstanceOf[String]))           // null text: kept
      .toDF("doc_id", "text")
    val eval = Seq((1L, "the quick brown fox runs")).toDF("doc_id", "text")
    val kept = DedupOps.decontaminate(corpus, "doc_id", "text", eval, "text", n = 3)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(11L, 12L)
    // minOverlap > 1: one shared 3-gram is no longer enough...
    DedupOps.decontaminate(corpus, "doc_id", "text", eval, "text",
      n = 3, minOverlap = 3).select("doc_id").as[Long].collect().sorted shouldBe
      Array(10L, 11L, 12L)
    // ...but a doc sharing 3+ distinct 3-grams still falls
    val heavy = corpus.unionByName(
      Seq((13L, "the quick brown fox runs away")).toDF("doc_id", "text"))
    DedupOps.decontaminate(heavy, "doc_id", "text", eval, "text",
      n = 3, minOverlap = 3).select("doc_id").as[Long].collect().sorted shouldBe
      Array(10L, 11L, 12L)
    // the threshold is PER EVAL DOC: one gram shared with each of two eval
    // docs does not reach minOverlap=2 — pooling across the set would
    // wrongly condemn doc 20
    val evalTwo = Seq(
      (1L, "alpha beta gamma padding words"),
      (2L, "delta epsilon zeta padding words")).toDF("doc_id", "text")
    val crossDoc = Seq(
      (20L, "alpha beta gamma X delta epsilon zeta"), // 1 gram from each
      (21L, "alpha beta gamma padding others here"))  // 2 grams from eval 1
      .toDF("doc_id", "text")
    DedupOps.decontaminate(crossDoc, "doc_id", "text", evalTwo, "text",
      n = 3, minOverlap = 2).select("doc_id").as[Long].collect().sorted shouldBe
      Array(20L)
  }

  test("incrementalNearDupPairs: batch vs persisted band index, corpus never re-shingled") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words entirely here now for testing"
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val index = DedupOps.bandIndex(corpus, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4)
    val batch = Seq(
      (10L, base),                                    // near-dup of corpus doc 1
      (11L, "novel content that matches nothing at all"))
      .toDF("doc_id", "text")
    val out = DedupOps.incrementalNearDupPairs(batch, "doc_id", "text",
      index, corpus, n = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    out shouldBe Array((10L, 1L, 1.0))

    // equivalence with the full batch-mode pipeline: the incremental result
    // is exactly the full run's pairs restricted to (new × corpus)
    val full = DedupOps.minhashDedupPairs(corpus.unionByName(batch),
        "doc_id", "text", n = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .filter(col("id2") >= 10 && col("id1") < 10)
      .as[(Long, Long, Double)].collect().map { case (c, nw, j) => (nw, c, j) }
    out.sorted shouldBe full.sorted

    // null-text rows index nothing and match nothing — never near-dups
    val withNull = Seq((20L, null.asInstanceOf[String])).toDF("doc_id", "text")
    DedupOps.bandIndex(withNull, "doc_id", "text", 3, 16, 4).count() shouldBe 0L
    DedupOps.incrementalNearDupPairs(withNull, "doc_id", "text",
      index, corpus, n = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .count() shouldBe 0L
  }

  test("connectedComponents: transitive closure within iteration budget") {
    // chain 1-2-3-4 (diameter 3), clique 10-11-12, isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("id1", "id2")
    val cc = DedupOps.connectedComponents(pairs, iterations = 3)
      .orderBy("id").as[(Long, Long)].collect()
    cc shouldBe Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
  }

  test("connectedComponents: 50 iterations close a 51-node chain") {
    // a 51-node chain needs all 50 propagation rounds; each round
    // references the previous labels twice, so WITHOUT a per-round cut
    // the analyzed plan TREE doubles per round — analysis alone would
    // walk ~2^50 nodes and never return. Completing 50 rounds (and
    // producing the right closure) proves every round was cut.
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = DedupOps.connectedComponents(chain, iterations = 50)
    cc.count() shouldBe 51L
    cc.select("cluster_id").distinct().collect().map(_.getLong(0)) shouldBe Array(0L)
  }

  test("semanticDedup keeps the min-id member per embedding near-dup cluster") {
    import graft.ext.SimilarityOps
    // angles 5°/30°/55° in the (dim1, dim2) plane (all strictly inside the
    // first quadrant → same sign-LSH bucket): cos(25°)≈0.906 passes
    // threshold 0.9 for adjacent pairs, cos(50°)≈0.64 does not — ids 1..3
    // cluster only TRANSITIVELY; 4 points the opposite way (own LSH
    // bucket); 5 is a near-orthogonal same-bucket singleton
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val df = Seq(
      (1L, v(5)), (2L, v(30)), (3L, v(55)),
      (4L, Array(-1f, -1f, 0f, 0f)),
      (5L, Array(0.1f, 0.1f, 1f, 0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.semanticDedup(df, "vec_id", "embedding",
      threshold = 0.9, nBits = 2, stride = 1)
      .select(col("vec_id"), col("n_members"))
      .orderBy("vec_id").as[(Long, Long)].collect()
    out shouldBe Array((1L, 3L), (4L, 1L), (5L, 1L))
  }

  test("connectedComponentsStar: converges on a chain whose diameter dwarfs the round budget") {
    // a 64-node chain (diameter 63): min-label propagation with a small
    // iteration budget CANNOT close it, star rewiring converges in O(log d)
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val plain = DedupOps.connectedComponents(chain, iterations = 5)
      .select("cluster_id").distinct().count()
    plain should be > 1L                      // 5 rounds < diameter: still split
    val star = DedupOps.connectedComponentsStar(chain, maxRounds = 10)
      .orderBy("id").as[(Long, Long)].collect()
    star.map(_._1) shouldBe (0L to 63L).toArray
    all(star.map(_._2)) shouldBe 0L           // one component, min label
  }

  test("connectedComponentsStar matches connectedComponents on mixed graphs") {
    // chain + clique + isolated edge + self-loop-only node
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L), (30L, 30L))
      .toDF("id1", "id2")
    val star = DedupOps.connectedComponentsStar(pairs)
      .orderBy("id").as[(Long, Long)].collect()
    star shouldBe Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L), (30L, 30L))
  }

  test("connectedComponents clusters real minhash dup pairs") {
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, body), (2L, body), (3L, body),   // 3-clique of dups
      (7L, "something else entirely different here now friends"),
      (8L, "something else entirely different here now friends"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashDedupPairs(df, "doc_id", "text",
      n = 3, numHashes = 16, bands = 4, threshold = 0.9)
      .select("id1", "id2")
    val keep = DedupOps.connectedComponents(pairs, iterations = 2)
      .groupBy("cluster_id").agg(min(col("id")).as("keep_id"))
      .orderBy("cluster_id").as[(Long, Long)].collect()
    keep shouldBe Array((1L, 1L), (7L, 7L))   // one representative per cluster
  }

  test("simhash: identical docs share signature, disjoint docs differ") {
    val df = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omicron sigma tau upsilon phi"))
      .toDF("doc_id", "text")
    val sigs = DedupOps.simhashSignatures(df, "doc_id", "text", bits = 16)
      .orderBy("id").as[(Long, Long)].collect()
    sigs(0)._2 shouldBe sigs(1)._2
    sigs(0)._2 should not be sigs(2)._2
  }

  test("simhashNearDupPairs: banding equals the brute-force hamming filter (pigeonhole)") {
    // fixture slice with real near-dup structure: banding may only prune
    // candidates the hamming filter would reject anyway
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
      .filter(col("doc_id") < 120)
    val banded = DedupOps.simhashNearDupPairs(docs, "doc_id", "text",
        bits = 60, bands = 4, maxHamming = 3)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect()
    val sig = DedupOps.simhashSignatures(docs, "doc_id", "text", bits = 60)
    val brute = sig.as("a").join(sig.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect()
    banded shouldBe brute
    banded.length should be > 0
  }

  test("simhashNearDupPairs: identical docs pair at hamming 0, disjoint docs don't pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashNearDupPairs(df, "doc_id", "text",
        bits = 60, bands = 4, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    pairs shouldBe Array((1L, 2L, 0L))
  }

  test("segmentDedup drops corpus-wide boilerplate segments, keeps doc-local text") {
    // "HEADER X Y" opens every doc (boilerplate); bodies are unique
    val df = Seq(
      (1L, "HEADER X Y alpha beta gamma"),
      (2L, "HEADER X Y delta epsilon zeta"),
      (3L, "HEADER X Y eta theta iota"),
      (4L, "HEADER X Y"))    // nothing but boilerplate → dropped entirely
      .toDF("doc_id", "text")
    val out = DedupOps.segmentDedup(df, "doc_id", "text",
        segWords = 3, maxDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    out shouldBe Array(
      (1L, "alpha beta gamma", 1L, 1L),
      (2L, "delta epsilon zeta", 1L, 1L),
      (3L, "eta theta iota", 1L, 1L))
  }

  test("segmentDedup: duplicate segments within ONE doc count once toward the df cap") {
    val df = Seq(
      (1L, "rep rep rep rep rep rep rep rep rep"),  // 3 identical segments, 1 doc
      (2L, "unrelated words entirely here friend yes"))
      .toDF("doc_id", "text")
    val out = DedupOps.segmentDedup(df, "doc_id", "text",
        segWords = 3, maxDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect()
    // doc-frequency of "rep rep rep" is 1 (distinct docs), not 3 → kept
    out.map(_._1) shouldBe Array(1L, 2L)
    out(0)._3 shouldBe 3L
  }

  test("keepBestPerCluster keeps the top-score member transitively, singletons survive") {
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L),   // cluster {1,2,3} via 1-2, 2-3
      (4L, 7L),                          // singleton
      (5L, 5L), (6L, 5L))                // cluster {5,6}, score tie → min id
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val out = DedupOps.keepBestPerCluster(docs, "id", "score", pairs)
      .select("id", "score", "n_members")
      .orderBy("id").as[(Long, Long, Long)].collect()
    // doc 3 never shares an edge with 2's cluster-mate 1, but the closure
    // still ranks it against both; 2 wins on score
    out shouldBe Array((2L, 99L, 3L), (4L, 7L, 1L), (5L, 5L, 2L))
  }

  test("boilerplateBySource: templates count within a source, never across sources") {
    val docs = Seq(
      (1L, "s1", "nav bar one body text a"),
      (2L, "s1", "nav bar one other words b"),
      (3L, "s1", "nav bar one more stuff c"),
      (4L, "s2", "nav bar one unrelated site d")).toDF("doc_id", "source", "text")
    // "nav bar one" repeats in 3 s1 docs -> s1 boilerplate; the single s2
    // occurrence never pools with s1's count
    val out = DedupOps.boilerplateBySource(docs, "doc_id", "text", "source",
        segWords = 3, minDocs = 3)
      .as[(String, String, Long)].collect()
    out shouldBe Array(("s1", "nav bar one", 3L))
  }

  test("contaminationReport: per-eval-doc leak fraction; clean eval docs report 0") {
    val corpus = Seq(
      (101L, "p q r s extra words here"),
      (102L, "k l m unrelated tail")).toDF("doc_id", "text")
    val eval_ = Seq(
      (1L, "p q r s"),    // grams: pqr, qrs — both leak -> 1.0
      (2L, "p q r zz"),   // grams: pqr (leaks), "q r zz" (doesn't) -> 0.5
      (3L, "u v w x"))    // nothing leaks -> 0.0
      .toDF("doc_id", "text")
    val out = DedupOps.contaminationReport(corpus, "text", eval_, "doc_id",
        "text", n = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    out shouldBe Array(
      (1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0))
  }

  test("duplicateSpans: chained dup grams merge into one maximal span; within-doc-only repeats don't count") {
    // docs 1 and 2 share the 6-token run "p q r s t u" (three chained
    // 4-grams -> ONE span of 6 tokens); doc 3 repeats its own 4-gram twice
    // but shares it with no other doc (df=1 -> no span); doc 1 additionally
    // shares an isolated 4-gram "k l m n" with doc 2 far from the run
    val docs = Seq(
      (1L, "p q r s t u a1 b1 c1 d1 k l m n e1"),
      (2L, "x2 k l m n y2 z2 p q r s t u w2"),
      (3L, "f g h i j3 f g h i j3")).toDF("doc_id", "text")
    val out = DedupOps.duplicateSpans(docs, "doc_id", "text", n = 4, minDf = 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long, Long)].collect()
    out shouldBe Array(
      (1L, 0L, 5L, 6L, 3L),   // "p q r s t u": grams at 0,1,2 chain
      (1L, 10L, 13L, 4L, 1L), // isolated "k l m n"
      (2L, 1L, 4L, 4L, 1L),   // "k l m n" in doc 2
      (2L, 7L, 12L, 6L, 3L))  // the shared run again
    // doc 3 absent: its repeat never leaves the document
  }

  test("winnowNearDupPairs: a shared passage pairs its docs; unrelated docs never pair") {
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"unique prefix one $passage unique suffix alpha"),
      (2L, s"other beginning here $passage completely different tail"),
      (3L, "nothing in common with the others whatsoever in any way"))
      .toDF("doc_id", "text")
    val out = DedupOps.winnowNearDupPairs(docs, "doc_id", "text",
        k = 8, w = 16, minShared = 2, maxFpDf = 50)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect()
    // the winnowing guarantee: a shared substring of length >= k+w-1 (23)
    // contributes shared fingerprints — the 60-char passage yields several
    out.map(r => (r._1, r._2)) shouldBe Array((1L, 2L))
    out.head._3 should be >= 2L
  }

  test("winnowNearDupPairs off a precomputed fingerprint artifact is " +
    "output-identical to the one-shot form") {
    // the shared-artifact seam (SparkEntry memoizes winnowFingerprints
    // across q_winnow_fingerprints and q_winnow_pairs): handing the
    // precomputed frame in must change nothing but where the winnow pass
    // is paid
    val docs = graft.sources.Stores.table(spark, sf0001, "documents")
    val oneShot = DedupOps.winnowNearDupPairs(docs, "doc_id", "text",
        k = 8, w = 16, minShared = 10, maxFpDf = 20)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect()
    val fp = graft.ext.TextOps.winnowFingerprints(
      docs, "doc_id", "text", k = 8, w = 16)
    DedupOps.winnowNearDupPairs(fp, "doc_id", minShared = 10, maxFpDf = 20)
      .orderBy("id1", "id2").as[(Long, Long, Long)]
      .collect() shouldBe oneShot
    oneShot.length should be > 0
  }

  test("lshRecallAudit: identical pairs score perfect; one all-matching band misses moderate similarity") {
    val near = Seq(
      (1L, "p q r s t u v w"), (2L, "p q r s t u v w"), // identical pair
      (3L, "completely different words here now"))
      .toDF("doc_id", "text")
    val perfect = DedupOps.lshRecallAudit(near, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.4, maxDf = 50)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    perfect shouldBe ((1L, 1L, 1L, Some(1.0), Some(1.0)))
    // bands=1 demands all 16 minhashes agree: a ~0.45-Jaccard pair is a
    // true near-dup the banding cannot surface — the audit reports the miss
    val partial = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h zz yy xx ww"),
      (3L, "totally unrelated filler text")).toDF("doc_id", "text")
    val audited = DedupOps.lshRecallAudit(partial, "doc_id", "text",
        n = 3, numHashes = 16, bands = 1, threshold = 0.3, maxDf = 50)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    audited._1 shouldBe 1L          // exact Jaccard sees the pair
    audited._2 shouldBe 0L          // one 16-wide band does not
    audited._4 shouldBe Some(0.0)   // recall 0 — the knob-justifying signal
    audited._5 shouldBe None        // no estimated pairs → no precision
  }

  test("cutDupSpans: duplicated spans excise, clean docs pass verbatim, full dups empty out") {
    val docs = Seq(
      (1L, "p q r s t u a1 b1 c1 d1 k l m n e1"), // two spans cut
      (2L, "x2 k l m n y2 z2 p q r s t u w2"),
      (3L, "clean words that never repeat anywhere"), // untouched
      (4L, "p q r s t u"))                            // fully duplicated
      .toDF("doc_id", "text")
    val out = DedupOps.cutDupSpans(docs, "doc_id", "text", n = 4, minDf = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long, Long)].collect()
    out(0) shouldBe ((1L, "a1 b1 c1 d1 e1", 15L, 5L, 10L))
    out(1) shouldBe ((2L, "x2 y2 z2 w2", 14L, 4L, 10L))
    out(2) shouldBe ((3L, "clean words that never repeat anywhere", 6L, 6L, 0L))
    out(3) shouldBe ((4L, "", 6L, 0L, 6L))
    // conservation: kept + cut = total, always
    all(out.map(r => r._4 + r._5 == r._3)) shouldBe true
  }

  test("duplicateSpans: span_end clamps to doc length when the dup gram is the truncated tail gram") {
    // a doc SHORTER than n yields one truncated gram (kernel convention);
    // shared across docs it must clamp, not overrun the doc
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = DedupOps.duplicateSpans(docs, "doc_id", "text", n = 4, minDf = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long)].collect()
    out shouldBe Array((1L, 0L, 1L, 2L, 1L), (2L, 0L, 1L, 2L, 1L))
  }

  test("dupTokenRatio: clean docs surface with ratio 0, offenders with span share") {
    val docs = Seq(
      (1L, "p q r s t u v w"),    // 6 of 8 tokens in the shared span
      (2L, "p q r s t u x y"),
      (3L, "only clean tokens here nothing shared")).toDF("doc_id", "text")
    val out = DedupOps.dupTokenRatio(docs, "doc_id", "text", n = 4, minDf = 2)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    out shouldBe Array(
      (1L, 8L, 6L, 0.75), (2L, 8L, 6L, 0.75), (3L, 6L, 0L, 0.0))
  }

  test("duplicateSpans plan: gram kernel is computed behind ONE reused exchange") {
    val docs = Seq((1L, "p q r s t u"), (2L, "p q r s t u")).toDF("doc_id", "text")
    val spans = DedupOps.duplicateSpans(docs, "doc_id", "text", n = 4, minDf = 2)
    spans.collect() // force AQE to finalize
    val plan = spans.queryExecution.executedPlan.toString
    // the df-agg branch and the hit-join branch must share the pinned
    // gram exchange rather than re-running posexplode + md5
    plan should include("ReusedExchange")
  }

  test("linkageScores: rare-field agreement outweighs common-field agreement") {
    import spark.implicits._
    // field `com` is near-constant (u ≈ 1 → tiny agreement weight),
    // field `rare` is distinct per entity (u small → big weight)
    val df = Seq(
      (1L, "b1", "X", "r1"), (2L, "b1", "X", "r1"),   // rare+common agree
      (3L, "b1", "X", "r2"), (4L, "b1", "Y", "r3"),   // 3-1: common only
      (5L, "b2", "X", "r4"), (6L, "b2", "X", "r5"),   // common only
      (7L, "b2", "X", null), (8L, "b2", "X", null))   // null <=> null agrees
      .toDF("id", "blk", "com", "rare")
    val out = DedupOps.linkageScores(df, "id", Seq("blk"),
        Seq("com", "rare"), m = 0.9, maxBlockSize = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    out((1L, 2L))._1 shouldBe 2L
    out((3L, 4L))._1 shouldBe 0L
    out((5L, 6L))._1 shouldBe 1L
    out((7L, 8L))._1 shouldBe 2L                      // null-safe agreement
    // full agreement on (common + rare) ≫ common-only ≫ none
    out((1L, 2L))._2 should be > out((5L, 6L))._2
    out((5L, 6L))._2 should be > out((3L, 4L))._2
    // rare-field agreement is worth more than common-field agreement:
    // (1,3) agree on common only; (7,8) agree on rare(null) + common
    out((7L, 8L))._2 should be > out((1L, 3L))._2
    // block cap: a 2-member cap drops the 4-member block b1 entirely
    val capped = DedupOps.linkageScores(df, "id", Seq("blk"),
      Seq("com", "rare"), m = 0.9, maxBlockSize = 2)
    capped.count() shouldBe 0L
  }

  test("editDistancePairs: known edits found, beyond-k dropped, short strings kept") {
    import spark.implicits._
    val dict = Seq("red widget", "red widgett", "rad widget", "blue bolt",
      "blue boltz", "completely different", "ax", "axe", "x")
      .map(Tuple1(_)).toDF("s")
    val out = DedupOps.editDistancePairs(dict, "s", maxDistance = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // substitution, insertion, and the 2-edit chain all surface
    out(("red widget", "red widgett")) shouldBe 1L
    out(("rad widget", "red widget")) shouldBe 1L
    out(("rad widget", "red widgett")) shouldBe 2L
    out(("blue bolt", "blue boltz")) shouldBe 1L
    // sub-q-length strings still pair (sentinel padding carries grams)
    out(("ax", "axe")) shouldBe 1L
    out(("ax", "x")) shouldBe 1L
    out(("axe", "x")) shouldBe 2L
    // nothing pairs with the distant string
    out.keys.flatMap(p => Seq(p._1, p._2)) should not contain
      "completely different"
  }

  test("editDistancePairs equals brute force on random dictionaries") {
    import spark.implicits._
    val rng = new scala.util.Random(29L)
    def word() = Seq.fill(3 + rng.nextInt(6))(
      ('a' + rng.nextInt(4)).toChar).mkString // tiny alphabet → many near-dups
    (1 to 3).foreach { _ =>
      val dict = Seq.fill(40)(word()).distinct
      val df = dict.map(Tuple1(_)).toDF("s")
      for (k <- Seq(1, 2)) {
        val fast = DedupOps.editDistancePairs(df, "s", maxDistance = k)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSet
        val a = df.select(col("s").as("s1"))
        val brute = a.crossJoin(df.select(col("s").as("s2")))
          .filter(col("s1") < col("s2"))
          .withColumn("ed", levenshtein(col("s1"), col("s2")).cast("long"))
          .filter(col("ed") <= k)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSet
        fast shouldBe brute
      }
    }
  }
}
