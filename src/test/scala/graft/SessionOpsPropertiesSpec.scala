package graft

import graft.ext.{SamplingOps, SimilarityOps}
import graft.ops.{GraphOps, ShardOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Cross-cutting properties of the round-8 operators: window-equivalence
 * for the heap top-k, invariants of the graph-quality metrics, and the
 * rendezvous movement bound at several shard counts.
 */
class SessionOpsPropertiesSpec extends SparkSpec {
  import spark.implicits._

  test("groupTopK is row-identical to the rank-window form") {
    // deterministic pseudo-random scores with ties across 7 groups
    val df = spark.range(0, 2000).select(
      (col("id") % 7).cast("string").as("g"),
      col("id").as("k"),
      ((col("id") * 37 % 101) / 10.0).as("s"))
    val heap = SamplingOps.groupTopK(df, "g", "k", "s", k = 5)
      .select("g", "k", "s", "rank")
    val win = df.withColumn("rank",
        row_number().over(Window.partitionBy("g")
          .orderBy(col("s").desc, col("k").asc)).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("g"), col("k"), col("s").cast("double").as("s"), col("rank"))
    heap.orderBy("g", "rank").collect() shouldBe
      win.orderBy("g", "rank").collect()
  }

  test("modularity: total Q of the true clustering beats a random cut and is ≤ 1") {
    // ring of 4 cliques of 5, one bridge edge between consecutive cliques
    val cliques = for {
      c <- 0 until 4; i <- 0 until 5; j <- i + 1 until 5
    } yield (c * 5 + i.toLong, c * 5 + j.toLong)
    val bridges = (0 until 4).map(c => (c * 5 + 4L, ((c + 1) % 4) * 5L))
    val edges = (cliques ++ bridges).toDF("s", "t")
    val nodes = (0L until 20L).toDF("n")
    val byClique = nodes.select($"n", (($"n" / 5).cast("long")).as("c"))
    val random = nodes.select($"n", ($"n" % 2).as("c"))
    def q(assign: org.apache.spark.sql.DataFrame): Double =
      GraphOps.modularity(edges, "s", "t", assign, "n", "c")
        .agg(sum($"q_term")).as[Double].collect().head
    val qTrue = q(byClique)
    val qRand = q(random)
    qTrue should be > qRand
    qTrue should (be > 0.5 and be <= 1.0)
  }

  test("kCoreBounded reaches a fixed point once rounds cover the peel depth") {
    // chain 1-2-3-...-10 hanging off a K5 core: k=2 peels the chain one
    // node per round (depth 9), K5 never shrinks
    val k5 = for (i <- 0 until 5; j <- i + 1 until 5) yield (i.toLong, j.toLong)
    val chain = (0 until 9).map(i => (100L + i, 101L + i)) :+ (0L, 100L)
    val edges = (k5 ++ chain).toDF("s", "t")
    val deep = GraphOps.kCoreBounded(edges, "s", "t", k = 2, rounds = 12)
      .orderBy("node").as[(Long, Long)].collect()
    val deeper = GraphOps.kCoreBounded(edges, "s", "t", k = 2, rounds = 13)
      .orderBy("node").as[(Long, Long)].collect()
    deep shouldBe deeper // fixed point
    deep.map(_._1).toSet shouldBe Set(0L, 1L, 2L, 3L, 4L)
    all(deep.map(_._2)) shouldBe 4L
  }

  test("rendezvousShard movement stays ~1/(N+1) across shard counts") {
    val keys = spark.range(0, 2000)
    for (n <- Seq(4, 8, 24)) {
      val moved = keys.select(
          ShardOps.rendezvousShard($"id", n).as("a"),
          ShardOps.rendezvousShard($"id", n + 1).as("b"))
        .filter($"a" =!= $"b")
      // every move lands on the new shard...
      moved.filter($"b" =!= n).count() shouldBe 0L
      // ...and the moved fraction is within 2x of the ideal 1/(n+1)
      val frac = moved.count().toDouble / 2000.0
      withClue(s"n=$n moved frac $frac: ") {
        frac should (be > 0.3 / (n + 1) and be < 2.0 / (n + 1))
      }
    }
  }

  test("mergeComponents equals full re-clustering on the union of pairs") {
    import graft.ext.DedupOps
    // batch 1: two chains {1-2-3}, {10-11} and a pair {20-21}
    val pairs1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id1", "id2")
    val asg1 = DedupOps.connectedComponentsStar(pairs1)
    // batch 2: bridges the two chains (3-10), extends a cluster with a
    // brand-new node (21-22), and adds a disjoint new pair (30-31) —
    // plus a new node SMALLER than every old root in its merged cluster
    // (0-20): the merged label must become 0, not 20
    // — and degenerate evidence: null endpoints beside an old node (11)
    // and a new one (50), a pair inside one old cluster (1-3: a self-loop
    // once contracted) and a literal self-loop of a new node (40-40)
    val pairs2 = Seq((3L, 10L), (21L, 22L), (30L, 31L), (0L, 20L))
      .toDF("id1", "id2")
      .unionByName(Seq[(Option[Long], Option[Long])]((None, Some(11L)),
        (Some(50L), None), (Some(1L), Some(3L)), (Some(40L), Some(40L)))
        .toDF("id1", "id2"))
    val merged = DedupOps.mergeComponents(asg1, pairs2)
      .orderBy("id").as[(Option[Long], Option[Long])].collect()
    val full = DedupOps
      .connectedComponentsStar(pairs1.unionByName(pairs2))
      .orderBy("id").as[(Option[Long], Option[Long])].collect()
    merged shouldBe full
    merged.head shouldBe ((None, None)) // the null endpoint's one row
    val byId = merged.collect { case (Some(id), Some(c)) => id -> c }.toMap
    byId(11L) shouldBe 1L // bridged chains share the global min label
    byId(20L) shouldBe 0L // label dropped to the smaller NEW id
    byId(22L) shouldBe 0L // the extension rides along
    byId(0L) shouldBe 0L
    byId(31L) shouldBe 30L
    byId(40L) shouldBe 40L
    byId(50L) shouldBe 50L
  }

  test("mergeComponents over the finisher cap: the star rounds label every component") {
    import graft.ext.DedupOps
    import graft.ops.StatsOps
    // old clusters {10, 11, 12} and {20, 21}
    val asg = Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
      .toDF("id", "cluster_id")
    // cap + 1 disjoint new pairs (1000 + 2k, 1001 + 2k) — too many to
    // collect — plus one pair bridging the two old clusters
    val disjoint = StatsOps.FinisherGridCap + 1L
    val pairs = spark.range(disjoint)
      .select((col("id") * 2 + 1000L).as("id1"), (col("id") * 2 + 1001L).as("id2"))
      .unionByName(Seq((12L, 21L)).toDF("id1", "id2"))
    val (merged, Harness.Profile(jobs, _, _)) = Harness.profiled(spark.sparkContext)(
      DedupOps.mergeComponents(asg, pairs).persist())
    try {
      atLeast(1, jobs.map(_.site)) should fullyMatch regex
        "localCheckpoint at Iterate\\.scala:\\d+"
      val fresh = merged.filter(col("id") >= 1000L)
      fresh.count() shouldBe 2 * disjoint
      // each new pair is labelled by its min, the even id
      fresh.filter(col("cluster_id") =!= col("id") - col("id") % 2).count() shouldBe 0L
      // the bridged cluster takes its global min
      merged.filter(col("id") < 1000L).orderBy("id").as[(Long, Long)].collect() shouldBe
        Array((10L, 10L), (11L, 10L), (12L, 10L), (20L, 10L), (21L, 10L))
    } finally merged.unpersist()
  }

  test("blocklistFilterAC is output-identical to the literal-fold form") {
    val docs = Seq(
      (1L, "ushers walk home"),            // 'she', 'he', 'hers' overlap
      (2L, "nothing banned here at all!"), // 'he' inside 'here'
      (3L, "clean text"),
      (4L, "she said he heard hers"),
      (5L, "HE is case sensitive"))
      .toDF("doc_id", "text")
    // overlapping phrases + a duplicate listed twice + multi-byte UTF-8
    val phrases = Seq("he", "she", "hers", "hers", "héllo", "walk")
    val ac = graft.ext.TextOps
      .blocklistFilterAC(docs, "doc_id", "text", phrases)
      .orderBy("doc_id").collect()
    val lit = graft.ext.TextOps
      .blocklistFilter(docs, "doc_id", "text", phrases)
      .orderBy("doc_id").collect()
    ac shouldBe lit
    // the classic AC case: 'ushers' hits she, he, hers (twice — listed
    // twice) and the doc also hits 'walk'
    ac.head.getString(2) shouldBe "he,hers,hers,she,walk"
    // scale shape: a 2000-phrase list still matches correctly in one pass
    val big = (0 until 2000).map(i => s"zq${i}x") :+ "walk"
    val acBig = graft.ext.TextOps
      .blocklistFilterAC(docs, "doc_id", "text", big)
      .orderBy("doc_id").collect()
    acBig.head.getString(2) shouldBe "walk"
    acBig(2).getBoolean(3) shouldBe true // doc 3 clean
  }

  test("powerIterationTopPC recovers a planted dominant direction") {
    // 200 vectors stretched along axis 3 (amplitude ±10) with small
    // deterministic noise elsewhere — the top PC must align with axis 3
    val dim = 8
    val rows = (0 until 200).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      Tuple1(Seq.tabulate(dim)(d =>
        if (d == 3) 10.0f * sign
        else 0.05f * (((i * 13 + d * 7) % 11) - 5)))
    }.toDF("embedding")
    val pc = graft.ext.SimilarityOps
      .powerIterationTopPC(rows, "embedding", dim, iters = 3)
      .orderBy("dim").as[(Long, Double)].collect()
    pc.length shouldBe dim
    val comps = pc.map(_._2)
    // unit norm (to rounding) and dominated by axis 3 (dim index 4)
    math.abs(comps.map(c => c * c).sum - 1.0) should be < 1e-3
    math.abs(comps(3)) should be > 0.99
    comps.zipWithIndex.filter(_._2 != 3).foreach { case (c, _) =>
      math.abs(c) should be < 0.1
    }
    // deterministic: identical on a repartitioned input
    val pc2 = graft.ext.SimilarityOps
      .powerIterationTopPC(rows.repartition(7), "embedding", dim, iters = 3)
      .orderBy("dim").as[(Long, Double)].collect()
    pc2 shouldBe pc
  }

  test("weightedRendezvousShard: shares track weights; re-weighting moves keys only in/out of the changed shard") {
    val keys = spark.range(0, 4000)
    val w = Seq(4.0, 2.0, 1.0, 1.0)
    val counts = keys
      .select(ShardOps.weightedRendezvousShard($"id", w).as("s"))
      .groupBy("s").count().as[(Long, Long)].collect().toMap
    counts.keySet shouldBe Set(0L, 1L, 2L, 3L)
    // expected shares 1/2, 1/4, 1/8, 1/8 — each within a loose 25% band
    val exp = Map(0L -> 2000.0, 1L -> 1000.0, 2L -> 500.0, 3L -> 500.0)
    exp.foreach { case (s, e) =>
      withClue(s"shard $s got ${counts(s)}, expected ~$e: ") {
        counts(s).toDouble should (be > e * 0.75 and be < e * 1.25)
      }
    }
    // double shard 2's capacity: keys may move INTO shard 2 but never
    // between the untouched shards
    val moved = keys.select(
        ShardOps.weightedRendezvousShard($"id", w).as("a"),
        ShardOps.weightedRendezvousShard($"id",
          Seq(4.0, 2.0, 2.0, 1.0)).as("b"))
      .filter($"a" =!= $"b")
    moved.filter($"b" =!= 2L).count() shouldBe 0L
    moved.count() should be > 0L
    // remove shard 2 entirely (weight 0): ONLY keys that lived on shard 2
    // move, and they redistribute across the survivors — the minimal-
    // disruption guarantee a 1000-node cluster drain depends on
    val drained = keys.select(
        ShardOps.weightedRendezvousShard($"id", w).as("a"),
        ShardOps.weightedRendezvousShard($"id",
          Seq(4.0, 2.0, 0.0, 1.0)).as("b"))
    drained.filter($"a" =!= $"b" && $"a" =!= 2L).count() shouldBe 0L
    drained.filter($"b" === 2L).count() shouldBe 0L
    val rehomed = drained.filter($"a" === 2L)
      .groupBy("b").count().as[(Long, Long)].collect().toMap
    rehomed.keySet shouldBe Set(0L, 1L, 3L)
    // regression: a live shard whose tiny score 9dp-ROUNDS to 0.0 must
    // still beat the drained shard (the drained score is a literal −1,
    // not 0 — at 0 the smaller-id tie-break routed keys to the drain)
    keys.select(ShardOps.weightedRendezvousShard($"id",
        Seq(0.0, 1e-12)).as("s"))
      .filter($"s" === 0L).count() shouldBe 0L
  }

  test("marginTopPairs: a planted duplicate scores a higher margin than diffuse queries") {
    // corpus: 8 vectors on DISTINCT axes (mutually near-orthogonal);
    // queries: an exact copy of corpus vec 100 and a uniform vector
    // equidistant from everything
    val dim = 8
    def unit(i: Int): Seq[Float] =
      Seq.tabulate(dim)(d => if (d == i) 1.0f else 0.0f)
    val corpus = (0 until 8).map(i => (100L + i,
      unit(i).zipWithIndex.map { case (v, d) =>
        v + 0.01f * ((i * 31 + d * 7) % 10) }.toSeq))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      (1L, corpus.filter($"vec_id" === 100L).select("embedding")
        .as[Seq[Float]].collect().head),
      (2L, Seq.fill(dim)(1.0f).toSeq))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.marginTopPairs(queries, corpus,
        "vec_id", "embedding", k = 4)
      .orderBy("query_id")
      .as[(Long, Long, Double, Double, Long)].collect()
    out.length shouldBe 2
    out(0)._2 shouldBe 100L           // the planted dup is the best match
    out(0)._3 shouldBe 1.0 +- 1e-6    // cosine 1 with itself
    out(0)._4 should be > out(1)._4   // dup margin beats the diffuse query
  }
}
