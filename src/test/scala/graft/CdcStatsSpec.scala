package graft

import graft.ops.{CdcOps, StatsOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** CDC (SCD2 / snapshot diff) and distribution-shaping (winsorize /
  * skyline) operators over synthetic frames — covers the shapes the
  * fixture-backed oracle queries can't hit (deletes, null attribute
  * versions, dominance edge cases). */
class CdcStatsSpec extends SparkSpec {
  import spark.implicits._

  test("scd2History collapses runs, versions null values, marks current") {
    val ev = Seq(
      // key 1: A A B A — four events, three versions
      (1L, Option("A"), 10L, 1L), (1L, Option("A"), 20L, 2L),
      (1L, Option("B"), 30L, 3L), (1L, Option("A"), 40L, 4L),
      // key 2: null null C — null is a real collapsed version
      (2L, None, 10L, 5L), (2L, None, 20L, 6L), (2L, Option("C"), 30L, 7L))
      .toDF("k", "attr", "ts", "seq")
    val hist = CdcOps.scd2History(ev, "k", "attr", "ts", "seq")
      .orderBy("k", "version")
      .select("k", "version", "attr", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
    hist shouldBe Array(
      (1L, 1L, Some("A"), 10L, 30L, false),
      (1L, 2L, Some("B"), 30L, 40L, false),
      (1L, 3L, Some("A"), 40L, -1L, true),
      (2L, 1L, None, 10L, 30L, false),
      (2L, 2L, Some("C"), 30L, -1L, true))
  }

  test("snapshotDiff emits I/U/D with per-column attribution") {
    val before = Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
      .toDF("k", "s", "n")
    val after = Seq((1L, "x", 10), (2L, "y2", 20), (4L, "w", 40))
      .toDF("k", "s", "n")
    val diff = CdcOps.snapshotDiff(before, after, "k")
      .orderBy("k").as[(Long, String, String)].collect()
    // key 1 unchanged → dropped; 2 updated (s only); 3 deleted; 4 inserted
    diff shouldBe Array((2L, "U", "s"), (3L, "D", ""), (4L, "I", ""))
  }

  test("snapshotDiff attributes multi-column and null-transition changes") {
    val before = Seq((1L, Option("x"), Option(10))).toDF("k", "s", "n")
    val after = Seq((1L, Option.empty[String], Option(11))).toDF("k", "s", "n")
    CdcOps.snapshotDiff(before, after, "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))) shouldBe
      Array((1L, "U", "s,n"))
  }

  test("skyline2D matches brute-force dominance on a synthetic cloud") {
    // deterministic pseudo-random points incl. duplicates and x-ties
    val pts = (0 until 400).map { i =>
      val x = (i * 2654435761L) % 97
      val y = (i * 40503L) % 89
      (i.toLong, x, y)
    } ++ Seq((400L, 0L, 88L), (401L, 0L, 88L)) // duplicate frontier points
    val df = pts.toDF("id", "x", "y").repartition(7)
    val got = StatsOps.skyline2D(df, "x", "y")
      .select("id").as[Long].collect().sorted
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        x2 <= x && y2 >= y && (x2 < x || y2 > y)
      }
    }.map(_._1).sorted
    got shouldBe brute.toArray
    brute.nonEmpty shouldBe true
  }

  test("winsorize clips to per-group quantile bounds and keeps columns") {
    val df = (1 to 100).map(i => (i.toLong, "g", i.toDouble))
      .toDF("id", "grp", "v")
    val w = StatsOps.winsorize(df, "grp", "v", 0.05, 0.95)
    w.columns should contain allOf ("id", "grp", "v", "v_w")
    val vw = w.orderBy("id").select("v_w").as[Double].collect()
    // percentile(0.05) of 1..100 = 5.95, percentile(0.95) = 95.05
    vw.min shouldBe 5.95 +- 1e-9
    vw.max shouldBe 95.05 +- 1e-9
    vw.count(x => x > 6 && x < 95) shouldBe 88 // interior (7..94) untouched
  }

  test("mergeAggState equals direct aggregate and keeps schema fixed") {
    val rows = (1 to 200).map(i =>
      (i % 7L, 1L, BigDecimal(i).setScale(2)))
    val full = rows.toDF("k", "n", "s")
      .select(col("k"), col("n"),
        col("s").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("s"))
    def agg0(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(sum("n").as("n"),
        sum("s").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("s"))
    val (p1, p2) = (full.filter($"n" =!= 0 && $"k" < 100 && $"s" < 90),
      full.filter($"s" >= 90))
    var state = CdcOps.mergeAggState(agg0(p1), agg0(p2), Seq("k"))
    state.schema shouldBe agg0(full).schema // fixed point under merging
    // a second merge with an empty-overlap delta keeps values stable
    state = CdcOps.mergeAggState(state,
      agg0(full.filter(lit(false))), Seq("k"))
    state.orderBy("k").collect() shouldBe agg0(full).orderBy("k").collect()
  }

  test("triangleCounts matches brute force on a synthetic graph") {
    // K4 on {1,2,3,4} (4 triangles), a pendant (5), a square {6,7,8,9}
    // (no triangle), duplicate + reversed + self-loop noise
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (7L, 8L), (8L, 9L), (9L, 6L),
      (2L, 1L), (3L, 1L), (5L, 5L))
    val got = graft.ops.GraphOps
      .triangleCounts(edges.toDF("s", "t"), "s", "t")
      .orderBy("node").as[(Long, Long)].collect()
    // each K4 vertex sits in C(3,2) = 3 of the 4 triangles
    got shouldBe Array((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
  }

  test("pageRankScaled: hub dominates, mass conserved, partition-invariant") {
    // star: hub 1 ↔ leaves 2..21, plus a detached triangle 100-101-102
    val edges = ((2L to 21L).map(l => (1L, l)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))).toDF("s", "t")
    val pr = graft.ops.GraphOps.pageRankScaled(edges, "s", "t", 5)
      .orderBy("node").as[(Long, Long)].collect()
    val byNode = pr.toMap
    // hub collects the leaves' full mass each round
    byNode(1L) should be > byNode(2L) * 10
    // symmetric positions rank identically (exact integer arithmetic)
    byNode(2L) shouldBe byNode(21L)
    byNode(100L) shouldBe byNode(102L)
    // triangle nodes hold the symmetric fixed point: 1.0 in rank units
    byNode(100L) shouldBe 1000000000000L +- 5L
    // total mass stays ~#nodes (floor divisions only ever lose mass)
    val total = pr.map(_._2).sum
    total should be <= 24L * 1000000000000L
    total should be > (24L * 1000000000000L * 9) / 10
    // exact integer arithmetic: identical under repartition
    val pr2 = graft.ops.GraphOps
      .pageRankScaled(edges.toDF("s", "t").repartition(7), "s", "t", 5)
      .orderBy("node").as[(Long, Long)].collect()
    pr2 shouldBe pr
  }

  test("PreparedGraph: one shared canonical-edge cache feeds the whole " +
    "iterative family with identical results") {
    import graft.ops.GraphOps
    // star + detached triangle + chain — exercises hubs, isolation, depth
    val edges = ((2L to 21L).map(l => (1L, l)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L),
        (30L, 31L), (31L, 32L), (32L, 33L))).toDF("s", "t")
    val seeds = Seq(1L, 30L).toDF("node")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    // edges-form baselines FIRST: each one wraps a throwaway artifact over
    // the SAME canonical plan, and its end-of-call unpersist would evict
    // the shared entry out from under a live artifact built earlier
    // (CacheManager keys by canonicalized plan, not by Dataset identity)
    val base = (
      sorted(GraphOps.pageRankScaled(edges, "s", "t", 5)),
      sorted(GraphOps.personalizedPageRankScaled(
        edges, "s", "t", seeds, "node", 3)),
      sorted(GraphOps.kCoreBounded(edges, "s", "t", k = 2, rounds = 2)),
      sorted(GraphOps.labelPropagation(edges, "s", "t", 3)),
      sorted(GraphOps.bfsHops(edges, "s", "t", seeds, "node", 3)))
    val g = GraphOps.prepared(edges, "s", "t")
    try {
      sorted(GraphOps.pageRankScaled(g, 5)) shouldBe base._1
      sorted(GraphOps.personalizedPageRankScaled(
        g, seeds, "node", 3)) shouldBe base._2
      sorted(GraphOps.kCoreBounded(g, k = 2, rounds = 2)) shouldBe base._3
      sorted(GraphOps.labelPropagation(g, 3)) shouldBe base._4
      sorted(GraphOps.bfsHops(g, seeds, "node", 3)) shouldBe base._5
      // plan assertion: after the family ran, any consumer planned over
      // the artifact answers from the cache — one materialized
      // canonicalize+distinct+double exchange shared by the family, not
      // five private re-derivations. (Probed through FRESH dependent
      // frames: a persisted df's own pre-built QueryExecution never
      // re-substitutes the cache it itself registered.)
      val biConsumer = g.bi.groupBy("u").count()
        .queryExecution.executedPlan.toString
      biConsumer should include("InMemoryTableScan")
      val degConsumer = g.deg.filter(col("deg") > 1)
        .queryExecution.executedPlan.toString
      degConsumer should include("InMemoryTableScan")
    } finally g.unpersist()
  }

  test("graph operators complete 50 rounds with exact results") {
    import graft.ops.GraphOps
    // 50 rounds is the cap every bounded graph operator allows. Each round
    // must cut BOTH the plan and the RDD chain: a lazily composed loop
    // re-executes every predecessor, and a plan-only cut still ships the
    // whole RDD chain in each task binary, whose deserialization overflows
    // the stack around round 50.
    val edges = ((2L to 21L).map(l => (1L, l)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))).toDF("s", "t")
    val pr = GraphOps.pageRankScaled(edges, "s", "t", 50)
      .orderBy("node").as[(Long, Long)].collect()
    val byNode = pr.toMap
    byNode(100L) shouldBe 1000000000000L +- 50L
    byNode(1L) should be > byNode(2L) * 10
    byNode(2L) shouldBe byNode(21L)

    // a 51-node chain 0-1-…-50, seeded at node 0: the far end is 50 hops out
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("s", "t")
    val seed = Seq(0L).toDF("node")
    val ppr = GraphOps.personalizedPageRankScaled(
        chain, "s", "t", seed, "node", 50)
      .orderBy("node").as[(Long, Long)].collect()
    ppr.length shouldBe 51
    // driver-side replay of the same integer recurrence
    val deg = (0 to 50).map(n => if (n == 0 || n == 50) 1L else 2L)
    val replay = (1 to 50).foldLeft(
      (0 to 50).map(n => if (n == 0) 1000000000000L else 0L)) { (r, _) =>
      (0 to 50).map { v =>
        val s = Seq(v - 1, v + 1).filter(u => u >= 0 && u <= 50)
          .map(u => r(u) / deg(u)).sum
        (if (v == 0) 150000000000L else 0L) + (85 * s) / 100
      }
    }
    ppr.head shouldBe ((0L, replay(0)))

    val bfs = GraphOps.bfsHops(chain, "s", "t", seed, "node", 50)
      .orderBy("node").as[(Long, Long)].collect()
    bfs.length shouldBe 51
    bfs.last shouldBe ((50L, 50L))

    // k = 1 keeps every node of a chain; the ends have degree 1
    val core = GraphOps.kCoreBounded(chain, "s", "t", k = 1, rounds = 50)
      .orderBy("node").as[(Long, Long)].collect()
    core.length shouldBe 51
    core.head shouldBe ((0L, 1L))

    // synchronous LPA on a bipartite chain oscillates, so no closed form —
    // but the rounds are exact, so the partitioning cannot matter
    val lpa = GraphOps.labelPropagation(chain, "s", "t", 50)
      .orderBy("node").as[(Long, Long)].collect()
    lpa.length shouldBe 51
    GraphOps.labelPropagation(chain.repartition(7), "s", "t", 50)
      .orderBy("node").as[(Long, Long)].collect() shouldBe lpa
  }

  test("modularity: disjoint cliques score the clique bound, one-blob scores zero") {
    // two disjoint triangles; m = 6
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("s", "t")
    val perfect = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("n", "c")
    val got = graft.ops.GraphOps.modularity(edges, "s", "t", perfect, "n", "c")
      .orderBy("cluster")
      .select("cluster", "n_nodes", "e_c", "d_c", "q_term")
      .as[(String, Long, Long, Long, Double)].collect()
    // per cluster: e_c/m − (d_c/2m)² = 3/6 − (6/12)² = 0.25
    got shouldBe Array(("a", 3L, 3L, 6L, 0.25), ("b", 3L, 3L, 6L, 0.25))
    // everything in ONE cluster → Q = 1 − 1 = 0 (no structure found)
    val blob = perfect.select($"n", lit("x").as("c"))
    val q0 = graft.ops.GraphOps.modularity(edges, "s", "t", blob, "n", "c")
      .select("q_term").as[Double].collect()
    q0 shouldBe Array(0.0)
    // unassigned nodes drop out of every sum
    val partial = perfect.filter($"c" === "a")
    val qa = graft.ops.GraphOps.modularity(edges, "s", "t", partial, "n", "c")
      .select("cluster", "e_c", "d_c").as[(String, Long, Long)].collect()
    qa shouldBe Array(("a", 3L, 6L))
  }

  test("kCoreBounded peels the fringe; emitted degree is inside the final set") {
    // K4 {1,2,3,4} with a tail 4—5—6
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "t")
    // one k=2 round: only 6 (deg 1) peels; 5 survives the TEST at deg 2
    // but its emitted degree drops to 1 (its neighbor 6 is gone)
    val r1 = graft.ops.GraphOps.kCoreBounded(edges, "s", "t", k = 2, rounds = 1)
      .orderBy("node").as[(Long, Long)].collect()
    r1 shouldBe Array((1L, 3L), (2L, 3L), (3L, 3L), (4L, 4L), (5L, 1L))
    // two rounds reach the true 2-core (the K4 + nothing)
    val r2 = graft.ops.GraphOps.kCoreBounded(edges, "s", "t", k = 2, rounds = 2)
      .orderBy("node").as[(Long, Long)].collect()
    r2 shouldBe Array((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
    // k=3 strips the tail in one round, K4 is already the 3-core
    val r3 = graft.ops.GraphOps.kCoreBounded(edges, "s", "t", k = 3, rounds = 1)
      .orderBy("node").as[(Long, Long)].collect()
    r3 shouldBe Array((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
  }

  test("conductance: watertight clusters score 0, a split clique leaks") {
    // two disjoint triangles, perfectly clustered → cut 0, phi 0
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("s", "t")
    val perfect = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("n", "c")
    val got = graft.ops.GraphOps
      .conductance(edges, "s", "t", perfect, "n", "c")
      .orderBy("cluster")
      .select("cluster", "n_nodes", "cut_c", "vol_c", "phi")
      .as[(String, Long, Long, Long, Double)].collect()
    got shouldBe Array(("a", 3L, 0L, 6L, 0.0), ("b", 3L, 0L, 6L, 0.0))
    // split one triangle across clusters: {1} vs {2,3} — node 1's two
    // edges both leave it: cut=2, vol=2, phi=1 (pure boundary)
    val split = Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("n", "c")
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "t")
    val got2 = graft.ops.GraphOps
      .conductance(tri, "s", "t", split, "n", "c")
      .orderBy("cluster")
      .select("cluster", "cut_c", "vol_c", "phi")
      .as[(String, Long, Long, Double)].collect()
    // y: cut=2, min(vol, 2m−vol) = min(4, 2) = 2 → phi = 1 as well
    got2 shouldBe Array(("x", 2L, 2L, 1.0), ("y", 2L, 4L, 1.0))
    // an edge to an UNLABELED node still counts as leaving the cluster
    val dangling = Seq((1L, 2L), (2L, 3L)).toDF("s", "t")
    val partial = Seq((1L, "a"), (2L, "a")).toDF("n", "c")
    val got3 = graft.ops.GraphOps
      .conductance(dangling, "s", "t", partial, "n", "c")
      .select("cut_c", "vol_c").as[(Long, Long)].collect()
    got3 shouldBe Array((1L, 3L))
  }

  test("personalizedPageRank: mass stays near seeds, zero off-component") {
    // barbell: seed triangle 1-2-3, bridge 3—4, far triangle 4-5-6,
    // plus a detached pair 100—101 (no seed → rank 0 forever)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (100L, 101L)).toDF("s", "t")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val pr = graft.ops.GraphOps
      .personalizedPageRankScaled(edges, "s", "t", seeds, "node", 5)
      .orderBy("node").as[(Long, Long)].collect().toMap
    pr(100L) shouldBe 0L
    pr(101L) shouldBe 0L
    // the seed holds the most mass; proximity decays over the bridge
    pr(1L) should be > pr(2L)
    pr(2L) should be > pr(5L)
    pr(5L) should be > 0L
    // symmetric positions tie exactly (integer arithmetic)
    pr(5L) shouldBe pr(6L)
  }

  test("rendezvousShard: in-range, well-dispersed, minimal movement on grow") {
    import graft.ops.ShardOps
    val keys = spark.range(0, 500).select($"id".as("k"))
    val assigned = keys.select($"k",
        ShardOps.rendezvousShard($"k", 16).as("s16"),
        ShardOps.rendezvousShard($"k", 17).as("s17"))
      .as[(Long, Long, Long)].collect()
    all(assigned.map(_._2)) should (be >= 0L and be < 16L)
    all(assigned.map(_._3)) should (be >= 0L and be < 17L)
    // every shard owns something, nobody owns a wildly outsized share
    val byShard = assigned.groupBy(_._2).map { case (_, v) => v.length }
    byShard.size shouldBe 16
    byShard.max.toDouble should be < 3.0 * (500.0 / 16)
    // HRW contract: a key moves ONLY to the newly added shard
    val moved = assigned.filter(t => t._3 != t._2)
    all(moved.map(_._3)) shouldBe 16L
    // and only ~1/17 of keys move (mod-N resharding would move ~16/17)
    moved.length.toDouble should be < 2.0 * (500.0 / 17)
    moved.length should be > 0
  }

  test("weightedSample is reproducible and biases toward heavy rows") {
    val df = (1 to 1000).map { i =>
      (i.toLong, if (i <= 100) 1000.0 else 1.0)
    }.toDF("id", "w")
    val s1 = graft.ext.SamplingOps.weightedSample(df, "id", "w", 100)
      .select("id").as[Long].collect().sorted
    val s2 = graft.ext.SamplingOps.weightedSample(df.repartition(13),
      "id", "w", 100).select("id").as[Long].collect().sorted
    s2 shouldBe s1 // partition-invariant and reproducible
    // heavy ids (10% of rows, >99% of mass) dominate the sample
    s1.count(_ <= 100) should be > 60
    graft.ext.SamplingOps.weightedSample(df, "id", "w", 100)
      .columns shouldBe Array("id", "w") // rank column dropped
  }

  test("joinPreflight predicts the exact join cardinality and fan-out") {
    val l = Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (9L, "x"))
      .toDF("k", "lv")
    val r = Seq((1L, 10), (1L, 20), (1L, 30), (2L, 40), (7L, 50))
      .toDF("k2", "rv")
    val got = graft.ops.JoinOps.joinPreflight(l, "k", r, "k2")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val actual = l.join(r, l("k") === r("k2")).count()
    // key 1: 2×3=6, key 2: 1×1=1 → 7 rows, worst key fan-out 6
    got shouldBe Array((5L, 4L, 5L, 3L, 2L, actual, 6L))
    actual shouldBe 7L
    // disjoint key sets: zero estimate, zero fan-out, no nulls
    val none = graft.ops.JoinOps.joinPreflight(
        l.filter($"k" === 9L), "k", r.filter($"k2" === 7L), "k2")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    none shouldBe Array((1L, 1L, 1L, 1L, 0L, 0L, 0L))
  }

  test("bandJoin equals the brute-force theta join, including boundaries") {
    val l = (0 until 200).map(i => (i.toLong, (i * 37 % 101) / 10.0))
      .toDF("lid", "lv")
    val r = (0 until 150).map(j => (j.toLong, (j * 53 % 97) / 10.0))
      .toDF("rid", "rv")
    val got = graft.ops.JoinOps.bandJoin(l, r, "lv", "rv", eps = 0.3)
      .select("lid", "rid").as[(Long, Long)].collect().sorted
    val lv = (0 until 200).map(i => (i.toLong, (i * 37 % 101) / 10.0))
    val rv = (0 until 150).map(j => (j.toLong, (j * 53 % 97) / 10.0))
    val brute = (for {
      (li, x) <- lv; (rj, y) <- rv if math.abs(x - y) <= 0.3
    } yield (li, rj)).sorted
    got shouldBe brute.toArray
    brute.nonEmpty shouldBe true
    // negative values cross bucket 0 correctly (floor, not truncation)
    val g2 = graft.ops.JoinOps.bandJoin(
      Seq((1L, -0.05)).toDF("lid", "lv"), Seq((2L, 0.04)).toDF("rid", "rv"),
      "lv", "rv", eps = 0.1).count()
    g2 shouldBe 1L
  }

  test("profileColumns reports nulls and distincts per column") {
    val df = Seq((1L, Option("a")), (2L, Option("a")), (3L, None))
      .toDF("id", "s")
    val p = graft.ops.QualityCheck.profileColumns(df)
      .orderBy("col_name").as[(String, Long, Long, Long)].collect()
    p shouldBe Array(("id", 3L, 0L, 3L), ("s", 3L, 1L, 1L))
  }

  test("pmiCollocations ranks the always-together pair first") {
    val docs = Seq(
      (1L, "alpha beta common one"), (2L, "alpha beta common two"),
      (3L, "alpha beta common three"), (4L, "common four common five"))
      .toDF("doc_id", "text")
    val top = graft.ext.TextOps
      .pmiCollocations(docs, "doc_id", "text", minCount = 3L, k = 5)
      .collect()
    top.head.getString(0) shouldBe "alpha beta" // pmi = ln(T·3/9) max
    top.head.getLong(1) shouldBe 3L
    top.map(_.getString(0)) should not contain "common one" // c2 < minCount
  }

  test("labelPropagation splits bridged triangles that CC fuses") {
    import spark.implicits._
    // two triangles joined by ONE bridge edge 3-4: connectivity says one
    // cluster, density says two communities — LPA must find two
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("s", "t")
    val out = graft.ops.GraphOps.labelPropagation(edges, "s", "t", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L)
    // partition invariance
    val out2 = graft.ops.GraphOps
      .labelPropagation(edges.repartition(7), "s", "t", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out2 shouldBe out
    // CC on the same graph: one cluster — the contrast LPA exists for
    val cc = graft.ext.DedupOps.connectedComponents(
      edges.toDF("id1", "id2"), iterations = 5)
    cc.select("cluster_id").distinct().count() shouldBe 1L
  }

  test("chiSquareIndependence: zero on independence, large on determinism") {
    import spark.implicits._
    // perfectly independent 2×2 (all cells 25): chi2 exactly 0
    val indep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i / 2 % 2 == 0) "b1" else "b2"))
      .toDF("a", "b")
    val z = graft.ops.StatsOps.chiSquareIndependence(indep, "a", "b").head()
    z.getAs[Long]("n") shouldBe 100L
    z.getAs[Long]("dof") shouldBe 1L
    z.getAs[Double]("chi2") shouldBe 0.0
    // perfectly dependent (b = a): chi2 = n
    val dep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i % 2 == 0) "b1" else "b2"))
      .toDF("a", "b")
    graft.ops.StatsOps.chiSquareIndependence(dep, "a", "b")
      .head().getAs[Double]("chi2") shouldBe 100.0
  }

  test("chiSquareIndependence: null categories excluded, not a phantom level") {
    import spark.implicits._
    // same independent 2×2 plus null-keyed noise rows: identical result —
    // a null is an absent observation, not a third category (nulls in the
    // marginals but not the grid join would silently distort the statistic)
    val indep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i / 2 % 2 == 0) "b1" else "b2"))
    val noisy = (indep.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None: Option[String], Some("b1")), (Some("a1"), None),
        (None: Option[String], None: Option[String]))).toDF("a", "b")
    val z = graft.ops.StatsOps.chiSquareIndependence(noisy, "a", "b").head()
    z.getAs[Long]("n") shouldBe 100L
    z.getAs[Long]("n_cells") shouldBe 4L
    z.getAs[Long]("dof") shouldBe 1L
    z.getAs[Double]("chi2") shouldBe 0.0
  }

  test("ksStatistic: identical samples give 0, disjoint supports give 1") {
    import spark.implicits._
    val same = (1 to 50).flatMap(i =>
      Seq((i.toDouble, "x"), (i.toDouble, "y"))).toDF("v", "g")
    val s0 = graft.ops.StatsOps.ksStatistic(same, "v", "g", "x", "y").head()
    s0.getAs[Double]("ks_stat") shouldBe 0.0
    val apart = ((1 to 50).map(i => (i.toDouble, "x")) ++
      (101 to 150).map(i => (i.toDouble, "y"))).toDF("v", "g")
    val s1 = graft.ops.StatsOps.ksStatistic(apart, "v", "g", "x", "y").head()
    s1.getAs[Double]("ks_stat") shouldBe 1.0
    s1.getAs[Double]("at_v") shouldBe 50.0 // smallest v attaining the max
  }

  test("ksStatistic: an empty sample yields no row, never Infinity/NaN") {
    import spark.implicits._
    val oneSided = (1 to 20).map(i => (i.toDouble, "x")).toDF("v", "g")
    // group "y" has no rows (misspelled group value / empty slice)
    graft.ops.StatsOps.ksStatistic(oneSided, "v", "g", "x", "y")
      .count() shouldBe 0L
    graft.ops.StatsOps.ksStatistic(oneSided, "v", "g", "nope", "also")
      .count() shouldBe 0L
  }

  test("wilsonInterval: huge-n group stays finite (no long overflow)") {
    import spark.implicits._
    // n is fed via a pre-aggregated path in prod; here simulate the
    // arithmetic hazard directly: 2e9 rows would overflow 4L*n*n — the
    // operator must route through double. We can't materialize 2e9 rows,
    // so assert the expression shape survives the largest group the
    // fixture can afford and that bounds stay ordered and inside [0,1].
    val df = (1 to 100000).map(i => ("g", i % 3 == 0)).toDF("g", "ok")
    val r = graft.ops.StatsOps.wilsonInterval(df, "g", "ok").head()
    val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
    lo should (be >= 0.0 and be <= hi)
    hi should be <= 1.0
  }

  test("wilsonInterval: brackets the rate, pinned at the extremes") {
    import spark.implicits._
    val df = ((1 to 100).map(i => ("half", i <= 50)) ++
      (1 to 20).map(_ => ("none", false)) ++
      (1 to 20).map(_ => ("all", true))).toDF("g", "ok")
    val out = graft.ops.StatsOps.wilsonInterval(df, "g", "ok")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val (n, k, rate, lo, hi) = out("half")
    (n, k, rate) shouldBe ((100L, 50L, 0.5))
    lo should (be > 0.39 and be < rate)
    hi should (be < 0.61 and be > rate)
    out("none")._4 shouldBe 0.0 // k=0 → lo exactly 0
    out("all")._5 shouldBe 1.0  // k=n → hi exactly 1
  }

  test("gini: 0 on perfect equality, (n-1)/n when one member owns everything") {
    import spark.implicits._
    val df = Seq(("eq", 5.0), ("eq", 5.0), ("eq", 5.0), ("eq", 5.0),
      ("one", 0.0), ("one", 0.0), ("one", 0.0), ("one", 12.0),
      ("solo", 7.0)).toDF("g", "v")
    val out = graft.ops.StatsOps.gini(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    out("eq") shouldBe ((4L, 20.0, 0.0))
    out("one") shouldBe ((4L, 12.0, 0.75)) // (2·4x − 5x)/4x
    out("solo") shouldBe ((1L, 7.0, 0.0))
    // a NaN / out-of-decimal-range reading costs ONE ROW, not the query
    // (Spark 4 ANSI mode would otherwise throw on the cents cast)
    val dirty = Seq(("d", 5.0), ("d", Double.NaN), ("d", 1e17), ("d", 5.0))
      .toDF("g", "v")
    graft.ops.StatsOps.gini(dirty, "g", "v")
      .head().getAs[Long]("n") shouldBe 2L
  }

  test("timeWeightedAvg: long-lived samples dominate; last sample carries no weight") {
    import spark.implicits._
    // gauge at 100 for 100 s, then 0 for 1 s, then the final sample
    val df = Seq((1L, 1L, 0L, 100.0), (2L, 1L, 100L, 0.0),
      (3L, 1L, 101L, 50.0), (4L, 2L, 0L, 9.0)) // user 2: single sample
      .toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", col("sec").cast(TimestampType))
    val out = graft.ops.TemporalOps.timeWeightedAvg(df, "user_id", "ts",
        "value", "event_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    out(1L) shouldBe ((3L, 101L, math.rint(10000.0 / 101 * 1e6) / 1e6))
    out.contains(2L) shouldBe false // no elapsed time observed
  }

  test("categoricalEntropy: 0/1 on pure groups, ln(k)/1 on uniform ones") {
    import spark.implicits._
    val df = Seq(("pure", "a"), ("pure", "a"), ("pure", "a"),
      ("uni", "a"), ("uni", "b"), ("uni", "c"), ("uni", "d"))
      .toDF("g", "c")
    val out = graft.ops.StatsOps.categoricalEntropy(df, "g", "c")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    out("pure") shouldBe ((3L, 1L, 0.0, 1.0))
    val (n, k, h, e) = out("uni")
    (n, k) shouldBe ((4L, 4L))
    h shouldBe (math.log(4.0) +- 1e-6)
    e shouldBe 1.0 +- 1e-6
  }

  test("gini and ksStatistic stay inside their theoretical bounds on random inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260814L)
    (1 to 5).foreach { _ =>
      val n = 5 + rng.nextInt(40)
      val vals = Seq.fill(n)(("g", rng.nextInt(1000).toDouble / 4))
      val g = graft.ops.StatsOps.gini(vals.toDF("g", "v"), "g", "v")
        .head().getAs[Double]("gini")
      g should (be >= 0.0 and be <= 1.0 - 1.0 / n + 1e-9)
      val ks = graft.ops.StatsOps.ksStatistic(
        (Seq.fill(n)((rng.nextInt(50).toDouble, "x")) ++
          Seq.fill(n)((rng.nextInt(50).toDouble, "y"))).toDF("v", "g"),
        "v", "g", "x", "y").head().getAs[Double]("ks_stat")
      ks should (be >= 0.0 and be <= 1.0)
    }
  }

  test("clusterAgreement: Rand/ARI exact on hand-computed contingencies") {
    import spark.implicits._
    val a = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("id", "c")
    val same = graft.ops.GraphOps.clusterAgreement(a, "id", "c",
      a.toDF("id", "c"), "id", "c").head()
    same.getAs[Double]("rand_index") shouldBe 1.0
    same.getAs[Double]("adjusted_rand") shouldBe 1.0
    // split one cluster: contingency (1,1,2) → RI 5/6, ARI 4/7
    val b = Seq((1L, 10L), (2L, 11L), (3L, 12L), (4L, 12L)).toDF("id", "c")
    val split = graft.ops.GraphOps.clusterAgreement(a, "id", "c",
      b, "id", "c").head()
    split.getAs[Long]("n") shouldBe 4L
    split.getAs[Long]("n_pairs") shouldBe 6L
    split.getAs[Long]("sij") shouldBe 1L
    split.getAs[Long]("sa") shouldBe 2L
    split.getAs[Long]("sb") shouldBe 1L
    split.getAs[Double]("rand_index") shouldBe 0.833333
    split.getAs[Double]("adjusted_rand") shouldBe 0.571429
  }

  test("spearmanCorr: ±1 on monotone data, invariant under monotone rescale") {
    import spark.implicits._
    val xs = Seq(1.0, 3.0, 7.0, 12.0, 40.0, 41.0, 99.0)
    val up = xs.map(x => (x, math.exp(x / 10))).toDF("x", "y")
    graft.ops.StatsOps.spearmanCorr(up, "x", "y")
      .head().getAs[Double]("rho") shouldBe 1.0
    val down = xs.map(x => (x, -x * x)).toDF("x", "y")
    graft.ops.StatsOps.spearmanCorr(down, "x", "y")
      .head().getAs[Double]("rho") shouldBe -1.0
    // rank correlation depends only on orderings: any increasing
    // transform of either column leaves rho bit-identical
    val rng = new scala.util.Random(7L)
    val noisy = Seq.fill(60)((rng.nextInt(20).toDouble, rng.nextInt(20).toDouble))
    val raw = graft.ops.StatsOps.spearmanCorr(noisy.toDF("x", "y"), "x", "y")
      .head().getAs[Double]("rho")
    val warped = graft.ops.StatsOps.spearmanCorr(
      noisy.map { case (x, y) => (x * x * x, math.log1p(y)) }.toDF("x", "y"),
      "x", "y").head().getAs[Double]("rho")
    warped shouldBe raw
  }

  test("spearmanCorr: fractional tie ranks exact; constant column gives NULL") {
    import spark.implicits._
    // x = [1,2,2,3] vs y in the same tie pattern: rho exactly 1
    val tied = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0))
      .toDF("x", "y")
    graft.ops.StatsOps.spearmanCorr(tied, "x", "y")
      .head().getAs[Double]("rho") shouldBe 1.0
    // same tie structure but the tied block disagrees order-free: the
    // hand value for ranks [1,2.5,2.5,4] vs [4,2.5,2.5,1] is -1
    val anti = Seq((1.0, 40.0), (2.0, 20.0), (2.0, 20.0), (3.0, 10.0))
      .toDF("x", "y")
    graft.ops.StatsOps.spearmanCorr(anti, "x", "y")
      .head().getAs[Double]("rho") shouldBe -1.0
    val const = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "y")
    val r = graft.ops.StatsOps.spearmanCorr(const, "x", "y").head()
    r.isNullAt(r.fieldIndex("rho")) shouldBe true
  }

  test("mannWhitneyU: U identity, disjoint supports, ties and empties") {
    import spark.implicits._
    val rng = new scala.util.Random(11L)
    val mixed = (Seq.fill(30)((rng.nextInt(15).toDouble, "a")) ++
      Seq.fill(20)((rng.nextInt(15).toDouble, "b"))).toDF("v", "g")
    val m = graft.ops.StatsOps.mannWhitneyU(mixed, "v", "g", "a", "b").head()
    // the classic identity: U_a + U_b = n_a·n_b, exactly
    m.getAs[Double]("u_a") + m.getAs[Double]("u_b") shouldBe
      (m.getAs[Long]("n_a") * m.getAs[Long]("n_b")).toDouble
    // all of a below all of b: U_a = 0 and z strongly negative
    val apart = (Seq.fill(12)((1.0, "a")) ++ Seq.fill(12)((9.0, "b")))
      .toDF("v", "g")
    val d = graft.ops.StatsOps.mannWhitneyU(apart, "v", "g", "a", "b").head()
    d.getAs[Double]("u_a") shouldBe 0.0
    d.getAs[Double]("z") should be < -3.0
    // every value tied: zero variance → z NULL, U_a = n_a·n_b/2
    val flat = (Seq.fill(5)((7.0, "a")) ++ Seq.fill(5)((7.0, "b")))
      .toDF("v", "g")
    val f = graft.ops.StatsOps.mannWhitneyU(flat, "v", "g", "a", "b").head()
    f.getAs[Double]("u_a") shouldBe 12.5
    f.isNullAt(f.fieldIndex("z")) shouldBe true
    // an absent group emits no row (the ksStatistic convention)
    graft.ops.StatsOps.mannWhitneyU(apart, "v", "g", "a", "nope")
      .count() shouldBe 0L
  }

  test("mutualInformation: 0 on independence, ln k on determinism, symmetric") {
    import spark.implicits._
    val indep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i / 2 % 2 == 0) "b1" else "b2"))
      .toDF("a", "b")
    val z = graft.ops.StatsOps.mutualInformation(indep, "a", "b").head()
    z.getAs[Long]("n") shouldBe 100L
    z.getAs[Double]("mi") shouldBe 0.0
    // b determined by a over 2 uniform values: MI = ln 2
    val dep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i % 2 == 0) "b1" else "b2"))
      .toDF("a", "b")
    graft.ops.StatsOps.mutualInformation(dep, "a", "b")
      .head().getAs[Double]("mi") shouldBe (math.log(2.0) +- 1e-5)
    // MI is symmetric in its arguments
    val rng = new scala.util.Random(13L)
    val noisy = Seq.fill(200)(
      (s"a${rng.nextInt(3)}", s"b${rng.nextInt(4)}")).toDF("a", "b")
    graft.ops.StatsOps.mutualInformation(noisy, "a", "b")
      .head().getAs[Double]("mi") shouldBe
      graft.ops.StatsOps.mutualInformation(
        noisy.select(col("b").as("a"), col("a").as("b")), "a", "b")
        .head().getAs[Double]("mi")
  }

  test("olsTrend: recovers an exact line, NULLs on degenerate x") {
    import spark.implicits._
    // y = 2.5·x + 40 exactly: slope/intercept recovered, r² = 1
    val line = Seq.tabulate(20)(i => ("g", i.toLong * 10, 2.5 * (i * 10) + 40))
      .toDF("g", "x", "y")
    val fit = graft.ops.StatsOps.olsTrend(line, "g", "x", "y").head()
    fit.getAs[Long]("n") shouldBe 20L
    fit.getAs[Double]("slope") shouldBe 2.5
    fit.getAs[Double]("intercept") shouldBe 40.0
    fit.getAs[Double]("r2") shouldBe 1.0
    // flat y: slope 0, r² NULL (zero y-variance), intercept = mean
    val flat = Seq(("g", 1L, 7.0), ("g", 2L, 7.0), ("g", 3L, 7.0))
      .toDF("g", "x", "y")
    val f = graft.ops.StatsOps.olsTrend(flat, "g", "x", "y").head()
    f.getAs[Double]("slope") shouldBe 0.0
    f.getAs[Double]("intercept") shouldBe 7.0
    f.isNullAt(f.fieldIndex("r2")) shouldBe true
    // single point / constant x: no fit at all
    val pt = Seq(("g", 5L, 1.0), ("g", 5L, 9.0)).toDF("g", "x", "y")
    val p = graft.ops.StatsOps.olsTrend(pt, "g", "x", "y").head()
    p.isNullAt(p.fieldIndex("slope")) shouldBe true
    p.isNullAt(p.fieldIndex("intercept")) shouldBe true
  }

  test("lorenzCurve: exact shares on 1..10; ties sit on the equality line") {
    import spark.implicits._
    // values 1..10: bottom-k share = Σ(1..k)/55, pop_share = k/10
    val vals = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("v")
    val out = graft.ops.StatsOps.lorenzCurve(vals, "v", buckets = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    out.size shouldBe 10
    out(1L) shouldBe ((0.1, math.rint(1.0 / 55 * 1e6) / 1e6))
    out(5L) shouldBe ((0.5, math.rint(15.0 / 55 * 1e6) / 1e6))
    out(10L) shouldBe ((1.0, 1.0))
    // all-equal values: the curve IS the diagonal, even though every
    // row is tied (a row-ranked ntile would be partition-dependent)
    val flat = Seq.fill(4)(Tuple1(7.0)).toDF("v")
    graft.ops.StatsOps.lorenzCurve(flat, "v", buckets = 4)
      .collect().foreach { r =>
        r.getDouble(2) shouldBe r.getDouble(1)
      }
  }

  test("oddsRatio: textbook 2×2, CI brackets, empty cell degrades to NULL") {
    import spark.implicits._
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false))
    val r = graft.ops.StatsOps.oddsRatio(rows.toDF("e", "o"), "e", "o")
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) shouldBe
      ((20L, 5L, 10L, 15L))
    r.getAs[Double]("odds_ratio") shouldBe 6.0
    r.getAs[Double]("relative_risk") shouldBe 2.0
    r.getAs[Double]("or_lo") should (be > 0.0 and be < 6.0)
    r.getAs[Double]("or_hi") should be > 6.0
    // an empty cell: no estimate, not an Infinity
    val degenerate = (Seq.fill(5)((true, true)) ++
      Seq.fill(5)((false, false))).toDF("e", "o")
    val g = graft.ops.StatsOps.oddsRatio(degenerate, "e", "o").head()
    g.isNullAt(g.fieldIndex("odds_ratio")) shouldBe true
    g.isNullAt(g.fieldIndex("relative_risk")) shouldBe true
  }

  test("kaplanMeier: censoring leaves the risk set without counting as death") {
    import spark.implicits._
    // 10 units: 2 die at t=1; 1 censored at 2; 2 die at 3; 1 dies at 5;
    // 4 censored at 6 — the textbook staircase
    val units = (Seq.fill(2)((1L, true)) ++ Seq((2L, false)) ++
      Seq.fill(2)((3L, true)) ++ Seq((5L, true)) ++
      Seq.fill(4)((6L, false))).toDF("dur", "ev")
    val out = graft.ops.StatsOps.kaplanMeier(units, "dur", "ev")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    out(1L) shouldBe ((10L, 2L, 0L, 0.8))
    out(2L) shouldBe ((8L, 0L, 1L, 0.8))        // censoring: no drop
    out(3L) shouldBe ((7L, 2L, 0L, 0.571429))   // 0.8 · 5/7
    out(5L) shouldBe ((5L, 1L, 0L, 0.457143))   // · 4/5
    out(6L) shouldBe ((4L, 0L, 4L, 0.457143))
    // everyone observed dying: the curve hits EXACTLY zero (absorbing
    // guard, not exp(ln 0))
    val doomed = Seq((1L, true), (2L, true), (2L, true)).toDF("dur", "ev")
    val d = graft.ops.StatsOps.kaplanMeier(doomed, "dur", "ev")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    d(1L) shouldBe 0.666667
    d(2L) shouldBe 0.0
  }

  test("chiSquareResiduals: residuals localize the dependence, empty cells report") {
    import spark.implicits._
    // b = a on 2 uniform values: diagonal cells over-observed (+√(n/4)
    // over e = n/4 → residual +5), off-diagonal EMPTY cells at −5
    val dep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i % 2 == 0) "b1" else "b2"))
      .toDF("a", "b")
    val out = graft.ops.StatsOps.chiSquareResiduals(dep, "a", "b")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    out.size shouldBe 4
    out(("a1", "b1")) shouldBe ((50L, 25.0, 5.0))
    out(("a1", "b2")) shouldBe ((0L, 25.0, -5.0))
    out(("a2", "b1")) shouldBe ((0L, 25.0, -5.0))
    out(("a2", "b2")) shouldBe ((50L, 25.0, 5.0))
    // residuals² sum to the chi² statistic (here n = 100)
    out.values.map(v => v._3 * v._3).sum shouldBe 100.0
  }

  test("skewReport: hot key surfaced with exact ratio and deterministic tie") {
    import spark.implicits._
    // key "h" holds 8 of 14 rows over 4 keys: mean 3.5, skew 8/3.5
    val df = (Seq.fill(8)("h") ++ Seq.fill(2)("a") ++ Seq.fill(2)("b") ++
      Seq.fill(2)("c")).toDF("k")
    val r = graft.ops.SkewOps.skewReport(df, "k").head()
    r.getAs[Long]("n_keys") shouldBe 4L
    r.getAs[Long]("n_rows") shouldBe 14L
    r.getAs[Double]("mean_count") shouldBe 3.5
    r.getAs[Double]("median_count") shouldBe 2.0
    r.getAs[Long]("max_count") shouldBe 8L
    r.getAs[Double]("skew_ratio") shouldBe (8.0 / 3.5 +- 1e-4)
    r.getAs[String]("top_key") shouldBe "h"
    // count ties break to the SMALLEST key string
    val tied = (Seq.fill(3)("z") ++ Seq.fill(3)("a")).toDF("k")
    graft.ops.SkewOps.skewReport(tied, "k")
      .head().getAs[String]("top_key") shouldBe "a"
  }

  test("cupedAdjust: recovers theta=1 on additive effects, exact adjusted means") {
    import spark.implicits._
    // post = pre + 2 in arm A, pre + 7 in arm B: theta is exactly 1,
    // arms share mean pre → adjustment is 0 and the lift diff stays 5
    val units = Seq(
      ("A", 10.0, 12.0), ("A", 20.0, 22.0), ("A", 30.0, 32.0),
      ("B", 10.0, 17.0), ("B", 20.0, 27.0), ("B", 30.0, 37.0))
      .toDF("arm", "pre", "post")
    val out = graft.ops.StatsOps.cupedAdjust(units, "arm", "pre", "post")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    out("A") shouldBe ((3L, 22.0, 22.0, 1.0, 0.914286))
    out("B") shouldBe ((3L, 27.0, 27.0, 1.0, 0.914286))
    // imbalanced pre between arms: the adjustment moves the means but
    // the θ-corrected gap equals raw gap + θ·(pre_B − pre_A)
    val skewed = Seq(
      ("A", 10.0, 12.0), ("A", 20.0, 22.0),
      ("B", 20.0, 27.0), ("B", 30.0, 37.0))
      .toDF("arm", "pre", "post")
    val s = graft.ops.StatsOps.cupedAdjust(skewed, "arm", "pre", "post")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    // pooled slope absorbs the arm confound: num = 4·2210 − 80·98 =
    // 1000, dx = 4·1800 − 80² = 800 → θ = 1.25
    s("A")._2 shouldBe 1.25
    // A: 17 − 1.25·(15 − 20) = 23.25; B: 32 − 1.25·(25 − 20) = 25.75
    s("A")._1 shouldBe 23.25
    s("B")._1 shouldBe 25.75
    // constant pre: zero variance → theta NULL, mean_adj = mean_post
    val flat = Seq(("A", 5.0, 10.0), ("B", 5.0, 20.0)).toDF("arm", "pre", "post")
    val f = graft.ops.StatsOps.cupedAdjust(flat, "arm", "pre", "post")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.isNullAt(4))).toMap
    f("A") shouldBe ((10.0, true))
    f("B") shouldBe ((20.0, true))
  }

  test("ipwAte: hand-computed strata incl. a dropped non-overlap stratum") {
    import spark.implicits._
    import graft.ops.StatsOps
    // A (e=1/2): treated {10, 20}, control {1, 3} → HT treated 60,
    // control 8; B: all-treated → NON-overlap, dropped and counted
    val df1 = Seq(
      ("A", 2L, 10.0), ("A", 4L, 20.0), ("A", 1L, 1.0), ("A", 3L, 3.0),
      ("B", 2L, 99.0), ("B", 4L, 99.0)).toDF("s", "u", "y")
    val r1 = StatsOps.ipwAte(df1, "s", col("u") % 2 === 0, "y").head()
    r1.getAs[Long]("n_total") shouldBe 6L
    r1.getAs[Long]("n_used") shouldBe 4L
    r1.getAs[Long]("n_strata") shouldBe 2L
    r1.getAs[Long]("n_nonoverlap_strata") shouldBe 1L
    // (60 − 8)/4; balanced design → Hájek agrees exactly
    r1.getAs[Double]("ate_ipw") shouldBe 13.0
    r1.getAs[Double]("ate_hajek") shouldBe 13.0

    // add an IMBALANCED stratum C (e=1/4): treated {8} → 8·4 = 32,
    // control {2,4,6} → (2+4+6)·4/3 = 16; combined HT = (92−24)/8 = 8.5
    val df2 = df1.unionAll(Seq(
      ("C", 2L, 8.0), ("C", 1L, 2.0), ("C", 3L, 4.0), ("C", 5L, 6.0))
      .toDF("s", "u", "y"))
    val r2 = StatsOps.ipwAte(df2, "s", col("u") % 2 === 0, "y").head()
    r2.getAs[Long]("n_used") shouldBe 8L
    r2.getAs[Long]("n_nonoverlap_strata") shouldBe 1L
    r2.getAs[Double]("ate_ipw") shouldBe 8.5
    r2.getAs[Double]("ate_hajek") shouldBe 8.5
  }

  test("poissonBootstrapMeanCI: brackets the mean, deterministic, " +
    "shift-equivariant") {
    import graft.ops.StatsOps
    val ev = graft.sources.Stores.table(spark, sf0001, "events")
      .select("event_id", "value")
    def run(df: org.apache.spark.sql.DataFrame) =
      StatsOps.poissonBootstrapMeanCI(df, "event_id", "value",
        replicates = 40).head()
    val r = run(ev)
    r.getAs[Long]("n_replicates_used") shouldBe 40L
    // a 95% percentile interval over ~2000 rows brackets the mean
    r.getAs[Double]("boot_lo") should be <= r.getAs[Double]("mean")
    r.getAs[Double]("mean") should be <= r.getAs[Double]("boot_hi")
    // and it is a real interval, not a point
    r.getAs[Double]("boot_hi") should be > r.getAs[Double]("boot_lo")
    // deterministic: the randomness is a pure hash — same inputs,
    // identical interval
    run(ev) shouldBe r
    // shift equivariance: y + 10 moves mean and BOTH ends by ~10 (the
    // hash weights don't see y), up to 6dp re-rounding
    val shifted = run(ev.withColumn("value",
      org.apache.spark.sql.functions.col("value") + 10.0))
    math.abs(shifted.getAs[Double]("mean") -
      r.getAs[Double]("mean") - 10.0) should be < 1e-5
    math.abs(shifted.getAs[Double]("boot_lo") -
      r.getAs[Double]("boot_lo") - 10.0) should be < 1e-5
    math.abs(shifted.getAs[Double]("boot_hi") -
      r.getAs[Double]("boot_hi") - 10.0) should be < 1e-5
  }

  test("welchTTest: textbook unequal-variance case, exact df and t") {
    import spark.implicits._
    // A = {1,2,3}: n=3, mean 2, var 1; B = {2,4}: n=2, mean 3, var 2
    // se² = 1/3 + 2/2 = 4/3; t = −1/√(4/3) = −0.866025
    // df = (4/3)² / (1²/(9·2) + 2²/(4·1)) = (16/9)/(19/18) = 1.684211
    val df = Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 2.0), (false, 4.0)).toDF("arm", "v")
    val r = graft.ops.StatsOps.welchTTest(df, "arm", "v").head()
    r.getLong(0) shouldBe 3L
    r.getLong(1) shouldBe 2L
    r.getDouble(2) shouldBe 2.0
    r.getDouble(3) shouldBe 3.0
    r.getDouble(4) shouldBe -1.0
    r.getDouble(5) shouldBe 1.154701
    r.getDouble(6) shouldBe -0.866025
    r.getDouble(7) shouldBe 1.684211
    // degenerate: a single-row arm cannot estimate variance → NULL t/df
    val tiny = Seq((true, 1.0), (true, 2.0), (false, 5.0)).toDF("arm", "v")
    val rt = graft.ops.StatsOps.welchTTest(tiny, "arm", "v").head()
    rt.isNullAt(6) shouldBe true
    rt.isNullAt(7) shouldBe true
    // both arms constant: zero variance → NULL rather than Infinity
    val const = Seq((true, 2.0), (true, 2.0), (false, 5.0), (false, 5.0))
      .toDF("arm", "v")
    val rc = graft.ops.StatsOps.welchTTest(const, "arm", "v").head()
    rc.getDouble(4) shouldBe -3.0
    rc.isNullAt(6) shouldBe true
  }

  test("welchTTestBy: each segment row equals the ungrouped test on that slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { i =>
      (s"seg${i % 3}", i % 2 == 0, rnd.nextInt(1000) / 10.0)
    }
    val df = rows.toDF("seg", "arm", "v")
    val by = graft.ops.StatsOps.welchTTestBy(df, "seg", "arm", "v")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    by.keySet shouldBe Set("seg0", "seg1", "seg2")
    for (g <- by.keySet) {
      val solo = graft.ops.StatsOps.welchTTest(
        df.filter(col("seg") === g), "arm", "v").head().toSeq
      by(g) shouldBe solo
    }
  }

  test("trimmedMean: drops the tails the raw mean is dragged by") {
    import spark.implicits._
    // 1..10 at [5%, 95%]: bounds 1.45/9.55 keep 2..9 → mean 5.5 (= the
    // untrimmed mean here — symmetric trim of symmetric data)
    val sym = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "v")
    val s = graft.ops.StatsOps.trimmedMean(sym, "g", "v", 0.05, 0.95).head()
    s.getAs[Long]("n") shouldBe 10L
    s.getAs[Long]("n_used") shouldBe 8L
    s.getAs[Double]("tmean") shouldBe 5.5
    // [1,2,3,4,100] at [10%, 90%]: the spike falls outside the band —
    // tmean 3.0 where the raw mean is 22
    val spiked = Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("g", _)).toDF("g", "v")
    val t = graft.ops.StatsOps.trimmedMean(spiked, "g", "v", 0.1, 0.9).head()
    t.getAs[Long]("n_used") shouldBe 3L
    t.getAs[Double]("tmean") shouldBe 3.0
  }

  test("madOutliers: robust to the outlier it flags; MAD-0 group flags none") {
    import spark.implicits._
    // 11 values near 10 plus one at 1000: classic mean/σ would be dragged;
    // MAD flags exactly the one planted outlier
    val vals = (Seq.fill(11)(10.0) ++ Seq(9.0, 11.0, 1000.0)).map(("g", _))
    val r = graft.ops.StatsOps.madOutliers(vals.toDF("g", "v"), "g", "v")
      .head()
    r.getAs[Long]("n") shouldBe 14L
    r.getAs[Double]("med") shouldBe 10.0
    r.getAs[Double]("mad") shouldBe 0.0 +- 1e-9
    // MAD 0: threshold 0, every deviation > 0 flags — 9.0, 11.0, 1000.0
    r.getAs[Long]("n_outliers") shouldBe 3L
    // spread group: only the planted point exceeds 3 robust sigmas
    val spread = (Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 500.0))
      .map(("g", _))
    val s = graft.ops.StatsOps.madOutliers(spread.toDF("g", "v"), "g", "v")
      .head()
    s.getAs[Double]("med") shouldBe 5.5
    s.getAs[Long]("n_outliers") shouldBe 1L
  }

  test("chiSquare ka/kb ride along; Cramér's V hits 1 on perfect dependence") {
    import spark.implicits._
    val dep = (0 until 100).map(i =>
      (if (i % 2 == 0) "a1" else "a2", if (i % 2 == 0) "b1" else "b2"))
      .toDF("a", "b")
    val r = graft.ops.StatsOps.chiSquareIndependence(dep, "a", "b").head()
    r.getAs[Long]("ka") shouldBe 2L
    r.getAs[Long]("kb") shouldBe 2L
    // V = sqrt(chi2 / (n·(min(ka,kb)−1))) = sqrt(100/100) = 1
    math.sqrt(r.getAs[Double]("chi2") /
      (r.getAs[Long]("n") *
        (math.min(r.getAs[Long]("ka"), r.getAs[Long]("kb")) - 1))) shouldBe 1.0
  }
}
