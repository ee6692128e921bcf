package graft

import graft.ext.{SimilarityOps, TextOps}
import graft.ops.StatsOps
import org.apache.spark.sql.functions._

/** Coverage/population estimators and the co-occurrence recommender
  * (Nelson-Aalen hazard, Chapman capture-recapture, Chao1/Good-Turing
  * vocabulary richness, item-item CF top-k) against hand-derived
  * fixtures. */
class EstimatorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("nelsonAalen accumulates d/n over censoring-aware risk sets") {
    // t=1: n=5 d=2 → h=0.4; t=2: n=3 c=1 → h stays; t=3: n=2 d=1 → +0.5
    val df = Seq((1L, true), (1L, true), (2L, false), (3L, true),
      (3L, false)).toDF("dur", "ev")
    val rows = StatsOps.nelsonAalen(df, "dur", "ev")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("cum_hazard")))
    rows.map(x => (x._1, x._2)) shouldBe Array((1L, 5L), (2L, 3L), (3L, 2L))
    rows(0)._3 shouldBe 0.4 +- 1e-8
    rows(1)._3 shouldBe 0.4 +- 1e-8
    rows(2)._3 shouldBe 0.9 +- 1e-8
    // exp(-H) survival ≥ the KM product-limit estimate, pointwise
    val km = StatsOps.kaplanMeier(df, "dur", "ev")
      .collect().map(r => r.getAs[Double]("survival"))
    val na = StatsOps.nelsonAalen(df, "dur", "ev")
      .collect().map(r => r.getAs[Double]("na_survival"))
    na.zip(km).foreach { case (n, k) => n should be >= k - 1e-9 }
  }

  test("captureRecapture matches the Chapman point estimate and CI") {
    // A sees 1..4, B sees 3..7 → a=4, b=5, m=2 → N̂ = 5·6/3 − 1 = 9
    val rows = (1L to 4L).map(k => (k, true, false)) ++
      (3L to 7L).map(k => (k, false, true))
    val r = StatsOps.captureRecapture(rows.toDF("k", "a", "b"),
      "k", "a", "b").collect()(0)
    r.getLong(0) shouldBe 4L // n_a
    r.getLong(1) shouldBe 5L // n_b
    r.getLong(2) shouldBe 2L // n_both
    r.getLong(3) shouldBe 7L // n_observed
    r.getAs[Double]("n_hat") shouldBe 9.0 +- 1e-9
    // Var = 5·6·2·3/(9·4) = 5 → CI = 9 ± 1.96·√5
    r.getAs[Double]("ci_hi") shouldBe (9.0 + 1.96 * math.sqrt(5.0)) +- 1e-6
    r.getAs[Double]("ci_lo") shouldBe (9.0 - 1.96 * math.sqrt(5.0)) +- 1e-6
  }

  test("captureRecapture: zero overlap still yields the Chapman estimate") {
    val rows = Seq((1L, true, false), (2L, false, true))
    val r = StatsOps.captureRecapture(rows.toDF("k", "a", "b"),
      "k", "a", "b").collect()(0)
    r.getLong(2) shouldBe 0L
    r.getAs[Double]("n_hat") shouldBe 3.0 +- 1e-9 // (2·2)/1 − 1
  }

  test("vocabRichness computes Chao1 and the Good-Turing mass") {
    // tokens: a a a b b c d → V=4, N=7, f1=2 (c,d), f2=1 (b)
    // chao1 = 4 + 2·1/(2·2) = 4.5; p0 = 2/7
    val df = Seq("a a a b", "b c d").toDF("text")
    val r = TextOps.vocabRichness(df, "text").collect()(0)
    r.getLong(0) shouldBe 7L
    r.getLong(1) shouldBe 4L
    r.getLong(2) shouldBe 2L
    r.getLong(3) shouldBe 1L
    r.getAs[Double]("chao1") shouldBe 4.5 +- 1e-9
    r.getAs[Double]("p_unseen") shouldBe (2.0 / 7) +- 1e-8
  }

  test("itemCfTopK ranks co-basket neighbors by cosine with support cut") {
    // baskets: (1,2,3), (1,2), (1,2,4), (3,4) → pair (1,2) cooc=3,
    // (1,3)/(2,3)/(1,4)/(2,4)/(3,4) cooc=1 — only (1,2) survives min 2
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L), (30L, 4L), (40L, 3L), (40L, 4L))
      .toDF("b", "i")
    val out = SimilarityOps.itemCfTopK(df, "b", "i", minSupport = 2L, k = 3)
      .orderBy("item", "rank").collect()
    out.map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 2L), (2L, 1L))
    // cos(1,2) = 3/√(3·3) = 1.0 — they always co-occur
    out(0).getAs[Double]("cosine") shouldBe 1.0 +- 1e-9
    out(0).getAs[Int]("rank") shouldBe 1
  }

  test("gTest: zero on exact independence, 8·ln2 on the 2x2 diagonal") {
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("p", "q")
    StatsOps.gTest(indep, "p", "q").collect()(0)
      .getAs[Double]("g_stat") shouldBe 0.0 +- 1e-9
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("p", "q")
    val r = StatsOps.gTest(dep, "p", "q").collect()(0)
    r.getAs[Double]("g_stat") shouldBe (8 * math.log(2)) +- 1e-6
    r.getAs[Long]("dof") shouldBe 1L
    r.getAs[Long]("n_cells") shouldBe 2L // observed cells only
  }

  test("hhiConcentration: equal split vs monopoly, effective members") {
    val df = Seq(("m1", 1L, 50.0), ("m1", 2L, 50.0),
      ("m2", 7L, 100.0)).toDF("mkt", "cust", "rev")
    val rows = StatsOps.hhiConcentration(df, "mkt", "cust", "rev")
      .collect()
    rows(0).getAs[Double]("hhi") shouldBe 0.5 +- 1e-9
    rows(0).getAs[Double]("effective_members") shouldBe 2.0 +- 1e-6
    rows(1).getAs[Double]("hhi") shouldBe 1.0 +- 1e-9
    rows(1).getAs[Long]("n_members") shouldBe 1L
  }

  test("ipfRake drives both marginals uniform and preserves total mass") {
    // skewed 2x2: after 5 sweeps each lang and each source should
    // carry n/2 = 5 within the convergence grain
    val df = (Seq.fill(6)(("en", "s1")) ++ Seq.fill(2)(("en", "s2")) ++
      Seq.fill(1)(("de", "s1")) ++ Seq.fill(1)(("de", "s2")))
      .toDF("lang", "src")
    val out = StatsOps.ipfRake(df, "lang", "src", rounds = 5).collect()
    val total = out.map(_.getAs[Double]("raked_weight")).sum
    total shouldBe 10.0 +- 1e-4
    val byLang = out.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Double]("raked_weight")).sum).toMap
    byLang("en") shouldBe 5.0 +- 1e-3
    byLang("de") shouldBe 5.0 +- 1e-3
    val bySrc = out.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getAs[Double]("raked_weight")).sum).toMap
    bySrc("s1") shouldBe 5.0 +- 1e-3
    bySrc("s2") shouldBe 5.0 +- 1e-3
  }

  test("ipfRake and medianTest group binary keys by content, as Spark does") {
    // 3 langs x 2 sources with one structural zero: counting each
    // collected Array[Byte] as its own level would make ka = kb = 5
    val rows = Seq((("en", "s1"), 6), (("en", "s2"), 2), (("de", "s1"), 1),
      (("de", "s2"), 1), (("fr", "s1"), 3))
      .flatMap { case (cell, n) => Seq.fill(n)(cell) }
    val str = rows.toDF("lang", "src")
    val bin = str.select(col("lang").cast("binary").as("lang"),
      col("src").cast("binary").as("src"))
    val raked = StatsOps.ipfRake(bin, "lang", "src", rounds = 20)
    // Spark's own grouping of the output: every lang carries n/3, every
    // source n/2
    all(raked.groupBy("a").agg(sum("raked_weight")).collect()
      .map(_.getDouble(1))) shouldBe 13.0 / 3 +- 1e-3
    all(raked.groupBy("b").agg(sum("raked_weight")).collect()
      .map(_.getDouble(1))) shouldBe 6.5 +- 1e-3
    raked.select(col("a").cast("string"), col("b").cast("string"),
      col("n_cell"), col("raked_weight"), col("row_weight")).collect() shouldBe
      StatsOps.ipfRake(str, "lang", "src", rounds = 20).collect()

    val byGroup = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 4.0),
      ("B", 5.0), ("C", 6.0), ("C", 0.5)).toDF("g", "v")
    val binMedian = StatsOps.medianTest(
      byGroup.withColumn("g", col("g").cast("binary")), "v", "g").collect()
    binMedian.head.getLong(1) shouldBe 3L
    binMedian shouldBe StatsOps.medianTest(byGroup, "v", "g").collect()
  }

  test("partialCorr: identity survives an independent z; collinear z " +
    "NULLs the partial") {
    val rows = Seq((1.0, 1.0, 0.0), (2.0, 2.0, 1.0), (3.0, 3.0, 0.0),
      (4.0, 4.0, 1.0))
    val r = StatsOps.partialCorr(rows.toDF("x", "y", "z"), "x", "y", "z")
      .collect()(0)
    r.getAs[Double]("r_xy") shouldBe 1.0 +- 1e-6
    r.getAs[Double]("r_xy_given_z") shouldBe 1.0 +- 1e-3
    // y == z exactly → r_yz = 1 → denominator 0 → NULL partial
    val collinear = Seq((1.0, 0.0, 0.0), (2.0, 1.0, 1.0), (3.0, 0.0, 0.0),
      (4.0, 1.0, 1.0))
    val r2 = StatsOps.partialCorr(collinear.toDF("x", "y", "z"),
      "x", "y", "z").collect()(0)
    r2.isNullAt(r2.fieldIndex("r_xy_given_z")) shouldBe true
  }

  test("mantelHaenszelOr pools strata with a common OR exactly") {
    // stratum 1: (10,5,5,10), stratum 2: (4,2,2,4) — both OR = 4
    def cells(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
        Seq.fill(c)((s, false, true)) ++ Seq.fill(d)((s, false, false))
    val df = (cells("s1", 10, 5, 5, 10) ++ cells("s2", 4, 2, 2, 4))
      .toDF("st", "e", "o")
    val r = StatsOps.mantelHaenszelOr(df, "st", "e", "o").collect()(0)
    r.getLong(0) shouldBe 2L
    r.getAs[Double]("or_mh") shouldBe 4.0 +- 1e-6
    r.getAs[Double]("e_value") shouldBe (4.0 + math.sqrt(12.0)) +- 1e-6
    r.getAs[Double]("or_lo") should be < 4.0
    r.getAs[Double]("or_hi") should be > 4.0
  }

  test("mantelHaenszelOr: an all-exposed table emits NULLs") {
    val df = Seq(("s1", true, true), ("s1", true, false)).toDF("st", "e", "o")
    val r = StatsOps.mantelHaenszelOr(df, "st", "e", "o").collect()(0)
    r.isNullAt(r.fieldIndex("or_mh")) shouldBe true
  }

  test("qiniCurve cumulates incremental conversions by score bin") {
    val df = Seq((4.0, 1L, true, true), (3.0, 2L, false, false),
      (2.0, 3L, true, false), (1.0, 4L, false, true))
      .toDF("score", "k", "t", "c")
    val rows = StatsOps.qiniCurve(df, "score", "k", "t", "c", bins = 2)
      .collect()
    rows.length shouldBe 2
    rows(0).getAs[Double]("qini") shouldBe 1.0 +- 1e-9 // top bin: +1
    rows(1).getAs[Double]("qini") shouldBe 0.0 +- 1e-9 // full population
  }

  test("itemCfTopK: duplicate lines in one basket count once") {
    val df = Seq((10L, 1L), (10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L))
      .toDF("b", "i")
    val out = SimilarityOps.itemCfTopK(df, "b", "i", minSupport = 2L, k = 3)
      .collect()
    out.length shouldBe 2
    out.head.getAs[Double]("cosine") shouldBe 1.0 +- 1e-9
  }

  test("itemCfTopK: maxBasketSize cap is enforced and deterministic") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L), (30L, 4L), (40L, 3L), (40L, 4L))
      .toDF("b", "i")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("item", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
    // cap >= the largest basket (3): output identical to uncapped
    rows(SimilarityOps.itemCfTopK(df, "b", "i", 2L, 3,
      maxBasketSize = 3)) shouldBe
      rows(SimilarityOps.itemCfTopK(df, "b", "i", 2L, 3))
    // binding cap (2): each oversized basket keeps its 2 SMALLEST item
    // ids — baskets 10 (1,2,3) and 30 (1,2,4) truncate to (1,2), i.e.
    // exactly the incidence set with rows (10,3) and (30,4) deleted;
    // both pairs and item counts run on the truncated incidences
    val capped = rows(SimilarityOps.itemCfTopK(df, "b", "i", 1L, 3,
      maxBasketSize = 2))
    val manual = rows(SimilarityOps.itemCfTopK(
      df.filter(!(col("b") === 10L && col("i") === 3L) &&
        !(col("b") === 30L && col("i") === 4L)), "b", "i", 1L, 3))
    capped shouldBe manual
    // and the cap truly dropped the cross-pairs: item 3 now only
    // co-occurs with 4 (basket 40), never with 1 or 2
    capped.filter(_._1 == 3L).map(_._2) shouldBe Seq(4L)
  }
}
