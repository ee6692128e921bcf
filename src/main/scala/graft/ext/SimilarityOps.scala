package graft.ext

import graft.functions.GraftFunctions
import graft.ops.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * [EXT] Similarity search over an embedding column (`array<float>`).
 * North-star mandate (BASELINE.json). Two tiers:
 *
 *  1. [[cosineTopK]] — exact brute-force top-k: broadcast the (small) query
 *     set against the corpus; score with codegen'd higher-order functions.
 *     Cost O(|Q|·|C|·d) flops but ZERO corpus shuffle — on a 1000-executor
 *     cluster the corpus streams once from parquet, queries ride along
 *     broadcast. This is the right exact plan at any corpus size as long as
 *     |Q| is bounded.
 *
 *  2. [[signLshBucket]] / [[annTopK]] — approximate path: random-hyperplane
 *     (sign) LSH buckets computed per-row, then candidate generation joins
 *     query buckets to corpus buckets (equi-join ⇒ hash shuffle on bucket id,
 *     volume O(corpus)), and exact re-scoring only within buckets. This is
 *     the IVF/LSH shape that survives unbounded |Q|.
 *
 * All arithmetic is done in DOUBLE (floats are cast before multiply) so
 * results are exactly reproducible across engines for the oracle.
 */
object SimilarityOps {

  /** dot(a, b) with per-element cast to double — reproducible fp math. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 dp — rounding makes float-sum-order
    * differences (≪1e-12 in double) irrelevant for cross-engine comparison
    * while keeping full ranking power. Higher-order-function form; the
    * scoring joins below use the codegen'd [[graft.functions.CosineSimilarity]]
    * expression instead (same semantics, one fused primitive loop). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Codegen'd cosine via the native expression — requires
    * [[GraftFunctions.register]] on the session (operators below do it). */
  def cosineNative(a: Column, b: Column): Column =
    round(call_function(GraftFunctions.cosineName, a, b), 6)

  /** Fail fast on non-integral id columns: the top-k heap carries ids as
    * long — a silent cast of string ids would null them out and the
    * self-pair filter would drop every row. */
  private def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val idType = df.schema(idCol).dataType
    require(Seq("bigint", "int", "smallint", "tinyint")
      .contains(idType.simpleString),
      s"$op requires an integral id column, got $idCol: ${idType.simpleString} — " +
        "hash or dictionary-encode string ids first (e.g. graft_fp60)")
  }

  /**
   * Per-query top-k over a scored candidate set (`query_id`, `neighbor_id`
   * long, `score`) via the bounded-heap
   * [[graft.functions.VectorAggregators.TopKByScore]] aggregator. Full
   * partial aggregation: map-side `reduce` prunes to k per partition, so
   * the shuffle carries |Q|·k·partitions buffer entries — NOT every scored
   * candidate row the `Window.partitionBy(query_id) row_number` form would
   * move (at a 100 TB corpus the window shuffle would BE the job). Tie
   * order (score desc, id asc) matches the window form exactly, so results
   * are bit-identical to a rank≤k filter: null scores (a null embedding
   * reaching the scorer) are dropped up front — the window's `desc`
   * ordering put nulls last, but the heap's input encoder would decode
   * them as 0.0 and mis-rank them above negative scores.
   */
  private[ext] def heapTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.VectorAggregators.TopKByScore(k))
    scored.filter(col("score").isNotNull)
      .groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("score"), (col("pos") + 1).cast("int").as("rank"))
  }

  /**
   * Exact top-k neighbors for each query vector. `queries` must be small
   * (≤ ~10⁵ rows): it is broadcast, so the big corpus never shuffles for
   * the scoring join. The per-query top-k is a bounded-heap typed
   * Aggregator ([[graft.functions.VectorAggregators.TopKByScore]]) with
   * full partial aggregation: map-side `reduce` prunes to k per partition,
   * so the shuffle carries |Q|·k·partitions buffer entries — NOT the
   * |Q|·|C| scored pairs a `Window.partitionBy(query).orderBy(score)` rank
   * would move (at 100 TB corpus × 10⁵ queries, that window shuffle would
   * BE the job). Tie order (score desc, id asc) matches the window form
   * exactly, so results are bit-identical.
   *
   * `idCol` must be integral (it rides the heap as a long); at 100 TB an
   * id is a 64-bit key anyway — hash or dictionary-encode string ids first.
   */
  def cosineTopK(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    requireIntegralId(corpus, idCol, "cosineTopK")
    GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineNative(col("qv"), col("cv")))
    heapTopK(scored, k)
  }

  /**
   * ITEM–ITEM COLLABORATIVE-FILTERING top-k — "customers who took this
   * also took that": per item, its k most cosine-similar co-basket
   * neighbors, cos(i,j) = c_ij / √(c_i·c_j) over distinct
   * (basket, item) incidences. The co-occurrence recommender beside
   * `q_basket_lift`'s association rules: lift asks "is the pair
   * surprising", the cosine ranks WHICH neighbors to show, normalized
   * so popular items don't dominate every list. Emits (item, neighbor,
   * cosine 8dp, rank 1..k), ties broken (cosine desc, neighbor asc);
   * pairs below `minSupport` co-baskets are cut before scoring (a
   * 1-basket coincidence is noise AND the tail is where the pair count
   * explodes).
   *
   * Scale: the pair join is per-BASKET — fanout Σ basket_size², bounded
   * by `maxBasketSize` (ENFORCED, not assumed: oversized baskets are
   * deterministically truncated to their `maxBasketSize` smallest item
   * ids before the self-join — the `maxCenterDegree` wedge-cap
   * discipline; a megabasket carries almost no per-pair signal AND is
   * exactly where the quadratic blows up), never items²; item counts
   * join back on the item key (equi, shuffled); the per-item top-k
   * rides the bounded heap ([[heapTopK]] — map-side pruning, never a
   * rank window over the pair table). The capped path dedupes and
   * truncates in ONE basket-keyed aggregate (`collect_set` →
   * `sort_array` → `slice`), so it costs the same single exchange as
   * the uncapped `distinct`. Counts c_i are computed on the truncated
   * incidence set, so the cosine stays internally consistent.
   */
  def itemCfTopK(df: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long, k: Int,
                 maxBasketSize: Int = Int.MaxValue): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val raw = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).cast("long").as("__i"))
    val items =
      if (maxBasketSize == Int.MaxValue) raw.distinct()
      else raw.groupBy("__b")
        .agg(slice(sort_array(collect_set(col("__i"))), 1, maxBasketSize)
          .as("__is"))
        .select(col("__b"), explode(col("__is")).as("__i"))
    val itemCnt = items.groupBy("__i").agg(count(lit(1)).as("__c"))
    val pairs = items.as("x")
      .join(items.as("y"),
        col("x.__b") === col("y.__b") && col("x.__i") < col("y.__i"))
      .groupBy(col("x.__i").as("i1"), col("y.__i").as("i2"))
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= minSupport)
    val both = pairs.select(col("i1"), col("i2"), col("cooc"))
      .union(pairs.select(col("i2").as("i1"), col("i1").as("i2"),
        col("cooc")))
    val scored = both
      .join(itemCnt.select(col("__i").as("i1"), col("__c").as("c1")), "i1")
      .join(itemCnt.select(col("__i").as("i2"), col("__c").as("c2")), "i2")
      .select(col("i1").as("query_id"), col("i2").as("neighbor_id"),
        round(col("cooc").cast("double") /
          sqrt(col("c1").cast("double") * col("c2")), 8).as("score"))
    heapTopK(scored, k)
      .select(col("query_id").as("item"), col("neighbor_id").as("neighbor"),
        col("score").as("cosine"), col("rank"))
  }

  /**
   * Margin-based nearest-neighbor MINING (Artetxe & Schwenk ratio margin,
   * the CCMatrix/LASER bitext-mining score): for each query, its best
   * corpus neighbor with the best cosine NORMALIZED by the mean of the
   * top-k cosines — absolute-threshold mining over-fires in dense
   * hubs and under-fires in sparse regions; the margin self-calibrates
   * per query (margin ≈ 1 ⇒ the "match" is no better than the
   * neighborhood average ⇒ reject). Rides [[cosineTopK]]'s bounded heap,
   * then one |Q|-sized aggregation; the mean runs over decimal-cast
   * 6dp scores (exact — a double AVG would be partition-order
   * dependent; DuckDB's decimal AVG also returns double, so the oracle
   * uses SUM·n/best like this operator).
   */
  def marginTopPairs(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    cosineTopK(queries, corpus, idCol, vecCol, k)
      .groupBy("query_id")
      .agg(max(struct(col("score").cast(dec).as("s"),
          (-col("neighbor_id")).as("nn"))).as("best"),
        sum(col("score").cast(dec)).as("ssum"),
        count(lit(1)).as("n_cands"))
      .select(col("query_id"),
        (-col("best.nn")).as("neighbor_id"),
        col("best.s").cast("double").as("best_cos"),
        round(col("best.s").cast("double") * col("n_cands") /
          col("ssum").cast("double"), 6).as("margin"),
        col("n_cands"))
  }

  /**
   * Top principal direction of the embedding corpus by POWER ITERATION —
   * the spectral anisotropy diagnostic (a dominant component explaining
   * most variance means the embedding space has collapsed toward a line;
   * it is also the classic "remove the top PC" preprocessing signal for
   * similarity quality). Each round is one narrow per-row dot against the
   * broadcast-literal direction plus ONE posexplode + groupBy(dim)
   * aggregation — O(rows·dim) shuffle of small numbers, and only the
   * 64-value direction (a model artifact) ever reaches the driver.
   *
   * Cross-engine determinism, the same discipline as the LM/stats suite:
   * per-row projections round to 6 dp (the only point where float-sum
   * order could differ between engines); per-dimension contributions are
   * products of IDENTICAL doubles (exact on both engines), rounded to
   * 9 dp and decimal-summed, so the aggregation is order-free; the
   * normalizer squares exact values and decimal-sums again. An unrolled
   * SQL oracle replays every round bit-for-bit.
   */
  def powerIterationTopPC(df: DataFrame, vecCol: String, dim: Int,
                          iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10, s"bad iters $iters")
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    var v: Seq[Double] = Seq.fill(dim)(
      BigDecimal(1.0 / math.sqrt(dim.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val rows = df.filter(col(vecCol).isNotNull)
      .select(col(vecCol).as("__x")).persist()
    try {
      var it = 0
      while (it < iters) {
        val vLit = typedlit(v)
        val proj = rows.withColumn("__w",
          round(aggregate(
            zip_with(col("__x"), vLit,
              (a, b) => a.cast("double") * b),
            lit(0.0), (acc, e) => acc + e), 6))
        val s = proj
          .select(posexplode(col("__x")), col("__w"))
          .groupBy(col("pos"))
          .agg(sum(round(col("col").cast("double") * col("__w"), 9)
            .cast(dec9)).as("s"))
          .orderBy("pos")
          .collect()
          .map(r => r.getDecimal(1).doubleValue())
        val norm = {
          val sq = s.map(x =>
            BigDecimal(x * x).setScale(9, BigDecimal.RoundingMode.HALF_UP))
          math.sqrt(sq.sum.toDouble)
        }
        v = s.map(x =>
          BigDecimal(x / norm).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble).toSeq
        it += 1
      }
    } finally rows.unpersist(blocking = false)
    val spark = df.sparkSession
    import spark.implicits._
    v.zipWithIndex.map { case (c, j) => (j.toLong + 1L, c) }
      .toDF("dim", "component")
  }

  /** Sign-LSH bucket id from `nBits` fixed "hyperplanes". For oracle
    * reproducibility the hyperplanes are axis-aligned (bit b = sign of
    * dimension b·stride); production would use seeded random Gaussian
    * hyperplanes — same plan shape, same cost. Pure projection, no shuffle. */
  def signLshBucket(vec: Column, nBits: Int, stride: Int): Column =
    (0 until nBits).map { b =>
      when(element_at(vec, b * stride + 1) > 0f,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: score only within matching LSH bucket. Recall is
    * tunable via nBits (fewer bits = bigger buckets = higher recall & cost).
    * The bucket equi-join shuffles each side once on the bucket id —
    * O(corpus) shuffle, no cross join anywhere.
    *
    * Schema note (changed when the heap replaced the window rank): `idCol`
    * must be INTEGRAL and `neighbor_id` is emitted as long — string ids,
    * which the old window form passed through, must be hash- or
    * dictionary-encoded first (consistent with [[cosineTopK]]). */
  def annTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nBits: Int = 4, stride: Int = 8): DataFrame = {
    requireIntegralId(corpus, idCol, "annTopK")
    GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      signLshBucket(col(vecCol), nBits, stride).as("bucket"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"),
      signLshBucket(col(vecCol), nBits, stride).as("bucket"))
    val scored = c.join(q, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineNative(col("qv"), col("cv")))
    heapTopK(scored, k)
  }

  // -------------------------------------------------------------------------
  // IVF (inverted-file) index — the third ANN tier
  // -------------------------------------------------------------------------

  /**
   * Assign every vector to its nearest centroid cell (argmax cosine, ties →
   * smallest centroid id). The centroid set is a MODEL artifact — bounded,
   * driver-collected, folded into the row expression as literals — so
   * assignment is a pure narrow projection: ZERO shuffle at any corpus size
   * (a window-based argmax would shuffle rows × centroids). Centroids here
   * come from [[takeCentroids]] (deterministic stub); production swaps in
   * k-means output — identical plumbing.
   */
  def ivfAssign(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
                idCol: String, vecCol: String): DataFrame = {
    // nearest cell via the native reference-object kernel
    // ([[graft.functions.CentroidTopCells]]) — the former struct-argmax
    // was linear in expression count but still crossed Janino's 64 KB
    // method limit at production centroid counts (hundreds+), silently
    // dropping the stage to interpreted eval; spec-proven identical.
    // (registration stays: downstream scorers resolve graft_cosine by name)
    GraftFunctions.register(df.sparkSession)
    df.withColumn("cell",
      element_at(graft.functions.CentroidTopCells(col(vecCol),
        centroids, 1), 1))
  }

  /** The pre-native declarative assignment — kept for the equivalence
    * spec pinning [[ivfAssign]] to the struct-argmax contract. */
  private[graft] def ivfAssignDeclarative(df: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      idCol: String, vecCol: String): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val entries = centroids.map { case (cid, vec) =>
      struct(cosineNative(col(vecCol), typedlit(vec)).as("cs"),
        lit(-cid).as("ncid"))
    }
    val best = array_max(array(entries: _*))
    df.withColumn("cell", -best.getField("ncid"))
  }

  /**
   * Lloyd's k-means over the embedding column, cosine assignment +
   * element-wise mean update — produces trained centroids for [[ivfTopK]].
   * Per iteration: one narrow assignment pass (centroids-as-literals) and
   * one hash aggregation by cell using the [[graft.functions.VectorAggregators.VectorMean]]
   * UDAF (partial aggregation: the shuffle carries one (dim, count) buffer
   * per cell per partition). Only the c new centroids are collected — the
   * model artifact, never data. Deterministic: seeded by `init`
   * ([[takeCentroids]] by default; [[samplePlusPlusCentroids]] for the
   * bias-free production seeding), scores rounded before argmax, empty
   * cells keep their previous centroid.
   */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      c: Int, iters: Int, dim: Int,
                      init: (DataFrame, String, String, Int) => Seq[(Long, Seq[Float])]
                        = takeCentroids): Seq[(Long, Seq[Float])] = {
    val vm = udaf(new graft.functions.VectorAggregators.VectorMean(dim))
    var centroids = init(df, idCol, vecCol, c)
    var i = 0
    while (i < iters) {
      val means = ivfAssign(df, centroids, idCol, vecCol)
        .groupBy("cell").agg(vm(col(vecCol)).as("m"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).map(_.toFloat).toSeq))
        .toMap
      centroids = centroids.map { case (cid, old) =>
        (cid, means.getOrElse(cid, old))
      }
      i += 1
    }
    centroids
  }

  /** Deterministic centroid stub: the first `c` vectors by id. Biased on
    * sorted corpora (nearby ids often share a region → degenerate cells);
    * [[samplePlusPlusCentroids]] is the production seeding. */
  def takeCentroids(df: DataFrame, idCol: String, vecCol: String,
                    c: Int): Seq[(Long, Seq[Float])] =
    df.orderBy(col(idCol)).limit(c)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  /**
   * Deterministic k-means++-style seeding — the fix for [[takeCentroids]]'
   * first-c-by-id bias (on a corpus sorted by topic, the first c ids share
   * one region, most IVF cells start empty, and recall cliffs). Two steps:
   *
   *   1. a bounded candidate POOL is drawn in fingerprint-hash order
   *      (`TopK(fp60(id))` — uniform over the corpus like a random sample,
   *      but deterministic, engine-reproducible, and growth-stable; a
   *      per-partition top-k heap, never a full sort). Only the pool —
   *      a model artifact of ≤ `poolSize` rows — is collected.
   *   2. greedy farthest-point selection over the pool (the deterministic
   *      analog of k-means++'s D²-sampling, the classic 2-approximation
   *      for k-center): start from the pool's min-hash vector, repeatedly
   *      add the candidate with the largest distance (1 − cosine) to its
   *      nearest chosen centroid; ties break toward the smaller id.
   *
   * Output shape matches [[takeCentroids]] (centroid ids = chosen vector
   * ids), so [[kmeansCentroids]]/[[ivfAssign]]/[[ivfTopK]] plumbing is
   * unchanged.
   */
  def samplePlusPlusCentroids(df: DataFrame, idCol: String, vecCol: String,
                              c: Int, poolSize: Int = 256): Seq[(Long, Seq[Float])] = {
    require(c > 0, "need at least one centroid")
    val pool = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        TextOps.fingerprint60(col(idCol).cast("string")).as("fp"))
      .orderBy(col("fp"), col("id"))
      .limit(math.max(poolSize, c))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(pool.nonEmpty, "samplePlusPlusCentroids on an empty frame")

    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 1.0 else 1.0 - dot / d
    }

    val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
    // minimum distance from each pool point to the chosen set, updated
    // incrementally — O(pool · c) total, all driver-side on model-sized data
    val minD = pool.map(p => cosD(p._2, pool.head._2))
    while (chosen.size < math.min(c, pool.length)) {
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < pool.length) {
        if (!chosen.exists(_._1 == pool(i)._1) &&
          (minD(i) > bestD ||
            (minD(i) == bestD && best >= 0 && pool(i)._1 < pool(best)._1))) {
          best = i; bestD = minD(i)
        }
        i += 1
      }
      chosen += pool(best)
      i = 0
      while (i < pool.length) {
        val d = cosD(pool(i)._2, pool(best)._2)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
    }
    chosen.map { case (id, v) => (id, v.toSeq) }.toSeq
  }

  /**
   * Query-side multi-probe cell assignment: each query row explodes to its
   * `nprobe` nearest centroids' cells. Still a pure narrow projection —
   * the fan-out multiplies only the (small) query side, never the corpus.
   * Tie-break matches [[ivfAssign]] (higher score, then smaller cell id),
   * so probe #1 is exactly the nprobe=1 cell.
   */
  def ivfProbeCells(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
                    vecCol: String, nprobe: Int): DataFrame = {
    // top-nprobe cells from the same native kernel as [[ivfAssign]] —
    // best score first, ties toward the smaller cell id (identical to
    // the former reverse(array_sort(struct(cs, -cid))) ranking)
    GraftFunctions.register(df.sparkSession)
    df.withColumn("cell",
      explode(graft.functions.CentroidTopCells(col(vecCol),
        centroids, nprobe)))
  }

  /** The pre-native declarative probe — kept for the equivalence spec. */
  private[graft] def ivfProbeCellsDeclarative(df: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      vecCol: String, nprobe: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val entries = centroids.map { case (cid, vec) =>
      struct(cosineNative(col(vecCol), typedlit(vec)).as("cs"),
        lit(-cid).as("ncid"))
    }
    val ranked = reverse(array_sort(array(entries: _*)))
    df.withColumn("cell",
      explode(transform(slice(ranked, 1, nprobe), e => -e.getField("ncid"))))
  }

  /**
   * IVF top-k: queries and corpus are cell-assigned narrowly, then scored
   * only within the query's probed cell(s) — the equi-join on `cell`
   * shuffles each side once, volume O(corpus + |Q|·nprobe), never
   * O(|Q|·|C|). Recall rides the standard IVF nlist/nprobe trade: fewer
   * cells or more probes = more candidates = higher recall & cost.
   * `nprobe > 1` fans out only the query side (each query joins its
   * `nprobe` nearest cells; the corpus is still assigned once), and since
   * the candidate set grows monotonically with nprobe, recall against the
   * exact top-k is monotone in nprobe — asserted by the
   * `q_ivf_topk_probe2` bound-based oracle and KmeansIvfSpec.
   *
   * Schema note: like [[annTopK]], `idCol` must be integral and
   * `neighbor_id` comes back as long (heap top-k carries ids as long).
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              centroids: Seq[(Long, Seq[Float])],
              idCol: String, vecCol: String, k: Int,
              nprobe: Int = 1): DataFrame = {
    requireIntegralId(corpus, idCol, "ivfTopK")
    val q = ivfProbeCells(queries, centroids, vecCol, nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell"))
    val c = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("cv"), col("cell"))
    val scored = c.join(q, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineNative(col("qv"), col("cv")))
    heapTopK(scored, k)
  }

  /**
   * Symmetric int8 quantization of an embedding column — the standard 4×
   * storage/bandwidth compression for ANN corpora: per vector,
   * `scale = 127 / max|x_i|` and `q_i = round(x_i · scale)` ∈ [-127, 127].
   * Reconstruction error is bounded by 0.5/scale per element by
   * construction. Pure per-row projection (higher-order functions), zero
   * shuffle; at 100 TB the quantized corpus is what the ANN tiers scan.
   * Caller guards all-zero vectors (scale would be infinite) — embedding
   * models never emit them.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    val scale = lit(127.0) / maxAbs
    df.select(col(idCol), scale.as("q_scale"),
      transform(col(vecCol),
        x => round(x.cast("double") * scale).cast("int")).as("qvec"))
  }

  /**
   * Product-quantization codebook training (spherical PQ): the vector is
   * split into `m` contiguous subspaces of `dim / m` dims, and each
   * subspace gets its own `codes`-entry codebook trained by the SAME
   * spherical k-means as IVF ([[kmeansCentroids]] with
   * [[samplePlusPlusCentroids]] seeding — cosine assignment matches the
   * engine's similarity metric everywhere else). Returns
   * `codebooks(s)(j)` = code-`j` vector of subspace `s` — m × codes × (dim/m)
   * floats, a pure model artifact (16 codebooks × 16 codes × 8 dims =
   * 2 KB for a 128-dim corpus).
   *
   * Scale: training runs ONE job per Lloyd round for ALL `m` subspaces —
   * the shared seeding pool (fingerprint-ordered ids, subspace-independent)
   * is collected once, and each round assigns every subspace's nearest
   * code in one projection and aggregates a subspace-exploded VectorMean
   * (nothing shuffles but the (subspace, code) partial buffers); at 100 TB
   * one trains on a [[SamplingOps.hashSample]] of the corpus instead —
   * same call, sampled input.
   */
  def pqTrainCodebooks(df: DataFrame, idCol: String, vecCol: String,
                       m: Int, codes: Int, iters: Int, dim: Int)
      : Seq[Seq[Seq[Float]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val w = dim / m
    GraftFunctions.register(df.sparkSession)

    // ONE candidate pool for every subspace: the pool is picked by
    // fingerprint order of the IDs, which doesn't depend on the subspace —
    // collect the full vectors once and slice driver-side (the naive
    // per-subspace loop re-ran this job m times on the same rows).
    val pool = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        TextOps.fingerprint60(col(idCol).cast("string")).as("fp"))
      .orderBy(col("fp"), col("id"))
      .limit(math.max(256, codes))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(pool.nonEmpty, "pqTrainCodebooks on an empty frame")

    def sliceOf(vec: Array[Float], s: Int): Array[Float] =
      java.util.Arrays.copyOfRange(vec, s * w, (s + 1) * w)
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 1.0 else 1.0 - dot / d
    }
    // greedy farthest-point per subspace over the shared pool — the same
    // deterministic k-means++-style seeding as samplePlusPlusCentroids,
    // driver-side on model-sized data; code id = index in id order
    def seed(s: Int): Array[Array[Float]] = {
      val sub = pool.map { case (id, v) => (id, sliceOf(v, s)) }
      val chosen = scala.collection.mutable.ArrayBuffer(sub.head)
      val minD = sub.map(p => cosD(p._2, sub.head._2))
      while (chosen.size < math.min(codes, sub.length)) {
        var best = -1; var bestD = -1.0; var i = 0
        while (i < sub.length) {
          if (!chosen.exists(_._1 == sub(i)._1) &&
            (minD(i) > bestD ||
              (minD(i) == bestD && best >= 0 && sub(i)._1 < sub(best)._1))) {
            best = i; bestD = minD(i)
          }
          i += 1
        }
        chosen += sub(best)
        i = 0
        while (i < sub.length) {
          val d = cosD(sub(i)._2, sub(best)._2)
          if (d < minD(i)) minD(i) = d
          i += 1
        }
      }
      chosen.sortBy(_._1).map(_._2).toArray
    }
    val books = (0 until m).map(seed).toArray

    // Lloyd iterations, ALL subspaces in ONE job per round: per row, build
    // (subspace, nearest-code, subvector) structs and explode — the
    // groupBy(s, cell) VectorMean shuffles one (w-dim, count) buffer per
    // (subspace, code, partition). The naive loop ran m jobs per round
    // over the same corpus; this runs one.
    val vm = udaf(new graft.functions.VectorAggregators.VectorMean(w))
    var iter = 0
    while (iter < iters) {
      // per-row codes from the native PqEncode kernel (one reference-
      // object call — the struct-argmax form blew the 64 KB codegen
      // limit at 8×16 and ran interpreted), then posexplode recovers
      // (subspace, code) and the subvector slices positionally
      val bookSnapshot: Seq[Seq[Seq[Float]]] =
        books.map(_.map(_.toSeq).toSeq).toSeq
      val means = df
        .select(col(vecCol).as("__v"),
          posexplode(graft.functions.PqEncode(col(vecCol), bookSnapshot)))
        .groupBy(col("pos").as("s"), col("col").as("cell"))
        .agg(vm(slice(col("__v"), col("pos") * w + 1, lit(w))).as("mean"))
        .collect()
      means.foreach { r =>
        // empty cells keep their previous codebook vector
        books(r.getInt(0))(r.getInt(1)) =
          r.getSeq[Double](2).map(_.toFloat).toArray
      }
      iter += 1
    }
    books.map(_.map(_.toSeq).toSeq).toSeq
  }

  /**
   * PQ encoding: each row's vector becomes `m` small code ids — at
   * m=8 × 256 codes that is 8 bytes per vector vs 256 for float32, a 32×
   * compression of the ANN-candidate corpus (the memory step that makes
   * 100 TB of embeddings scannable; re-rank the survivors against the
   * full-precision vectors, exactly like [[quantizeInt8]]'s contract).
   * Pure per-row projection: every (subspace, code) cosine is a codegen'd
   * expression over a literal codebook — linear expression count, zero
   * shuffle, no UDF. Argmax ties break toward the smaller code id
   * (struct-max over (score, -code), the [[ivfAssign]] discipline).
   */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Float]]]): DataFrame =
    df.select(col(idCol),
      pqCodeColumn(df, col(vecCol), codebooks).as("pq_codes"))

  /** Column form of PQ encoding (array of per-subspace code ids) — shared
    * by [[pqEncode]] and the fused [[ivfPqTopK]], which needs the codes in
    * the same projection as the IVF cell. Runs on the native
    * [[graft.functions.PqEncode]] expression: the former declarative
    * struct-argmax built m×codes cosine structs in ONE projection, whose
    * generated function blew Janino's 64 KB method limit at 8×16 and
    * silently fell back to interpreted eval — the codebooks now ride a
    * reference object and encode is one fused loop per row (spec-proven
    * bit-identical to the declarative form, NaN/tie ordering included). */
  def pqCodeColumn(df: DataFrame, vec: Column,
                   codebooks: Seq[Seq[Seq[Float]]]): Column = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "empty PQ codebook")
    graft.functions.PqEncode(vec, codebooks)
  }

  /** The pre-native declarative encode — kept for the equivalence spec
    * that pins [[pqCodeColumn]]'s semantics to the struct-argmax contract. */
  private[graft] def pqCodeColumnDeclarative(df: DataFrame, vec: Column,
      codebooks: Seq[Seq[Seq[Float]]]): Column = {
    GraftFunctions.register(df.sparkSession)
    val m = codebooks.length
    require(m > 0 && codebooks.forall(_.nonEmpty), "empty PQ codebook")
    val w = codebooks.head.head.length
    val codeCols = (0 until m).map { s =>
      val sub = slice(vec, s * w + 1, w)
      val entries = codebooks(s).zipWithIndex.map { case (v, j) =>
        struct(cosineNative(sub, typedlit(v)).as("cs"),
          lit(-j).as("nc"))
      }
      (-array_max(array(entries: _*)).getField("nc")).cast("int")
    }
    array(codeCols: _*)
  }

  /** PQ reconstruction of an encoded row: concatenate each subspace's
    * code vector (codebooks as literal int→vector maps — model-sized,
    * folded into codegen). Column form so verification/re-ranking stays
    * a narrow projection. */
  def pqReconstruct(codesCol: Column, codebooks: Seq[Seq[Seq[Float]]]): Column = {
    val subs = codebooks.zipWithIndex.map { case (cb, s) =>
      val m = typedlit(cb.indices.map(j => j -> cb(j)).toMap)
      element_at(m, element_at(codesCol, s + 1))
    }
    concat(subs: _*)
  }

  /**
   * PQ coarse-score + full-precision re-rank — the complete
   * compressed-corpus ANN pipeline stage ([[pqEncode]] is the memory step,
   * this is the query step): score every corpus row against each query
   * using only its PQ-RECONSTRUCTED vector (the 8-byte-code approximation),
   * keep the top `candidates` per query with the bounded heap, then join
   * those few candidate ids back to the full-precision corpus and re-rank
   * exactly for the final top `k`.
   *
   * Scale: the coarse pass streams the ENCODED corpus (codes are ~32×
   * smaller than float32 vectors — at 100 TB of embeddings this is the
   * difference between scanning 3 TB and 100 TB) against broadcast
   * queries with zero corpus shuffle; the heap bounds the coarse exchange
   * to |Q|·candidates·partitions buffers; only |Q|·candidates rows ever
   * touch full-precision vectors again (an id equi-join). Because the
   * coarse heap's candidate set is NESTED as `candidates` grows (same
   * ordering, longer prefix), recall against the exact top-k is MONOTONE
   * in `candidates` — asserted by `q_pq_rerank`'s oracle.
   */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame,
                   codebooks: Seq[Seq[Seq[Float]]],
                   idCol: String, vecCol: String, k: Int,
                   candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be ≥ k=$k")
    requireIntegralId(corpus, idCol, "pqRerankTopK")
    GraftFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val encoded = pqEncode(corpus, idCol, vecCol, codebooks)
      .select(col(idCol).cast("long").as("neighbor_id"),
        pqReconstruct(col("pq_codes"), codebooks).as("rv"))
    val coarse = encoded.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineNative(col("qv"), col("rv")))
    val cand = heapTopK(coarse, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val exact = cand
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("score", cosineNative(col("qv"), col("cv")))
    heapTopK(exact, k)
  }

  /**
   * Fused IVF+PQ search (IVFADC — the production ANN composition): the
   * corpus is IVF-cell-assigned AND PQ-encoded in one narrow projection,
   * the coarse pass scores ONLY the probed cells' PQ codes (the cell
   * equi-join against the broadcast probe set drops every unprobed cell
   * before any arithmetic — nprobe/ncells of [[pqRerankTopK]]'s
   * whole-corpus coarse scan), the bounded heap keeps `candidates` per
   * query, and only those few rows re-join the full-precision vectors for
   * the exact final top `k`.
   *
   * Scale: one corpus scan, zero corpus shuffle in the coarse pass
   * (queries ride along broadcast; the per-query heap bounds the coarse
   * exchange to |Q|·candidates·partitions buffers), and the re-rank is a
   * |Q|·candidates-row id equi-join. Production stores the encoded corpus
   * partitioned by `cell` ([[pqEncode]] + [[ivfAssign]] +
   * `partitionBy("cell")`), so the coarse pass also prunes unprobed cells
   * at the SCAN; this one-pass form computes cell + codes inline — same
   * plan from the join down.
   *
   * Recall is monotone in BOTH knobs (each is a nested-candidate-set
   * argument, asserted by `q_ivfpq_topk`'s bound-based oracle): raising
   * `nprobe` grows the probed cell union (probe list is a prefix of the
   * centroid ranking), and raising `candidates` extends the coarse heap's
   * kept prefix under the same deterministic (score desc, id asc) order.
   */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                centroids: Seq[(Long, Seq[Float])],
                codebooks: Seq[Seq[Seq[Float]]],
                idCol: String, vecCol: String, k: Int,
                nprobe: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be ≥ k=$k")
    requireIntegralId(corpus, idCol, "ivfPqTopK")
    GraftFunctions.register(queries.sparkSession)
    val q = ivfProbeCells(queries, centroids, vecCol, nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell"))
    // cell + reconstructed-code vector in ONE projection over the scan
    val c = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("neighbor_id"), col("cell"),
        pqReconstruct(pqCodeColumn(corpus, col(vecCol), codebooks),
          codebooks).as("rv"))
    val coarse = c.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", cosineNative(col("qv"), col("rv")))
    val cand = heapTopK(coarse, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val qFull = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val exact = cand
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("score", cosineNative(col("qv"), col("cv")))
    heapTopK(exact, k)
  }

  /**
   * Measured ANN operating curve — recall@k of the IVF tier (and, with
   * `candidates` > 0, the fused IVF+PQ tier) against brute-force cosine
   * truth, one row per (nprobe, candidates) grid point. The monotone
   * oracles (`q_ivf_topk_probe2`, `q_ivfpq_topk`) bound RELATIVE
   * behavior; this is the ABSOLUTE number a user tuning nprobe/candidates
   * reads: "nprobe=2 buys 0.94 recall at ~2/8 of the scan". At full probe
   * (nprobe = ncells) and unpruned candidates the candidate set is the
   * whole corpus and recall is exactly 1.0 (spec-asserted) — the curve's
   * fixed point.
   *
   * Scale: truth is a bounded k·|Q| artifact (heap top-k, then
   * localCheckpoint so the grid reuses it without re-scoring the corpus);
   * each grid point costs one ANN query batch + a semi-join against
   * truth and aggregates to ONE row. Nothing corpus-sized is collected.
   */
  def annRecallAudit(queries: DataFrame, corpus: DataFrame,
                     centroids: Seq[(Long, Seq[Float])],
                     codebooks: Seq[Seq[Seq[Float]]],
                     idCol: String, vecCol: String, k: Int,
                     grid: Seq[(Int, Int)]): DataFrame = {
    require(grid.nonEmpty, "empty audit grid")
    val truth = cosineTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    grid.map { case (np, cand) =>
      val ann =
        if (cand <= 0) ivfTopK(queries, corpus, centroids, idCol, vecCol,
          k, nprobe = np)
        else ivfPqTopK(queries, corpus, centroids, codebooks, idCol,
          vecCol, k, nprobe = np, candidates = cand)
      val hits = ann.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      hits.crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .select(lit(np.toLong).as("nprobe"), lit(cand.toLong).as("candidates"),
          col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") /
            nullif(col("n_true"), lit(0L)), 6).as("recall"))
    }.reduce(_ unionByName _)
  }

  /**
   * Embedding-space cluster-health report: per label, the member count and
   * the mean/min cosine of members to their label CENTROID. Collapsed or
   * polluted clusters show up as low mean (diffuse) or very low min
   * (outlier members) — the routine diagnostic before trusting labels or
   * IVF cells built from them.
   *
   * Scale: one VectorMean hash agg (label-sized output), centroids
   * broadcast back (a model artifact), per-row cosine is narrow, final
   * per-label agg partial+final. The corpus streams twice, shuffles never.
   */
  def labelDispersion(df: DataFrame, labelCol: String, vecCol: String,
                      dim: Int): DataFrame = {
    val vm = udaf(new graft.functions.VectorAggregators.VectorMean(dim))
    // pin each centroid component to 6dp before the cosines: VectorMean's
    // double sums are partition-order dependent in their low bits, and a
    // per-row cosine sitting exactly on a rounding boundary could flip vs
    // an oracle whose centroid comes from a sequential AVG+ROUND
    val cents = df.groupBy(labelCol).agg(
      transform(vm(col(vecCol)), x => round(x, 6)).as("__ld_c"))
    df.join(broadcast(cents), labelCol)
      .withColumn("__ld_cos", cosine(col(vecCol), col("__ld_c")))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"),
        // per-row cosines are exact 6dp decimals — a decimal sum makes the
        // mean order-independent (a float avg flaked the last digit)
        round(sum(col("__ld_cos")
            .cast(org.apache.spark.sql.types.DecimalType(12, 6)))
          .cast("double") / count(lit(1)), 6).as("mean_cos"),
        round(min(col("__ld_cos")), 6).as("min_cos"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a,b), a<b, with cosine ≥
    * threshold, via bucketed self-join (exact within bucket — an
    * approximate global answer, like all embedding dedup at scale). */
  /**
   * Incremental embedding near-dup detection — batch × corpus, the
   * SemDeDup ADMISSION face of [[cosineNearDupPairs]] (the self-join
   * form): both sides bucket by sign-LSH, only bucket-collided
   * (new, corpus) pairs pay the exact 6dp cosine, and pairs scoring ≥
   * `threshold` emit (new_id, corpus_id, cosine). Never all-pairs: the
   * bucket equi-join shuffles each side once on the bucket id (the
   * batch side broadcasts under AQE when small). At 100 TB persist the
   * corpus-side bucket column beside the vectors (one narrow map at
   * ingest); recomputing it — as here — is a per-row projection, no
   * pairwise work either way. Ids must be globally unique across batch
   * and corpus (the [[graft.ext.DedupOps.incrementalNearDupPairs]]
   * contract; equal ids are treated as the same document).
   */
  def cosineNearDupPairsIncremental(newRows: DataFrame, corpus: DataFrame,
                                    idCol: String, vecCol: String,
                                    threshold: Double, nBits: Int = 4,
                                    stride: Int = 8): DataFrame = {
    GraftFunctions.register(newRows.sparkSession)
    val a = newRows.select(col(idCol).as("new_id"), col(vecCol).as("__va"),
      signLshBucket(col(vecCol), nBits, stride).as("bucket"))
    val b = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__vb"),
      signLshBucket(col(vecCol), nBits, stride).as("bucket"))
    a.join(b, "bucket")
      .filter(col("new_id") =!= col("corpus_id"))
      .withColumn("cosine", cosineNative(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("new_id", "corpus_id", "cosine")
  }

  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBits: Int = 4,
                         stride: Int = 8): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      signLshBucket(col(vecCol), nBits, stride).as("bucket"))
    GraftFunctions.register(df.sparkSession)
    v.as("a").join(v.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("score", cosineNative(col("a.v"), col("b.v")))
      .filter(col("score") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("score"))
  }

  /**
   * First-class semantic dedup (the SemDeDup pipeline stage): embedding
   * near-dup pairs ([[cosineNearDupPairs]] — LSH-bucketed self-join, never
   * all-pairs) → connected components
   * ([[DedupOps.connectedComponentsStar]] — O(log d) rounds) → keep the
   * MIN-id member of every cluster. Returns the deduplicated corpus: one
   * row per kept document, with the input schema plus `n_members` (cluster
   * size; 1 for documents with no near-duplicate). Transitive duplicates
   * are dropped even when the pair list never linked them to the
   * representative directly.
   *
   * Scale: pairs are bucket-local, components shuffle O(edges) per star
   * round, and the final keep step is one aggregate on cluster_id + one
   * join back on the id — no step touches all-pairs or collects data.
   * `idCol` must be integral (cluster labels ride the pair graph as the
   * ids themselves).
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nBits: Int = 4,
                    stride: Int = 8): DataFrame = {
    requireIntegralId(df, idCol, "semanticDedup")
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, nBits, stride)
    semanticDedupByAssignment(df, idCol,
      DedupOps.connectedComponentsStar(pairs))
  }

  /** [[semanticDedup]]'s keep step against a PRECOMPUTED (id, cluster_id)
    * assignment — the [[graft.ext.ClusterStore]] consumer form: the
    * embedding near-dup graph is clustered once per ingest wave, and this
    * reads the persisted labels instead of re-running LSH + components. */
  def semanticDedupByAssignment(df: DataFrame, idCol: String,
                                assignment: DataFrame): DataFrame = {
    val clusters = assignment.select(col("id"), col("cluster_id"))
    // every doc gets a cluster (singletons label themselves); cluster_id is
    // the min member id, so the representative row is id == cluster_id
    val sizes = df.select(col(idCol).cast("long").as("__sd_id"))
      .join(clusters, col("__sd_id") === col("id"), "left")
      .select(coalesce(col("cluster_id"), col("__sd_id")).as("__keep_id"))
      .groupBy("__keep_id").agg(count(lit(1)).as("n_members"))
    df.join(sizes, col(idCol).cast("long") === col("__keep_id"))
      .drop("__keep_id")
  }

  /**
   * RECIPROCAL-RANK FUSION (Cormack et al., SIGIR'09) — the standard
   * hybrid-retrieval merge: given k ranked lists over one id space
   * (lexical BM25, dense cosine, …), each hit contributes
   * `1 / (kRrf + rank)` and documents are re-ranked by the sum. Rank-based
   * (not score-based), so wildly different score scales fuse without
   * normalization — which is exactly why it's the production default for
   * BM25 + embedding retrieval feeding RAG / curation pipelines.
   *
   * Inputs need (`idCol`, `rankCol`) with 1-based ranks. Returns
   * (`idCol`, rrf_score, n_lists) — n_lists = how many input lists carried
   * the id (the agreement signal), top `k` by score, ties id-ascending.
   *
   * Scale: the inputs are ALREADY top-k lists (each a bounded artifact of
   * its retrieval tier — heap-aggregated, never corpus-sized), so the
   * union-groupBy here shuffles O(lists × k) rows regardless of corpus
   * size. The reciprocal terms route through a decimal sum: addition order
   * across partitions can't wiggle the 6dp score (same discipline as
   * [[labelDispersion]]).
   */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              kRrf: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val dec = org.apache.spark.sql.types.DecimalType(28, 14)
    val unioned = rankings
      .map(_.select(col(idCol), col(rankCol).cast("long").as("__rank")))
      .reduce(_ unionByName _)
    unioned.groupBy(idCol)
      .agg(
        round(sum((lit(1.0) / (lit(kRrf) + col("__rank"))).cast(dec))
          .cast("double"), 6).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic ±1 Johnson-Lindenstrauss sign: entry (j, i) is +1 iff
    * the 60-bit md5 fingerprint of "j:i" is even — derivable identically
    * in any engine (the fp60 scheme every sampling op already uses). */
  private[ext] def jlSign(j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
  }

  /**
   * JOHNSON-LINDENSTRAUSS random projection (Achlioptas 2003 sign
   * variant): project `dIn`-dim embeddings to `dOut` dims through a
   * deterministic ±1 matrix scaled by 1/√dOut — pairwise distances are
   * preserved in expectation, so the projection feeds LSH bucketing /
   * coarse ANN at a fraction of the arithmetic and shuffle width. The
   * matrix derives from md5 parity of "(j:i)" (no RNG, no seed state):
   * any engine — and any future run — rebuilds the identical matrix, the
   * same growth-stability property the fp60 samplers guarantee.
   *
   * Returns (`idCol`, j, value): the projected vector exploded to
   * (dimension, value) rows, `value` 6dp.
   *
   * Cross-engine determinism: each term (±v_i, 6dp-rounded) routes
   * through a DECIMAL fold, so the component sum is exact and
   * order-independent — float summation order can't wiggle the output
   * (the labelDispersion discipline, applied per component).
   *
   * Scale: the matrix is a dOut×dIn literal baked into the expression (a
   * model artifact like PQ codebooks — zero shuffle, zero join); the
   * projection itself is a per-row codegen'd higher-order fold. Corpus
   * never shuffles; output width shrinks by dIn/dOut before anything
   * wide downstream.
   */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dIn: Int, dOut: Int): DataFrame = {
    require(dIn > 0 && dOut > 0 && dOut <= dIn,
      s"need 0 < dOut <= dIn, got dIn=$dIn dOut=$dOut")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val scale = math.sqrt(dOut.toDouble)
    val proj = (0 until dOut).map { j =>
      val signs = array((0 until dIn).map(i => lit(jlSign(j, i))): _*)
      val terms = zip_with(col(vecCol), signs,
        (a, s) => round(a.cast("double") * s, 6).cast(dec))
      val sum = aggregate(terms, lit(0).cast(dec),
        (acc, x) => (acc + x).cast(dec))
      // + 0.0: negative-zero canonicalization (a −1e-7 component rounds
      // to −0.0 here but +0.0 in engines that canonicalize)
      round(sum.cast("double") / scale, 6) + lit(0.0)
    }
    df.select(col(idCol), posexplode(array(proj: _*)).as(Seq("j", "value")))
      .select(col(idCol), col("j").cast("long").as("j"), col("value"))
  }

  /**
   * Per-row affinity to the row's OWN (nearest) centroid: assigns each
   * vector to its cell ([[ivfAssign]], native kernel) and scores the
   * vector against that cell's centroid. The shared substrate of the
   * typicality family: [[cellPrototypes]] keeps the best-fitting members
   * per cell, [[embeddingOutliers]] surfaces the worst-fitting rows
   * corpus-wide.
   *
   * Returns the input columns plus (`cell`, `score`) — score is the
   * 6dp-rounded cosine to the assigned centroid.
   *
   * Scale: assignment is a zero-shuffle per-row kernel; the centroid
   * lookup is a broadcast join against an ncells-row model artifact —
   * the corpus never shuffles and no score but the argmax one is kept.
   */
  def centroidAffinity(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
                       idCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = broadcast(centroids.toDF("cell", "__cvec"))
    ivfAssign(df, centroids, idCol, vecCol)
      .join(cents, "cell")
      .withColumn("score", cosineNative(col(vecCol), col("__cvec")))
      .drop("__cvec")
  }

  /**
   * PROTOTYPE selection — the m most typical members of every IVF cell
   * (highest cosine to their own centroid). The "show me what this
   * region of embedding space looks like" primitive: prototypes seed
   * labeling runs, summarize clusters for human review, and act as the
   * compressed stand-in corpus for cheap downstream sweeps (the
   * coreset-by-typicality shape).
   *
   * Returns (`cell`, `idCol`, `score`, `rank`) with rank 1..m per cell,
   * ties (score desc, id asc) — bit-identical to the window-rank form.
   *
   * Scale: [[centroidAffinity]] is narrow; the per-cell top-m rides the
   * bounded-heap group top-k ([[SamplingOps.groupTopK]]) — map-side
   * pruning to m per partition, so the shuffle carries
   * ncells·m·partitions entries, never the corpus.
   */
  def cellPrototypes(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
                     idCol: String, vecCol: String, m: Int): DataFrame =
    SamplingOps.groupTopK(
        centroidAffinity(df, centroids, idCol, vecCol)
          .select(col("cell"), col(idCol), col("score")),
        "cell", idCol, "score", m)

  /**
   * Embedding-space OUTLIER mining — the k corpus rows LEAST similar to
   * their own nearest centroid: rows no trained cell explains (novel
   * topics the index under-serves, encoder failures, garbage documents
   * whose vectors land between clusters). The complement of
   * [[cellPrototypes]], and the data-side half of the retrain signal:
   * `AnnIndexStore.cellSizes` says cells drifted, this says WHICH rows
   * the current centroid model fails.
   *
   * Returns (`idCol`, `cell`, `score`) — the k lowest scores, ties
   * id-ascending.
   *
   * Scale: narrow affinity pass + a global bottom-k that compiles to
   * TakeOrderedAndProject (per-partition heap, k rows to the driver —
   * a model-sized artifact, never a sort of the corpus).
   */
  def embeddingOutliers(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
                        idCol: String, vecCol: String, k: Int): DataFrame =
    centroidAffinity(df, centroids, idCol, vecCol)
      .select(col(idCol), col("cell"), col("score"))
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)

  /**
   * k-NEAREST-NEIGHBOR label vote — propagate labels from a labeled seed
   * corpus onto unlabeled queries: each query takes the majority label of
   * its k nearest labeled neighbors by cosine (ties: more votes win, then
   * the smaller label — deterministic cross-engine). The standard
   * semi-supervised router for corpus curation: a small human-labeled
   * seed classifies the whole corpus by embedding proximity, the
   * model-free complement of [[graft.ext.ClassifyOps.nbClassify]].
   *
   * Returns (`query_id`, `predicted_label`, `votes`) — votes = how many
   * of the k neighbors carried the winning label (the confidence signal;
   * votes ≈ k/nLabels means the vote was noise).
   *
   * Scale: neighbor search is [[cosineTopK]] (broadcast queries, bounded
   * heap — the corpus never shuffles); the |Q|·k neighbor list then
   * BROADCASTS into the label lookup join, so the big labeled corpus
   * streams map-side. Vote counting and the argmax are |Q|·nLabels-sized
   * — `max_by` over a struct, no window, no second corpus pass.
   */
  def knnClassify(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = cosineTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val labels = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).cast("int").as("__nlabel"))
    labels.join(broadcast(nn), "neighbor_id")
      .groupBy("query_id", "__nlabel")
      .agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max(struct(col("votes"), (-col("__nlabel")).as("__neg")))
        .as("__best"))
      .select(col("query_id"),
        (-col("__best.__neg")).cast("int").as("predicted_label"),
        col("__best.votes").as("votes"))
  }

  /**
   * Embedding-DISTRIBUTION drift between two corpus snapshots, measured
   * over a frozen IVF cell model: assign both snapshots to the same
   * centroids ([[ivfAssign]]) and compare per-cell population shares via
   * the add-one-smoothed PSI ([[graft.ops.QualityCheck.driftPsi]] — the
   * same statistic the relational drift gate uses, lifted into embedding
   * space). This is how an ingest pipeline notices the new crawl wave
   * lives in a different region of semantic space than the corpus the
   * index/classifier/mixture weights were tuned on — per-cell, so the
   * report says WHERE the mass moved, not just that it did.
   *
   * Returns driftPsi's shape keyed by cell: (`bucket`, np, nq, p, q,
   * psi_term), 8dp. Σ psi_term is the headline PSI (>0.2 ⇒ retrain by
   * the usual rule of thumb).
   *
   * Scale: two zero-shuffle assignment passes + one ncells-sized
   * aggregate each — snapshots never join row-to-row, so the cost is two
   * corpus scans regardless of snapshot sizes.
   */
  def embeddingDriftPsi(reference: DataFrame, current: DataFrame,
                        centroids: Seq[(Long, Seq[Float])],
                        idCol: String, vecCol: String): DataFrame =
    graft.ops.QualityCheck.driftPsi(
      ivfAssign(reference, centroids, idCol, vecCol),
      ivfAssign(current, centroids, idCol, vecCol),
      col("cell"))

  /**
   * CONTRASTIVE training-pair mining — the (anchor, positive, hard
   * negative) triplets an embedding-model trainer consumes: per anchor,
   * the best same-cell partner with cosine ≥ `posThreshold` (the
   * positive) joined with up to `maxNegs` partners in [`negLo`,
   * `negHi`) (HARD negatives — random negatives are trivially easy,
   * same-cell near-misses are the ones that sharpen the margin).
   * Anchors lacking either side are dropped — a training pair needs
   * both.
   *
   * Candidates come from a per-cell deterministic POOL of `poolSize`
   * rows in fingerprint-hash order (uniform like a random sample,
   * growth-stable, engine-reproducible — the fp60 sampler discipline;
   * the hash rides mod 2⁴⁸ so its double cast is exact and heap order
   * matches an integer sort bit-for-bit). At test SF the pool usually
   * covers whole cells, at 100 TB it caps the quadratic term.
   *
   * Returns (anchor_id, pos_id, pos_score, neg_id, neg_score,
   * neg_rank), ranks 1..maxNegs, ties (score desc, id asc).
   *
   * Scale: assignment is the zero-shuffle kernel; the pool is bounded
   * (≤ ncells·poolSize rows) and BROADCASTS into the candidate join, so
   * the corpus never shuffles; per-anchor selection rides the bounded
   * heap (never a rank window over all candidates). Candidate volume is
   * |corpus|·poolSize — linear in the corpus with a constant the caller
   * controls.
   */
  def contrastivePairs(df: DataFrame, centroids: Seq[(Long, Seq[Float])],
                       idCol: String, vecCol: String,
                       posThreshold: Double, negLo: Double, negHi: Double,
                       maxNegs: Int, poolSize: Int): DataFrame = {
    requireIntegralId(df, idCol, "contrastivePairs")
    GraftFunctions.register(df.sparkSession)
    val assigned = ivfAssign(df, centroids, idCol, vecCol)
      .select(col(idCol).cast("long").as("anchor_id"),
        col(vecCol).as("__av"), col("cell"))
    val fpr = (lit(0L) - pmod(
      graft.ext.TextOps.fingerprint60(col("anchor_id").cast("string")),
      lit(1L << 48))).cast("double")
    val pool = SamplingOps.groupTopK(
        assigned.select(col("cell"), col("anchor_id").as("cand_id"),
          fpr.as("__r")),
        "cell", "cand_id", "__r", poolSize)
      .select(col("cell"), col("cand_id"))
      .join(assigned.select(col("anchor_id").as("cand_id"),
        col("__av").as("__cv")), "cand_id")
    val cands = assigned.join(broadcast(pool), "cell")
      .filter(col("anchor_id") =!= col("cand_id"))
      .withColumn("score", cosineNative(col("__av"), col("__cv")))
      .select(col("anchor_id"), col("cand_id"), col("score"))
    val pos = SamplingOps.groupTopK(
        cands.filter(col("score") >= posThreshold),
        "anchor_id", "cand_id", "score", 1)
      .select(col("anchor_id"), col("cand_id").as("pos_id"),
        col("score").as("pos_score"))
    val neg = SamplingOps.groupTopK(
        cands.filter(col("score") >= negLo && col("score") < negHi),
        "anchor_id", "cand_id", "score", maxNegs)
      .select(col("anchor_id"), col("cand_id").as("neg_id"),
        col("score").as("neg_score"), col("rank").as("neg_rank"))
    pos.join(neg, "anchor_id")
  }

  /** Cosine with DECIMAL-summed components — bit-exact in ANY engine at
    * any summation order (each product is one double multiply of the
    * same floats, 9dp-rounded, then an order-invariant decimal sum),
    * where the double-sum forms are 1-ulp noisy across engines and can
    * flip a 6dp rounding boundary. Interpreted HOF (CodegenFallback) —
    * reserve for POOL-sized pair sets (MMR's pairwise sims), not corpus
    * scans. */
  private[ext] def cosineDecimal(a: Column, b: Column): Column = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 9)
    def d(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) =>
        round(p.cast("double") * q.cast("double"), 9).cast(dec)),
      lit(0).cast(dec), (acc, v) => (acc + v).cast(dec)).cast("double")
    round(d(a, b) / (sqrt(d(a, a)) * sqrt(d(b, b))), 6)
  }

  /**
   * GEOMETRIC MEDIAN per label (bounded Weiszfeld rounds) — the ROBUST
   * prototype: the mean of a label's embeddings is dragged by every
   * mislabeled or outlier vector (the exact rows
   * [[embeddingOutliers]] flags), while the geometric median
   * (argmin Σ‖x − m‖) moves O(1/n) under a single corruption. Use it
   * wherever [[graft.functions.VectorAggregators.VectorMean]]
   * prototypes feed routing/dedup and label noise is real.
   *
   * Emits (label, m1..m`dims`) after `rounds` Weiszfeld updates from
   * the component-mean start: m ← Σ(x/‖x−m‖) / Σ(1/‖x−m‖), points
   * coinciding with the current estimate skipped (the standard
   * guard). Bounded rounds, not convergence — deterministic and
   * SQL-replayable like every iterative operator here.
   *
   * Cross-engine exact: components and weights are 9dp-rounded then
   * DECIMAL-summed (order-invariant); each round's estimate re-enters
   * as 6dp doubles, so both engines walk the identical trajectory; the
   * distance chain is a fixed left-associated expression, never an
   * aggregation.
   *
   * Scale: per round one |labels|-row broadcast join + one
   * partial-aggregating component sum — O(rows·dims) per round, no
   * shuffle of vectors beyond the label hash; `dims` is capped because
   * columns, not arrays, carry the state.
   */
  def geometricMedian(df: DataFrame, labelCol: String, vecCol: String,
                      dims: Int, rounds: Int): DataFrame = {
    require(dims >= 1 && dims <= 64, s"bad dims $dims")
    require(rounds >= 1 && rounds <= 10, s"bad rounds $rounds")
    val dec = org.apache.spark.sql.types.DecimalType(28, 9)
    val base = df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) >= dims)
      .select(col(labelCol).as("label") +: (1 to dims).map(i =>
        element_at(col(vecCol), i).cast("double").as(s"x$i")): _*)
      .persist()
    val sums = (1 to dims).map(i =>
      sum(round(col(s"x$i"), 9).cast(dec)).as(s"s$i"))
    // Every estimate is an [[Iterate]] cut: each round reads m TWICE (the
    // broadcast to the points and the keep-on-degenerate join), so without
    // the cut the plan doubles per round and round r re-executes ~2^r
    // copies of the point aggregate; m is |labels| rows, so the cut is
    // ~free.
    val seed = base.groupBy("label")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("label") +: (1 to dims).map(i =>
        round(col(s"s$i").cast("double") / col("n"), 6).as(s"m$i")): _*)
    val m = Iterate.fold(seed, rounds) { (m, _) =>
      val j = base.join(broadcast(m), "label")
      val dist = sqrt((1 to dims).map(i =>
        (col(s"x$i") - col(s"m$i")) * (col(s"x$i") - col(s"m$i")))
        .reduce(_ + _))
      val contrib = j.filter(dist > 0)
        .select(col("label") +: ((1 to dims).map(i =>
          round(col(s"x$i") / dist, 9).cast(dec).as(s"c$i")) :+
          round(lit(1.0) / dist, 9).cast(dec).as("cw")): _*)
      val tsums = (1 to dims).map(i =>
        sum(col(s"c$i")).as(s"t$i")) :+ sum(col("cw")).as("tw")
      val upd = contrib.groupBy("label")
        .agg(tsums.head, tsums.tail: _*)
        .select(col("label") +: (1 to dims).map(i =>
          round(col(s"t$i").cast("double") / col("tw").cast("double"), 6)
            .as(s"u$i")): _*)
      // a label whose every point coincides with the estimate has no
      // dd > 0 contributions — it KEEPS the estimate (it IS the
      // median), rather than vanishing from the output.
      m.join(upd, Seq("label"), "left")
        .select(col("label") +: (1 to dims).map(i =>
          coalesce(col(s"u$i"), col(s"m$i")).as(s"m$i")): _*)
    }.df
    base.unpersist(blocking = false)
    m
  }

  /**
   * MMR (Maximal Marginal Relevance) DIVERSITY re-rank — the retrieval
   * finisher plain top-k lacks: a dense dup cluster fills all k slots
   * with one answer restated k times; MMR greedily picks
   * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), so each pick is
   * penalized by its similarity to what's ALREADY selected. The RAG
   * context-packing and eval-set-diversification primitive (λ = 1 is
   * plain relevance; λ ~ 0.7 the usual operating point).
   *
   * Two stages: (1) the relevance POOL — [[cosineTopK]]'s bounded-heap
   * top-`pool` per query (the corpus-sized work, done once); (2) `k`
   * greedy rounds over the pool only. Pick 1 is pure relevance (empty
   * S has nothing to be redundant with; `mmr` = `rel` there). Emits
   * (query_id, neighbor_id, rel, mmr, pick 1..k), ties (score desc,
   * id asc) at every argmax.
   *
   * Determinism: rel and every pairwise sim are 6dp-rounded BEFORE any
   * decision; the λ-blend is one pinned double expression on rounded
   * inputs; argmax ties break on id — the greedy path is replayable by
   * SQL round-unrolling.
   *
   * Scale: the pool join + per-round work is |Q|·pool·k rows — corpus
   * cost is exactly one cosineTopK (corpus never shuffles, heap-pruned
   * exchange); each round joins the remaining pool against the ≤ k-row
   * selected set per query (broadcast) and cuts the tiny selection with
   * [[graft.ops.Iterate]], keeping plans constant-depth.
   */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, pool: Int, k: Int,
                lambda: Double): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool >= k >= 1, got pool=$pool k=$k")
    mmrGreedy(
      cosineTopK(queries, corpus, idCol, vecCol, pool)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("rel"))
        .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("cv")), "neighbor_id"),
      k, lambda)
  }

  /** The greedy MMR selection stage over a prepared candidate pool
    * (query_id, neighbor_id, rel 6dp, cv) — shared by [[mmrRerank]] and
    * the persisted-index deployment
    * [[graft.ext.AnnIndexStore.mmrTopK]]. */
  private[ext] def mmrGreedy(pool: DataFrame, k: Int,
                             lambda: Double): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"bad lambda $lambda")
    val cands = pool.persist()
    val first = cands.groupBy("query_id")
      .agg(max(struct(col("rel"), (-col("neighbor_id")).as("ni"))).as("b"))
      .select(col("query_id"), (-col("b.ni")).as("neighbor_id"),
        col("b.rel").as("rel"), col("b.rel").as("mmr"),
        lit(1).as("pick"))
    // round r of the fold makes pick r + 1; every selection is a cut
    val selected = Iterate.fold(first, k - 1) { (selected, r) =>
      val selVec = selected.select(col("query_id"),
          col("neighbor_id").as("sel_id"))
        .join(cands.select(col("query_id"),
          col("neighbor_id").as("sel_id"), col("cv").as("sv")),
          Seq("query_id", "sel_id"))
      val remaining = cands.join(
        selected.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      // the redundancy weight via EXACT decimal subtraction: Scala's
      // double 1.0−0.7 is 0.3+1ulp while a SQL oracle's (1.0 − 0.7) is
      // decimal-exact 0.3 — a 1-ulp constant gap that flips 6dp rounding
      // boundaries (observed); BigDecimal pins both engines to the same
      // nearest-to-0.3 double
      val wNeg = (BigDecimal(1) - BigDecimal(lambda)).toDouble
      val next = remaining.join(broadcast(selVec), "query_id")
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          cosineDecimal(col("cv"), col("sv")).as("sim"))
        .groupBy("query_id", "neighbor_id", "rel")
        .agg(max(col("sim")).as("max_sim"))
        .select(col("query_id"), col("neighbor_id"), col("rel"),
          round(lit(lambda) * col("rel") -
            lit(wNeg) * col("max_sim"), 6).as("mmr"))
        .groupBy("query_id")
        .agg(max(struct(col("mmr"), (-col("neighbor_id")).as("ni"),
          col("rel"))).as("b"))
        .select(col("query_id"), (-col("b.ni")).as("neighbor_id"),
          col("b.rel").as("rel"), col("b.mmr").as("mmr"),
          lit(r + 1).as("pick"))
      selected.unionByName(next)
    }.df
    cands.unpersist(blocking = false)
    selected
  }
}
