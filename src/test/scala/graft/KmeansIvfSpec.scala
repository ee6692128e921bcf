package graft

import graft.ext.SimilarityOps
import graft.sources.Stores
import org.apache.spark.sql.functions._

class KmeansIvfSpec extends SparkSpec {

  private lazy val emb = Stores.table(spark, sf0001, "embeddings")

  test("kmeansCentroids: deterministic, keeps c centroids of full dimension") {
    val c1 = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 3, dim = 64)
    val c2 = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 3, dim = 64)
    c1.map(_._1) shouldBe Seq(0L, 1L, 2L, 3L)
    all(c1.map(_._2.length)) shouldBe 64
    c1 shouldBe c2
    // training moved the centroids off their seed vectors
    val seeds = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 4)
    c1 should not be seeds
  }

  test("every corpus vector is assigned to an existing trained cell") {
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 2, dim = 64)
    val cells = SimilarityOps.ivfAssign(emb, cents, "vec_id", "embedding")
      .select("cell").distinct().collect().map(_.getLong(0)).toSet
    cells.subsetOf(cents.map(_._1).toSet) shouldBe true
    SimilarityOps.ivfAssign(emb, cents, "vec_id", "embedding")
      .filter(col("cell").isNull).count() shouldBe 0L
  }

  test("ivfTopK with trained centroids returns ranked neighbors per query") {
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 2, dim = 64)
    val out = SimilarityOps.ivfTopK(emb.filter(col("vec_id") < 5), emb,
      cents, "vec_id", "embedding", k = 3).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      rows.length should be <= 3
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
      byRank.map(_.getAs[Double]("score")).toSeq shouldBe
        byRank.map(_.getAs[Double]("score")).sorted(Ordering[Double].reverse).toSeq
    }
  }

  test("samplePlusPlusCentroids: spread seeds, balanced cells, no recall loss on a sorted corpus") {
    import spark.implicits._
    // the adversarial case for first-c-by-id seeding: a corpus SORTED by
    // topic — ids 0..49 one tight clump, then four more clumps of 50; the
    // five clump directions are the 8-dim axes, with a small deterministic
    // jitter so vectors are distinct
    def vec(axis: Int, i: Int): Array[Float] = {
      val v = new Array[Float](8)
      v(axis) = 1f
      v((axis + 3) % 8) = 0.02f * ((i * 7) % 10)
      v
    }
    val skewed = (0 until 250).map(i => (i.toLong, vec(i / 50, i)))
      .toDF("vec_id", "embedding")
    val take = SimilarityOps.takeCentroids(skewed, "vec_id", "embedding", 4)
    val pp = SimilarityOps.samplePlusPlusCentroids(skewed, "vec_id", "embedding", 4)
    pp.length shouldBe 4
    // deterministic
    pp shouldBe SimilarityOps.samplePlusPlusCentroids(skewed, "vec_id", "embedding", 4)

    def minPairwiseCosDist(cs: Seq[(Long, Seq[Float])]): Double =
      (for (a <- cs; b <- cs if a._1 < b._1) yield {
        val dot = a._2.zip(b._2).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a._2.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b._2.map(x => x.toDouble * x).sum)
        1.0 - dot / (na * nb)
      }).min
    // take's seeds all come from clump 0 (near-identical); farthest-point
    // seeds span distinct clumps (near-orthogonal)
    minPairwiseCosDist(take) should be < 0.01
    minPairwiseCosDist(pp) should be > 0.5

    // trained cells: k-means++-seeded training fills more cells and never
    // leaves one mega-cell holding the corpus (the IVF scale property —
    // a degenerate cell makes every probe a brute-force scan)
    def cellSizes(init: (org.apache.spark.sql.DataFrame, String, String, Int) => Seq[(Long, Seq[Float])]) = {
      val cents = SimilarityOps.kmeansCentroids(skewed, "vec_id", "embedding",
        c = 4, iters = 3, dim = 8, init = init)
      SimilarityOps.ivfAssign(skewed, cents, "vec_id", "embedding")
        .groupBy("cell").count().collect().map(_.getLong(1))
    }
    val takeSizes = cellSizes(SimilarityOps.takeCentroids)
    val ppSizes = cellSizes(SimilarityOps.samplePlusPlusCentroids(_, _, _, _))
    ppSizes.length should be >= takeSizes.length
    ppSizes.max should be < takeSizes.max

    // and recall vs the exact top-k never degrades
    val queries = skewed.filter(col("vec_id") % 25 === 0)
    val exact = SimilarityOps.cosineTopK(queries, skewed, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    def recall(init: (org.apache.spark.sql.DataFrame, String, String, Int) => Seq[(Long, Seq[Float])]): Long = {
      val cents = SimilarityOps.kmeansCentroids(skewed, "vec_id", "embedding",
        c = 4, iters = 3, dim = 8, init = init)
      SimilarityOps.ivfTopK(queries, skewed, cents, "vec_id", "embedding", k = 5)
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    }
    recall(SimilarityOps.samplePlusPlusCentroids(_, _, _, _)) should be >=
      recall(SimilarityOps.takeCentroids)
  }

  test("multi-probe: candidates nest, so recall vs exact top-k is monotone in nprobe") {
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 8, iters = 2, dim = 64)
    val queries = emb.filter(col("vec_id") < 20)
    val exact = SimilarityOps.cosineTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    def recall(nprobe: Int): Long =
      SimilarityOps.ivfTopK(queries, emb, cents, "vec_id", "embedding",
          k = 5, nprobe = nprobe)
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    val r1 = recall(1); val r2 = recall(2); val r4 = recall(4)
    r1 should be > 0L
    r2 should be >= r1
    r4 should be >= r2
    // probing half the cells must beat single-cell somewhere on this corpus
    r4 should be > r1
    // probe #1 is exactly the nprobe=1 cell: each query's nprobe=1 result
    // set is reproduced verbatim inside the nprobe=2 candidate join
    val p1 = SimilarityOps.ivfProbeCells(queries, cents, "embedding", 1)
      .select(col("vec_id"), col("cell"))
    val a1 = SimilarityOps.ivfAssign(queries, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("cell"))
    p1.exceptAll(a1).count() shouldBe 0L
    a1.exceptAll(p1).count() shouldBe 0L
  }

  test("product quantization: valid codes, deterministic, reconstruction preserves cosine") {
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 2, dim = 64)
    cbs.length shouldBe 8
    all(cbs.map(_.length)) shouldBe 16
    all(cbs.flatMap(_.map(_.length))) shouldBe 8

    val enc = SimilarityOps.pqEncode(emb, "vec_id", "embedding", cbs)
    enc.count() shouldBe emb.count()
    // codes are in range and the encoding is deterministic
    val codeStats = enc.agg(
      min(array_min(col("pq_codes"))), max(array_max(col("pq_codes"))),
      min(org.apache.spark.sql.functions.size(col("pq_codes"))),
      max(org.apache.spark.sql.functions.size(col("pq_codes")))).head()
    codeStats.getInt(0) should be >= 0
    codeStats.getInt(1) should be < 16
    codeStats.getInt(2) shouldBe 8
    codeStats.getInt(3) shouldBe 8
    SimilarityOps.pqEncode(emb, "vec_id", "embedding", cbs)
      .orderBy("vec_id").collect() shouldBe enc.orderBy("vec_id").collect()

    // reconstruction preserves direction: mean cosine(original, decoded)
    // clears the q_pq_quantize oracle bound with margin, and beats a
    // degenerate 1-code-per-subspace quantizer
    def meanCos(codebooks: Seq[Seq[Seq[Float]]]): Double =
      SimilarityOps.pqEncode(emb, "vec_id", "embedding", codebooks)
        .join(emb, "vec_id")
        .select(SimilarityOps.cosineNative(col("embedding"),
          SimilarityOps.pqReconstruct(col("pq_codes"), codebooks)).as("c"))
        .agg(avg(col("c"))).head().getDouble(0)
    // the synthetic embeddings carry heavy per-dim noise, so 16 codes per
    // 8-dim subspace lands ~0.66 mean cosine (the 1-code baseline is ~0);
    // the oracle bound is 0.5 — asserted here with margin
    val full = meanCos(cbs)
    val degenerate = meanCos(cbs.map(_.take(1)))
    info(s"PQ mean reconstruction cosine: $full (1-code baseline: $degenerate)")
    full should be > 0.6
    full should be > degenerate
  }

  test("pqRerankTopK with an unpruned candidate budget equals the exact top-k") {
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 2, dim = 64)
    val queries = emb.filter(col("vec_id") < 5)
    val n = emb.count().toInt
    // candidates ≥ corpus ⇒ the coarse pass prunes nothing and the
    // full-precision re-rank IS brute force — exact equality, not a bound
    val rerank = SimilarityOps.pqRerankTopK(queries, emb, cbs,
        "vec_id", "embedding", k = 5, candidates = n)
      .orderBy("query_id", "rank").collect()
    val exact = SimilarityOps.cosineTopK(queries, emb,
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank").collect()
    rerank shouldBe exact
  }

  test("ivfPqTopK: full probe + unpruned candidates equals exact top-k; recall monotone in both knobs") {
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 8, iters = 2, dim = 64)
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 2, dim = 64)
    val queries = emb.filter(col("vec_id") < 10)
    val n = emb.count().toInt
    val exactDf = SimilarityOps.cosineTopK(queries, emb,
      "vec_id", "embedding", k = 5)
    // nprobe = ncells and candidates ≥ corpus ⇒ nothing is pruned anywhere:
    // the fused pipeline degenerates to brute force — exact equality,
    // including tie order, not a recall bound
    val full = SimilarityOps.ivfPqTopK(queries, emb, cents, cbs,
        "vec_id", "embedding", k = 5, nprobe = 8, candidates = n)
      .orderBy("query_id", "rank").collect()
    full shouldBe exactDf.orderBy("query_id", "rank").collect()

    val exact = exactDf.select("query_id", "neighbor_id")
    def recall(nprobe: Int, cand: Int): Long =
      SimilarityOps.ivfPqTopK(queries, emb, cents, cbs, "vec_id",
          "embedding", k = 5, nprobe = nprobe, candidates = cand)
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    // nprobe-monotone with the cap unbound (probed-cell unions nest);
    // candidates-monotone at fixed nprobe (coarse heap prefix nests)
    recall(2, n) should be >= recall(1, n)
    recall(2, 25) should be >= recall(2, 10)
  }

  test("AnnIndexStore: persisted-index top-k equals in-memory ivfTopK; scan is partition-pruned") {
    import graft.ext.AnnIndexStore
    val work = java.nio.file.Files.createTempDirectory("graft_annidx_").toString
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 2, dim = 64)
    AnnIndexStore.save(s"$work/idx", emb, "vec_id", "embedding", cents)
    // layout: batch-scoped, cell-partitioned corpus + centroid artifact
    new java.io.File(s"$work/idx/cells/b=0").list()
      .count(_.startsWith("cell=")) should be >= 2
    AnnIndexStore.loadCentroids(spark, s"$work/idx") shouldBe cents.sortBy(_._1)

    val queries = emb.filter(col("vec_id") < 5)
    val fromIndex = AnnIndexStore.topK(spark, s"$work/idx", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val direct = SimilarityOps.ivfTopK(queries, emb, cents,
      "vec_id", "embedding", k = 3, nprobe = 2)
    fromIndex.orderBy("query_id", "rank").collect() shouldBe
      direct.orderBy("query_id", "rank").collect()

    // the probed-cell literal filter reaches the scan as a partition filter
    val plan = fromIndex.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("cell")
  }

  test("AnnIndexStore.append grows the index identically to a full rebuild") {
    import graft.ext.AnnIndexStore
    val work = java.nio.file.Files.createTempDirectory("graft_annapp_").toString
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 2, dim = 64)
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    AnnIndexStore.save(s"$work/inc", half1, "vec_id", "embedding", cents)
    AnnIndexStore.append(s"$work/inc", half2, "vec_id", "embedding")
    AnnIndexStore.save(s"$work/full", emb, "vec_id", "embedding", cents)
    val queries = emb.filter(col("vec_id") < 5)
    val inc = AnnIndexStore.topK(spark, s"$work/inc", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val full = AnnIndexStore.topK(spark, s"$work/full", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    inc.orderBy("query_id", "rank").collect() shouldBe
      full.orderBy("query_id", "rank").collect()
    inc.count() should be > 0L
  }

  test("AnnIndexStore.topKPq: persisted IVFADC equals the in-memory fused operator; coarse scan reads codes, not vectors") {
    import graft.ext.AnnIndexStore
    val work = java.nio.file.Files.createTempDirectory("graft_annpq_").toString
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 2, dim = 64)
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 2, dim = 64)
    AnnIndexStore.save(s"$work/idx", emb, "vec_id", "embedding", cents, cbs)
    AnnIndexStore.loadCodebooks(spark, s"$work/idx") shouldBe cbs
    val queries = emb.filter(col("vec_id") < 5)
    val got = AnnIndexStore.topKPq(spark, s"$work/idx", queries,
      "vec_id", "embedding", k = 3, nprobe = 2, candidates = 10)
    got.orderBy("query_id", "rank").collect() shouldBe
      SimilarityOps.ivfPqTopK(queries, emb, cents, cbs,
          "vec_id", "embedding", k = 3, nprobe = 2, candidates = 10)
        .orderBy("query_id", "rank").collect()
    // the ADC IO contract: some scan reads pq_codes WITHOUT the raw
    // vector column (coarse), and the raw vectors are read only for the
    // rerank join — the ~32x coarse-IO reduction at scale
    val schemas = "ReadSchema: [^\\n]*".r
      .findAllIn(got.queryExecution.executedPlan.toString).toList
    schemas.exists(s =>
      s.contains("pq_codes") && !s.contains("embedding")) shouldBe true

    // PQ append under the frozen models == full rebuild
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    AnnIndexStore.save(s"$work/inc", half1, "vec_id", "embedding", cents, cbs)
    AnnIndexStore.append(s"$work/inc", half2, "vec_id", "embedding")
    AnnIndexStore.topKPq(spark, s"$work/inc", queries, "vec_id",
        "embedding", k = 3, nprobe = 2, candidates = 10)
      .orderBy("query_id", "rank").collect() shouldBe
      got.orderBy("query_id", "rank").collect()
  }

  test("AnnIndexStore.retrain swaps in a rebuild under new centroids; every crash point recovers") {
    import graft.ext.AnnIndexStore
    val work = java.nio.file.Files.createTempDirectory("graft_annrt_").toString
    val idx = s"$work/idx"
    val oldC = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 4)
    val newC = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 8, iters = 2, dim = 64)
    AnnIndexStore.save(idx, emb, "vec_id", "embedding", oldC)
    AnnIndexStore.retrain(idx, emb, "vec_id", "embedding", newC)
    // swapped index == a fresh build under the new centroids; no residue
    AnnIndexStore.save(s"$work/fresh", emb, "vec_id", "embedding", newC)
    val queries = emb.filter(col("vec_id") < 5)
    AnnIndexStore.topK(spark, idx, queries, "vec_id", "embedding",
        k = 3, nprobe = 2).orderBy("query_id", "rank").collect() shouldBe
      AnnIndexStore.topK(spark, s"$work/fresh", queries, "vec_id",
        "embedding", k = 3, nprobe = 2)
        .orderBy("query_id", "rank").collect()
    new java.io.File(s"$idx.retrain").exists() shouldBe false
    new java.io.File(s"$idx.preretrain").exists() shouldBe false

    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def crash(prep: () => Unit): Unit = { prep(); AnnIndexStore.recover(spark, idx) }
    // crash between live→bak and tmp→live: MARKED tmp promotes
    crash { () =>
      fs.rename(new org.apache.hadoop.fs.Path(idx),
        new org.apache.hadoop.fs.Path(s"$idx.retrain"))
      fs.create(new org.apache.hadoop.fs.Path(s"$idx.retrain/_INDEX_SUCCESS")).close()
    }
    AnnIndexStore.loadCentroids(spark, idx) shouldBe newC.sortBy(_._1)
    // crash mid-rebuild: live gone, UNMARKED tmp never promotes, bak restores
    crash { () =>
      fs.rename(new org.apache.hadoop.fs.Path(idx),
        new org.apache.hadoop.fs.Path(s"$idx.preretrain"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx.retrain/cells"))
    }
    AnnIndexStore.loadCentroids(spark, idx) shouldBe newC.sortBy(_._1)
    // crash after swap, before backup drop: live wins, backup pruned
    crash { () =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx.preretrain/cells"))
    }
    new java.io.File(s"$idx.preretrain").exists() shouldBe false
    AnnIndexStore.loadCentroids(spark, idx) shouldBe newC.sortBy(_._1)
  }

  test("annIngest streams batches into the index exactly-once; replay does not duplicate") {
    import graft.ext.AnnIndexStore
    import graft.streaming.StreamingPipeline
    val work = java.nio.file.Files.createTempDirectory("graft_annstream_").toString
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 4, iters = 2, dim = 64)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val incoming = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    AnnIndexStore.save(s"$work/idx", base, "vec_id", "embedding", cents)
    incoming.write.mode("overwrite").parquet(s"$work/src")

    val stream = spark.readStream
      .schema(incoming.schema).parquet(s"$work/src")
    val q = StreamingPipeline.annIngest(spark, stream, s"$work/idx",
      s"$work/cp", "vec_id", "embedding")
    q.awaitTermination()

    AnnIndexStore.save(s"$work/full", emb, "vec_id", "embedding", cents)
    val queries = emb.filter(col("vec_id") < 5)
    val streamed = AnnIndexStore.topK(spark, s"$work/idx", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    val full = AnnIndexStore.topK(spark, s"$work/full", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    streamed.orderBy("query_id", "rank").collect() shouldBe
      full.orderBy("query_id", "rank").collect()

    // crash-replay: re-appending the SAME batch id overwrites, no dupes
    AnnIndexStore.append(s"$work/idx", incoming, "vec_id", "embedding",
      batchId = 1L)
    val replayed = AnnIndexStore.topK(spark, s"$work/idx", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
    replayed.orderBy("query_id", "rank").collect() shouldBe
      full.orderBy("query_id", "rank").collect()
    spark.read.parquet(s"$work/idx/cells").count() shouldBe emb.count()
  }

  test("driftIngest: streamed cell counts equal batch assignment; PSI equals the batch operator") {
    import graft.streaming.StreamingPipeline
    val work = java.nio.file.Files
      .createTempDirectory("graft_driftstream_").toString
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 8)
    val ref = emb.filter(col("vec_id") % 2 === 0)
    val cur = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
    // wave 1 streams, then wave 2 arrives and the SAME checkpoint resumes
    cur.filter(col("vec_id") % 4 === 1).write.parquet(s"$work/src")
    def run(): Unit = StreamingPipeline.driftIngest(spark,
      spark.readStream.schema(cur.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/src"),
      s"$work/state", s"$work/cp", cents, "vec_id", "embedding")
      .awaitTermination()
    run()
    cur.filter(col("vec_id") % 4 === 3).write.mode("append")
      .parquet(s"$work/src")
    run()
    val state = StreamingPipeline.latestRollup(spark, s"$work/state")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = SimilarityOps.ivfAssign(cur, cents, "vec_id", "embedding")
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    state shouldBe direct
    // the streamed-state PSI is row-identical to the batch operator
    val refCounts = SimilarityOps.ivfAssign(ref, cents, "vec_id", "embedding")
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val streamedPsi = StreamingPipeline.latestDrift(spark, s"$work/state",
      refCounts).orderBy("bucket").collect()
    val batchPsi = SimilarityOps.embeddingDriftPsi(ref, cur, cents,
      "vec_id", "embedding").orderBy("bucket").collect()
    streamedPsi shouldBe batchPsi
  }

  test("AnnIndexStore.compact folds ingest batches: results and PQ tier unchanged, appends resume, crash recovers") {
    import graft.ext.AnnIndexStore
    val work = java.nio.file.Files
      .createTempDirectory("graft_anncompact_").toString
    val idx = s"$work/idx"
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 4)
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 1, dim = 64)
    val w0 = emb.filter(col("vec_id") % 3 === 0)
    val w1 = emb.filter(col("vec_id") % 3 === 1)
    val w2 = emb.filter(col("vec_id") % 3 === 2)
    AnnIndexStore.save(idx, w0, "vec_id", "embedding", cents, cbs)
    AnnIndexStore.append(idx, w1, "vec_id", "embedding", batchId = 1L)
    val queries = emb.filter(col("vec_id") < 5)
    def res() = AnnIndexStore.topK(spark, idx, queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    def resPq() = AnnIndexStore.topKPq(spark, idx, queries,
      "vec_id", "embedding", k = 3, nprobe = 4, candidates = 10000)
      .orderBy("query_id", "rank").collect()
    val (before, beforePq) = (res(), resPq())
    AnnIndexStore.compact(idx, spark)
    new java.io.File(s"$idx/cells").listFiles.map(_.getName)
      .filter(_.startsWith("b=")).toSeq shouldBe Seq("b=0")
    res() shouldBe before
    resPq() shouldBe beforePq
    // appends resume after compaction and still equal a full rebuild
    AnnIndexStore.append(idx, w2, "vec_id", "embedding", batchId = 3L)
    AnnIndexStore.save(s"$work/full", emb, "vec_id", "embedding", cents, cbs)
    val full = AnnIndexStore.topK(spark, s"$work/full", queries,
      "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("query_id", "rank").collect()
    res() shouldBe full
    // crash after the tmp tree is MARKED but before the swap completes:
    // recovery must promote the marked tmp
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.compact")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx.compact/_INDEX_SUCCESS")) shouldBe true
    AnnIndexStore.recover(spark, idx)
    res() shouldBe full
    // crash BEFORE the swap leaves a marked tmp beside a live tree that
    // then takes appends — recovery must DELETE the now-stale snapshot,
    // or a later live-missing state would silently roll the index back
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx.compact/cells"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$idx.compact/_INDEX_SUCCESS")).close()
    AnnIndexStore.recover(spark, idx)
    new java.io.File(s"$idx.compact").exists() shouldBe false
    res() shouldBe full
  }

  test("annRecallAudit: recall exactly 1.0 at full probe/unpruned budget, monotone in nprobe, measured not stipulated") {
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 4)
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 2, dim = 64)
    val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
    // IVF tier: nprobe sweep up to full probe (4 cells)
    val ivf = SimilarityOps.annRecallAudit(queries, emb, cents, Nil,
        "vec_id", "embedding", k = 3,
        grid = Seq((1, 0), (2, 0), (4, 0)))
      .orderBy("nprobe")
      .select("nprobe", "n_true", "n_hit", "recall")
      .collect()
    ivf.map(_.getLong(0)) shouldBe Array(1L, 2L, 4L)
    all(ivf.map(_.getLong(1))) shouldBe 15L // 5 queries × k=3 truth rows
    // monotone in nprobe, and the full-probe fixed point is exact
    ivf.map(_.getLong(2)).sliding(2).foreach { w => w(0) should be <= w(1) }
    ivf.last.getDouble(3) shouldBe 1.0
    // PQ tier: unpruned candidates + full probe also hits the fixed point
    val pq = SimilarityOps.annRecallAudit(queries, emb, cents, cbs,
        "vec_id", "embedding", k = 3,
        grid = Seq((1, 5), (4, 100000)))
      .orderBy("nprobe").select("recall").collect()
    pq.last.getDouble(0) shouldBe 1.0
    // the pruned point is a measurement, not a stipulation: in [0, 1]
    pq.head.getDouble(0) should (be >= 0.0 and be <= 1.0)
  }

  test("native CentroidTopCells matches the declarative assign and probe rankings") {
    val cents = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      c = 6, iters = 2, dim = 64)
    val nAssign = SimilarityOps.ivfAssign(emb, cents, "vec_id", "embedding")
      .select("vec_id", "cell").orderBy("vec_id").collect()
    val dAssign = SimilarityOps
      .ivfAssignDeclarative(emb, cents, "vec_id", "embedding")
      .select("vec_id", "cell").orderBy("vec_id").collect()
    nAssign shouldBe dAssign
    for (np <- Seq(1, 2, 4)) {
      val nProbe = SimilarityOps.ivfProbeCells(emb, cents, "embedding", np)
        .select("vec_id", "cell").orderBy("vec_id", "cell").collect()
      val dProbe = SimilarityOps
        .ivfProbeCellsDeclarative(emb, cents, "embedding", np)
        .select("vec_id", "cell").orderBy("vec_id", "cell").collect()
      withClue(s"nprobe=$np: ") { nProbe shouldBe dProbe }
    }
  }

  test("native PqEncode is bit-identical to the declarative struct-argmax encode") {
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 1, dim = 64)
    val native = emb.select(col("vec_id"),
      SimilarityOps.pqCodeColumn(emb, col("embedding"), cbs).as("c"))
    val declarative = emb.select(col("vec_id"),
      SimilarityOps.pqCodeColumnDeclarative(emb, col("embedding"), cbs).as("c"))
    native.orderBy("vec_id").collect() shouldBe
      declarative.orderBy("vec_id").collect()
    // tie + zero-subvector (NaN cosine) edge cases follow the same
    // struct-argmax ordering: NaN ranks greatest, ties pick the smaller id
    import spark.implicits._
    val edge = Seq(
      (1L, Seq.fill(8)(0.0f) ++ Seq.fill(56)(1.0f)),  // zero first subspace
      (2L, Seq.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
    val n2 = edge.select(col("vec_id"),
      SimilarityOps.pqCodeColumn(edge, col("embedding"), cbs).as("c"))
    val d2 = edge.select(col("vec_id"),
      SimilarityOps.pqCodeColumnDeclarative(edge, col("embedding"), cbs).as("c"))
    n2.orderBy("vec_id").collect() shouldBe d2.orderBy("vec_id").collect()
  }

  test("pqRerankTopK recall is monotone in the candidate budget") {
    val cbs = SimilarityOps.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, codes = 16, iters = 2, dim = 64)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilarityOps.cosineTopK(queries, emb,
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    def recall(c: Int): Long =
      SimilarityOps.pqRerankTopK(queries, emb, cbs,
          "vec_id", "embedding", k = 5, candidates = c)
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
    val r5 = recall(5); val r20 = recall(20); val r80 = recall(80)
    info(s"hits@5-candidates=$r5, @20=$r20, @80=$r80 (max ${5 * 10})")
    r20 should be >= r5
    r80 should be >= r20
  }

  test("centroidAffinity: score is the MAX cosine over all centroids") {
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 8)
    // the assigned cell is the cosine argmax, so the affinity score must
    // equal greatest(cosine to every centroid) row by row
    val expected = greatest(cents.map { case (_, v) =>
      SimilarityOps.cosine(col("embedding"), typedlit(v))
    }: _*)
    SimilarityOps.centroidAffinity(emb, cents, "vec_id", "embedding")
      .filter(col("score") =!= expected)
      .count() shouldBe 0L
  }

  test("cellPrototypes is bit-identical to the window-rank form") {
    import org.apache.spark.sql.expressions.Window
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 8)
    val aff = SimilarityOps.centroidAffinity(emb, cents, "vec_id", "embedding")
    val w = Window.partitionBy("cell")
      .orderBy(col("score").desc, col("vec_id").asc)
    val windowForm = aff
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("cell", "vec_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val heapForm = SimilarityOps.cellPrototypes(emb, cents,
        "vec_id", "embedding", m = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    heapForm shouldBe windowForm
  }

  test("embeddingOutliers returns the global bottom-k by affinity") {
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 8)
    val all = SimilarityOps.centroidAffinity(emb, cents, "vec_id", "embedding")
      .select("vec_id", "score")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = all.sortBy { case (id, s) => (s, id) }.take(10)
      .map(_._1).toSeq
    val got = SimilarityOps.embeddingOutliers(emb, cents,
        "vec_id", "embedding", k = 10)
      .collect().map(_.getLong(0)).toSeq
    got shouldBe expected
  }

  test("knnClassify: majority vote, ties break to the smaller label") {
    import spark.implicits._
    // corpus angles ordered 1 > 2 > 3 > 4 > 5 from the query direction;
    // ids 6,7 are orthogonal noise that must never enter the top-5
    def v(eps: Float): Array[Float] = Array(1f, eps, 0f, 0f)
    val corpus = Seq(
      (1L, v(0.1f), 2), (2L, v(0.2f), 1), (3L, v(0.3f), 2),
      (4L, v(0.4f), 1), (5L, v(0.5f), 2),
      (6L, Array(0f, 0f, 1f, 0f), 0), (7L, Array(0f, 0f, 0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, v(0f))).toDF("vec_id", "embedding")
    val at5 = SimilarityOps.knnClassify(queries, corpus,
      "vec_id", "embedding", "label", k = 5).collect()
    at5.length shouldBe 1
    at5.head.getLong(0) shouldBe 100L
    at5.head.getInt(1) shouldBe 2   // labels {2,1,2,1,2} → 3 votes for 2
    at5.head.getLong(2) shouldBe 3L
    val at4 = SimilarityOps.knnClassify(queries, corpus,
      "vec_id", "embedding", "label", k = 4).collect()
    at4.head.getInt(1) shouldBe 1   // {2,1,2,1} → 2-2 tie → smaller label
    at4.head.getLong(2) shouldBe 2L
  }

  test("contrastivePairs: positive + hard negatives per anchor, both required") {
    import spark.implicits._
    // cell 0 = axis 0: ids 10,11 are near-dups (cos .995), 12 a near-miss
    // (cos .74/.81), 13 lands in cell 1 with no partner
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
    val df = Seq(
      (10L, Array(1f, 0f, 0f, 0f)), (11L, Array(1f, 0.1f, 0f, 0f)),
      (12L, Array(1f, 0.9f, 0f, 0f)), (13L, Array(1f, 3f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.contrastivePairs(df, cents, "vec_id", "embedding",
        posThreshold = 0.9, negLo = 0.5, negHi = 0.9,
        maxNegs = 2, poolSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getInt(5))).toSet
    // anchor 12 has no positive, anchor 13 no candidates — both dropped
    out shouldBe Set((10L, 11L, 12L, 1), (11L, 10L, 12L, 1))
  }

  test("embeddingDriftPsi: identical snapshots drift by exactly zero") {
    val cents = SimilarityOps.takeCentroids(emb, "vec_id", "embedding", 8)
    val out = SimilarityOps.embeddingDriftPsi(emb, emb, cents,
      "vec_id", "embedding").collect()
    out.length should be > 0
    out.foreach { r =>
      r.getLong(1) shouldBe r.getLong(2)          // np == nq per cell
      r.getDouble(5) shouldBe 0.0                 // psi_term
    }
  }
}
