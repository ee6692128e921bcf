package graft

import java.nio.file.Files
import graft.ext.{AnnIndexStore, ClusterStore, DedupOps, IngestOps,
  LexIndexStore, SimilarityOps, TextOps}
import org.apache.spark.{CheckpointDirAccess, GraftListenerBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._

/**
 * The batch ingest wave's contract: the admission report is exact, and
 * EVERY persisted artifact the wave advances (corpus, band index, cluster
 * assignment, ANN cells, BM25 postings) ends up identical to a batch
 * rebuild over (base ∪ admitted) — the batch-side extension of
 * StreamingPipelineSpec's `dedupAnnIngest` lockstep proof.
 */
class IngestWaveSpec extends SparkSpec {
  import spark.implicits._

  // The first spec's shape ([[WaveShape]]).
  private val cents = WaveShape.cents
  private lazy val shapeBase = WaveShape.base(spark)
  private lazy val shapeWave = WaveShape.wave(spark)

  /** Fresh stores under `work` holding `shapeBase` as the admitted base. */
  private def seedShape(work: String): IngestOps.WaveStores =
    WaveShape.seed(spark, work)

  private def runShape(st: IngestOps.WaveStores): DataFrame =
    WaveShape.run(spark, st, shapeWave, waveId = 1)

  /** Every artifact a wave advances, as sorted row strings. */
  private def artifacts(st: IngestOps.WaveStores): Seq[Seq[String]] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    Seq(st.corpusPath, st.bandIndexPath, st.reportPath,
        s"${st.annPath}/cells", s"${st.lexPath}/postings",
        s"${st.lexPath}/stats")
      .map(p => rows(spark.read.parquet(p))) ++
      Seq(rows(ClusterStore.assignment(spark, st.clusterPath)),
        rows(ClusterStore.pairs(spark, st.clusterPath)))
  }

  test("ingestWave: report exact; clusters/ANN/lex equal batch rebuilds over base ∪ admitted") {
    val work = Files.createTempDirectory("graft_wave_").toString
    val st = seedShape(work)
    val (base, wave) = (shapeBase, shapeWave)
    val report = runShape(st)

    // ---- the report: every wave doc exactly once, dispositions exact ----
    report.orderBy("doc_id").as[(Long, String)].collect() shouldBe Array(
      (101L, "rejected_quality"),
      (102L, "admitted"),
      (103L, "rejected_batch_dup"),
      (104L, "rejected_corpus_dup"),
      (105L, "admitted"),
      (106L, "rejected_quality")) // no text, no admission — never an NPE

    // ---- corpus + band index advanced with exactly the admitted set ----
    val corpusIds = spark.read.parquet(st.corpusPath)
      .select("doc_id").as[Long].collect().sorted
    corpusIds shouldBe Array(10L, 11L, 102L, 105L)
    spark.read.parquet(st.bandIndexPath).select("id").distinct()
      .as[Long].collect().sorted shouldBe Array(10L, 11L, 102L, 105L)

    // ---- cluster store equals a fresh build over ALL dup evidence ----
    // (base pairs ∪ in-batch pairs ∪ batch×corpus pairs — rejected docs
    // included: the takedown consumers need the whole component)
    val rebuilt = s"$work/clusters_rebuilt"
    ClusterStore.build(rebuilt, ClusterStore.pairs(spark, st.clusterPath))
    val gotAsg = ClusterStore.assignment(spark, st.clusterPath)
      .orderBy("id").as[(Long, Long)].collect()
    val wantAsg = ClusterStore.assignment(spark, rebuilt)
      .orderBy("id").as[(Long, Long)].collect()
    gotAsg shouldBe wantAsg
    gotAsg.toMap.apply(104L) shouldBe 10L  // joined the corpus-dup cluster
    gotAsg.toMap.apply(103L) shouldBe 102L // joined the in-batch cluster
    // the evidence edge set is exactly the three families
    ClusterStore.pairs(spark, st.clusterPath)
      .select("id1", "id2").as[(Long, Long)].collect().sorted shouldBe
      Array((10L, 11L), (10L, 104L), (11L, 104L), (102L, 103L))

    // ---- ANN cells equal a batch build over base ∪ admitted ----
    val admitted = wave.filter(col("doc_id").isin(102L, 105L))
    val gotCells = spark.read.parquet(s"${st.annPath}/cells")
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted
    val wantCells = SimilarityOps.ivfAssign(
        base.unionByName(admitted), cents, "doc_id", "embedding")
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted
    gotCells shouldBe wantCells
    gotCells.map(_._1) should not contain 103L

    // ---- BM25 postings equal the batch operator over base ∪ admitted ----
    val allText = base.drop("embedding")
      .unionByName(admitted.drop("embedding"))
    val qt = allText.select(col("doc_id").as("qid"),
      explode(array_distinct(slice(TextOps.tokens(col("text")), 1, 4)))
        .as("term"))
    val lexGot = LexIndexStore.topK(spark, st.lexPath, qt, k = 3)
      .orderBy("qid", "rnk")
    lexGot.collect() shouldBe
      TextOps.bm25BatchTopK(allText, "doc_id", "text", qt, k = 3)
        .orderBy("qid", "rnk").collect()
    lexGot.select("doc_id").as[Long].collect() should not contain 104L
  }

  test("ingestWave gate edge cases and artifact schemas: one failed rule each, null text; columns and types pinned") {
    val st = seedShape(Files.createTempDirectory("graft_wave_gate_").toString)
    val v = Seq(0.3f, 0.7f, 0f, 0f)
    // columns NOT in id-first order: the corpus puts the id first
    val wave = Seq(
      ("a b c d e f the", 301L, "en", v),                       // avg length
      ("one two three four five six seven", 302L, "en", v),     // no stopword
      ("wait... the apple pear plum figs dates grape", 303L, "en", v), // symbols
      ("the apple pear plum figs 1234 5678 dates", 304L, "en", v), // alpha
      (null.asInstanceOf[String], 305L, "en", v),               // no text
      ("the apple pear", 306L, "en", v),                        // too short
      ("one mango two melon three apple four grape the banana", 307L, "de", v),
      ("this third unique sentence has the right shape to pass", 308L, "fr", v))
      .toDF("text", "doc_id", "lang", "embedding")
    val report = IngestOps.ingestWave(spark, wave, "doc_id", "text",
      "embedding", st, waveId = 1, n = 3, numHashes = 16, bands = 4,
      threshold = 0.9, minTokens = 5, maxTokens = 80, minStopHits = 1)
    report.orderBy("doc_id").as[(Long, String)].collect() shouldBe
      ((301L to 306L).map(_ -> "rejected_quality") ++
        Seq(307L -> "admitted", 308L -> "admitted")).toArray
    // the gate the wave applies is gopherFilter's, rule for rule: each
    // rejected text fails exactly one rule
    val gate = TextOps.gopherFilter(wave, "doc_id", "text", minTokens = 5,
      maxTokens = 80, minStopHits = 1)
    gate.filter(col("keep")).select("doc_id").as[Long].collect().sorted shouldBe
      Array(307L, 308L)
    val rules = Seq("rule_len", "rule_avg_len", "rule_symbols", "rule_alpha",
      "rule_stop")
    gate.filter(!col("keep"))
      .select(rules.map(r => when(col(r), 0).otherwise(1)).reduce(_ + _))
      .as[Int].collect().toSeq shouldBe Seq.fill(5)(1)
    // gopherKeep (defaults included) is gopherFilter's keep; null is false
    val byFilter = gate.select(col("doc_id"), col("keep")).as[(Long, Boolean)]
      .collect().toMap
    wave.select(col("doc_id"), TextOps.gopherKeep(col("text"), minTokens = 5,
        maxTokens = 80, minStopHits = 1))
      .as[(Long, Boolean)].collect().toMap shouldBe
      byFilter + (305L -> false)
    val byDefaults = TextOps.gopherFilter(wave, "doc_id", "text")
      .select(col("doc_id"), col("keep")).as[(Long, Boolean)].collect().toMap
    wave.select(col("doc_id"), TextOps.gopherKeep(col("text")))
      .as[(Long, Boolean)].collect().toMap shouldBe byDefaults + (305L -> false)

    // the wave's artifacts: names, types and column order
    def schema(path: String) = spark.read.parquet(path).schema
      .map(f => f.name -> f.dataType.simpleString)
    schema(s"${st.corpusPath}/wave=1") shouldBe
      Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string")
    schema(s"${st.bandIndexPath}/wave=1") shouldBe
      Seq("band_key" -> "string", "id" -> "bigint")
    schema(s"${st.reportPath}/wave=1") shouldBe
      Seq("doc_id" -> "bigint", "disposition" -> "string")
    report.schema.map(f => f.name -> f.dataType.simpleString) shouldBe
      Seq("doc_id" -> "bigint", "disposition" -> "string")
    spark.read.parquet(s"${st.corpusPath}/wave=1").select("doc_id", "lang")
      .as[(Long, String)].collect().sorted shouldBe Array(307L -> "de", 308L -> "fr")
    // the band-index rows are the admitted docs' keys, as bandIndex builds them
    spark.read.parquet(s"${st.bandIndexPath}/wave=1").as[(String, Long)]
      .collect().sorted shouldBe
      DedupOps.bandIndex(wave.filter(col("doc_id") >= 307L), "doc_id", "text",
        n = 3, numHashes = 16, bands = 4).as[(String, Long)].collect().sorted
  }

  test("ingestWave sequencing: wave 2 dedups against wave 1's admissions and artifacts accrete") {
    val work = Files.createTempDirectory("graft_wave_seq_").toString
    val st = IngestOps.WaveStores(s"$work/corpus", s"$work/bandidx",
      s"$work/clusters", s"$work/ann", s"$work/lex", s"$work/report")
    val base = Seq((10L, "the solid base document with plenty words here",
      Seq(0.9f, 0.1f, 0f, 0f))).toDF("doc_id", "text", "embedding")
    base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(base, "doc_id", "text", 3, 16, 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    ClusterStore.build(st.clusterPath, Seq((9L, 10L)).toDF("id1", "id2"))
    AnnIndexStore.save(st.annPath, base, "doc_id", "embedding", cents)
    LexIndexStore.build(st.lexPath, base, "doc_id", "text", nBuckets = 8)

    val txt201 = "alpha beta gamma delta epsilon the zeta omega kappa iota"
    def run(wave: org.apache.spark.sql.DataFrame, id: Long) =
      IngestOps.ingestWave(spark, wave, "doc_id", "text", "embedding", st,
        waveId = id, n = 3, numHashes = 16, bands = 4, threshold = 0.9,
        minTokens = 5, maxTokens = 80, minStopHits = 1)
        .orderBy("doc_id").as[(Long, String)].collect()

    run(Seq((201L, txt201, Seq(0.1f, 0.9f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding"), id = 1) shouldBe
      Array((201L, "admitted"))
    // wave 2: a dup of wave 1's admission must now be a CORPUS dup —
    // wave 1's band-index contribution is live for wave 2's probe
    val w2 = run(Seq(
      (301L, txt201, Seq(0.2f, 0.8f, 0f, 0f)),
      (302L, "one mango two melon three apple four grape the banana",
        Seq(0.6f, 0.6f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding"), id = 2)
    w2 shouldBe Array(
      (301L, "rejected_corpus_dup"), (302L, "admitted"))
    // artifacts accreted across waves: corpus = base ∪ both admissions,
    // cluster evidence carries the cross-wave dup edge, ANN/lex likewise
    spark.read.parquet(st.corpusPath).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(10L, 201L, 302L)
    ClusterStore.pairs(spark, st.clusterPath)
      .select("id1", "id2").as[(Long, Long)].collect().sorted should
      contain ((201L, 301L))
    ClusterStore.assignment(spark, st.clusterPath)
      .orderBy("id").as[(Long, Long)].collect().toMap
      .apply(301L) shouldBe 201L
    spark.read.parquet(s"${st.annPath}/cells").select("doc_id")
      .as[Long].collect().sorted shouldBe Array(10L, 201L, 302L)
  }

  test("compactWaves folds wave dirs into one; admission decisions are unchanged after") {
    val work = Files.createTempDirectory("graft_wave_compact_").toString
    val st = IngestOps.WaveStores(s"$work/corpus", s"$work/bandidx",
      s"$work/clusters", s"$work/ann", s"$work/lex", s"$work/report")
    val base = Seq((10L, "the solid base document with plenty words here",
      Seq(0.9f, 0.1f, 0f, 0f))).toDF("doc_id", "text", "embedding")
    base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(base, "doc_id", "text", 3, 16, 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    ClusterStore.build(st.clusterPath, Seq((9L, 10L)).toDF("id1", "id2"))
    AnnIndexStore.save(st.annPath, base, "doc_id", "embedding", cents)
    LexIndexStore.build(st.lexPath, base, "doc_id", "text", nBuckets = 8)

    val txt201 = "alpha beta gamma delta epsilon the zeta omega kappa iota"
    def run(wave: org.apache.spark.sql.DataFrame, id: Long) =
      IngestOps.ingestWave(spark, wave, "doc_id", "text", "embedding", st,
        waveId = id, n = 3, numHashes = 16, bands = 4, threshold = 0.9,
        minTokens = 5, maxTokens = 80, minStopHits = 1)
        .orderBy("doc_id").as[(Long, String)].collect()

    run(Seq((201L, txt201, Seq(0.1f, 0.9f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding"), id = 1)
    val corpusBefore = spark.read.parquet(st.corpusPath)
      .select("doc_id").as[Long].collect().sorted
    val idxBefore = spark.read.parquet(st.bandIndexPath)
      .select("band_key", "id").as[(String, Long)].collect().sorted

    IngestOps.compactWaves(spark, st.corpusPath)
    IngestOps.compactWaves(spark, st.bandIndexPath)

    // contents byte-equal (modulo the retired wave column), ONE wave dir
    spark.read.parquet(st.corpusPath).select("doc_id")
      .as[Long].collect().sorted shouldBe corpusBefore
    spark.read.parquet(st.bandIndexPath).select("band_key", "id")
      .as[(String, Long)].collect().sorted shouldBe idxBefore
    val waves = new java.io.File(st.corpusPath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    waves shouldBe Array("wave=0")

    // the compacted index still rejects a dup of the folded admission,
    // and a fresh wave id appends cleanly beside wave=0
    run(Seq(
      (301L, txt201, Seq(0.2f, 0.8f, 0f, 0f)),
      (302L, "one mango two melon three apple four grape the banana",
        Seq(0.6f, 0.6f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding"), id = 2) shouldBe Array(
      (301L, "rejected_corpus_dup"), (302L, "admitted"))
    spark.read.parquet(st.corpusPath).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(10L, 201L, 302L)
  }

  test("ingestWave heals a Lex and an ANN store left mid-compaction: report and artifacts equal an uncrashed run's") {
    def compacted(): IngestOps.WaveStores = {
      val st = seedShape(Files.createTempDirectory("graft_wave_crash_").toString)
      LexIndexStore.compact(st.lexPath, spark)
      AnnIndexStore.compact(st.annPath, spark)
      st
    }
    val (clean, crashed) = (compacted(), compacted())
    // crash between live→.precompact and .compact→live: each index root
    // sits renamed to its MARKED .compact, and nothing is live
    val fs = new org.apache.hadoop.fs.Path(crashed.lexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    for (p <- Seq(crashed.lexPath, crashed.annPath)) {
      fs.rename(hp(p), hp(s"$p.compact")) shouldBe true
      fs.exists(hp(s"$p.compact/_INDEX_SUCCESS")) shouldBe true
    }
    def outcome(st: IngestOps.WaveStores) =
      (runShape(st).collect().map(_.toString).toSeq.sorted, artifacts(st))
    outcome(crashed) shouldBe outcome(clean)
    for (p <- Seq(crashed.lexPath, crashed.annPath))
      fs.exists(hp(s"$p.compact")) shouldBe false
  }

  test("ingestWave semantic gate: a cosine near-dup of an admitted embedding is rejected; no-vector docs skip the gate") {
    import graft.ext.SimilarityOps
    val work = Files.createTempDirectory("graft_wave_sem_").toString
    val st = IngestOps.WaveStores(s"$work/corpus", s"$work/bandidx",
      s"$work/clusters", s"$work/ann", s"$work/lex", s"$work/report")
    val base = Seq((10L, "the solid base document with plenty words here",
      Seq(0.9f, 0.1f, 0f, 0f))).toDF("doc_id", "text", "embedding")
    base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(base, "doc_id", "text", 3, 16, 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    ClusterStore.build(st.clusterPath, Seq((9L, 10L)).toDF("id1", "id2"))
    AnnIndexStore.save(st.annPath, base, "doc_id", "embedding", cents)
    LexIndexStore.build(st.lexPath, base, "doc_id", "text", nBuckets = 8)

    val wave = Seq(
      // different TEXT (passes every lexical gate) but near-identical
      // embedding to the admitted base doc → semantic rejection
      (501L, "alpha beta gamma delta epsilon the zeta omega kappa iota",
        Some(Seq(0.89f, 0.11f, 0f, 0f))),
      // different text AND far embedding → admitted
      (502L, "one mango two melon three apple four grape the banana",
        Some(Seq(-0.5f, 0.5f, 0f, 0f))),
      // no embedding at all: the gate cannot apply — admitted
      (503L, "this third unique sentence has the right shape to pass",
        None: Option[Seq[Float]]))
      .toDF("doc_id", "text", "embedding")
    val report = IngestOps.ingestWave(spark, wave, "doc_id", "text",
      "embedding", st, waveId = 1, n = 3, numHashes = 16, bands = 4,
      threshold = 0.9, minTokens = 5, maxTokens = 80, minStopHits = 1,
      // stride 1 keeps the sign-LSH probe inside the 4-dim test vectors
      semanticThreshold = Some(0.9), nBits = 4, stride = 1)
      .orderBy("doc_id").as[(Long, String)].collect()
    report shouldBe Array(
      (501L, "rejected_semantic_dup"),
      (502L, "admitted"),
      (503L, "admitted"))
    // the rejected embedding never became searchable; the admitted did
    spark.read.parquet(s"${st.annPath}/cells").select("doc_id")
      .as[Long].collect().sorted shouldBe Array(10L, 502L)
    // sanity: the gate's verdict matches the standalone incremental op
    SimilarityOps.cosineNearDupPairsIncremental(
        wave.filter(col("embedding").isNotNull), base,
        "doc_id", "embedding", threshold = 0.9, nBits = 4, stride = 1)
      .select("new_id").as[Long].collect() shouldBe Array(501L)
  }

  test("ingestWave replay: re-running the same wave id leaves every artifact unchanged") {
    val work = Files.createTempDirectory("graft_wave_replay_").toString
    val st = IngestOps.WaveStores(s"$work/corpus", s"$work/bandidx",
      s"$work/clusters", s"$work/ann", s"$work/lex", s"$work/report")
    val base = Seq((10L, "the solid base document with plenty words here",
      Seq(0.9f, 0.1f, 0f, 0f))).toDF("doc_id", "text", "embedding")
    base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(base, "doc_id", "text", 3, 16, 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    // base store needs ≥1 edge (nodes need not be corpus docs)
    ClusterStore.build(st.clusterPath,
      Seq((9L, 10L)).toDF("id1", "id2"))
    AnnIndexStore.save(st.annPath, base, "doc_id", "embedding", cents)
    LexIndexStore.build(st.lexPath, base, "doc_id", "text", nBuckets = 8)

    val wave = Seq(
      (201L, "alpha beta gamma delta epsilon the zeta omega kappa iota",
        Seq(0.1f, 0.9f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding")
    def run() = IngestOps.ingestWave(spark, wave, "doc_id", "text",
      "embedding", st, waveId = 1, n = 3, numHashes = 16, bands = 4,
      threshold = 0.9, minTokens = 5, maxTokens = 80, minStopHits = 1)
      .orderBy("doc_id").as[(Long, String)].collect()

    val first = run()
    val corpus1 = spark.read.parquet(st.corpusPath)
      .select("doc_id").as[Long].collect().sorted
    val cells1 = spark.read.parquet(s"${st.annPath}/cells")
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted
    // at-least-once redelivery: same wave id overwrites itself everywhere
    val second = run()
    second shouldBe first
    spark.read.parquet(st.corpusPath).select("doc_id")
      .as[Long].collect().sorted shouldBe corpus1
    spark.read.parquet(s"${st.annPath}/cells")
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted shouldBe cells1
  }

  test("ingestWave fan-out: a failed artifact write surfaces only after its siblings end") {
    val work = Files.createTempDirectory("graft_wave_fail_").toString
    // no lexical store at lexPath: LexIndexStore.append fails at once
    val st = IngestOps.WaveStores(s"$work/corpus", s"$work/bandidx",
      s"$work/clusters", s"$work/ann", s"$work/nolex", s"$work/report")
    val base = Seq((10L, "the solid base document with plenty words here",
      Seq(0.9f, 0.1f, 0f, 0f))).toDF("doc_id", "text", "embedding")
    base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(base, "doc_id", "text", 3, 16, 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    ClusterStore.build(st.clusterPath, Seq((9L, 10L)).toDF("id1", "id2"))
    AnnIndexStore.save(st.annPath, base, "doc_id", "embedding", cents)
    val wave = Seq(
      (201L, "alpha beta gamma delta epsilon the zeta omega kappa iota",
        Seq(0.1f, 0.9f, 0f, 0f)),
      (202L, "alpha beta gamma delta epsilon the zeta omega kappa iota",
        Seq(0.2f, 0.8f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding")
    val sc = spark.sparkContext
    val (ex, activeAtCatch) = try {
      IngestOps.ingestWave(spark, wave, "doc_id", "text", "embedding", st,
        waveId = 1, n = 3, numHashes = 16, bands = 4, threshold = 0.9,
        minTokens = 5, maxTokens = 80, minStopHits = 1)
      fail("a wave whose lexical store is missing must throw")
    } catch {
      case e: org.apache.spark.sql.AnalysisException =>
        (e, sc.statusTracker.getActiveJobIds.toSeq)
    }
    ex.getMessage should include (s"$work/nolex/meta")
    activeAtCatch shouldBe empty
    // the sibling writes had all committed before the failure surfaced
    for (dir <- Seq(s"${st.corpusPath}/wave=1", s"${st.bandIndexPath}/wave=1",
        s"${st.reportPath}/wave=1"))
      new java.io.File(s"$dir/_SUCCESS") should exist
    ClusterStore.version(spark, st.clusterPath) shouldBe 2L
  }

  test("ingestWave plans stay small: no SQL event re-prints the admission chain") {
    val st = seedShape(Files.createTempDirectory("graft_wave_plans_").toString)
    val sc = spark.sparkContext
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sizes.add(("start", s.physicalPlanDescription.length))
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          sizes.add(("aqe", u.physicalPlanDescription.length))
        case _ =>
      }
    }
    GraftListenerBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      runShape(st).collect()
      GraftListenerBus.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = sizes.asScala.toSeq
    seen.map(_._1).distinct.sorted shouldBe Seq("aqe", "start")
    // every write plans over cut leaves: a persisted chain printed each
    // stage's cached plan inline, up to ~1 MB per event
    withClue(seen.sortBy(-_._2).take(5).mkString("largest: ", ", ", "\n")) {
      all(seen.map(_._2)) should be <= 32768
    }
  }

  test("ingestWave leaves nothing behind, and a checkpoint dir changes no artifact") {
    val sc = spark.sparkContext
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // earlier specs' memoized query artifacts are not this wave's
    spark.catalog.clearCache()
    def wave(st: IngestOps.WaveStores): (Seq[String], Seq[Seq[String]]) = {
      val before = sc.getPersistentRDDs.keySet
      val report = runShape(st).collect().map(_.toString).toSeq.sorted
      (sc.getPersistentRDDs.keySet -- before) shouldBe empty
      cacheManager.isEmpty shouldBe true
      (report, artifacts(st))
    }

    val plain = wave(seedShape(
      Files.createTempDirectory("graft_wave_local_").toString))
    // seeded before the checkpoint dir is set, so any checkpoint file
    // found below is the wave's
    val reliable = seedShape(
      Files.createTempDirectory("graft_wave_reliable_").toString)
    val dir = Files.createTempDirectory("graft-wave-checkpoint")
    sc.setCheckpointDir(dir.toString)
    try {
      wave(reliable) shouldBe plain
      // every cut's files were deleted on the way out
      val root = new java.io.File(new java.net.URI(sc.getCheckpointDir.get))
      root.list().filter(_.startsWith("rdd-")) shouldBe empty
    } finally {
      CheckpointDirAccess.clear(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    plain._1 should have size 6
  }
}
