package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * The BATCH ingest wave — the production admission path, batch-side twin
 * of [[graft.streaming.StreamingPipeline.dedupAnnIngest]] (which proves
 * the same lockstep-artifact discipline per micro-batch): a wave of
 * candidate documents flows through quality gate → in-batch near-dup
 * rejection → incremental near-dup rejection against the persisted corpus
 * band index, and then EVERY persisted artifact advances with the admitted
 * set in one wave scope — corpus rows, band index, dup-cluster assignment
 * ([[ClusterStore.append]]), ANN cells ([[AnnIndexStore.append]]) and BM25
 * postings ([[LexIndexStore.append]]). A doc is searchable (semantically
 * AND lexically) iff it was admitted, and the cluster artifact carries the
 * evidence for every REJECTED near-dup too — the takedown/leakage
 * consumers need the whole component, not the survivors.
 *
 * Mirrors the reference pipeline's run-scoped batch discipline
 * (`/root/reference/dag_mgo_pg_schedule_etl_qc.py:310,320` — run_id
 * isolation; here `wave=`/`b=` directory scoping). Each admission stage
 * is materialized once as a lineage cut ([[graft.ops.Iterate.cut]]), so
 * the six artifact writes plan small frames over `LogicalRDD` leaves
 * instead of re-planning the whole gate → dedup → admission chain.
 */
object IngestOps {

  /** Persisted artifact roots one wave advances in lockstep. */
  case class WaveStores(corpusPath: String, bandIndexPath: String,
                        clusterPath: String, annPath: String,
                        lexPath: String, reportPath: String)

  /**
   * COMPACT a wave-partitioned artifact root (`corpusPath` /
   * `bandIndexPath` / `reportPath`): a long-running ingest accretes one
   * `wave=` directory per wave, and at 100 TB the FILE COUNT — not the
   * data — becomes the cost (every wave's probe lists every prior wave's
   * files). Rewrites the union of all waves into a single fresh `wave=0`
   * and swaps it in with the shared [[graft.sources.TreeSwap]] rename-
   * aside discipline (crash at any instant leaves a complete root live
   * or recoverable — [[ingestWave]] recovers on entry). Contents are
   * unchanged by construction: rows are per-doc facts independent of
   * which wave carried them.
   *
   * CONTRACT: compaction retires the folded waves' replay scope — a wave
   * id folded into `wave=0` no longer overwrites its original directory
   * on redelivery (the [[graft.ext.LexIndexStore.compact]] rule). Compact
   * only after the folded waves' delivery is settled, and issue fresh
   * wave ids afterwards.
   */
  def compactWaves(spark: SparkSession, path: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    graft.sources.Stores.compactRoot(spark, path,
      graft.sources.TreeSwap.WaveCompact, Some("wave"), targetFileBytes)

  /** Recover a wave root ([[WaveStores]] `corpusPath` / `bandIndexPath` /
    * `reportPath`) after a crashed [[compactWaves]] swap —
    * [[graft.sources.TreeSwap.recover]]'s invariants. */
  def recoverWaves(spark: SparkSession, path: String): Unit =
    graft.sources.TreeSwap.recover(spark, path,
      graft.sources.TreeSwap.WaveCompact)

  /**
   * Run one ingest wave. `batch` must carry `idCol` (globally unique vs
   * the corpus — the [[DedupOps.incrementalNearDupPairs]] contract),
   * `textCol`, and `vecCol` (the embedding for ANN growth).
   *
   * Admission semantics (each stage sees the previous stage's survivors):
   *   1. `rejected_quality` — fails [[TextOps.gopherFilter]], whose
   *      verdict the wave computes in place as [[TextOps.gopherKeep]]
   *      (null text included: no text, no admission);
   *   2. `rejected_batch_dup` — has a verified near-dup (exact n-gram
   *      Jaccard ≥ `threshold` via MinHash-LSH candidates) with a
   *      SMALLER-id gated doc in the same wave. The pair-min rule is
   *      deliberately non-recursive — admission of X must not depend on
   *      the admission cascade of its neighbors — so the report is an
   *      exactly SQL-replayable pure function of the inputs (the
   *      DuckDB-oracle gate) AND deterministic under batch re-partition;
   *   3. `rejected_corpus_dup` — near-dups an already-admitted corpus
   *      doc via the PERSISTED band index (the batch is banded once;
   *      corpus text is shingled only for verification candidates);
   *   4. `rejected_semantic_dup` — only with `semanticThreshold` set:
   *      the SemDeDup gate — 6dp cosine ≥ τ against an already-admitted
   *      embedding, candidates from the sign-LSH bucket join
   *      ([[SimilarityOps.cosineNearDupPairsIncremental]]) over the ANN
   *      store's cell rows (current wave's `b=` partition pruned, same
   *      replay discipline as the text path). Docs without an embedding
   *      skip this gate — no vector, no semantic evidence. Semantic
   *      pairs do NOT feed the lexical evidence store (different score
   *      semantics; run the SemDeDup clustering on its own store);
   *   5. `admitted` — everything else.
   *
   * Artifact writes (all scoped by `waveId`, so a replayed wave
   * overwrites itself — at-least-once redelivery stays exactly-once at
   * the directory level):
   *   - admitted rows → `corpusPath/wave=waveId`;
   *   - their band-index contribution → `bandIndexPath/wave=waveId`;
   *   - ALL verified dup evidence of the wave (in-batch pairs among
   *     gated docs + batch×corpus pairs) → [[ClusterStore.append]];
   *   - admitted embeddings → [[AnnIndexStore.append]] (batchId =
   *     waveId, against the store's frozen centroids);
   *   - admitted text → [[LexIndexStore.append]] (batchId = waveId);
   *   - the per-doc report → `reportPath/wave=waveId`.
   * Every root is recovered before it is read or written: the three
   * wave roots ([[recoverWaves]]) on entry, the ANN root before the
   * semantic gate reads it, and each store's own append recovers its
   * root, so a crashed compaction or commit heals on the next wave.
   *
   * Returns the committed report read back from its artifact:
   * (`idCol`, disposition). Every input batch row appears exactly once.
   *
   * Scale: the wave pays its O(batch) gate, shingle and band kernels once,
   * into the admission table; one banded self-join (in-batch) and one
   * band-key probe of the persisted index (batch side broadcasts under
   * AQE) reuse them. Corpus text is read only for verification
   * candidates, column-pruned, and is the only text shingled after the
   * admission table. The corpus, band-index, ANN and lexical appends
   * write O(admitted) rows; [[ClusterStore.append]] does not — its commit
   * rewrites the whole assignment and evidence tables. The wave-scope
   * cuts are the admission table (batch rows + gate verdict, shingle set
   * and band keys), the in-batch pairs, the corpus pairs, the semantic
   * losers when that gate is on, and the disposition table, of which the
   * admitted rows, the band-index rows and the report are narrow
   * projections. A cut runs one job per query stage of its plan, not one
   * job in all; each holds O(batch) rows until the wave returns. With a
   * SparkContext checkpoint dir they are reliable checkpoints, deleted on
   * the way out.
   */
  def ingestWave(spark: SparkSession, batch: DataFrame, idCol: String,
                 textCol: String, vecCol: String, stores: WaveStores,
                 waveId: Long,
                 n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                 threshold: Double = 0.4,
                 minTokens: Int = 20, maxTokens: Int = 80,
                 minStopHits: Int = 2,
                 semanticThreshold: Option[Double] = None,
                 nBits: Int = 4, stride: Int = 8): DataFrame = {
    require(waveId > 0, "waveId 0 is the base build")
    // repair any crashed compaction before reading the roots it swaps
    Seq(stores.corpusPath, stores.bandIndexPath, stores.reportPath)
      .foreach(recoverWaves(spark, _))
    // every wave-scope stage is CUT (materialized once, rebased on a
    // `LogicalRDD` leaf; [[graft.ops.Iterate.cut]]): the six writes below
    // read the stages many times over, and a frame that merely persisted
    // them would still carry the whole admission lineage in every later
    // plan — Spark formats that plan into each SQL execution's start event
    // and again at every AQE re-plan. A cut is computed exactly once,
    // before the fan-out, so the parallel writers never race to fill it.
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def cut(df: DataFrame): DataFrame = {
      val c = graft.ops.Iterate.cut(df)
      releases += c.release
      c.df
    }
    // the band index, the corpus and the report hold what waves wrote
    // from batches of this schema: read them under it, with no
    // footer-inference job
    val idField = batch.schema(idCol)
    val indexSchema = StructType(Seq(StructField("band_key", StringType),
      idField.copy(name = "id")))
    val corpusSchema = StructType(Seq(idField, batch.schema(textCol)))
    // the admitted rows' column order: the id first, then the batch's
    val rowCols = (idCol +: batch.columns.filterNot(_ == idCol)).toSeq
    try {
      // the admission table: every batch doc once, with its gate verdict
      // and — for gated docs only — its shingle set and band keys, so no
      // later stage shingles or hashes a batch doc again
      val docs = cut(DedupOps.spread(batch)
        .withColumn("__gate", TextOps.gopherKeep(col(textCol),
          minTokens = minTokens, maxTokens = maxTokens,
          minStopHits = minStopHits))
        .withColumn("__sh",
          when(col("__gate"), DedupOps.shingleHashes(col(textCol), n)))
        .withColumn("__keys",
          graft.functions.BandKeys(col("__sh"), numHashes, bands)))
      val gated = docs.filter(col("__gate")).select(col(idCol).as("id"),
        col("__sh").as("sh"), col("__keys").as("keys"))

      // in-batch near-dup evidence: band self-join, verified from the
      // stored shingle sets
      val batchPairs = cut(DedupOps.keyedPairs(gated, threshold))
      // pair-min admission: id2 of any verified pair (id1 < id2) rejects
      val batchKept = gated.join(batchPairs.select(col("id2").as("id")),
        Seq("id"), "left_anti")

      // incremental near-dup vs the persisted corpus: the survivors'
      // stored keys probe the band index; only corpus text is shingled.
      // The CURRENT wave's partition is excluded (partition-pruned, so a
      // replay never reads the files it is about to overwrite): a
      // replayed doc must not be rejected as a near-dup of its own prior
      // admission — that would turn at-least-once redelivery into data
      // loss instead of idempotence
      val corpusIndex = spark.read.schema(indexSchema)
        .parquet(stores.bandIndexPath)
        .filter(col("wave") =!= waveId)
        .select("band_key", "id")
      val corpusText = spark.read.schema(corpusSchema)
        .parquet(stores.corpusPath)
        .filter(col("wave") =!= waveId)
        .select(col(idCol), col(textCol))
      val crossPairs = cut(DedupOps.keyedProbePairs(batchKept, corpusIndex,
        corpusText, idCol, textCol, n, threshold))

      // optional SemDeDup gate: bucket-join the survivors' embeddings
      // against the already-admitted ANN rows, exact cosine ≥ τ rejects
      val semanticLosers = semanticThreshold.map { tau =>
        val survivors = batchKept.join(
          crossPairs.select(col("new_id").as("id")), Seq("id"), "left_anti")
        AnnIndexStore.recover(spark, stores.annPath)
        val corpusVecs = spark.read.parquet(s"${stores.annPath}/cells")
          .filter(col("b") =!= waveId)
          .select(col(idCol), col(vecCol))
        cut(SimilarityOps.cosineNearDupPairsIncremental(
            docs.select(col(idCol), col(vecCol))
              .join(survivors.select(col("id").as(idCol)), Seq(idCol),
                "left_semi")
              .filter(col(vecCol).isNotNull),
            corpusVecs, idCol, vecCol, tau, nBits, stride)
          .select(col("new_id").as("id")).distinct())
      }

      // each doc's disposition: the first stage that rejects it. Each
      // stage only sees the previous stages' survivors, so a doc is in
      // at most one loser set
      val losers = (Seq(
          batchPairs.select(col("id2").as("id"),
            lit("rejected_batch_dup").as("__d")),
          crossPairs.select(col("new_id").as("id"),
            lit("rejected_corpus_dup").as("__d"))) ++
        semanticLosers.map(_.withColumn("__d", lit("rejected_semantic_dup"))))
        .reduce(_ unionByName _).distinct()
        .withColumnRenamed("id", idCol)
      val disposition = cut(docs.join(losers, Seq(idCol), "left")
        .select(rowCols.map(col) :+ col("__keys") :+
          when(!col("__gate"), "rejected_quality")
            .otherwise(coalesce(col("__d"), lit("admitted")))
            .as("__disp"): _*))
      val admitted = disposition.filter(col("__disp") === "admitted")

      // ---- artifacts advance in lockstep, all wave-scoped ----
      // The six writes are pairwise independent (disjoint store dirs)
      // and the wave is replay-idempotent at the directory level
      // (IngestWaveSpec), so completion ORDER carries no recovery
      // meaning — a crash mid-fanout heals exactly like a crash
      // mid-sequence. Submitting them concurrently overlaps their job
      // scheduling/IO latency: each write is a handful of small jobs
      // over the cut frames, and the wave's wall cost is the max of
      // the six instead of the sum. The wave returns (or throws) only
      // once all six have ended ([[runAll]]), so the cuts are released
      // after the last reader.
      // cluster evidence: BOTH pair families, canonical (min, max) order
      val waveEvidence = batchPairs.select("id1", "id2", "jaccard")
        .unionByName(crossPairs.select(
          least(col("new_id"), col("corpus_id")).as("id1"),
          greatest(col("new_id"), col("corpus_id")).as("id2"),
          col("jaccard")))
      val admittedRows = admitted.select(rowCols.map(col): _*)
      val actions: Seq[() => Unit] = Seq(
        () => admittedRows.drop(vecCol).write.mode("overwrite")
          .parquet(s"${stores.corpusPath}/wave=$waveId"),
        () => DedupOps.bandKeyRows(admitted, col(idCol), col("__keys"))
          .write.mode("overwrite")
          .parquet(s"${stores.bandIndexPath}/wave=$waveId"),
        () => ClusterStore.append(stores.clusterPath, waveEvidence),
        // a doc without an embedding is admitted but not ANN-searchable
        // (the lexical index still carries it) — never NPE the assign
        () => AnnIndexStore.append(stores.annPath,
          admittedRows.filter(col(vecCol).isNotNull), idCol, vecCol,
          batchId = waveId),
        () => LexIndexStore.append(stores.lexPath, admittedRows, idCol,
          textCol, batchId = waveId),
        // the per-doc admission report, the wave's audit artifact
        () => disposition.select(col(idCol), col("__disp").as("disposition"))
          .write.mode("overwrite")
          .parquet(s"${stores.reportPath}/wave=$waveId"))
      runAll(actions)
      spark.read.schema(StructType(Seq(idField,
          StructField("disposition", StringType))))
        .parquet(s"${stores.reportPath}/wave=$waveId")
    } finally releases.foreach(_())
  }

  /** Runs the actions concurrently and returns only once EVERY one has
    * ended. A failure is rethrown after that, the first in `actions` order
    * with the others attached as suppressed: returning at the first
    * failure would leave its siblings running — still reading cuts the
    * caller releases on the way out, and racing a retry of the same wave
    * on the same directories. */
  private def runAll(actions: Seq[() => Unit]): Unit = {
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(actions.size)
    val failures =
      try pool.invokeAll(actions.map(a =>
          (() => a()): java.util.concurrent.Callable[Unit]).asJava).asScala
        .flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
      finally pool.shutdown()
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
