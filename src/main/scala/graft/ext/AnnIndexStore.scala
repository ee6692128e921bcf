package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted IVF index — the build-once / query-many deployment of the
 * [[SimilarityOps]] ANN stack. The corpus is written PARTITIONED BY ITS
 * IVF CELL, which turns the in-memory "scan only the probed cells'
 * rows" join into on-disk PARTITION PRUNING: a query batch probing
 * nprobe of c cells physically reads ~nprobe/c of the index files and
 * skips the rest at the directory level. Centroids persist alongside as
 * the (tiny) model artifact. At 100 TB this is the difference between
 * an ANN query costing a full corpus scan and costing only the touched
 * cells' IO — and the index is built once, amortized over every
 * subsequent query batch.
 *
 * Layout: `path/centroids/` (cid, vec) parquet; `path/cells/cell=N/`
 * corpus rows. [[retrain]] and [[compact]] publish a whole new tree
 * through [[graft.sources.TreeSwap]]; every reader and writer runs
 * [[recover]] first, so a crashed swap heals on the next access.
 */
object AnnIndexStore {

  /** Build and persist the index: assign each corpus row to its nearest
    * centroid and write rows partitioned by (ingest batch, cell) — the
    * base build is batch 0; streaming/batch appends land in their own
    * `b=` partitions so a replayed batch OVERWRITES itself instead of
    * duplicating (the exactly-once-at-directory-level discipline of
    * [[graft.streaming.StreamingPipeline]] ingest). Cell pruning is
    * unaffected: `cell` stays a partition column at the leaf level. */
  def save(path: String, corpus: DataFrame, idCol: String, vecCol: String,
           centroids: Seq[(Long, Seq[Float])],
           codebooks: Seq[Seq[Seq[Float]]] = Nil): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeBatch(path, corpus, idCol, vecCol, centroids, codebooks,
      batchId = 0L)
    centroids.toDF("cid", "vec")
      .write.mode("overwrite").parquet(s"$path/centroids")
    if (codebooks.nonEmpty)
      codebooks.zipWithIndex
        .flatMap { case (cb, s) => cb.zipWithIndex.map { case (v, j) =>
          (s, j, v) } }
        .toDF("s", "j", "vec")
        .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  private def writeBatch(path: String, rows: DataFrame, idCol: String,
                         vecCol: String, centroids: Seq[(Long, Seq[Float])],
                         codebooks: Seq[Seq[Seq[Float]]],
                         batchId: Long): Unit = {
    val assigned = SimilarityOps.ivfAssign(rows, centroids, idCol, vecCol)
    val cols =
      if (codebooks.isEmpty) Seq(col(idCol), col(vecCol), col("cell"))
      else Seq(col(idCol), col(vecCol),
        SimilarityOps.pqCodeColumn(rows, col(vecCol), codebooks)
          .as("pq_codes"), col("cell"))
    assigned.select(cols: _*)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/cells/b=$batchId")
  }

  /** Incremental index growth: assign ONLY the new rows against the
    * persisted centroids and land them in their own `b=batchId` ingest
    * partition — O(batch), never O(corpus); the daily/streaming-ingest
    * path. Results after append are identical to a full rebuild under
    * the same centroids (spec-proven), and a REPLAYED batch id
    * overwrites its own partition instead of duplicating, so
    * at-least-once delivery becomes exactly-once at the directory level.
    * If the index carries PQ codes, the new rows are encoded under the
    * same frozen codebooks. Re-train + full rebuild ([[retrain]]) remains
    * the move when drift makes the frozen models a bad fit for new data
    * (watch [[cellSizes]]). */
  def append(path: String, newRows: DataFrame, idCol: String,
             vecCol: String, batchId: Long = 1L): Unit = {
    require(batchId > 0, "batchId 0 is the base build")
    val spark = newRows.sparkSession
    recover(spark, path)
    writeBatch(path, newRows, idCol, vecCol, loadCentroids(spark, path),
      loadCodebooks(spark, path), batchId)
  }

  /** The persisted PQ codebook artifact in [[SimilarityOps.pqEncode]]'s
    * nested shape (m × codes × subdim — a model, not data); empty for a
    * coarse-only index. Reads a recovered root: the callers' business. */
  private[graft] def loadCodebooks(spark: SparkSession,
                    path: String): Seq[Seq[Seq[Float]]] = {
    val fs = hp(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp(s"$path/codebooks"))) Nil
    else spark.read.parquet(s"$path/codebooks")
      .select("s", "j", "vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
  }

  // ---- retrain + atomic swap ----------------------------------------------

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /**
   * RE-TRAIN + crash-safe swap — the drift path [[append]] explicitly
   * defers to: when frozen centroids stop partitioning new data well
   * (see `cellSizes` / `q_ann_cell_balance`), rebuild the whole index
   * under NEW centroids beside the live one and swap it in by the
   * marker-gated rename-aside ([[graft.sources.TreeSwap.IndexRetrain]]) —
   * at every instant a complete index exists at the path or a recoverable
   * neighbor, never a half-rebuilt mix of old and new cells.
   * [[recover]] repairs any crash point on next access; a replayed
   * retrain is idempotent (it rebuilds from the same inputs).
   */
  def retrain(path: String, corpus: DataFrame, idCol: String,
              vecCol: String, centroids: Seq[(Long, Seq[Float])],
              codebooks: Seq[Seq[Seq[Float]]] = Nil): Unit = {
    val spark = corpus.sparkSession
    recover(spark, path)
    graft.sources.TreeSwap.swap(spark, path,
        graft.sources.TreeSwap.IndexRetrain) { tmp =>
      save(tmp, corpus, idCol, vecCol, centroids, codebooks)
    }
  }

  /**
   * COMPACT the ingest batches — the [[graft.ext.LexIndexStore.compact]]
   * discipline for the ANN tier: a long-running [[append]] stream
   * accretes one `b=` directory per micro-batch, and at 100 TB the FILE
   * COUNT (every probed cell × every batch) — not the data — becomes
   * the scan-planning cost. Rewrites the union of all batches into a
   * single fresh `b=0` beside the live tree and swaps it in with the
   * marker-gated rename-aside (never delete-then-rename; any crash
   * point leaves a complete index live or recoverable via [[recover]]).
   * Results are unchanged by construction: index rows are per-id facts
   * independent of which batch carried them, and
   * the centroid/codebook artifacts are copied verbatim. Appends resume
   * after with fresh batch ids > 0.
   */
  def compact(path: String, spark: SparkSession): Unit = {
    val fs = hp(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(spark, path)
    graft.sources.TreeSwap.swap(spark, path,
        graft.sources.TreeSwap.IndexCompact) { tmp =>
      spark.read.parquet(s"$path/cells").drop("b")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$tmp/cells/b=0")
      spark.read.parquet(s"$path/centroids")
        .write.mode("overwrite").parquet(s"$tmp/centroids")
      if (fs.exists(hp(s"$path/codebooks")))
        spark.read.parquet(s"$path/codebooks")
          .write.mode("overwrite").parquet(s"$tmp/codebooks")
    }
  }

  /** Recover the index root after a crashed [[retrain]] or [[compact]]
    * swap — [[graft.sources.TreeSwap.recover]]'s invariants for both
    * kinds: live present → drop the stale neighbors; live missing with a
    * MARKED tmp → the rebuild committed, promote it; live missing with
    * only a backup → restore it. Both swaps share the live path, so a
    * marked retrain promotes before anything reads the live tree. */
  def recover(spark: SparkSession, path: String): Unit = {
    graft.sources.TreeSwap.recover(spark, path,
      graft.sources.TreeSwap.IndexRetrain)
    graft.sources.TreeSwap.recover(spark, path,
      graft.sources.TreeSwap.IndexCompact)
  }

  /**
   * Index-health audit: member count and share per cell. A balanced index
   * keeps query cost ≈ nprobe/c of the corpus; drift concentrates new
   * rows in few cells until probing them IS a corpus scan — this is the
   * measured "time to [[retrain]]" signal. One |cells|-row aggregate over
   * the index (cell is a partition column: the scan reads directory
   * names + row counts, not vectors).
   */
  def cellSizes(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val total = cells.count()
    cells.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_members"))
      .withColumn("share",
        round(col("n_members").cast("double") / total, 6))
  }

  /** The persisted centroid artifact, in [[SimilarityOps.ivfAssign]]'s
    * in-memory shape (bounded by c — a model, not data). It is always
    * written as (cid long, vec array<float>), so it is read under that
    * schema: no footer-inference job. Reads a recovered root: the
    * callers' business. */
  private[graft] def loadCentroids(spark: SparkSession,
                                   path: String): Seq[(Long, Seq[Float])] =
    spark.read.schema("cid long, vec array<float>")
      .parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1)

  /**
   * Fused IVF+PQ (IVFADC) top-k against the PERSISTED index — requires a
   * [[save]] with codebooks. Coarse phase: score cosine(query,
   * PQ-reconstructed vector) over the probed cells using the STORED
   * `pq_codes` — parquet column pruning means this scan reads m bytes
   * per row, not the 4·dim raw vector (at 100 TB the coarse IO drops
   * ~32× on a 64-dim float corpus at m=8); partition pruning drops
   * unprobed cells as in [[topK]]. Rerank: only the ≤ |Q|·candidates
   * survivors' raw vectors are read, by id, for exact cosine. Results
   * are bit-identical to the in-memory [[SimilarityOps.ivfPqTopK]] at
   * equal parameters (spec-proven): the stored codes were produced by
   * the same frozen codebooks the in-memory form encodes with at query
   * time.
   */
  def topKPq(spark: SparkSession, path: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             nprobe: Int, candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be ≥ k=$k")
    GraftFunctions.register(spark)
    recover(spark, path)
    val centroids = loadCentroids(spark, path)
    val codebooks = loadCodebooks(spark, path)
    require(codebooks.nonEmpty,
      s"$path carries no PQ codebooks — build with save(…, codebooks)")
    val q = SimilarityOps.ivfProbeCells(queries, centroids, vecCol, nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell"))
    val probed = q.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probed: _*))
    val coarse = cells
      .select(col(idCol).cast("long").as("neighbor_id"), col("cell"),
        SimilarityOps.pqReconstruct(col("pq_codes"), codebooks).as("rv"))
      .join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", SimilarityOps.cosineNative(col("qv"), col("rv")))
    val cand = SimilarityOps.heapTopK(coarse, candidates)
      .select(col("query_id"), col("neighbor_id"))
    val qFull = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val exact = cand
      .join(spark.read.parquet(s"$path/cells")
        .select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("score", SimilarityOps.cosineNative(col("qv"), col("cv")))
    SimilarityOps.heapTopK(exact, k)
  }

  /**
   * Top-k neighbors for a query batch against the PERSISTED index.
   * Probed cell ids are collected first (≤ |Q|·nprobe longs — a bounded
   * artifact) and pushed as a LITERAL `isin` filter, so Catalyst prunes
   * unprobed `cell=` directories statically — the executed plan's scan
   * carries the partition filter, no full-index listing or read. Scoring
   * and the bounded-heap top-k are identical to
   * [[SimilarityOps.ivfTopK]], so results match the in-memory operator
   * bit-for-bit at equal parameters.
   */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
           idCol: String, vecCol: String, k: Int,
           nprobe: Int = 1): DataFrame = {
    GraftFunctions.register(spark)
    recover(spark, path)
    val centroids = loadCentroids(spark, path)
    val q = SimilarityOps.ivfProbeCells(queries, centroids, vecCol, nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("cell"))
    val probed = q.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val cells = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("cv"), col("cell"))
    val scored = cells.join(q, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", SimilarityOps.cosineNative(col("qv"), col("cv")))
    SimilarityOps.heapTopK(scored, k)
  }

  /**
   * MMR diversity re-rank off the PERSISTED index — the deployment form
   * of [[graft.ext.SimilarityOps.mmrRerank]]: the relevance pool comes
   * from [[topK]] (partition-pruned cell scan, bounded heap), candidate
   * vectors join back from the index's own `cells` table (column-pruned,
   * cell-filtered — raw corpus never read), and the shared greedy stage
   * ([[graft.ext.SimilarityOps.mmrGreedy]]) runs on the pool-sized
   * frames. At `nprobe` = nlist the pool is the exact top-`pool`, so
   * results are bit-identical to the in-memory operator at equal
   * parameters — which is why `q_mmr_store` shares `q_mmr_rerank`'s
   * oracle verbatim.
   */
  def mmrTopK(spark: SparkSession, path: String, queries: DataFrame,
              idCol: String, vecCol: String, pool: Int, k: Int,
              lambda: Double, nprobe: Int = 1): DataFrame = {
    require(pool >= k && k >= 1, s"need pool >= k >= 1, got pool=$pool k=$k")
    val cands = topK(spark, path, queries, idCol, vecCol, pool, nprobe)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score"), 6).as("rel"))
      .join(spark.read.parquet(s"$path/cells")
        .select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("cv")), "neighbor_id")
    SimilarityOps.mmrGreedy(cands, k, lambda)
  }
}
