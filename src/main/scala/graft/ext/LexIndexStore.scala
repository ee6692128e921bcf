package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted LEXICAL (BM25) index — the build-once / query-many deployment
 * of [[TextOps.bm25BatchTopK]], completing the persisted-artifact family
 * ([[AnnIndexStore]] for embeddings, [[ClusterStore]] for dup graphs):
 * the corpus is tokenized ONCE into an inverted postings table written
 * PARTITIONED BY TERM-HASH BUCKET, so a query batch physically reads only
 * the buckets its terms hash into — on-disk partition pruning over the
 * postings, the lexical analog of the ANN store's cell pruning. At 100 TB
 * the per-query-batch cost drops from "tokenize + scan the corpus" to
 * "read |query terms'| buckets of a prebuilt index".
 *
 * Layout: `path/postings/b=<batch>/tb=<bucket>/` — (term, doc_id, tf, dl)
 * rows; `path/stats/b=<batch>/` — 1-row (n_docs, sum_dl) per ingest
 * batch; `path/meta/` — the bucket count (the artifact's only config).
 * Ingest batches land in their own `b=` partitions so a REPLAYED batch
 * overwrites itself instead of duplicating (the directory-level
 * exactly-once discipline of [[AnnIndexStore.append]]); corpus stats
 * (df per term, N, avgdl) are derived at query time by summing across
 * batches — all term postings share a bucket regardless of batch, so
 * pruning is batch-transparent. [[compact]] publishes through
 * [[graft.sources.TreeSwap]]; every reader and writer runs [[recover]]
 * first, so a crashed compaction heals on the next access.
 *
 * Query results are BIT-IDENTICAL to [[TextOps.bm25BatchTopK]] over the
 * same corpus (spec-proven, incl. after appends): tf/df/dl/N are integers
 * either way, avgdl divides the same exact sums, and the per-(query, doc)
 * contribution chain below is copied operation-for-operation so IEEE
 * rounding cannot diverge.
 */
object LexIndexStore {

  /** Build and persist the index as ingest batch 0. `nBuckets` fixes the
    * term-hash partitioning for the artifact's lifetime (64 gives a
    * query batch ≥ ~98% directory skip on a broad vocabulary while
    * keeping writer fan-out bounded). */
  def build(path: String, docs: DataFrame, idCol: String, textCol: String,
            nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"bad nBuckets $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    writeBatch(path, docs, idCol, textCol, nBuckets, batchId = 0L)
  }

  /** Incremental growth: tokenize ONLY the new docs into their own
    * `b=batchId` partition — O(batch), never O(corpus). Query results
    * after append equal a full rebuild over the union (spec-proven);
    * a replayed batchId overwrites its own partition. Appended docs
    * must be NEW doc ids — re-ingesting an id across batches would
    * double count it (dedup upstream, [[DedupOps]]). */
  def append(path: String, newDocs: DataFrame, idCol: String,
             textCol: String, batchId: Long): Unit = {
    require(batchId > 0, "batchId 0 is the base build")
    recover(newDocs.sparkSession, path)
    writeBatch(path, newDocs, idCol, textCol,
      nBucketsOf(newDocs.sparkSession, path), batchId)
  }

  /** `meta` is always written as one `n_buckets int` row, so it is read
    * under that schema: no footer-inference job before the read. */
  private def nBucketsOf(spark: SparkSession, path: String): Int =
    spark.read.schema("n_buckets int").parquet(s"$path/meta").head().getInt(0)

  /**
   * COMPACT the ingest batches: a long-running append stream accretes one
   * `b=` directory per micro-batch, and at 100 TB the file count — not
   * the data — becomes the scan-planning cost (every query lists every
   * batch's files in its pruned buckets). Compaction rewrites the union
   * of all batches into a single fresh `b=0` under a sibling directory
   * and swaps it in with the marker-gated rename-aside of
   * [[graft.sources.TreeSwap]] (never delete-then-rename — a crash at
   * any instant leaves a complete postings tree live or recoverable via
   * [[recover]]). Query results are unchanged by construction:
   * postings rows are per-(doc, term) facts independent of which batch
   * carried them, and df/N/avgdl re-derive from the same union
   * (spec-proven identical). Appends resume after compaction with fresh
   * batch ids > 0.
   */
  def compact(path: String, spark: SparkSession): Unit = {
    recover(spark, path)
    val nBuckets = nBucketsOf(spark, path)
    import spark.implicits._
    graft.sources.TreeSwap.swap(spark, path,
        graft.sources.TreeSwap.IndexCompact) { tmp =>
      Seq(nBuckets).toDF("n_buckets")
        .write.mode("overwrite").parquet(s"$tmp/meta")
      spark.read.parquet(s"$path/postings")
        .select("term", "doc_id", "tf", "dl", "tb")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$tmp/postings/b=0")
      spark.read.parquet(s"$path/stats")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$tmp/stats/b=0")
    }
  }

  /** Recover the index root after a crashed [[compact]] swap —
    * [[graft.sources.TreeSwap.recover]]'s invariants: live present → drop
    * the stale neighbors; live missing with a MARKED tmp → promote; live
    * missing with only a backup → restore. */
  def recover(spark: SparkSession, path: String): Unit =
    graft.sources.TreeSwap.recover(spark, path,
      graft.sources.TreeSwap.IndexCompact)

  private def writeBatch(path: String, docs: DataFrame, idCol: String,
                         textCol: String, nBuckets: Int,
                         batchId: Long): Unit = {
    // persisted across the two actions: the stats aggregate and the
    // postings write would otherwise each re-tokenize the input — at
    // index-build sizes that doubles the dominant cost
    val corpus = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .persist()
    try {
      corpus.agg(count(lit(1)).as("n_docs"),
          sum(col("dl").cast("long")).as("sum_dl"))
        .write.mode("overwrite").parquet(s"$path/stats/b=$batchId")
      corpus.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(count(lit(1)).cast("double").as("tf"))
        .withColumn("tb",
          pmod(TextOps.fingerprint60(col("term")),
            lit(nBuckets.toLong)))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$path/postings/b=$batchId")
    } finally corpus.unpersist(blocking = false)
  }

  /**
   * Batch BM25 top-k against the PERSISTED index. The query terms' bucket
   * ids (≤ nBuckets longs — a bounded artifact) are collected and pushed
   * as a literal `isin` filter, so Catalyst prunes unprobed `tb=`
   * directories statically; df/N/avgdl are then derived from the pruned
   * postings + the |batches|-row stats table. Output shape and values
   * match [[TextOps.bm25BatchTopK]] exactly: (qid, doc_id, bm25, rnk ≤ k),
   * ties (score desc, doc asc).
   */
  def topK(spark: SparkSession, path: String, queryTerms: DataFrame,
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    GraftFunctions.register(spark)
    recover(spark, path)
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val nBuckets = nBucketsOf(spark, path)
    val qt = queryTerms
      .select(col("qid").cast("long").as("qid"), col("term")).distinct()
    val qterm = qt.select("term").distinct()
    val buckets = qterm
      .select(pmod(TextOps.fingerprint60(col("term")),
        lit(nBuckets.toLong)).as("tb"))
      .distinct().collect().map(_.getLong(0)).sorted
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(buckets: _*))
      .join(broadcast(qterm), "term")
      .select("doc_id", "dl", "term", "tf")
    val dfs = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("dft"))
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum(col("n_docs")).cast("double").as("n_docs"),
        (sum(col("sum_dl")).cast("double") /
          sum(col("n_docs")).cast("double")).as("avgdl"))
    // contribution chain copied operation-for-operation from
    // TextOps.bm25BatchTopK — IEEE-identical scores by construction
    val contrib = qt.join(postings, "term")
      .join(broadcast(dfs), "term").crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(log(lit(1.0) +
            (col("n_docs") - col("dft") + 0.5) / (col("dft") + 0.5)) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") +
            (lit(1.0 - b) + (col("dl") / col("avgdl")) * b) * k1), 6)
          .cast(dec).as("c"))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(sum(col("c")).cast(dec).as("sc"))
      .select(col("qid").as("query_id"), col("doc_id").as("neighbor_id"),
        col("sc").cast("double").as("score"))
    val topk = udaf(new graft.functions.VectorAggregators.TopKByScore(k))
    scored.filter(col("score").isNotNull)
      .groupBy("query_id")
      .agg(topk(col("score"), col("neighbor_id")).as("topk"))
      .select(col("query_id").as("qid"), posexplode(col("topk")))
      .select(col("qid"), col("col._2").as("doc_id"),
        col("col._1").as("bm25"), (col("pos") + 1).cast("long").as("rnk"))
  }
}
