package graft

import graft.ext.{LexIndexStore, TextOps}
import graft.sources.Stores
import org.apache.spark.sql.functions._

class LexIndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Stores.table(spark, sf0001, "documents")
  private lazy val qt = docs
    .filter(col("text").isNotNull && col("doc_id") < 15)
    .select(col("doc_id").as("qid"),
      explode(array_distinct(slice(TextOps.tokens(col("text")), 1, 5)))
        .as("term"))

  test("persisted-index BM25 top-k is bit-identical to the batch operator; appends and replays included") {
    val work = java.nio.file.Files.createTempDirectory("graft_lex_").toString
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val late = docs.filter(col("doc_id") % 3 === 0)

    LexIndexStore.build(s"$work/idx", base, "doc_id", "text", nBuckets = 16)
    LexIndexStore.topK(spark, s"$work/idx", qt, k = 4)
      .orderBy("qid", "rnk").collect() shouldBe
      TextOps.bm25BatchTopK(base, "doc_id", "text", qt, k = 4)
        .orderBy("qid", "rnk").collect()

    // append only tokenizes the new docs, yet df/N/avgdl and every score
    // equal a from-scratch build over the union
    LexIndexStore.append(s"$work/idx", late, "doc_id", "text", batchId = 1)
    val expAll = TextOps.bm25BatchTopK(docs, "doc_id", "text", qt, k = 4)
      .orderBy("qid", "rnk").collect()
    LexIndexStore.topK(spark, s"$work/idx", qt, k = 4)
      .orderBy("qid", "rnk").collect() shouldBe expAll

    // a REPLAYED batch id overwrites its own partition — at-least-once
    // delivery stays exactly-once at the directory level
    LexIndexStore.append(s"$work/idx", late, "doc_id", "text", batchId = 1)
    LexIndexStore.topK(spark, s"$work/idx", qt, k = 4)
      .orderBy("qid", "rnk").collect() shouldBe expAll
  }

  test("compact folds the ingest batches into one b=0; results and appends unchanged; crash recovers") {
    val work = java.nio.file.Files.createTempDirectory("graft_lexc_").toString
    val idx = s"$work/idx"
    val (a, b, c) = (docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2))
    LexIndexStore.build(idx, a, "doc_id", "text", nBuckets = 8)
    LexIndexStore.append(idx, b, "doc_id", "text", batchId = 1)
    LexIndexStore.append(idx, c, "doc_id", "text", batchId = 2)
    val exp = LexIndexStore.topK(spark, idx, qt, k = 4)
      .orderBy("qid", "rnk").collect()

    LexIndexStore.compact(idx, spark)
    new java.io.File(s"$idx/postings").list()
      .filter(_.startsWith("b=")).toSeq shouldBe Seq("b=0")
    LexIndexStore.topK(spark, idx, qt, k = 4)
      .orderBy("qid", "rnk").collect() shouldBe exp
    new java.io.File(s"$idx.compact").exists() shouldBe false
    new java.io.File(s"$idx.precompact").exists() shouldBe false

    // crash between live→bak and tmp→live: the MARKED tmp promotes
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.compact"))
    LexIndexStore.recover(spark, idx)
    LexIndexStore.topK(spark, idx, qt, k = 4)
      .orderBy("qid", "rnk").collect() shouldBe exp

    // appends resume after compaction with fresh batch ids
    val extra = Seq((100000L, "wholly novel appended document text"))
      .toDF("doc_id", "text")
    LexIndexStore.append(idx, extra, "doc_id", "text", batchId = 7)
    LexIndexStore.topK(spark, idx, qt, k = 4)
      .orderBy("qid", "rnk").collect() shouldBe
      TextOps.bm25BatchTopK(docs.select("doc_id", "text").unionByName(extra),
          "doc_id", "text", qt, k = 4)
        .orderBy("qid", "rnk").collect()
  }

  test("query scan is pruned to the query terms' tb= buckets") {
    val work = java.nio.file.Files.createTempDirectory("graft_lexpr_").toString
    LexIndexStore.build(s"$work/idx", docs, "doc_id", "text", nBuckets = 16)
    val oneTerm = qt.filter(col("qid") === qt.agg(min("qid")).head().getLong(0))
    val out = LexIndexStore.topK(spark, s"$work/idx", oneTerm, k = 3)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("tb")
    out.count() should be > 0L
  }
}
