package graft

import graft.sources.Stores
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * Asserts the physical plans the 100 TB design depends on: pushdown,
 * pruning, broadcast, partition pruning, and bucket-join shuffle
 * elimination. A correct answer computed with the wrong plan is a scale
 * bug — these tests pin the plan.
 */
class PhysicalPlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan.toString
  }

  test("filter pushdown reaches the parquet scan") {
    val plan = planOf(Stores.table(spark, sf0001, "orders")
      .filter(col("o_orderkey") === 42).select("o_orderkey", "o_totalprice"))
    plan should include("PushedFilters")
    plan should include regex "PushedFilters: \\[.*o_orderkey.*\\]"
  }

  test("column pruning: scan reads only projected columns") {
    val plan = planOf(Stores.table(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity"))
    val readSchema = plan.split("ReadSchema:").last
    readSchema should include("l_orderkey")
    readSchema should not include "l_extendedprice"
  }

  test("aggregation query runs inside WholeStageCodegen spans") {
    val q1 = SparkEntry.queries("q1_pricing_summary")(spark, sf0001)
    // '*(n)' prefixes mark WholeStageCodegen stages in the plan string;
    // both the partial and final aggregates must be inside one
    val plan = planOf(q1)
    plan should include regex "\\*\\(\\d+\\) HashAggregate"
    plan should not include "CodegenFallback"
  }

  test("dimension join plans as broadcast, not shuffle, of the small side") {
    val q5 = SparkEntry.queries("q5_local_supplier_volume")(spark, sf0001)
    planOf(q5) should include("BroadcastHashJoin")
  }

  test("cosineTopK aggregates map-side (bounded heap), no full-pair window shuffle") {
    val emb = Stores.table(spark, sf0001, "embeddings")
    val topk = graft.ext.SimilarityOps.cosineTopK(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", k = 3)
    val plan = planOf(topk)
    // partial+final typed aggregate replaces the rank window: the exchange
    // carries ≤k-element buffers per (query, partition), not |Q|·|C| pairs
    plan should include("ObjectHashAggregate")
    plan should not include "Window"
    // and the results are exactly the window form's rank ≤ k
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    val reference = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        graft.ext.SimilarityOps.cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "score", "rank")
    topk.orderBy("query_id", "rank").collect() shouldBe
      reference.orderBy("query_id", "rank").collect()
  }

  test("annTopK and ivfTopK use the bounded heap — no Window node in either plan") {
    val emb = Stores.table(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)

    val ann = graft.ext.SimilarityOps.annTopK(
      queries, emb, "vec_id", "embedding", k = 3)
    val annPlan = planOf(ann)
    annPlan should include("ObjectHashAggregate")
    annPlan should not include "Window"

    val cents = graft.ext.SimilarityOps.takeCentroids(
      emb, "vec_id", "embedding", c = 4)
    val ivf = graft.ext.SimilarityOps.ivfTopK(
      queries, emb, cents, "vec_id", "embedding", k = 3, nprobe = 2)
    val ivfPlan = planOf(ivf)
    ivfPlan should include("ObjectHashAggregate")
    ivfPlan should not include "Window"
    // cell assignment/probing stay on the native reference-object kernel
    // (the declarative struct-per-centroid form silently drops the stage
    // to interpreted eval past ~hundreds of cells)
    ivfPlan should include("graft_centroid_cells")

    // heap output ≡ the window form it replaced (same bucket candidates,
    // same (score desc, id asc) tie order)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"),
      graft.ext.SimilarityOps.signLshBucket(col("embedding"), 4, 8).as("bucket"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"),
      graft.ext.SimilarityOps.signLshBucket(col("embedding"), 4, 8).as("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    val reference = c.join(q, "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        graft.ext.SimilarityOps.cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "score", "rank")
    ann.orderBy("query_id", "rank").collect() shouldBe
      reference.orderBy("query_id", "rank").collect()

    // same equivalence for the IVF path, including the nprobe=2 query-side
    // explode: heap output ≡ the window rank over the same cell candidates
    val qCells = graft.ext.SimilarityOps.ivfProbeCells(
        queries, cents, "embedding", nprobe = 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cell"))
    val cCells = graft.ext.SimilarityOps.ivfAssign(
        emb, cents, "vec_id", "embedding")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("cell"))
    val ivfReference = cCells.join(qCells, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        graft.ext.SimilarityOps.cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "score", "rank")
    ivf.orderBy("query_id", "rank").collect() shouldBe
      ivfReference.orderBy("query_id", "rank").collect()
  }

  test("run_id-partitioned staging read prunes to one partition directory") {
    val work = Files.createTempDirectory("graft_prune_").toString
    val df = Stores.table(spark, sf0001, "events").limit(100)
    val staged = graft.ops.CoreOps.tagRun(df, "runA")
    Stores.stageAppend(staged, s"$work/st")
    Stores.stageAppend(graft.ops.CoreOps.tagRun(df, "runB"), s"$work/st")
    val read = Stores.stagingForRun(spark, s"$work/st", "runA", staged.schema)
    read.count() shouldBe 100
    val plan = read.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include regex "PartitionFilters: \\[.*run_id.*\\]"
  }

  test("bucketed tables join with zero Exchange (co-located join)") {
    // force the fact⋈fact path: at fixture scale the planner would rather
    // broadcast the small side (which is also shuffle-free, but not the
    // plan under test here)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq("graft_li_b", "graft_ord_b").foreach { tbl =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        val loc = new java.io.File(
          new java.net.URI(spark.conf.get("spark.sql.warehouse.dir") + "/" + tbl))
        if (loc.exists()) {
          loc.listFiles().foreach(_.delete()); loc.delete()
        }
      }
      val li = Stores.table(spark, sf0001, "lineitem")
        .select("l_orderkey", "l_quantity")
      val ord = Stores.table(spark, sf0001, "orders")
        .select("o_orderkey", "o_totalprice")
      Stores.writeBucketed(li, "graft_li_b", "l_orderkey", 8)
      Stores.writeBucketed(ord, "graft_ord_b", "o_orderkey", 8)
      val joined = Stores.readTable(spark, "graft_li_b")
        .join(Stores.readTable(spark, "graft_ord_b"),
          col("l_orderkey") === col("o_orderkey"))
      joined.count() should be > 0L
      val plan = joined.queryExecution.executedPlan.toString
      plan should include("SortMergeJoin")
      plan should not include "Exchange"
      plan should include("Bucketed: true")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
