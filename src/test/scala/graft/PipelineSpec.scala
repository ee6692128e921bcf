package graft

import graft.pipeline.Pipeline
import graft.sources.Stores
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("end-to-end run reconciles; re-running the same window is idempotent") {
    val work = Files.createTempDirectory("graft_pipe_").toString
    val r1 = Pipeline.run(spark, sf0001,
      start = "2024-01-05 00:00:00", end = "2024-01-10 00:00:00",
      runId = "r1", workDir = work)
    r1.reconciled shouldBe true
    r1.extracted should be > 0L
    r1.extracted shouldBe r1.loaded

    // same window again (backfill re-run, DAG:441 catchup): keyed upsert
    // keeps the mart stable
    val r2 = Pipeline.run(spark, sf0001,
      start = "2024-01-05 00:00:00", end = "2024-01-10 00:00:00",
      runId = "r2", workDir = work)
    r2.reconciled shouldBe true
    Stores.martRead(spark, s"$work/mart").count() shouldBe r1.loaded

    // a later window extends the mart without touching earlier keys
    val r3 = Pipeline.run(spark, sf0001,
      start = "2024-01-10 00:00:00", end = "2024-01-15 00:00:00",
      runId = "r3", workDir = work)
    r3.reconciled shouldBe true
    Stores.martRead(spark, s"$work/mart").count() shouldBe (r1.loaded + r3.loaded)
  }

  test("config-parsed QC rules drive the gate: a failing declarative rule fails the run") {
    val work = Files.createTempDirectory("graft_pipe_qc_").toString
    // default config gate passes
    Pipeline.run(spark, sf0001,
      start = "2024-01-05 00:00:00", end = "2024-01-07 00:00:00",
      runId = "ok", workDir = work).reconciled shouldBe true
    // a caller-supplied config with an impossible predicate hard-fails the
    // run (reference gate semantics: soda non-zero exit → AirflowException)
    val strict = graft.ops.QualityConfig.parseRules(
      """rules:
        |  - not_null: _id
        |  - predicate: {name: impossible, expr: "value > 1e18"}
        |""".stripMargin)
    val ex = intercept[IllegalStateException] {
      Pipeline.run(spark, sf0001,
        start = "2024-01-05 00:00:00", end = "2024-01-07 00:00:00",
        runId = "strict", workDir = work, qcRules = strict)
    }
    ex.getMessage should include("impossible")
  }

  test("backfill over contiguous windows loads each row exactly once") {
    val work = Files.createTempDirectory("graft_backfill_").toString
    val results = Pipeline.backfill(spark, sf0001,
      Seq(("2024-01-05 00:00:00", "2024-01-10 00:00:00"),
        ("2024-01-10 00:00:00", "2024-01-15 00:00:00"),
        ("2024-01-15 00:00:00", "2024-01-20 00:00:00")),
      workDir = work)
    all(results.map(_.reconciled)) shouldBe true
    val expected = Stores.table(spark, sf0001, "events")
      .filter(graft.ops.CoreOps.windowPredicate(Seq("ts"),
        "2024-01-05 00:00:00", "2024-01-20 00:00:00")).count()
    Stores.martRead(spark, s"$work/mart").count() shouldBe expected
  }

  test("empty window short-circuits (DAG:136-143)") {
    val work = Files.createTempDirectory("graft_pipe_empty_").toString
    val r = Pipeline.run(spark, sf0001,
      start = "1990-01-01 00:00:00", end = "1990-01-02 00:00:00",
      runId = "r0", workDir = work)
    r shouldBe Pipeline.Result("r0", 0L, 0L, Map.empty, reconciled = true)
    // the decision comes from the staging write's count, so the write ran:
    // it leaves no run partition behind, and nothing reaches the mart
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$work/staging")) shouldBe true
    fs.exists(new org.apache.hadoop.fs.Path(s"$work/staging/run_id=r0")) shouldBe false
    fs.exists(new org.apache.hadoop.fs.Path(s"$work/mart")) shouldBe false
    Stores.martExists(spark, s"$work/mart") shouldBe false
  }
}
