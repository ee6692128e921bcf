package graft

import graft.Harness.{Profile, profiled}
import graft.ext.{AnnIndexStore, ClusterStore, LexIndexStore}
import graft.ops.StatsOps
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Spark-job budgets of the paths whose cost is their job count, not their
  * compute: one steady-state pipeline window, a ClusterStore commit, a
  * LexIndexStore and an AnnIndexStore append, one steady-state ingest
  * wave, a warm graph query and a driver-side finisher's guarded grid
  * collect. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._
  private lazy val sc = spark.sparkContext

  test("a steady-state pipeline window runs at most 10 Spark jobs") {
    val work = Files.createTempDirectory("graft_jobs_pipe_").toString
    Pipeline.run(spark, sf0001, start = "2024-01-05 00:00:00",
      end = "2024-01-10 00:00:00", runId = "seed", workDir = work)
    // overlaps the seeded mart's last day: the merge's update path runs
    val (r, Profile(jobs, _, _)) = profiled(sc)(Pipeline.run(spark, sf0001,
      start = "2024-01-09 12:00:00", end = "2024-01-11 00:00:00",
      runId = "w1", workDir = work))
    r.extracted should be > 0L
    r.reconciled shouldBe true
    withClue(jobs.map(_.site).mkString("jobs: ", "; ", "\n")) {
      // facts the run already holds are not re-derived by a job: the empty
      // window (the staging write's count), the source probe (a
      // file-system call), the staged schema and the merged mart schema
      all(jobs.map(_.site)) should (not startWith "isEmpty at " and
        not startWith "head at Stores.scala")
      // the one schema inference left is the merge target's footer merge
      jobs.filterNot(_.inSql).map(_.site.takeWhile(_ != ':')) shouldBe
        Seq("parquet at Stores.scala")
      jobs.size should be <= 10
    }
  }

  test("ClusterStore commit: meta counts ride the two table writes") {
    val path = Files.createTempDirectory("graft_jobs_cstore_").toString + "/s"
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id1", "id2")
    ClusterStore.build(path, pairs)
    val (_, Profile(jobs, _, _)) = profiled(sc)(ClusterStore.append(path,
      Seq((3L, 4L), (11L, 12L), (30L, 31L)).toDF("id1", "id2")))
    val meta = spark.read.parquet(s"$path/meta").head()
    meta.getAs[Long]("version") shouldBe 2L
    meta.getAs[Long]("n_pairs") shouldBe ClusterStore.pairs(spark, path).count()
    meta.getAs[Long]("n_pairs") shouldBe 7L
    meta.getAs[Long]("n_nodes") shouldBe ClusterStore.assignment(spark, path).count()
    meta.getAs[Long]("n_nodes") shouldBe 11L
    // the commit materializes nothing before its writes
    all(jobs.map(_.site)) should not fullyMatch regex (
      "(count|localCheckpoint) at ClusterStore\\.scala:\\d+")
    // assignment and meta are read under their fixed schemas: the one
    // footer inference left is the evidence table's, whose columns vary
    jobs.filterNot(_.inSql).map(_.site.takeWhile(_ != ':')) shouldBe
      Seq("parquet at ClusterStore.scala")
    // a small batch folds in on the driver: no star round, no fixed-point probe
    all(jobs.map(_.site)) should not fullyMatch regex (
      "(localCheckpoint|checkpoint) at Iterate\\.scala:\\d+|head at DedupOps\\.scala:\\d+")
  }

  test("LexIndexStore append: every job runs inside a SQL execution") {
    val path = Files.createTempDirectory("graft_jobs_lex_").toString + "/lex"
    LexIndexStore.build(path, Seq((1L, "the quick brown fox"), (2L, "a lazy dog"))
      .toDF("doc_id", "text"), "doc_id", "text", nBuckets = 8)
    val (_, Profile(jobs, _, _)) = profiled(sc)(LexIndexStore.append(path,
      Seq((3L, "the brown dog")).toDF("doc_id", "text"), "doc_id", "text",
      batchId = 1))
    withClue(jobs.map(_.site).mkString("jobs: ", "; ", "\n")) {
      jobs should not be empty
      // `meta` is read under its fixed schema: no footer-inference job
      jobs.filterNot(_.inSql) shouldBe empty
    }
  }

  test("AnnIndexStore append: every job runs inside a SQL execution") {
    val path = Files.createTempDirectory("graft_jobs_ann_").toString + "/ann"
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
    AnnIndexStore.save(path, Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(0.2f, 0.8f)))
      .toDF("doc_id", "vec"), "doc_id", "vec", cents)
    val (_, Profile(jobs, _, _)) = profiled(sc)(AnnIndexStore.append(path,
      Seq((3L, Seq(0.6f, 0.4f))).toDF("doc_id", "vec"), "doc_id", "vec",
      batchId = 1))
    withClue(jobs.map(_.site).mkString("jobs: ", "; ", "\n")) {
      jobs should not be empty
      // `centroids` is read under its fixed schema: no footer-inference job
      jobs.filterNot(_.inSql) shouldBe empty
    }
  }

  test("a steady-state ingest wave runs at most 42 Spark jobs") {
    val st = WaveShape.seed(spark,
      Files.createTempDirectory("graft_jobs_wave_").toString)
    WaveShape.run(spark, st, WaveShape.wave(spark), waveId = 1)
    val (report, Profile(jobs, _, _)) = profiled(sc)(
      WaveShape.run(spark, st, WaveShape.nextWave(spark), waveId = 2))
    report.orderBy("doc_id").as[(Long, String)].collect() shouldBe Array(
      201L -> "rejected_quality", 202L -> "admitted",
      203L -> "rejected_batch_dup", 204L -> "rejected_corpus_dup",
      205L -> "admitted", 206L -> "rejected_quality")
    withClue(jobs.map(_.site).mkString(s"${jobs.size} jobs: ", "; ", "\n")) {
      // the band index, the corpus and the report read-back are read
      // under the batch's schema: no footer inference at IngestOps
      all(jobs.filterNot(_.inSql).map(_.site)) should
        not startWith "parquet at IngestOps"
      jobs.size should be <= 42
    }
  }

  test("a warm graph build reads the edge store only where its query does") {
    // the prepared graph's cache hit checks the caller's session alone; it
    // runs no job to re-read the evidence store's pairs
    def storeReads(q: String): Seq[String] = {
      SparkEntry.queries(q)(spark, sf0001)
      val (_, Profile(jobs, _, _)) = profiled(sc)(SparkEntry.queries(q)(spark, sf0001))
      jobs.map(_.site).filter(_.startsWith("parquet at ClusterStore.scala"))
    }
    storeReads("q_pagerank") shouldBe empty
    storeReads("q_kcore") shouldBe empty
    // q_ppr_seeds reads the pairs once itself, for its seed set
    storeReads("q_ppr_seeds") should have size 1
  }

  test("ipfRake over the grid cap: a named contract violation, no extra job") {
    val wide = spark.range(StatsOps.FinisherGridCap + 1L)
      .select(col("id").as("a"), (col("id") % 2).as("b"))
    val (_, Profile(plain, _, _)) = profiled(sc)(wide.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_cell")).collect())
    val (ex, Profile(guarded, _, _)) = profiled(sc)(intercept[IllegalArgumentException] {
      StatsOps.ipfRake(wide, "a", "b")
    })
    ex.getMessage shouldBe "ipfRake: bounded-levels contract violated — the " +
      s"collected grid exceeds ${StatsOps.FinisherGridCap} cells; its key " +
      "columns are not bounded levels"
    guarded.size shouldBe plain.size
  }
}
