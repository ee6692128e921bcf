package graft

import graft.ops.{SkewOps, TemporalOps}
import graft.pipeline.Pipeline
import graft.sources.Stores
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-2 robustness: crash-safe store swaps, Hadoop-FS staging cleanup,
  * partition-scoped pipeline merges, and the advisor-flagged null-semantics
  * fixes (cosine nullability, as-of null payloads, two-phase distinct). */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def hfs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("dropRun removes the staging partition through the Hadoop FileSystem API") {
    val work = Files.createTempDirectory("graft_droprun_").toString
    val df = Seq((1L, "r1"), (2L, "r1"), (3L, "r2")).toDF("id", "run_id")
    Stores.stageAppend(df, s"$work/staging")
    val fs = hfs(work)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$work/staging/run_id=r1")))
    Stores.dropRun(spark, s"$work/staging", "r1")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/staging/run_id=r1")))
    // the other run's partition is untouched
    Stores.stagingForRun(spark, s"$work/staging", "r2", df.schema).count() shouldBe 1L
  }

  test("recoverMart promotes a complete .tmp when the live mart is missing") {
    val work = Files.createTempDirectory("graft_recover_").toString
    val mart = s"$work/mart"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    // simulate the crash window between live→bak and tmp→live:
    // a complete committed tmp, no live dir
    df.write.parquet(mart + ".tmp")
    Stores.martExists(spark, mart) shouldBe true
    Stores.martRead(spark, mart).count() shouldBe 2L
    assert(!hfs(work).exists(new org.apache.hadoop.fs.Path(mart + ".tmp")))
  }

  test("recoverMart restores .bak when tmp never committed") {
    val work = Files.createTempDirectory("graft_recover2_").toString
    val mart = s"$work/mart"
    Seq((1L, "a")).toDF("id", "s").write.parquet(mart + ".bak")
    Stores.martExists(spark, mart) shouldBe true
    Stores.martRead(spark, mart).count() shouldBe 1L
  }

  test("martOverwrite survives repeated overwrites and leaves no residue") {
    val work = Files.createTempDirectory("graft_atomic_").toString
    val mart = s"$work/mart"
    Stores.martOverwrite(Seq((1L, "a")).toDF("id", "s"), mart)
    Stores.martOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), mart)
    Stores.martRead(spark, mart).count() shouldBe 2L
    val fs = hfs(work)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mart + ".tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(mart + ".bak")))
  }

  test("recoverMartPartitions restores an aside partition left by a crash") {
    val work = Files.createTempDirectory("graft_pparts_").toString
    val mart = s"$work/mart"
    Stores.martMergePartitioned(spark, mart,
      Seq((1L, 1.0, "2024-01-01"), (2L, 2.0, "2024-01-02")).toDF("id", "v", "day"),
      key = "id", updateCols = Seq("v"), partitionCol = "day")
    // simulate a crash between rename(live→aside) and rename(new→live)
    val fs = hfs(work)
    fs.mkdirs(new org.apache.hadoop.fs.Path(mart + ".aside"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$mart/day=2024-01-02"),
      new org.apache.hadoop.fs.Path(mart + ".aside/day=2024-01-02"))
    Stores.martRead(spark, mart).count() shouldBe 1L   // partition gone
    Stores.martExists(spark, mart) shouldBe true       // triggers recovery
    Stores.martRead(spark, mart).count() shouldBe 2L   // restored
  }

  test("compact swap recovery restores .precompact after a simulated crash") {
    val work = Files.createTempDirectory("graft_cmp_recover_").toString
    val dir = s"$work/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      .repartition(4).write.parquet(dir)
    // simulate the crash window between rename(live→precompact) and
    // rename(compact→live): live missing, precompact holds the old version
    hfs(work).rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".precompact"))
    Stores.recoverCompacted(spark, dir)
    spark.read.parquet(dir).count() shouldBe 2L
  }

  test("pipeline incremental run rewrites only touched mart partition dirs") {
    val work = Files.createTempDirectory("graft_pipe_parts_").toString
    val r1 = Pipeline.run(spark, sf0001,
      start = "2024-01-05 00:00:00", end = "2024-01-10 00:00:00",
      runId = "p1", workDir = work)
    r1.reconciled shouldBe true
    val martDir = new java.io.File(s"$work/mart")
    val window1Days = martDir.listFiles().filter(_.getName.startsWith("p_day="))
      .map(d => d.getName ->
        d.listFiles().map(f => (f.getName, f.lastModified())).toSet).toMap
    window1Days should not be empty

    // a later, disjoint window must not touch window 1's partition dirs
    val r2 = Pipeline.run(spark, sf0001,
      start = "2024-01-15 00:00:00", end = "2024-01-20 00:00:00",
      runId = "p2", workDir = work)
    r2.reconciled shouldBe true
    window1Days.foreach { case (dayDir, filesBefore) =>
      val after = new java.io.File(s"$work/mart/$dayDir")
        .listFiles().map(f => (f.getName, f.lastModified())).toSet
      withClue(s"$dayDir was rewritten by a run that never touched it: ") {
        after shouldBe filesBefore
      }
    }
    Stores.martRead(spark, s"$work/mart").count() shouldBe (r1.loaded + r2.loaded)
  }

  test("graft_cosine is nullable: mismatched lengths on non-nullable inputs → null") {
    graft.functions.GraftFunctions.register(spark)
    val out = spark.range(1).select(
      call_function("graft_cosine",
        array(lit(1f), lit(2f)),
        array(lit(1f), lit(2f), lit(3f))).as("c"))
    out.schema("c").nullable shouldBe true
    out.head().isNullAt(0) shouldBe true
    // null element also nullifies, never reads as 0.0
    val out2 = spark.range(1).select(
      call_function("graft_cosine",
        array(lit(1f), lit(null).cast("float")),
        array(lit(1f), lit(2f))).as("c"))
    out2.head().isNullAt(0) shouldBe true
  }

  test("asofJoin: a legitimately-null payload from the matched row is not " +
       "overwritten by a stale non-null value") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "lts")
    val right = Seq(
      (1L, ts("2024-01-01 08:00:00"), 100L, java.lang.Double.valueOf(5.0)),
      (1L, ts("2024-01-01 09:00:00"), 200L, null.asInstanceOf[java.lang.Double]))
      .toDF("k", "rts", "seq", "payload")
    val out = TemporalOps.asofJoin(left, right, "k", "lts", "rts", "seq",
      Seq("payload", "seq"))
    val row = out.select("asof_seq", "asof_payload").head()
    row.getLong(0) shouldBe 200L          // matched the later right row
    row.isNullAt(1) shouldBe true         // its null payload rides with it
  }

  test("distinctCountTwoPhase matches countDistinct under nulls") {
    val df = Seq(
      ("g1", java.lang.Long.valueOf(1L)), ("g1", java.lang.Long.valueOf(1L)),
      ("g1", null.asInstanceOf[java.lang.Long]),
      ("g2", null.asInstanceOf[java.lang.Long])).toDF("g", "v")
    val twoPhase = SkewOps.distinctCountTwoPhase(df, "g", "v")
      .orderBy("g").as[(String, Long)].collect()
    val direct = df.groupBy("g").agg(countDistinct(col("v")).as("n"))
      .orderBy("g").as[(String, Long)].collect()
    twoPhase shouldBe direct
    twoPhase shouldBe Array(("g1", 1L), ("g2", 0L))   // all-null group → 0, kept
  }

  test("withRetry: transient failures retry with delay, then succeed") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = Pipeline.withRetry(maxRetries = 2, retryDelayMs = 123L,
      timeoutMs = 10000L, sleep = sleeps.append(_), clock = () => 0L) {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"transient #$calls")
      "ok"
    }
    out shouldBe "ok"
    calls shouldBe 3
    sleeps.toSeq shouldBe Seq(123L, 123L)
  }

  test("withRetry: retry budget exhausts with the last error as cause") {
    var calls = 0
    val e = intercept[IllegalStateException] {
      Pipeline.withRetry(maxRetries = 1, retryDelayMs = 1L,
        timeoutMs = 10000L, sleep = _ => (), clock = () => 0L) {
        calls += 1; throw new RuntimeException("always fails")
      }
    }
    calls shouldBe 2                      // initial + 1 retry (DAG:430)
    e.getCause.getMessage shouldBe "always fails"
  }

  test("withRetry: wall-clock cap stops further attempts (dagrun_timeout analog)") {
    var now = 0L
    var calls = 0
    intercept[java.util.concurrent.TimeoutException] {
      Pipeline.withRetry(maxRetries = 5, retryDelayMs = 0L,
        timeoutMs = 100L, sleep = _ => (), clock = () => now) {
        calls += 1; now += 60L            // each attempt consumes 60 ms
        throw new RuntimeException("slow failure")
      }
    }
    calls shouldBe 2                      // third attempt is past the deadline
  }

  test("withRetry: onFailure fires once per failed attempt (email_on_failure analog)") {
    val alerts = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var calls = 0
    // succeed on the 3rd attempt → exactly 2 alerts, 1-based ordinals
    val out = Pipeline.withRetry(maxRetries = 2, retryDelayMs = 1L,
      timeoutMs = 10000L, sleep = _ => (), clock = () => 0L,
      onFailure = (a, e) => alerts.append((a, e.getMessage))) {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"boom #$calls")
      "ok"
    }
    out shouldBe "ok"
    alerts.toSeq shouldBe Seq((1, "boom #1"), (2, "boom #2"))

    // exhaustion: the FINAL failed attempt alerts too, before the give-up
    alerts.clear()
    intercept[IllegalStateException] {
      Pipeline.withRetry(maxRetries = 1, retryDelayMs = 1L,
        timeoutMs = 10000L, sleep = _ => (), clock = () => 0L,
        onFailure = (a, e) => alerts.append((a, e.getMessage))) {
        throw new RuntimeException("always")
      }
    }
    alerts.toSeq shouldBe Seq((1, "always"), (2, "always"))

    // a THROWING hook neither masks the pipeline error nor cancels retries
    var hookCalls = 0
    Pipeline.withRetry(maxRetries = 1, retryDelayMs = 1L,
      timeoutMs = 10000L, sleep = _ => (), clock = () => 0L,
      onFailure = (_, _) => { hookCalls += 1; throw new RuntimeException("pager down") }) {
      if (hookCalls == 0) throw new RuntimeException("transient")
      "recovered"
    } shouldBe "recovered"
    hookCalls shouldBe 1
  }

  test("JDBC seam: absent driver falls back to parquet; present driver takes jdbc") {
    val work = Files.createTempDirectory("graft_jdbc_").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")

    // org.postgresql.Driver is not on this classpath → parquet fallback
    val branch = Stores.writeJdbcOrParquet(df,
      Stores.JdbcTarget("jdbc:postgresql://db/x", "mart"), s"$work/fallback")
    branch shouldBe "parquet"
    spark.read.parquet(s"$work/fallback").count() shouldBe 2L
    Stores.readJdbcOrParquet(spark,
      Stores.JdbcTarget("jdbc:postgresql://db/x", "mart"), s"$work/fallback")
      .count() shouldBe 2L

    // a driver class that IS present gates into the jdbc branch; the write
    // itself goes through the injectable seam (no server needed)
    var wrote: Option[String] = None
    val target = Stores.JdbcTarget("jdbc:postgresql://db/x", "mart",
      driver = "java.lang.String")
    Stores.writeJdbcOrParquet(df, target, s"$work/unused",
      jdbcWrite = (_, t) => wrote = Some(t.table)) shouldBe "jdbc"
    wrote shouldBe Some("mart")
    var read = false
    Stores.readJdbcOrParquet(spark, target, s"$work/fallback",
      jdbcRead = (sp, _) => { read = true; df }).count() shouldBe 2L
    read shouldBe true
  }

  test("doc-store seam: absent provider falls back to parquet; present provider takes connector") {
    val work = Files.createTempDirectory("graft_docstore_").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("_id", "s")
    df.write.parquet(s"$work/fallback")

    // the Mongo connector provider is not on this classpath → parquet fallback
    val target = Stores.DocStoreTarget("mongodb://db", "etl", "raw")
    Stores.readDocStoreOrParquet(spark, target, s"$work/fallback")
      .count() shouldBe 2L

    // a provider class that IS present gates into the connector branch;
    // the read itself goes through the injectable seam (no server needed)
    var read = false
    val present = target.copy(providerClass = "java.lang.String")
    Stores.readDocStoreOrParquet(spark, present, s"$work/unused",
      docRead = (_, t) => { read = true; t.collection shouldBe "raw"; df })
      .count() shouldBe 2L
    read shouldBe true
  }

  test("probe goes through the Hadoop FS API and rejects missing dirs") {
    val work = Files.createTempDirectory("graft_probe_").toString
    Stores.probe(spark, work) shouldBe true
    Stores.probe(spark, s"$work/nope") shouldBe false
    // file:// scheme-qualified path still resolves (FS API, not java.io)
    Stores.probe(spark, s"file://$work") shouldBe true
    // contract: a boolean probe — malformed input answers false, not throw
    Stores.probe(spark, "") shouldBe false
    Stores.probe(spark, "::not a uri::") shouldBe false
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}
