package graft

import graft.sources.Stores
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def stageEvents(dir: String): Long = {
    val ev = Stores.table(spark, sf0001, "events")
      .select(StreamingPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
    ev.write.mode("overwrite").parquet(dir)
    ev.count()
  }

  test("keyedIngest: file stream → dedup → per-batch upsert, idempotent") {
    val work = Files.createTempDirectory("graft_stream_").toString
    val srcDir = s"$work/src"
    val mart = s"$work/mart"
    val n = stageEvents(srcDir)

    val q1 = StreamingPipeline.keyedIngest(spark,
      StreamingPipeline.readEventStream(spark, srcDir), mart, s"$work/cp1")
    q1.awaitTermination()
    val afterFirst = Stores.martRead(spark, mart)
    afterFirst.count() shouldBe n
    afterFirst.select(countDistinct(col("event_id"))).head().getLong(0) shouldBe n

    // re-deliver the same files with a fresh checkpoint: keyed upsert keeps
    // the mart unchanged (DAG:311 ON CONFLICT idempotency, stream-shaped)
    val q2 = StreamingPipeline.keyedIngest(spark,
      StreamingPipeline.readEventStream(spark, srcDir), mart, s"$work/cp2")
    q2.awaitTermination()
    Stores.martRead(spark, mart).count() shouldBe n
  }

  test("keyedIngestJdbc: micro-batches MERGE into a live RDBMS mart, " +
    "row-matching the batch twin and replaying exactly-once per key") {
    // the reference's actual production loop (30-min window → ON CONFLICT
    // merge into Postgres, DAG:440 + 279-316), composed from the proven
    // seams: streaming dedup → per-batch server-side MERGE through the
    // real format("jdbc") path against embedded Derby
    val work = Files.createTempDirectory("graft_stream_jdbc_").toString
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    System.setProperty("derby.system.home", work)
    val mart = Stores.JdbcTarget(s"jdbc:derby:$work/etl;create=true",
      "stream_mart", driver)

    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val all = Stores.table(spark, sf0001, "events")
      .select(cols.map(col).toIndexedSeq: _*)
    // seed the mart with DRIFTED values on half the keys: the stream must
    // UPDATE those through the partial set {event_type, value} (ts and
    // user_id keep their mart values — the immutability contract) and
    // INSERT the other half
    val seed = all.filter(col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("event_type", lit("stale"))
    Stores.writeJdbcOrParquet(seed, mart, "unused") shouldBe "jdbc"

    val srcDir = s"$work/src"
    all.repartition(3).write.parquet(srcDir)
    // 3 files × maxFilesPerTrigger=1 → several sequential micro-batches,
    // each MERGEd under its own batch-scoped staging name. Watermark
    // widened past the fixture's event-time span (the rollupIngest
    // rationale): batches interleave event time and the semantics under
    // test are the merge loop, not late-data eviction.
    def run(cp: String): Unit =
      StreamingPipeline.keyedIngestJdbc(
        spark.readStream.schema(all.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        mart, key = "event_id", updateCols = Seq("event_type", "value"),
        checkpoint = cp, watermark = "90 days")
        .awaitTermination()
    run(s"$work/cp1")

    val back = Stores.readJdbcOrParquet(spark, mart, "unused")
      .orderBy("event_id")
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
    // the batch twin on the same inputs is the parity oracle
    val expected = graft.ops.CoreOps.upsert(seed, all, "event_id",
        Seq("event_type", "value"))
      .orderBy("event_id")
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
    back shouldBe expected
    back.length shouldBe all.count()
    // updates really happened: no seeded drift survives
    back.count(_._4 == "stale") shouldBe 0

    // full replay under a FRESH checkpoint (re-numbered batches): the
    // keyed MERGE lands on the same rows — exactly-once per key
    run(s"$work/cp2")
    Stores.readJdbcOrParquet(spark, mart, "unused")
      .orderBy("event_id")
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect() shouldBe expected

    // and no batch-scoped staging table outlived its merge
    val conn = java.sql.DriverManager.getConnection(mart.url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'STREAM_MART_UPDATES%'")
      rs.next()
      rs.getInt(1) shouldBe 0
    } finally conn.close()
  }

  test("graft-docs streaming source → keyedIngestJdbc: incremental file-set offsets, " +
    "exactly-once per key, fresh-checkpoint replay idempotent") {
    // the reference's cron-incremental extract (DAG:437-446) through the
    // CUSTOM connector itself: wave 1 lands via the two-phase batch
    // write, the stream drains it, wave 2 appends (new docs + revisions
    // of old keys), and the SAME checkpoint processes only the new
    // files — the file-set offset is the resume token
    val work = Files.createTempDirectory("graft_docs_stream_").toString
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    System.setProperty("derby.system.home", work)
    val mart = Stores.JdbcTarget(s"jdbc:derby:$work/docsmart;create=true",
      "docs_stream_mart", driver)
    val store = s"$work/store"
    val ddl =
      "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE"

    // canonical frame: ts string-roundtripped to whole seconds so the
    // JSONL store, the stream, and the batch twin all see one value
    val allRound = Stores.table(spark, sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
    // disjoint key waves: the store is append-only JSONL, so a replay
    // that lands every file in ONE AvailableNow batch must see one row
    // per key for the in-batch dedup to be deterministic (update
    // semantics are covered by the seeded drift below)
    val wave1 = allRound.filter(col("event_id") % 3 =!= 0)
    val wave2 = allRound.filter(col("event_id") % 3 === 0)

    // seed the mart (idempotent DDL analog) with drifted values on a
    // slice of wave 1 — the stream must UPDATE them through the partial
    // set and INSERT the rest
    def asTyped(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"),
        to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val seed = asTyped(wave1.filter(col("event_id") % 2 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("event_type", lit("stale")))
    Stores.writeJdbcOrParquet(seed, mart, "unused") shouldBe "jdbc"

    wave1.write.format("graft-docs").option("path", store)
      .mode("overwrite").save()
    val cp = s"$work/cp"
    def drain(): Unit =
      StreamingPipeline.keyedIngestJdbc(
        asTyped(spark.readStream.format("graft-docs")
          .option("path", store).option("schema", ddl).load()),
        mart, key = "event_id", updateCols = Seq("event_type", "value"),
        checkpoint = cp, watermark = "3650 days")
        .awaitTermination()

    import org.apache.spark.sql.DataFrame
    def martRows() = Stores.readJdbcOrParquet(spark, mart, "unused")
      .orderBy("event_id")
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
    def twin(stages: DataFrame*): Array[(Long, java.sql.Timestamp, Long, String, Double)] =
      stages.foldLeft(seed)((acc, st) =>
        graft.ops.CoreOps.upsert(acc, asTyped(st), "event_id",
          Seq("event_type", "value")))
        .orderBy("event_id")
        .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()

    drain()
    val after1 = martRows()
    after1 shouldBe twin(wave1)
    after1.count(_._4 == "stale") shouldBe 0

    // wave 2 appends through the connector's two-phase commit; the SAME
    // checkpoint picks up exactly the new files
    wave2.write.format("graft-docs").option("path", store)
      .mode("append").save()
    drain()
    val after2 = martRows()
    after2 shouldBe twin(wave1, wave2)
    after2.length shouldBe allRound.count()

    // caught up: another drain on the same checkpoint changes nothing
    drain()
    martRows() shouldBe after2

    // fresh checkpoint (renumbered batches, full re-read): the keyed
    // MERGE is idempotent — same rows land
    val cp2 = s"$work/cp2"
    StreamingPipeline.keyedIngestJdbc(
      asTyped(spark.readStream.format("graft-docs")
        .option("path", store).option("schema", ddl).load()),
      mart, key = "event_id", updateCols = Seq("event_type", "value"),
      checkpoint = cp2, watermark = "3650 days")
      .awaitTermination()
    martRows() shouldBe after2
  }

  test("rollupIngest: versioned state equals the from-scratch aggregate across resumes") {
    val work = Files.createTempDirectory("graft_rollup_").toString
    val srcDir = s"$work/src"
    val state = s"$work/state"
    val cp = s"$work/cp"
    val all = Stores.table(spark, sf0001, "events")
      .select(StreamingPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
    def expected(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("total_value"))
        .orderBy("user_id").collect()

    // wave 1: half the events, forced through multiple micro-batches
    val (w1, w2) = (all.filter($"event_id" % 2 === 0),
      all.filter($"event_id" % 2 === 1))
    w1.repartition(3).write.mode("overwrite").parquet(srcDir)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(StreamingPipeline.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      // fixture events span a month and waves interleave event time, so a
      // production-short watermark would late-drop wave 2 wholesale —
      // widen it past the span (the semantics under test are the state
      // versioning, not late-data eviction)
      StreamingPipeline.rollupIngest(spark, stream, state, cp,
          watermark = "90 days")
        .awaitTermination()
    }
    run()
    StreamingPipeline.latestRollup(spark, state)
      .orderBy("user_id").collect() shouldBe expected(w1)

    // wave 2 arrives; SAME checkpoint resumes batch numbering — the state
    // absorbs only the new files, never re-reads wave 1
    w2.repartition(2).write.mode("append").parquet(srcDir)
    run()
    StreamingPipeline.latestRollup(spark, state)
      .orderBy("user_id").collect() shouldBe expected(all)

    // only the newest version and its rollback point survive pruning
    val vs = new java.io.File(state).list().filter(_.startsWith("v="))
    vs.length should be <= 2
  }

  test("rollupIngest: crash between write and prune (stale + partial v= dirs) recovers cleanly") {
    val work = Files.createTempDirectory("graft_rollup_crash_").toString
    val srcDir = s"$work/src"
    val state = s"$work/state"
    val cp = s"$work/cp"
    val all = Stores.table(spark, sf0001, "events")
      .select(StreamingPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
    def expected(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))
            .as("total_value"))
        .orderBy("user_id").collect()
    val (w1, w2) = (all.filter($"event_id" % 2 === 0),
      all.filter($"event_id" % 2 === 1))
    w1.repartition(3).write.mode("overwrite").parquet(srcDir)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(StreamingPipeline.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      // watermark widened past the fixture span: waves interleave event
      // time, and the semantics under test are crash recovery, not
      // late-data eviction
      StreamingPipeline.rollupIngest(spark, stream, state, cp,
          watermark = "90 days")
        .awaitTermination()
    }
    run()

    // simulate the two crash artifacts: a STALE complete version the prune
    // never removed (crash after write, before prune) and a PARTIAL newer
    // version with no _SUCCESS (crash mid-write)
    spark.range(1).toDF("junk").write.parquet(s"$state/v=0")
    val partial = new java.io.File(state, "v=99")
    partial.mkdirs()
    Files.write(partial.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))

    // readers fall back past the partial dir to the last committed version
    StreamingPipeline.latestRollup(spark, state)
      .orderBy("user_id").collect() shouldBe expected(w1)

    // resume with the same checkpoint: replay rebases on the newest
    // COMPLETE predecessor (not the stale v=0, never the partial v=99),
    // and the final state equals the from-scratch aggregate
    w2.repartition(2).write.mode("append").parquet(srcDir)
    run()
    StreamingPipeline.latestRollup(spark, state)
      .orderBy("user_id").collect() shouldBe expected(all)

    // every crash artifact was pruned; only rollback point + newest remain
    val dirs = new java.io.File(state).list().filter(_.startsWith("v=")).toSeq
    dirs.length should be <= 2
    dirs.foreach { d =>
      new java.io.File(s"$state/$d/_SUCCESS").exists() shouldBe true
    }
  }

  test("quantileIngest: sketch state across batches/resumes is BIT-identical to one direct sketch") {
    val work = Files.createTempDirectory("graft_qsk_").toString
    val srcDir = s"$work/src"
    val state = s"$work/state"
    val cp = s"$work/cp"
    val all = Stores.table(spark, sf0001, "events")
      .select(StreamingPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
    def direct(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.sketch(df, "event_id", "value",
        Seq("event_type"), k = 64).orderBy("event_type").collect()
    val (w1, w2) = (all.filter($"event_id" % 2 === 0),
      all.filter($"event_id" % 2 === 1))
    w1.repartition(3).write.mode("overwrite").parquet(srcDir)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(StreamingPipeline.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      // watermark widened past the fixture span (state semantics under
      // test, not late-data eviction) — same as the rollupIngest specs
      StreamingPipeline.quantileIngest(spark, stream, state, cp, k = 64,
          watermark = "90 days")
        .awaitTermination()
    }
    run()
    // not merely within tolerance: the merge is exactly associative, so
    // multi-micro-batch state must equal the one-shot sketch bit-for-bit
    StreamingPipeline.latestRollup(spark, state)
      .orderBy("event_type").collect() shouldBe direct(w1)

    // wave 2 resumes the same checkpoint; only new files are absorbed
    w2.repartition(2).write.mode("append").parquet(srcDir)
    run()
    StreamingPipeline.latestRollup(spark, state)
      .orderBy("event_type").collect() shouldBe direct(all)

    // the quantile read costs |types|·|probs| rows, no event scan
    val est = StreamingPipeline.latestQuantiles(spark, state,
        Seq(0.5, 0.9))
      .as[(String, Double, Double, Long)].collect()
    val nTypes = all.select("event_type").distinct().count()
    est.length shouldBe nTypes * 2
    val (lo, hi) = (all.agg(min($"value")).head().getDouble(0),
      all.agg(max($"value")).head().getDouble(0))
    est.forall(e => e._3 >= lo && e._3 <= hi) shouldBe true
  }

  test("distinctIngest: KMV state equals one direct sketch; duplicate redelivery is a no-op") {
    val work = Files.createTempDirectory("graft_kmvstream_").toString
    val srcDir = s"$work/src"
    val state = s"$work/state"
    val all = Stores.table(spark, sf0001, "events")
      .select(StreamingPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
    def direct(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.setSketch(df, "user_id", Seq("event_type"),
        k = 64).orderBy("event_type").collect()
    val (w1, w2) = (all.filter($"event_id" % 2 === 0),
      all.filter($"event_id" % 2 === 1))
    w1.repartition(3).write.mode("overwrite").parquet(srcDir)
    def run(cp: String): Unit =
      StreamingPipeline.distinctIngest(spark,
        spark.readStream.schema(StreamingPipeline.eventSchema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        state, cp, "user_id", "event_type", k = 64)
        .awaitTermination()
    run(s"$work/cp")
    StreamingPipeline.latestRollup(spark, state).drop("sk_k")
      .orderBy("event_type").collect() shouldBe direct(w1)
    w2.repartition(2).write.mode("append").parquet(srcDir)
    run(s"$work/cp")
    val afterAll = StreamingPipeline.latestRollup(spark, state).drop("sk_k")
      .orderBy("event_type").collect()
    afterAll shouldBe direct(all)
    // AT-LEAST-ONCE tolerance: a FRESH checkpoint redelivers every file —
    // the KMV union is idempotent, so the state stays bit-identical
    // (an additive state would double-count here)
    run(s"$work/cp_replay")
    StreamingPipeline.latestRollup(spark, state).drop("sk_k")
      .orderBy("event_type").collect() shouldBe afterAll
    // the distinct read costs |types| rows, no event scan (k comes from
    // the state itself); estimates are exact here (sketch unsaturated)
    val est = StreamingPipeline.latestDistinct(spark, state)
      .select($"event_type", $"est_distinct").as[(String, Double)]
      .collect().toMap
    val exact = all.groupBy("event_type")
      .agg(countDistinct($"user_id").cast("double").as("d"))
      .as[(String, Double)].collect().toMap
    est.keySet shouldBe exact.keySet
    est.foreach { case (t, e) =>
      assert(math.abs(e - exact(t)) / exact(t) < 3.0 / math.sqrt(64),
        s"type $t: est $e vs exact ${exact(t)}")
    }
  }

  test("keyedIngest: event time is immutable on redelivery (ts not in update set)") {
    val work = Files.createTempDirectory("graft_stream_ts_").toString
    val mart = s"$work/mart"
    stageEvents(s"$work/src1")

    val q1 = StreamingPipeline.keyedIngest(spark,
      StreamingPipeline.readEventStream(spark, s"$work/src1"), mart, s"$work/cp1")
    q1.awaitTermination()
    val before = Stores.martRead(spark, mart)
      .select("event_id", "ts", "value").as[(Long, java.sql.Timestamp, Double)]
      .collect().map { case (k, t, v) => k -> (t, v) }.toMap

    // redeliver a subset with a drifted ts (+5 min; hour < 23 so the drift
    // stays same-day) and a new value — beyond any dedup horizon this hits
    // the merge's update path
    val redelivered = Stores.table(spark, sf0001, "events")
      .select(StreamingPipeline.eventSchema.fieldNames.map(col).toIndexedSeq: _*)
      .filter(hour(col("ts")) < 23)
      .withColumn("ts", col("ts") + expr("INTERVAL 5 MINUTES"))
      .withColumn("value", col("value") + 1000.0)
    redelivered.write.mode("overwrite").parquet(s"$work/src2")
    val redeliveredIds = redelivered.select("event_id").as[Long].collect().toSet
    val q2 = StreamingPipeline.keyedIngest(spark,
      StreamingPipeline.readEventStream(spark, s"$work/src2"), mart, s"$work/cp2")
    q2.awaitTermination()

    val after = Stores.martRead(spark, mart)
      .select("event_id", "ts", "value").as[(Long, java.sql.Timestamp, Double)]
      .collect().map { case (k, t, v) => k -> (t, v) }.toMap
    after.keySet shouldBe before.keySet
    // value updated, ts (and hence p_day) unchanged — the partition-key contract
    after.foreach { case (k, (t, v)) =>
      t shouldBe before(k)._1
      v shouldBe (if (redeliveredIds(k)) before(k)._2 + 1000.0 else before(k)._2)
    }
    redeliveredIds should not be empty
  }

  test("keyedIngestWithQc: clean rows merge, violations dead-letter, replay-idempotent") {
    import graft.ops.QualityCheck
    val work = Files.createTempDirectory("graft_stream_qc_").toString
    val srcDir = s"$work/src"
    val mart = s"$work/mart"
    val quar = s"$work/quarantine"
    val n = stageEvents(srcDir)
    // deterministic split: every 7th event_id violates the gate
    val rules = Seq(QualityCheck.Predicate("id_not_mod7", expr("event_id % 7 != 0")))
    val nBad = Stores.table(spark, sf0001, "events")
      .filter(col("event_id") % 7 === 0).count()
    nBad should be > 0L

    val q1 = StreamingPipeline.keyedIngestWithQc(spark,
      StreamingPipeline.readEventStream(spark, srcDir), mart, quar, s"$work/cp1", rules)
    q1.awaitTermination()
    Stores.martRead(spark, mart).count() shouldBe n - nBad
    Stores.martRead(spark, mart).filter(col("event_id") % 7 === 0).count() shouldBe 0L
    val deadLetters = spark.read.parquet(quar)
    deadLetters.count() shouldBe nBad
    deadLetters.select("qc_fail_reason").distinct().as[String].collect() shouldBe
      Array("id_not_mod7")

    // redelivery under a FRESH checkpoint = a new logical run: the keyed
    // merge keeps the mart stable, and the dead letters land in a NEW
    // run=<tag> directory — the audit trail records each run's violations
    // without colliding with (or stranding) the first run's batch dirs
    val q2 = StreamingPipeline.keyedIngestWithQc(spark,
      StreamingPipeline.readEventStream(spark, srcDir), mart, quar, s"$work/cp2", rules)
    q2.awaitTermination()
    Stores.martRead(spark, mart).count() shouldBe n - nBad
    val allRuns = spark.read.parquet(quar)
    allRuns.count() shouldBe 2 * nBad
    allRuns.select("run").distinct().count() shouldBe 2L
    allRuns.groupBy("run").count().select("count").distinct().as[Long]
      .collect() shouldBe Array(nBad)
  }

  test("keyedIngestWithQc: a violation-free stream writes no dead-letter dirs") {
    import graft.ops.QualityCheck
    val work = Files.createTempDirectory("graft_stream_qc_clean_").toString
    val srcDir = s"$work/src"
    val n = stageEvents(srcDir)
    val rules = Seq(QualityCheck.Predicate("always_ok", lit(true)))
    val q = StreamingPipeline.keyedIngestWithQc(spark,
      StreamingPipeline.readEventStream(spark, srcDir), s"$work/mart",
      s"$work/quarantine", s"$work/cp", rules)
    q.awaitTermination()
    Stores.martRead(spark, s"$work/mart").count() shouldBe n
    // no violations → the quarantine area was never created (not even an
    // empty batch_id directory with a lone _SUCCESS marker)
    new java.io.File(s"$work/quarantine").exists() shouldBe false
  }

  test("sessionCounts: streaming session windows match batch sessionization") {
    val work = Files.createTempDirectory("graft_stream_sw_").toString
    stageEvents(s"$work/src")

    val q = StreamingPipeline.sessionCounts(
        StreamingPipeline.readEventStream(spark, s"$work/src"), gap = "30 minutes")
      .writeStream.format("memory").queryName("graft_sw")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("graft_sw")
      .select(col("user_id"), col("session_window.start").as("s"), col("n_events"))
    val batch = graft.ops.TemporalOps.sessionStats(
        Stores.table(spark, sf0001, "events"), "user_id", "ts", "event_id", 1800L)
      .select(col("user_id"), col("session_start").as("s"), col("n_events"))
    streamed.count() shouldBe batch.count()
    streamed.except(batch).count() shouldBe 0L
  }

  test("stream-stream interval join matches the batch range join") {
    val work = Files.createTempDirectory("graft_stream_ssj_").toString
    stageEvents(s"$work/src")

    val q = StreamingPipeline.purchaseClickJoin(
        StreamingPipeline.readEventStream(spark, s"$work/src"), horizonMinutes = 60)
      .writeStream.format("memory").queryName("graft_ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val ev = Stores.table(spark, sf0001, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    val batch = p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 60 MINUTES"))
      .select("purchase_id", "click_id")

    val streamed = spark.table("graft_ssj").select("purchase_id", "click_id")
    streamed.count() shouldBe batch.count()
    streamed.except(batch).count() shouldBe 0L
  }

  test("windowedCounts: tumbling windows match the batch aggregation") {
    val work = Files.createTempDirectory("graft_stream_wc_").toString
    stageEvents(s"$work/src")

    val q = StreamingPipeline.windowedCounts(
        StreamingPipeline.readEventStream(spark, s"$work/src"))
      .writeStream.format("memory").queryName("graft_wc")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("graft_wc")
      .select(col("window.start").as("w"), col("event_type"), col("n"))
    val batch = Stores.table(spark, sf0001, "events")
      .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("event_type"), col("n"))
    streamed.count() shouldBe batch.count()
    streamed.except(batch).count() shouldBe 0L
  }

  test("dedupIngest: in-batch dups collapse, corpus near-dups reject, index grows append-only") {
    val work = Files.createTempDirectory("graft_dedup_ingest_").toString
    val corpus = s"$work/corpus"; val index = s"$work/index"
    val rejects = s"$work/rejects"
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def stream(dir: String) =
      spark.readStream.schema(docSchema).parquet(dir)
    def ingest(srcDir: String, cp: String) = {
      val q = StreamingPipeline.dedupIngest(spark, stream(srcDir),
        "doc_id", "text", corpus, index, rejects, cp,
        n = 2, numHashes = 16, bands = 4, threshold = 0.9)
      q.awaitTermination()
    }

    // batch 1: two distinct docs — both admitted, index seeded
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/src1")
    ingest(s"$work/src1", s"$work/cp1")
    spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(1L, 2L)

    // batch 2: doc 3 duplicates corpus doc 1 → rejected against the index;
    // docs 4 and 5 are identical WITHIN the batch → min-id 4 admitted;
    // admission is append-only (docs 1-2 untouched)
    Seq(
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "seven eight nine ten eleven twelve"),
      (5L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$work/src2")
    ingest(s"$work/src2", s"$work/cp2")

    spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(1L, 2L, 4L)
    spark.read.parquet(rejects).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(3L, 5L)
    // the band index covers exactly the admitted docs
    spark.read.parquet(index).select("id").distinct()
      .as[Long].collect().sorted shouldBe Array(1L, 2L, 4L)
  }

  test("dedupIngest: an index holding only a crashed write's _temporary files is empty") {
    import graft.ext.DedupOps
    val work = Files.createTempDirectory("graft_dedup_crashed_").toString
    val corpus = s"$work/corpus"; val index = s"$work/index"
    // a first write that crashed in its band-index write: the corpus
    // committed docs 11 and 12, the index holds only the attempt's files
    val crashed = Seq((11L, "alpha beta gamma delta epsilon zeta"),
      (12L, "one two three four five six")).toDF("doc_id", "text")
    crashed.write.parquet(s"$corpus/run=crashed/batch_id=0")
    DedupOps.bandIndex(crashed, "doc_id", "text", 2, 16, 4)
      .write.parquet(s"$work/attempt")
    val attempt = java.nio.file.Paths.get(
      s"$index/run=crashed/batch_id=0/_temporary/0/_temporary/attempt_0")
    Files.createDirectories(attempt)
    Files.list(java.nio.file.Paths.get(s"$work/attempt"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach { f => Files.move(f, attempt.resolve(f.getFileName)); () }

    // the next run: docs 1 and 2 repeat the crashed docs' texts, and the
    // attempt's uncommitted band keys must not reject them
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"), (3L, "seven eight nine ten"))
      .toDF("doc_id", "text").write.parquet(s"$work/src")
    StreamingPipeline.dedupIngest(spark,
        spark.readStream.schema(crashed.schema).parquet(s"$work/src"),
        "doc_id", "text", corpus, index, s"$work/rejects", s"$work/cp",
        n = 2, numHashes = 16, bands = 4, threshold = 0.9)
      .awaitTermination()

    def written(root: String) = Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).filterNot(_.endsWith("run=crashed"))
      .filter(r => Files.isDirectory(java.nio.file.Paths.get(s"$r/batch_id=0")))
    written(corpus) should have size 1
    written(index) should have size 1
    spark.read.parquet(corpus).filter(col("run") =!= "crashed")
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
    spark.read.parquet(index).select("id").distinct()
      .as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
    Files.exists(java.nio.file.Paths.get(s"$work/rejects")) shouldBe false
  }

  test("dedupAnnIngest: ANN index grows with exactly the admitted set, equal to a batch rebuild under the same centroids") {
    import graft.ext.{AnnIndexStore, LexIndexStore, SimilarityOps, TextOps}
    val work = Files.createTempDirectory("graft_dedup_ann_").toString
    val corpus = s"$work/corpus"; val index = s"$work/index"
    val rejects = s"$work/rejects"; val ann = s"$work/ann"
    val lex = s"$work/lex"
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
    // base build: the pre-stream corpus freezes the centroid model, and
    // seeds the lexical postings index
    val base = Seq((100L, Seq(0.9f, 0.1f, 0f, 0f)))
      .toDF("doc_id", "vec")
    val baseText = Seq((100L, "base corpus document words"))
      .toDF("doc_id", "text")
    AnnIndexStore.save(ann, base, "doc_id", "vec", cents)
    LexIndexStore.build(lex, baseText, "doc_id", "text", nBuckets = 8)

    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // doc 3 duplicates doc 1's text in-batch → only 1 and 2 admitted
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta", Seq(0.1f, 0.9f, 0f, 0f)),
      (2L, "one two three four five six", Seq(0.7f, 0.7f, 0f, 0f)),
      (3L, "alpha beta gamma delta epsilon zeta", Seq(0.2f, 0.8f, 0f, 0f)))
      .toDF("doc_id", "text", "vec")
      .write.mode("overwrite").parquet(s"$work/src")
    val clusters = s"$work/clusters"
    val q = StreamingPipeline.dedupAnnIngest(spark,
      spark.readStream.schema(docSchema).parquet(s"$work/src"),
      "doc_id", "text", "vec", corpus, index, rejects, ann, s"$work/cp",
      n = 2, numHashes = 16, bands = 4, threshold = 0.9,
      lexIndexPath = Some(lex), clusterPath = Some(clusters))
    q.awaitTermination()

    val admitted = spark.read.parquet(corpus)
    admitted.select("doc_id").as[Long].collect().sorted shouldBe
      Array(1L, 2L)
    // the searchable set advanced in lockstep with admission: index state
    // row-identical to a batch build over base ∪ admitted, same centroids
    val got = spark.read.parquet(s"$ann/cells")
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted
    val expected = SimilarityOps.ivfAssign(
        base.unionByName(admitted.select("doc_id", "vec")), cents,
        "doc_id", "vec")
      .select(col("doc_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted
    got shouldBe expected
    // the rejected doc never became searchable
    got.map(_._1) should not contain 3L

    // the POSTINGS index advanced in the same lockstep: store-backed BM25
    // equals the batch operator over base ∪ admitted, bit-for-bit, and
    // the rejected doc is not retrievable
    val allText = baseText
      .unionByName(admitted.select(col("doc_id"), col("text")))
    val lexQt = allText.select(col("doc_id").as("qid"),
      explode(array_distinct(slice(TextOps.tokens(col("text")), 1, 4)))
        .as("term"))
    val lexGot = LexIndexStore.topK(spark, lex, lexQt, k = 3)
      .orderBy("qid", "rnk")
    lexGot.collect() shouldBe
      TextOps.bm25BatchTopK(allText, "doc_id", "text", lexQt, k = 3)
        .orderBy("qid", "rnk").collect()
    lexGot.select("doc_id").as[Long].collect() should not contain 3L

    // the FOURTH lockstep artifact: the dup-cluster store carries the
    // batch's verified evidence (the in-batch 1~3 pair — rejected docs
    // included, ban/leakage consumers need the whole component) and its
    // labels equal a fresh clustering of the same evidence
    import graft.ext.ClusterStore
    ClusterStore.pairs(spark, clusters).select("id1", "id2")
      .as[(Long, Long)].collect().sorted shouldBe Array((1L, 3L))
    val rebuilt = s"$work/clusters_rebuilt"
    ClusterStore.build(rebuilt, ClusterStore.pairs(spark, clusters))
    ClusterStore.assignment(spark, clusters)
      .orderBy("id").as[(Long, Long)].collect() shouldBe
      ClusterStore.assignment(spark, rebuilt)
        .orderBy("id").as[(Long, Long)].collect()
  }

  test("exactDedupIngest: streamed waves leave corpus and fingerprint index row-identical to the batch incremental path") {
    import graft.ext.DedupOps
    val work = Files.createTempDirectory("graft_exact_ingest_").toString
    val corpus = s"$work/corpus"; val index = s"$work/index"
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // three waves: wave 2 carries an in-batch dup pair (11/12), a dup of
    // wave-1 content (13≡1), and a null-text doc (14 — a DISTINCT
    // document by contract, admitted untouched); wave 3 re-sends content
    // admitted in each earlier wave plus one genuinely new doc
    val waves = Seq(
      Seq((1L, "alpha beta gamma"), (2L, "one two three")),
      Seq((11L, "seven eight nine"), (12L, "seven eight nine"),
        (13L, "alpha beta gamma"), (14L, null: String)),
      Seq((21L, "one two three"), (22L, "seven eight nine"),
        (23L, "fresh new content")))
    // streaming path: one source file per wave, maxFilesPerTrigger=1 →
    // one micro-batch per wave in order
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$work/src/w$i")
    }
    // stage into one dir with stable names so file order = wave order
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val t0 = System.currentTimeMillis()
    waves.indices.foreach { i =>
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$work/src/w$i/part-*.parquet"))(0)
      val staged = new org.apache.hadoop.fs.Path(s"$work/staged/wave_$i.parquet")
      fs.rename(part.getPath, staged)
      // the file source orders micro-batches by modification time, and
      // rename PRESERVES the source part-file's mtime — all three land in
      // the same clock tick, scrambling wave order; pin strictly
      // increasing mtimes so batch order IS wave order
      fs.setTimes(staged, t0 + i * 60000L, -1)
    }
    val q = StreamingPipeline.exactDedupIngest(spark,
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(s"$work/staged"),
      "doc_id", "text", corpus, index, s"$work/cp")
    q.awaitTermination()

    // batch path: fold the SAME waves through dedupIncremental +
    // fingerprintIndex, index growing append-only
    var admittedAll = Seq.empty[(Long, String)]
    var seenFps = Seq.empty[String]
    waves.foreach { w =>
      val batch = w.toDF("doc_id", "text")
      val seen = seenFps.toDF("fingerprint")
      val admitted = DedupOps
        .dedupIncremental(batch, "doc_id", "text", seen)
        .as[(Long, String)].collect().toSeq
      admittedAll ++= admitted
      seenFps ++= DedupOps.fingerprintIndex(
          admitted.toDF("doc_id", "text"), "text")
        .as[String].collect().toSeq
    }

    val streamedCorpus = spark.read.parquet(corpus)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    streamedCorpus shouldBe admittedAll.sortBy(_._1).toArray
    val streamedFps = spark.read.parquet(index)
      .select("fingerprint").as[String].collect().sorted
    streamedFps shouldBe seenFps.sorted.toArray
    // and the specific admissions are the contract's: in-batch dup
    // collapses to min id, cross-wave dups drop, null text passes
    streamedCorpus.map(_._1) shouldBe Array(1L, 2L, 11L, 14L, 23L)
  }
}
