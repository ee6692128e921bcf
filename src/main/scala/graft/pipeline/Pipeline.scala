package graft.pipeline

import graft.ops.{CoreOps, QualityCheck, QualityConfig}
import graft.sources.Stores
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * End-to-end incremental-batch pipeline — the engine-native rendering of the
 * reference's 6-task Airflow DAG
 * (`/root/reference/dag_mgo_pg_schedule_etl_qc.py:482`, "DAG:NN"):
 *
 *   check_connections >> extract >> transform >> load >> qc >> reconcile
 *
 * over the `events` fixture (the Mongo-collection analog: timestamped rows +
 * a JSON-string nested column, FIXTURES.md). One call = one logical window =
 * one Airflow DAG run (DAG:437-446); backfill = looping over windows.
 *
 * Where the reference crosses process/engine boundaries six times (worker →
 * Mongo → XCom → worker → Postgres → soda subprocess), this is ONE lazy plan
 * per action: extract/transform compose into a single narrow stage; the merge
 * is the only shuffle; QC and reconciliation are single-pass aggregates.
 *
 * At a cron cadence a window holds a few dozen rows, so a run's cost is its
 * Spark jobs, not its compute. A run asks no question it already knows the
 * answer to: the empty-window decision and both reconciliation counts ride
 * the write jobs as Observations, the probe is a file-system call, and the
 * staging and QC reads take the schema this run wrote instead of inferring
 * it from footers. What is left per steady-state window is the staging
 * write, the merge (touched-day collect, target footer merge, upsert and
 * write) and the QC aggregate.
 */
object Pipeline {

  /** Fixed mart schema — the reference pins sink DDL (DAG:211-244) while the
    * source is schemaless; alignSchema bridges the two. `props_k` is the
    * flattened JSON field (`createdby ->> 'id'` analog, DAG:296-307). */
  val martSchema: StructType = StructType(Seq(
    StructField("_id", StringType),          // ObjectId→str key, DAG:165,213
    StructField("ts", TimestampType),        // createdAt analog
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),        // JSONB column analog, DAG:227
    StructField("props_k", LongType),        // flattened nested field
    StructField("p_day", DateType),          // mart partition key (see below)
    StructField("run_id", StringType)))      // lineage, DAG:184,264

  /** Mart partition column: the record's creation DAY, derived from ts at
    * first sight and — critically — NOT in [[updateCols]], so an update
    * keeps the target row's p_day. Key-immutability is the reference's own
    * contract (a re-extract of an updated doc carries the original
    * createdAt, DAG:124-129), and it is what lets an incremental run
    * rewrite only the partition directories its batch touches instead of
    * the whole mart. */
  val martPartitionCol: String = "p_day"

  final case class Result(
      runId: String,
      extracted: Long,
      loaded: Long,
      qc: Map[String, Long],
      reconciled: Boolean)

  /** The reference's declared check set (DAG:369: "data freshness, valid
    * data type, regex check, unique, and not missing fields value check")
    * as a DECLARATIVE config — the engine-native analog of the Soda checks
    * YAML the reference feeds its scan subprocess (DAG:347-348). Parsed by
    * [[QualityConfig.parseRules]] once per JVM (lazy val) at first use, so
    * the default gate always goes through the config path; callers pass
    * their own parsed config via [[run]]'s `qcRules`. */
  val defaultQcConfig: String =
    """rules:
      |  - not_null: _id
      |  - unique: _id
      |  - regex:      {column: event_type, pattern: "^[a-z_]+$"}
      |  - valid_type: {column: _id, cast_to: bigint}
      |  - freshness:  {column: ts, min_ts: "2024-01-01 00:00:00"}
      |""".stripMargin

  lazy val defaultQcRules: Seq[QualityCheck.Rule] =
    QualityConfig.parseRules(defaultQcConfig)

  /** Columns updated on conflict — mirrors the reference's PARTIAL update set
    * (DAG:311-315: only address, country, updatedat, requestparams). `ts` is
    * deliberately NOT updatable: it is the creation-time analog (the
    * reference never updates createdAt) and `p_day` derives from it — a
    * mutable ts could move a key across midnight, and the partition-scoped
    * merge would then insert a second copy in the new day's partition while
    * the old partition kept the stale row. Immutable ts makes that
    * impossible by construction. */
  val updateCols: Seq[String] = Seq("value", "props", "props_k", "run_id")

  /** Backfill: one [[run]] per historical window, in order — the engine
    * analog of Airflow `catchup=True` enumerating logical dates
    * (DAG:437-446). Windows are half-open and contiguous windows never
    * double-load thanks to the keyed upsert. */
  def backfill(
      spark: SparkSession,
      sfDir: String,
      windows: Seq[(String, String)],
      workDir: String): Seq[Result] =
    windows.zipWithIndex.map { case ((start, end), i) =>
      run(spark, sfDir, start, end, runId = s"backfill_$i", workDir = workDir)
    }

  /**
   * Operational policy wrapper — the engine-side analog of the reference's
   * Airflow `default_args` (retries=2, retry_delay=5 min, DAG:428-435) and
   * `dagrun_timeout=1 h` (DAG:443): bounded retries with a fixed delay,
   * under an overall wall-clock cap that is checked before every attempt.
   * Safe to retry because a run is idempotent end-to-end: staging is
   * run_id-scoped, the mart merge is keyed, and the swap is crash-safe
   * (Stores.recoverMart reconciles any partial write on the next attempt).
   * `sleep`/`clock` are injectable for tests.
   */
  def withRetry[T](maxRetries: Int = 2,
                   retryDelayMs: Long = 5L * 60 * 1000,
                   timeoutMs: Long = 60L * 60 * 1000,
                   sleep: Long => Unit = Thread.sleep,
                   clock: () => Long = () => System.currentTimeMillis,
                   onFailure: (Int, Throwable) => Unit = (_, _) => ())
                  (body: => T): T = {
    val deadline = clock() + timeoutMs
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= maxRetries) {
      if (clock() >= deadline)
        throw new java.util.concurrent.TimeoutException(
          s"pipeline exceeded ${timeoutMs} ms (attempt $attempt, last error: $lastErr)")
      try return body
      catch {
        case scala.util.control.NonFatal(e) =>
          lastErr = e
          attempt += 1
          // alerting seam (the reference's `email_on_failure`, DAG:428-429):
          // fires once per FAILED ATTEMPT with its 1-based ordinal, before
          // the retry sleep, so a pager hook sees flapping as it happens
          // rather than only the final give-up. A throwing hook must never
          // mask the pipeline error or cancel remaining retries.
          try onFailure(attempt, e)
          catch { case scala.util.control.NonFatal(_) => () }
          if (attempt <= maxRetries) sleep(retryDelayMs)
      }
    }
    throw new IllegalStateException(
      s"pipeline failed after ${maxRetries + 1} attempts", lastErr)
  }

  def run(
      spark: SparkSession,
      sfDir: String,
      start: String,
      end: String,
      runId: String,
      workDir: String,
      qcRules: Seq[QualityCheck.Rule] = defaultQcRules): Result = {

    val stagingPath = s"$workDir/staging"
    val martPath    = s"$workDir/mart"

    // -- task 1: check_connections (DAG:79-84): a file-system status call,
    //    no Spark job
    require(Stores.probe(spark, sfDir), s"source unreachable: $sfDir")

    // -- task 2: extract (DAG:94-148): scan + project + window filter, lazy —
    //    it runs inside the staging write below, which also answers the
    //    empty-window question (no pre-scan of the source).
    //    No sort here: the reference sorts for XCom determinism (DAG:132);
    //    our staging is keyed, so a 100 TB-hostile global sort buys nothing.
    val src = Stores.table(spark, sfDir, "events")
    val extracted = CoreOps.windowedExtract(
      src,
      projectCols = src.columns.toSeq,
      tsCols = Seq("ts"),
      start = start, end = end)

    // -- task 3: transform (DAG:154-190): key cast + name normalization +
    //    JSON flatten + lineage tag. One narrow projection after Catalyst's
    //    CollapseProject — the pandas chain DAG:162-184 as a single select.
    val transformed = CoreOps.tagRun(
      CoreOps.alignSchema(
        CoreOps.flattenJsonTyped(
          extracted.withColumn("_id", col("event_id").cast(StringType)),
          "props", StructType(Seq(StructField("k", LongType)))),
        StructType(martSchema.fields
          .filterNot(f => f.name == "run_id" || f.name == martPartitionCol)))
        .withColumn(martPartitionCol, to_date(col("ts"))),
      runId)

    // -- task 4: load (DAG:195-326): stage append (partitioned by run_id),
    //    keyed merge with partial update set, staging cleanup.
    //    Reconciliation counts ride the write jobs as Observations — the
    //    reference re-queries Mongo and Postgres for its counts (DAG:394-407);
    //    observed metrics cost ZERO extra passes over the data.
    val srcObs = new org.apache.spark.sql.Observation(s"graft_src_$runId")
    Stores.stageAppend(transformed.observe(srcObs, count(lit(1)).as("n")),
      stagingPath)
    val srcN = srcObs.get("n").asInstanceOf[Long]

    //    Empty-batch short-circuit (DAG:136-143,156-159,197-199), decided by
    //    the staging write's own count: an empty window stages no rows, so
    //    nothing is merged or checked.
    if (srcN == 0L) {
      Stores.dropRun(spark, stagingPath, runId)
      return Result(runId, 0L, 0L, Map.empty, reconciled = true)
    }

    //    The merge is PARTITION-SCOPED (Stores.martMergePartitioned): only
    //    the p_day directories present in this batch are read, merged, and
    //    swapped — an incremental run costs O(touched partitions), never
    //    O(mart). Staging is read back with the schema it was written
    //    under; the merge returns the mart schema it wrote, for task 5. The
    //    reconciliation count rides the merge write as an Observation
    //    (zero extra passes).
    val updates = Stores.stagingForRun(spark, stagingPath, runId, transformed.schema)
      .select(martSchema.fieldNames.map(col).toIndexedSeq: _*)
    val dstObs = new org.apache.spark.sql.Observation(s"graft_dst_$runId")
    val mergedSchema = Stores.martMergePartitioned(spark, martPath, updates,
      "_id", updateCols, martPartitionCol,
      instrument = df => df.observe(dstObs,
        sum(when(col("run_id") === lit(runId), 1L).otherwise(0L)).as("n")))
    Stores.dropRun(spark, stagingPath, runId)   // DAG:317-320

    // -- task 5: quality gate (DAG:333-369) — the declared check set DAG:369,
    //    one aggregation pass over the PARTITIONS THIS RUN TOUCHED (p_day
    //    within the logical window → directory-level pruning). The reference
    //    re-scans its whole table per run (soda over the live PG table); at
    //    100 TB an O(mart) read per incremental run is the QC-side version
    //    of the full-rewrite scale bug — the merged state of the touched
    //    partitions is exactly what this run could have corrupted.
    //    The window is half-open, so when `end` falls exactly on midnight
    //    its calendar day was never touched — gating on it would scan (and
    //    fail on) a NEIGHBOR run's partition.
    //    The read takes the merge's schema, the union every mart file
    //    carries: the same frame Stores.martRead would give, without its
    //    O(mart files) footer job.
    val endTs = lit(end).cast(TimestampType)
    val lastTouchedDay = when(endTs === to_date(endTs).cast(TimestampType),
      date_sub(to_date(endTs), 1)).otherwise(to_date(endTs))
    val mart = Stores.martRead(spark, martPath, mergedSchema)
      .filter(col(martPartitionCol).between(to_date(lit(start)), lastTouchedDay))
    val qc = QualityCheck.check(mart, qcRules)

    // -- task 6: row-count reconciliation (DAG:375-422): source-window count
    //    vs this run's mart rows, both harvested from the write-job
    //    observations above — no extra scans.
    val dstN = dstObs.get("n") match {
      case null => 0L
      case n => n.asInstanceOf[Long]
    }
    if (srcN != dstN)
      throw new IllegalStateException(s"reconciliation failed: src=$srcN dst=$dstN")

    Result(runId, srcN, dstN, qc, reconciled = true)
  }
}
