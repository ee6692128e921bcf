package graft.streaming

import graft.ops.CoreOps
import graft.sources.Stores
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/**
 * Structured-Streaming rendering of the reference's scheduler-driven
 * micro-batching (`/root/reference/dag_mgo_pg_schedule_etl_qc.py`, "DAG:NN").
 * The reference IS a stream processor built by hand:
 *   - 30-min cron windows (DAG:440)           → Trigger.ProcessingTime /
 *                                               tumbling event-time window
 *   - half-open window filter on createdAt/updatedAt (DAG:124-129)
 *                                             → event-time semantics
 *   - re-extract on updatedAt + upsert (DAG:279-316) = manual late-data
 *     handling                                → withWatermark + foreachBatch
 *                                               keyed merge
 *   - `_id`-keyed idempotency (DAG:311)       → dropDuplicates on key
 *
 * At scale: state is bounded by the watermark horizon; the per-batch merge
 * shuffles only the micro-batch (small) against the mart partitions it
 * touches.
 */
object StreamingPipeline {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling windowed aggregation with watermark — the streaming analog of
    * one scheduled run per 30-min window (DAG:440). Late rows within the
    * watermark update their window; beyond it they're dropped, which is the
    * cron pipeline's behavior once a window is finalized. */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "30 minutes",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Exactly-once keyed ingestion: dedup inside the stream (idempotent
    * re-delivery, DAG:311 ON CONFLICT) then per-micro-batch upsert into the
    * mart via foreachBatch — the reference's extract→merge loop with the
    * scheduler replaced by the engine.
    *
    * Dedup state IS bounded by the watermark horizon:
    * `dropDuplicatesWithinWatermark` evicts a key's entry once the watermark
    * passes its event time. Plain `dropDuplicates("event_id")` would keep
    * every key forever (watermark eviction requires the event-time column in
    * the dedup keys) — unbounded state at 100 TB. */
  def keyedIngest(spark: SparkSession, events: DataFrame, martPath: String,
                  checkpoint: String, watermark: String = "1 hour"): StreamingQuery =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .queryName("graft_keyed_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Partition-scoped merge — the same scale path the batch pipeline
        // uses: each micro-batch reads/rewrites only the event-day
        // directories it touches (O(batch), never O(mart)), with the
        // crash-safe per-partition swap + recovery making foreachBatch
        // replay after a failure idempotent. p_day derives from event time,
        // which is immutable per event_id — the partition-key contract.
        // ts stays OUT of updateCols (matching the batch Pipeline): a
        // redelivery with a drifted ts past the dedup horizon must not
        // update ts without moving p_day — event time is immutable by
        // construction in both paths.
        if (!batch.isEmpty) {
          val updates = CoreOps.tagRun(batch, s"stream_batch_$batchId")
            .withColumn("p_day", to_date(col("ts")))
          // a stream reads nothing back: the merged mart schema is unused
          val _ = Stores.martMergePartitioned(spark, martPath, updates, "event_id",
            updateCols = updates.columns
              .filterNot(c => c == "event_id" || c == "p_day" || c == "ts").toSeq,
            partitionCol = "p_day")
        }
      }
      .start()

  /**
   * Streaming micro-batch → RDBMS mart: the reference's ACTUAL production
   * loop (30-min scheduled window → `INSERT … ON CONFLICT DO UPDATE SET
   * <subset>` into Postgres, DAG:440 + 279-316) composed end-to-end from
   * the two independently proven seams — watermark-bounded keyed dedup
   * in-stream, then a per-micro-batch SERVER-SIDE `MERGE INTO` through
   * [[graft.sources.Stores.jdbcUpsert]] (only the micro-batch ships over
   * JDBC; the mart never leaves the database).
   *
   * Exactly-once per key under replays, by composition: in-horizon
   * redelivery is absorbed by `dropDuplicatesWithinWatermark`, and a
   * foreachBatch replay after a crash re-runs a MERGE that is idempotent
   * on the key — the same rows land (the batch-leg proof is
   * JdbcRoundTripSpec's replay test; the composition is
   * StreamingPipelineSpec's). Staging is batch- AND query-scoped
   * (`runId = "q<checkpoint-hash>_b<batchId>"`): a replayed batch
   * reuses — and re-drops — its own staging table, and two CONCURRENT
   * streaming queries upserting the same target table (distinct
   * checkpoints by construction) salt to distinct staging names instead
   * of clobbering each other's overwrite-mode staging writes.
   *
   * The target table must exist (the reference pre-creates it with
   * idempotent DDL, DAG:211-268 — [[graft.sources.Stores]]' mart setup);
   * `ts` belongs OUT of `updateCols` for the same event-time-immutability
   * contract as [[keyedIngest]].
   */
  def keyedIngestJdbc(events: DataFrame, target: Stores.JdbcTarget,
                      key: String, updateCols: Seq[String], checkpoint: String,
                      watermark: String = "1 hour"): StreamingQuery =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(key)
      .writeStream
      .queryName("graft_keyed_ingest_jdbc")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          Stores.jdbcUpsert(batch, target, key, updateCols,
            runId = f"q${checkpoint.hashCode & 0x7fffffff}%08x_b$batchId")
      }
      .start()

  /**
   * Keyed ingestion with an in-stream quality gate — the streaming analog of
   * the batch pipeline's task-5 quarantine ([[graft.pipeline.Pipeline.run]],
   * DAG:333-369): each micro-batch is row-tagged by
   * [[graft.ops.QualityCheck.quarantine]] (pure projection, rides the scan),
   * clean rows merge into the mart exactly as [[keyedIngest]], quarantined
   * rows land in a dead-letter parquet area keyed by micro-batch id.
   *
   * Replay-idempotent on BOTH sides: the mart merge is keyed, and the
   * dead-letter write OVERWRITES its own `run=<checkpoint-tag>/batch_id=N`
   * directory — a foreachBatch replay after a crash rewrites the same
   * directory instead of double-appending (an `append` here would duplicate
   * dead letters on every recovery, the streaming version of the
   * non-idempotent-load bug the reference engineers around with ON
   * CONFLICT, DAG:311). Dead letters are RUN-SCOPED: the subdirectory tag
   * derives from the checkpoint location, so a restart under a FRESH
   * checkpoint (new batch numbering) writes a new run directory instead of
   * colliding with — or stranding — the old run's batch dirs. The
   * quarantine area is an audit trail: each logical run's violations stand
   * on their own, and readers aggregate or prune by `run`/`batch_id`.
   *
   * Scale: the tagged micro-batch is persisted for the duration of the
   * batch, so the gate costs one cached pass — the dead-letter write, the
   * clean-side merge, and the merge's touched-partition probe all read the
   * cache, and a violation-free batch skips the dead-letter write job
   * entirely (no empty `batch_id` directories).
   */
  def keyedIngestWithQc(spark: SparkSession, events: DataFrame, martPath: String,
                        quarantinePath: String, checkpoint: String,
                        rules: Seq[graft.ops.QualityCheck.Rule],
                        watermark: String = "1 hour"): StreamingQuery = {
    import graft.ops.QualityCheck
    // stable per-run tag: same checkpoint → same tag (replay overwrites);
    // new checkpoint → new run directory (no stale-batch collisions)
    val runTag = runTagOf(checkpoint)
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .queryName("graft_keyed_ingest_qc")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val updates = CoreOps.tagRun(batch, s"stream_batch_$batchId")
            .withColumn("p_day", to_date(col("ts")))
          // persist the tagged batch: the helpers below rebuild the same
          // quarantine plan, and Spark's cache manager substitutes the
          // cached relation for every plan-equal reference
          val tagged = QualityCheck.quarantine(updates, rules).persist()
          try {
            val dirty = QualityCheck.quarantinedRows(updates, rules)
            if (!dirty.isEmpty)
              dirty.write.mode("overwrite")
                .parquet(s"$quarantinePath/run=$runTag/batch_id=$batchId")
            val clean = QualityCheck.passedRows(updates, rules)
            val _ = Stores.martMergePartitioned(spark, martPath, clean, "event_id",
              updateCols = clean.columns
                .filterNot(c => c == "event_id" || c == "p_day" || c == "ts").toSeq,
              partitionCol = "p_day")
          } finally tagged.unpersist(blocking = false)
        }
      }
      .start()
  }

  /** A stable per-run tag: 4 bytes of MD5 over the checkpoint path, as
    * hex. Same checkpoint → same tag, so a replay overwrites its own
    * directories; a new checkpoint → a new run scope. */
  private def runTagOf(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).take(4).map("%02x".format(_))
      .mkString

  /**
   * Streaming incremental ROLLUP maintenance — the streaming face of
   * [[graft.ops.CdcOps.mergeAggState]]: each micro-batch is reduced to a
   * per-user additive delta (count + decimal value sum) and merged into a
   * persisted state table, so the rollup stays current without ever
   * re-scanning event history (the batch recompute pays the full scan per
   * refresh; this pays O(batch) + O(state groups)).
   *
   * Replay-exactly-once via VERSIONED state: batch N merges the newest
   * state version `< N` and overwrites `v=N` — a foreachBatch replay
   * after a crash rebuilds v=N from the same v=(N-1) instead of
   * double-adding the batch (the additive-state version of the
   * directory-overwrite idempotency [[keyedIngestWithQc]] uses for dead
   * letters). Superseded versions beyond the rollback point are pruned.
   * The state lifecycle is PER-CHECKPOINT: resume with the same
   * checkpoint to continue (batch numbering advances); a fresh checkpoint
   * restarts numbering at 0, so pair it with a fresh state path.
   *
   * Scale: the merge re-aggregates |state groups| + |batch groups| rows —
   * never raw history; decimal measures make every version exactly equal
   * to a from-scratch aggregate over all events so far (spec-proven
   * across restarts and multi-batch runs).
   */
  def rollupIngest(spark: SparkSession, events: DataFrame, statePath: String,
                   checkpoint: String,
                   watermark: String = "1 hour"): StreamingQuery =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .queryName("graft_rollup_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val delta = batch.groupBy("user_id")
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(DecimalType(18, 2)))
                .cast(DecimalType(18, 2)).as("total_value"))
          commitVersioned(spark, statePath, batchId) {
            case Some(prev) =>
              graft.ops.CdcOps.mergeAggState(prev, delta, Seq("user_id"))
            case None => delta
          }
        }
      }
      .start()

  /**
   * Crash-safe VERSIONED-state commit shared by the incremental-state
   * ingests ([[rollupIngest]], [[quantileIngest]]): rebase the batch onto
   * the newest COMPLETE predecessor version via `merge`, overwrite
   * `v=batchId`, prune superseded/partial versions. The rollback point
   * must be the newest COMPLETE predecessor: a crash between write and
   * prune leaves duplicate v= dirs, and a crash mid-write leaves a
   * partial one (no _SUCCESS) — replay rebases only on a version whose
   * write committed.
   */
  private def commitVersioned(spark: SparkSession, statePath: String,
      batchId: Long)(merge: Option[DataFrame] => DataFrame): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val allDirs: Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v="))
    val prev = allDirs
      .filter(n => fs.exists(
        new org.apache.hadoop.fs.Path(root, s"$n/_SUCCESS")))
      .map(_.drop(2).toLong).filter(_ < batchId).sorted.lastOption
    val merged = merge(prev.map(p => spark.read.parquet(s"$statePath/v=$p")))
    merged.write.mode("overwrite").parquet(s"$statePath/v=$batchId")
    // prune everything but the rollback point and the new version —
    // including the partial/superseded dirs a crash left behind
    allDirs.map(_.drop(2).toLong)
      .filter(v => v != batchId && !prev.contains(v))
      .foreach(v => fs.delete(
        new org.apache.hadoop.fs.Path(s"$statePath/v=$v"), true))
  }

  /**
   * Streaming incremental QUANTILE maintenance — the percentile sibling of
   * [[rollupIngest]], riding [[graft.ops.SketchOps]]' mergeable bottom-k
   * sketch: each micro-batch reduces to per-type k-sized sketches, merged
   * into the versioned state. Because the sketch merge is exactly
   * commutative/associative ("bottom-k of bottom-ks == direct bottom-k"),
   * the state after ANY sequence of batches, resumes, and replays is
   * BIT-IDENTICAL to a single batch sketch over the admitted event set —
   * the strongest replay guarantee an approximate aggregate can offer
   * (spec-proven). Per batch this pays O(batch) + a |types|·k merge; event
   * history is never re-scanned.
   */
  def quantileIngest(spark: SparkSession, events: DataFrame,
                     statePath: String, checkpoint: String, k: Int = 1024,
                     watermark: String = "1 hour"): StreamingQuery =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .queryName("graft_quantile_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val delta = graft.ops.SketchOps.sketch(batch, "event_id", "value",
            Seq("event_type"), k)
          commitVersioned(spark, statePath, batchId) {
            case Some(prev) => graft.ops.SketchOps.mergeSketches(
              prev.unionByName(delta), Seq("event_type"), k)
            case None => delta
          }
        }
      }
      .start()

  /**
   * Streaming DISTINCT-COUNT maintenance on the KMV set sketch
   * ([[graft.ops.SketchOps.setSketch]]): per micro-batch, the batch's
   * per-group bottom-k distinct key hashes merge into the versioned
   * state. Because the KMV state is a pure function of the key SET
   * (bottom-k of a set union), the merge is IDEMPOTENT — re-delivering
   * overlapping or duplicate batches cannot inflate the state, a
   * guarantee the additive [[rollupIngest]]/[[quantileIngest]] states
   * need version-rebasing to approximate. The versioned commit still
   * provides crash-atomicity; at-least-once sources are additionally
   * safe by construction (spec-proven: re-merging an already-ingested
   * batch leaves the state bit-identical).
   *
   * [[latestDistinct]] answers "distinct keys per group so far" from
   * |groups| k-long arrays — no stream history re-scan.
   */
  def distinctIngest(spark: SparkSession, events: DataFrame,
                     statePath: String, checkpoint: String,
                     keyCol: String = "user_id",
                     groupCol: String = "event_type",
                     k: Int = 256): StreamingQuery =
    events
      .writeStream
      .queryName("graft_distinct_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // k rides the state (`sk_k`): the estimator's saturation test
          // needs the k the sketches were BUILT with — trusting a reader
          // parameter to match would silently return array sizes as
          // estimates on any mismatch
          val delta = graft.ops.SketchOps.setSketch(batch, keyCol,
            Seq(groupCol), k)
          commitVersioned(spark, statePath, batchId) {
            case Some(prev) =>
              val prevK = prev.select("sk_k").head().getInt(0)
              require(prevK == k,
                s"distinctIngest k=$k differs from the state's k=$prevK")
              graft.ops.SketchOps.mergeSetSketches(
                  prev.drop("sk_k").unionByName(delta), Seq(groupCol), k)
                .withColumn("sk_k", lit(k))
            case None => delta.withColumn("sk_k", lit(k))
          }
        }
      }
      .start()

  /** Per-group distinct-count estimates from the newest COMPLETE
    * [[distinctIngest]] state: |groups| rows read, no event scan. The
    * sketch size k is read from the state itself (`sk_k`). */
  def latestDistinct(spark: SparkSession, statePath: String): DataFrame = {
    val st = latestRollup(spark, statePath)
    val k = st.select("sk_k").head().getInt(0)
    st.withColumn("est_distinct", graft.ops.SketchOps.kmvDistinct(
      col(graft.ops.SketchOps.KmvCol), k))
  }

  /** Per-type quantile estimates from the newest COMPLETE sketch state
    * (see [[quantileIngest]]): |types| rows read, no event scan. */
  def latestQuantiles(spark: SparkSession, statePath: String,
                      probs: Seq[Double]): DataFrame = {
    val st = latestRollup(spark, statePath)
    probs.map(p => st.select(col("event_type"), lit(p).as("p"),
        graft.ops.SketchOps.sketchQuantile(
          col(graft.ops.SketchOps.PairsCol), p).as("est"),
        col(graft.ops.SketchOps.NCol).as("n_rows")))
      .reduce(_ unionByName _)
  }

  /** Newest COMPLETE rollup state version under `statePath` (see
    * [[rollupIngest]]): versions without a `_SUCCESS` marker are writes a
    * crash interrupted — readers fall back past them to the last version
    * that committed, never a partial directory. */
  def latestRollup(spark: SparkSession, statePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .filter(n => fs.exists(
        new org.apache.hadoop.fs.Path(root, s"$n/_SUCCESS")))
      .map(_.drop(2).toLong)
    require(vs.nonEmpty, s"no complete rollup state under $statePath")
    spark.read.parquet(s"$statePath/v=${vs.max}")
  }

  /** File-source stream over a directory of event parquet — used by tests to
    * drive the pipeline with AvailableNow (batch-of-files as a stream). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /**
   * Streaming embedding-space DRIFT monitor — the streaming face of
   * [[graft.ext.SimilarityOps.embeddingDriftPsi]]: each micro-batch of
   * vectors assigns to the FROZEN centroid model (the zero-shuffle
   * kernel), reduces to a per-cell count delta, and merges into the
   * versioned state via the additive [[graft.ops.CdcOps.mergeAggState]]
   * — the [[rollupIngest]] crash-safety contract (batch N rebuilds
   * `v=N` from the newest complete predecessor, so foreachBatch replays
   * never double-count). In-batch duplicate ids collapse; the stream is
   * expected id-unique across batches (run it downstream of
   * [[dedupIngest]]'s admitted set, where that holds by construction).
   *
   * "Where has the ingest wave's semantic mass moved" is then
   * [[latestDrift]]: a cell-sized PSI join against any reference
   * histogram — no stream history re-scan, ever.
   */
  def driftIngest(spark: SparkSession, vectors: DataFrame, statePath: String,
                  checkpoint: String, centroids: Seq[(Long, Seq[Float])],
                  idCol: String, vecCol: String): StreamingQuery =
    vectors
      .writeStream
      .queryName("graft_drift_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val delta = graft.ext.SimilarityOps
            .ivfAssign(batch.dropDuplicates(idCol), centroids, idCol, vecCol)
            .groupBy("cell").agg(count(lit(1)).as("n"))
          commitVersioned(spark, statePath, batchId) {
            case Some(prev) =>
              graft.ops.CdcOps.mergeAggState(prev, delta, Seq("cell"))
            case None => delta
          }
        }
      }
      .start()

  /** Per-cell PSI of the streamed corpus (newest complete [[driftIngest]]
    * state) against a reference (cell, n) histogram — the
    * [[graft.ops.QualityCheck.driftPsiCounts]] shape: a cell-sized join,
    * no vector scan. */
  def latestDrift(spark: SparkSession, statePath: String,
                  referenceCounts: DataFrame): DataFrame =
    graft.ops.QualityCheck.driftPsiCounts(
      referenceCounts.select(col("cell").as("bucket"), col("n").as("np")),
      latestRollup(spark, statePath)
        .select(col("cell").as("bucket"), col("n").as("nq")))

  /** Native streaming session windows: per-user sessions close after
    * `gap` of event-time silence past the watermark. The engine-managed
    * streaming analog of [[graft.ops.TemporalOps.sessionize]] (same
    * semantics, state bounded by watermark instead of a batch window). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /**
   * Stream-stream interval join: each purchase joins clicks of the same
   * user within the preceding `horizonMinutes`. Both sides carry
   * watermarks, so the engine bounds the join state to the horizon +
   * watermark — without the time bound the state would grow forever.
   * Batch equivalent: an equi-join with a range residual (asserted equal
   * in the spec).
   */
  def purchaseClickJoin(events: DataFrame,
                        horizonMinutes: Int = 60,
                        watermark: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
  }

  // -------------------------------------------------------------------------
  // Custom state — KeyValueGroupedDataset.mapGroupsWithState
  // -------------------------------------------------------------------------

  final case class StreamEvent(event_id: Long, ts: java.sql.Timestamp,
                               user_id: Long, event_type: String,
                               value: Double, props: String)

  final case class UserState(user_id: Long, n_events: Long,
                             total_value: Double,
                             last_ts: java.sql.Timestamp)

  /**
   * Threshold alerting via `flatMapGroupsWithState` — the 0..n-output
   * custom-state form: emits a user's state exactly ONCE, on the batch
   * where their lifetime event count first crosses `threshold`. State and
   * partitioning as in [[runningUserState]]; the flatMap variant is what
   * lets a group stay silent (no output) on most batches.
   */
  def thresholdAlerts(events: DataFrame, threshold: Long): Dataset[UserState] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserState](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (userId, batch, state) =>
          val prev = state.getOption.getOrElse(UserState(userId, 0L, 0.0, null))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserState(userId, acc.n_events + 1, acc.total_value + e.value,
              if (acc.last_ts == null || e.ts.after(acc.last_ts)) e.ts
              else acc.last_ts)
          }
          state.update(next)
          if (prev.n_events < threshold && next.n_events >= threshold)
            Iterator.single(next)
          else Iterator.empty
      }
  }

  final case class PatternMatch(user_id: Long, a_ts: java.sql.Timestamp,
                                b_ts: java.sql.Timestamp, gap_seconds: Long)

  /**
   * Streaming A→B-WITHIN-T pattern detection — the CEP primitive
   * ("purchase within an hour of a click"), the streaming face of the
   * batch [[graft.ops.TemporalOps]] funnel: per key, the state carries
   * the LATEST `aType` timestamp; every `bType` event emits a match when
   * it lands within `withinSeconds` of that A — including when A arrived
   * BATCHES earlier (the state is what crosses the batch boundary, the
   * thing a per-batch join cannot do). Within a batch, events process in
   * (ts, event_id) order regardless of arrival order, so results are
   * deterministic under any micro-batch slicing (spec-proven: one batch
   * vs. split batches emit identically).
   *
   * Scale: state is ONE long per key forever; each micro-batch shuffles
   * once on the key. A later A replaces the state (latest-A semantics);
   * B events never clear it, so a burst of Bs after one A all match —
   * the "every conversion after the touchpoint" attribution shape.
   */
  /** Full-microsecond event time (Timestamp.getTime alone truncates to
    * ms — emitted timestamps would stop matching the source events). */
  private def toMicros(t: java.sql.Timestamp): Long =
    t.getTime / 1000L * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  def patternDetect(events: DataFrame, aType: String, bType: String,
                    withinSeconds: Long): Dataset[PatternMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[StreamEvent]
      .filter(e => e.event_type == aType || e.event_type == bType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, PatternMatch](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (userId, batch, state) =>
          var lastA: Option[Long] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[PatternMatch]()
          batch.toSeq.sortBy(e => (toMicros(e.ts), e.event_id)).foreach { e =>
            val us = toMicros(e.ts)
            if (e.event_type == aType)
              // max, not overwrite: a LATE-arriving older A in a later
              // micro-batch must not roll the latest-A state back (the
              // A side is then slicing-invariant; a late B that arrives
              // after a NEWER A is dropped by the gap >= 0 guard)
              lastA = Some(math.max(lastA.getOrElse(Long.MinValue), us))
            else lastA.foreach { a =>
              val gapUs = us - a
              if (gapUs >= 0 && gapUs <= withinSeconds * 1000000L)
                out += PatternMatch(userId, fromMicros(a), e.ts,
                  gapUs / 1000000L)
            }
          }
          lastA.foreach(state.update)
          out.iterator
      }
  }

  final case class FunnelCompletion(user_id: Long,
                                    start_ts: java.sql.Timestamp,
                                    end_ts: java.sql.Timestamp,
                                    total_seconds: Long)

  /**
   * Streaming MULTI-STEP funnel detection — [[patternDetect]]'s n-step
   * generalization: a completion fires when a key's events hit every
   * `steps` type in order with at most `withinSeconds` between
   * CONSECUTIVE steps. A fresh first-step event RESTARTS progress (the
   * newest attempt wins — standard funnel semantics); completion resets
   * the state so the next full pass counts again. In-batch events
   * process in (ts, event_id) order, and the (stage, lastTs, startTs)
   * state crosses micro-batch boundaries — a funnel spanning days of
   * batches still completes.
   *
   * Scale: state is (int, long, long) per key forever; one key shuffle
   * per micro-batch.
   */
  def funnelDetect(events: DataFrame, steps: Seq[String],
                   withinSeconds: Long): Dataset[FunnelCompletion] = {
    require(steps.size >= 2, "funnelDetect needs at least 2 steps")
    val spark = events.sparkSession
    import spark.implicits._
    val stepSet = steps.toSet
    events.as[StreamEvent]
      .filter(e => stepSet.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long, Long), FunnelCompletion](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (userId, batch, state) =>
          // (completed stages, last-step us, first-step us)
          var (stage, lastUs, startUs) = state.getOption.getOrElse((0, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[FunnelCompletion]()
          batch.toSeq.sortBy(e => (toMicros(e.ts), e.event_id)).foreach { e =>
            val us = toMicros(e.ts)
            // the gap needs BOTH bounds: a late-arriving event with a
            // timestamp BEFORE the previous step must not "advance" the
            // funnel backwards in event time
            val advances = stage < steps.size &&
              e.event_type == steps(stage) &&
              (stage == 0 ||
                (us >= lastUs && us - lastUs <= withinSeconds * 1000000L))
            if (advances) {
              if (stage == 0) startUs = us
              stage += 1; lastUs = us
              if (stage == steps.size) {
                out += FunnelCompletion(userId, fromMicros(startUs),
                  fromMicros(us), (us - startUs) / 1000000L)
                stage = 0
              }
            } else if (e.event_type == steps.head &&
                (stage == 0 || us >= lastUs)) {
              stage = 1; lastUs = us; startUs = us // newest attempt wins
            }
          }
          // no progress → no state row: a stream of dead-end step events
          // must not grow O(all keys) state under NoTimeout
          if (stage == 0) { if (state.exists) state.remove() }
          else state.update((stage, lastUs, startUs))
          out.iterator
      }
  }

  /**
   * Streaming ANN-index maintenance: each micro-batch of embedding rows
   * assigns against the persisted index's FROZEN centroids and lands in
   * its own `b=batchId+1` ingest partition
   * ([[graft.ext.AnnIndexStore.append]]) — O(batch) work, and a replayed
   * micro-batch overwrites its own partition, so foreachBatch's
   * at-least-once replay is exactly-once at the directory level (the
   * [[keyedIngest]] discipline applied to the vector index). Queries via
   * [[graft.ext.AnnIndexStore.topK]] see every committed batch with cell
   * pruning intact. Centroid drift is the operator's retrain signal —
   * rebuild with fresh centroids when new data stops fitting the frozen
   * partition.
   */
  def annIngest(spark: SparkSession, vectors: DataFrame, indexPath: String,
                checkpoint: String, idCol: String,
                vecCol: String): StreamingQuery =
    vectors
      .writeStream
      .queryName("graft_ann_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.ext.AnnIndexStore.append(indexPath, batch, idCol, vecCol,
            batchId = batchId + 1)
      }
      .start()

  final case class MgSummary(key: String, item: String, lower_count: Long)

  /**
   * Streaming HEAVY HITTERS via `flatMapGroupsWithState`: a Misra-Gries
   * summary of the items seen under each key, maintained ACROSS
   * micro-batches in O(m) state per key — the streaming form of
   * [[graft.ext.TextOps.approxTopKWords]]'s candidate stage (Misra-Gries
   * is a one-pass streaming algorithm; keeping its table in group state
   * IS the textbook deployment). Every item whose true frequency exceeds
   * n/m is guaranteed present, where n = that key's total items so far;
   * per-item counts are lower bounds (each decrement round subtracts at
   * most 1 from everything). State is O(keys × m) FOREVER — not
   * O(events), not O(distinct items) — which is what makes a trending
   * tracker over an unbounded 100 TB/day stream feasible.
   *
   * Each batch emits the key's full current summary (item, lower-bound
   * count); downstream dedups on the latest batch or feeds an alert
   * sink. Items are extracted from the event via `item`.
   */
  def streamingHeavyHitters(events: DataFrame, m: Int,
                            item: StreamEvent => String): Dataset[MgSummary] = {
    require(m >= 1, s"bad summary size $m")
    val spark = events.sparkSession
    import spark.implicits._
    events.as[StreamEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Map[String, Long], MgSummary](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (etype, batch, state) =>
          var counts = state.getOption.getOrElse(Map.empty[String, Long])
          batch.foreach { e =>
            val it = item(e)
            counts.get(it) match {
              case Some(c) => counts = counts.updated(it, c + 1L)
              case None if counts.size < m => counts = counts.updated(it, 1L)
              case None =>
                // decrement-all round: amortized O(1) per input item
                counts = counts.view.mapValues(_ - 1L)
                  .filter(_._2 > 0L).toMap
            }
          }
          state.update(counts)
          counts.iterator.map { case (i, c) => MgSummary(etype, i, c) }
      }
  }

  /**
   * Per-user running profile via `mapGroupsWithState` — the custom-state
   * escape hatch for semantics tumbling windows can't express (lifetime
   * counters, per-entity models). State is partitioned by user across
   * executors and checkpointed by the engine; at 100 TB of events the state
   * size is O(distinct users), not O(events), and a production deployment
   * bounds it with `GroupStateTimeout` eviction.
   */
  def runningUserState(events: DataFrame): Dataset[UserState] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.as[StreamEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (userId, batch, state) =>
          val prev = state.getOption.getOrElse(UserState(userId, 0L, 0.0, null))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserState(
              userId,
              acc.n_events + 1,
              acc.total_value + e.value,
              if (acc.last_ts == null || e.ts.after(acc.last_ts)) e.ts
              else acc.last_ts)
          }
          state.update(next)
          next
      }
  }

  final case class SprtState(n: Long, k: Long)
  final case class SprtReadout(key: String, n: Long, k: Long,
                               llr: Double, decision: String)

  /**
   * Streaming SPRT monitor — the continuous form of
   * [[graft.ops.TemporalOps.sprtMonitor]]: per key (event type), the
   * cumulative (trials, successes) state lives in `mapGroupsWithState`
   * and every micro-batch emits the current Wald log-likelihood ratio of
   * H1 (rate p1) against H0 (rate p0) with the always-valid decision at
   * the (α, β) bounds. This is what sequential testing is FOR — the
   * monitor watches the stream continuously and both error rates stay
   * honest at every peek, so "stop the rollout now" fires as early as
   * the evidence allows.
   *
   * Arithmetic is pinned to the batch op exactly: exact integer (n, k)
   * state (order-independent, so redelivery-safe under AvailableNow
   * replays of whole batches), the two constant ln factors, HALF_UP
   * 6dp rounding, decision on the ROUNDED llr — the parity spec asserts
   * the final streaming readout equals the batch op's last row on the
   * same events. State is two longs per key, FOREVER — O(keys), not
   * O(events).
   */
  def streamingSprtMonitor(events: DataFrame, p0: Double, p1: Double,
                           alpha: Double = 0.05, beta: Double = 0.05)(
      success: StreamEvent => Boolean): Dataset[SprtReadout] = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"bad rates p0=$p0 p1=$p1")
    val spark = events.sparkSession
    import spark.implicits._
    val c1 = math.log(p1 / p0)
    val c0 = math.log((1.0 - p1) / (1.0 - p0))
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    events.as[StreamEvent]
      .groupByKey(_.event_type)
      .mapGroupsWithState[SprtState, SprtReadout](
        GroupStateTimeout.NoTimeout) { (key, batch, state) =>
        var s = state.getOption.getOrElse(SprtState(0L, 0L))
        batch.foreach { e =>
          s = SprtState(s.n + 1L, s.k + (if (success(e)) 1L else 0L))
        }
        state.update(s)
        val llr = BigDecimal(s.k.toDouble * c1 + (s.n - s.k).toDouble * c0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val decision =
          if (llr >= upper) "accept_h1"
          else if (llr <= lower) "accept_h0"
          else "continue"
        SprtReadout(key, s.n, s.k, llr, decision)
      }
  }

  final case class BalanceState(n: Long, bal: Long, nhi: Long, nlo: Long)
  final case class BalanceReadout(key: Long, n_events: Long,
                                  final_balance: Long, n_clamped_hi: Long,
                                  n_clamped_lo: Long)

  /**
   * Streaming CLAMPED BALANCE — the continuous twin of
   * [[graft.ops.TemporalOps.clampedBalance]]: the non-associative
   * ledger fold balance ← clamp(balance + δ) lives in
   * `mapGroupsWithState` (four longs per key, FOREVER — the batch op
   * re-folds history, the stream never has to), emitting each key's
   * running readout every micro-batch. Within a batch, rows fold in
   * (ts, event_id) order — the same total order as the batch op, so
   * on an in-order stream the final readouts are spec-proven EQUAL.
   *
   * δ is derived per event by `delta`; keys by `user_id`. This is the
   * operator class checkpointed state exists for: no window, batch or
   * streaming, can reconstruct a clamped balance without replaying
   * history.
   */
  def streamingClampedBalance(events: DataFrame, lo: Long, hi: Long)(
      delta: StreamEvent => Long): Dataset[BalanceReadout] = {
    require(lo <= hi, s"bad bounds [$lo, $hi]")
    val spark = events.sparkSession
    import spark.implicits._
    val start = math.min(hi, math.max(lo, 0L))
    events.as[StreamEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[BalanceState, BalanceReadout](
        GroupStateTimeout.NoTimeout) { (key, batch, state) =>
        var s = state.getOption.getOrElse(BalanceState(0L, start, 0L, 0L))
        // FLOORED-second + event_id — the batch twin's exact total order
        // (clampedBalance folds in (unix_timestamp(ts), event_id) order).
        // Sorting by raw millis would visit same-second events whose
        // millisecond order disagrees with event_id order differently,
        // and a clamp fold is non-associative: the parity contract would
        // silently become data-dependent (the timeWeightedAvg discipline).
        // floorDiv, not /: unix_timestamp FLOORS, while `/` truncates
        // toward zero — for pre-1970 timestamps (negative millis) the two
        // disagree and would bucket same-second events differently.
        batch.toArray
          .sortBy(e => (Math.floorDiv(e.ts.getTime, 1000L), e.event_id))
          .foreach { e =>
            val raw = s.bal + delta(e)
            s =
              if (raw > hi) BalanceState(s.n + 1, hi, s.nhi + 1, s.nlo)
              else if (raw < lo) BalanceState(s.n + 1, lo, s.nhi, s.nlo + 1)
              else BalanceState(s.n + 1, raw, s.nhi, s.nlo)
          }
        state.update(s)
        BalanceReadout(key, s.n, s.bal, s.nhi, s.nlo)
      }
  }

  /**
   * Streaming NEAR-DUP-GATED corpus ingest — the continuous form of the
   * training-data admission pipeline: every micro-batch of documents is
   * (1) deduplicated WITHIN the batch (MinHash pairs → star connected
   * components → keep the min-id member of each transitive cluster), then
   * (2) checked against the persisted corpus [[graft.ext.DedupOps.bandIndex]]
   * ([[graft.ext.DedupOps.incrementalNearDupPairs]] — the corpus is never
   * re-shingled), and only the survivors are admitted: appended to the
   * corpus store AND to the band index (both writes land in a
   * `batch_id=N` subdirectory via OVERWRITE, so a crashed batch replays
   * idempotently — the foreachBatch at-least-once contract becomes
   * exactly-once at the directory level, the same discipline as
   * [[keyedIngestWithQc]]'s dead letters). Rejected rows land under
   * `rejectPath/batch_id=N` with the same guarantee.
   *
   * Scale: per batch, the kernel shingle pass runs over the BATCH only;
   * the index join shuffles O(batch × bands) 16-byte keys; corpus text is
   * read once, column-pruned, only for verification candidates. Index
   * maintenance is append-only — O(admitted), never O(corpus).
   */
  def dedupIngest(spark: SparkSession, docs: DataFrame, idCol: String,
                  textCol: String, corpusPath: String, indexPath: String,
                  rejectPath: String, checkpoint: String,
                  n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                  threshold: Double = 0.8): StreamingQuery = {
    import graft.ext.DedupOps
    // batch ids restart at 0 under a fresh checkpoint — scope every write
    // by a checkpoint-derived run tag so a NEW ingest run appends alongside
    // prior runs while a REPLAYED batch still overwrites its own directory
    val runTag = runTagOf(checkpoint)
    docs.writeStream
      .queryName("graft_dedup_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          try {
            val (admitted, _) = admitDedupBatch(spark, b, batchId, runTag,
              idCol, textCol, corpusPath, indexPath, rejectPath,
              n, numHashes, bands, threshold)
            admitted.unpersist(blocking = false)
            ()
          } finally b.unpersist(blocking = false)
        }
      }
      .start()
  }

  /** The per-batch admission core of [[dedupIngest]]: collapse in-batch
    * duplicate clusters to their min-id member, reject near-dups of the
    * already-admitted corpus via the persisted band index, then write
    * rejects, the admitted corpus rows, and the band-index contribution —
    * each into its `run=/batch_id=` directory (replay overwrites itself).
    * Returns (admitted rows STILL PERSISTED — so a caller can feed
    * further exactly-once sinks in the same micro-batch; the caller owns
    * the unpersist) and (the batch's verified dup EVIDENCE — in-batch
    * pairs plus batch×corpus pairs in canonical (min, max) order — for
    * callers growing a [[graft.ext.ClusterStore]] in the same lockstep). */
  private def admitDedupBatch(spark: SparkSession, b: DataFrame,
                              batchId: Long, runTag: String, idCol: String,
                              textCol: String, corpusPath: String,
                              indexPath: String, rejectPath: String,
                              n: Int, numHashes: Int, bands: Int,
                              threshold: Double): (DataFrame, DataFrame) = {
    import graft.ext.DedupOps
    val batchPairs = DedupOps.minhashDedupPairs(b, idCol, textCol,
      n, numHashes, bands, threshold)
    val pairs = batchPairs.select("id1", "id2")
    val batchKept =
      if (pairs.isEmpty) b
      else {
        val losers = DedupOps.connectedComponentsStar(pairs)
          .filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("__lose"))
        b.join(losers, col(idCol) === col("__lose"), "left_anti")
      }
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the index and the corpus hold what earlier batches of this schema
    // wrote: read them under it, never by inference. A first-batch crash
    // mid-write can leave indexPath holding only `_temporary` files; read
    // under a schema they are an empty index, where inference would throw
    // and wedge every replay.
    val idField = b.schema(idCol)
    val crossPairs =
      if (fs.exists(new org.apache.hadoop.fs.Path(indexPath))) Some {
        val idx = spark.read.schema(StructType(Seq(
            StructField("band_key", StringType), idField.copy(name = "id"))))
          .parquet(indexPath).select("band_key", "id")
        val ctext = spark.read.schema(StructType(Seq(idField,
            b.schema(textCol))))
          .parquet(corpusPath).select(col(idCol), col(textCol))
        DedupOps.incrementalNearDupPairs(batchKept, idCol, textCol,
          idx, ctext, n, numHashes, bands, threshold)
      } else None
    val rejectedVsCorpus = crossPairs
      .map(_.select(col("new_id").as(idCol)).distinct())
      .getOrElse(batchKept.select(idCol).limit(0))
    val admitted = batchKept
      .join(rejectedVsCorpus, Seq(idCol), "left_anti").persist()
    val rejected = b.join(admitted.select(idCol), Seq(idCol), "left_anti")
    if (!rejected.isEmpty)
      rejected.write.mode("overwrite")
        .parquet(s"$rejectPath/run=$runTag/batch_id=$batchId")
    admitted.write.mode("overwrite")
      .parquet(s"$corpusPath/run=$runTag/batch_id=$batchId")
    DedupOps.bandIndex(admitted, idCol, textCol, n, numHashes, bands)
      .write.mode("overwrite")
      .parquet(s"$indexPath/run=$runTag/batch_id=$batchId")
    val evidence = crossPairs.foldLeft(
      batchPairs.select("id1", "id2", "jaccard")) { (acc, cp) =>
      acc.unionByName(cp.select(
        least(col("new_id"), col("corpus_id")).as("id1"),
        greatest(col("new_id"), col("corpus_id")).as("id2"),
        col("jaccard")))
    }
    (admitted, evidence)
  }

  /**
   * Streaming EXACT-dedup corpus ingest — the streaming twin of
   * [[graft.ext.DedupOps.dedupIncremental]] +
   * [[graft.ext.DedupOps.fingerprintIndex]] (the batch incremental-exact
   * path): each micro-batch collapses its in-batch exact duplicates to
   * the min-id representative, drops rows whose 16-byte content
   * fingerprint already exists in the persisted corpus FINGERPRINT
   * INDEX, and appends survivors to the corpus and their fingerprints
   * to the index — the corpus text is never re-scanned, and index
   * maintenance is O(admitted) per batch.
   *
   * Exactly-once at the directory level, like [[dedupIngest]]: both
   * writes land in `run=<tag>/batch_id=N` subdirectories via OVERWRITE,
   * so an at-least-once foreachBatch replay overwrites its own output.
   * One subtlety the near-dup path doesn't have: a replayed batch
   * re-reads the index INCLUDING its own crashed attempt's
   * contribution, and exact fingerprints carry no doc id to
   * self-suppress on (the near-dup path suppresses `id == corpus_id`
   * pairs by contract) — so the index read EXCLUDES the batch's own
   * `(run, batch_id)` partition, which is also pure partition pruning.
   * Post-stream state is row-identical to folding the same waves
   * through the batch path (spec-proven).
   *
   * Scale: per batch one hash-agg over the batch + one anti-join
   * against the 16-byte index (broadcast when the batch ≪ index — AQE
   * decides); nothing data-proportional to the corpus.
   */
  def exactDedupIngest(spark: SparkSession, docs: DataFrame, idCol: String,
                       textCol: String, corpusPath: String,
                       indexPath: String, checkpoint: String)
      : StreamingQuery = {
    import graft.ext.DedupOps
    val runTag = runTagOf(checkpoint)
    docs.writeStream
      .queryName("graft_exact_dedup_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          try {
            val fs = new org.apache.hadoop.fs.Path(indexPath)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            // Explicit schema, never inference: if the first index write
            // crashed mid-job, indexPath exists holding only uncommitted
            // `_temporary` files — inference would throw "unable to infer
            // schema" and wedge every replay until manual cleanup, while an
            // explicit schema reads the zero committed files as an empty
            // index and the replay heals the directory by overwriting it.
            val idxSchema = org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("fingerprint",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("run",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("batch_id",
                org.apache.spark.sql.types.LongType)))
            val seen =
              if (fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
                spark.read.schema(idxSchema).parquet(indexPath)
                  .filter(!(col("run") === runTag &&
                    col("batch_id") === batchId))
                  .select("fingerprint")
              else b.select(md5(col(textCol)).as("fingerprint")).limit(0)
            val admitted = DedupOps
              .dedupIncremental(b, idCol, textCol, seen).persist()
            try {
              admitted.write.mode("overwrite")
                .parquet(s"$corpusPath/run=$runTag/batch_id=$batchId")
              DedupOps.fingerprintIndex(admitted, textCol)
                .write.mode("overwrite")
                .parquet(s"$indexPath/run=$runTag/batch_id=$batchId")
            } finally admitted.unpersist(blocking = false)
            ()
          } finally b.unpersist(blocking = false)
        }
      }
      .start()
  }

  /**
   * CURATED streaming ingest — lexical dedup admission AND ANN index
   * growth fused in ONE foreachBatch: each micro-batch is deduplicated
   * against itself and the admitted corpus exactly as [[dedupIngest]]
   * does, and the ADMITTED rows' embeddings are then appended to the
   * persisted IVF index ([[graft.ext.AnnIndexStore.append]]) inside the
   * same batch scope. The two sinks therefore advance in lockstep: a doc
   * is searchable iff it was admitted, and a replayed micro-batch
   * overwrites BOTH its corpus/band-index directories and its `b=`
   * index partition — at-least-once replay stays exactly-once at the
   * directory level for every artifact.
   *
   * The ANN index must exist before streaming starts
   * ([[graft.ext.AnnIndexStore.save]] — the base build freezes the
   * centroid model the appends assign against). Post-stream index state
   * is row-identical to a batch rebuild over (base ∪ admitted) under the
   * same centroids — spec-proven. With `lexIndexPath` set, the persisted
   * BM25 postings index ([[graft.ext.LexIndexStore]], pre-built over the
   * base corpus) grows with the same admitted set in the same batch
   * scope — all three artifacts (dedup band index, ANN cells, postings)
   * advance in lockstep, and its post-stream query results equal a batch
   * rebuild over (base ∪ admitted) bit-for-bit (spec-proven). With
   * `clusterPath` set, the persisted dup-cluster assignment
   * ([[graft.ext.ClusterStore]]) grows too, fed each batch's verified
   * evidence (in-batch pairs + batch×corpus pairs) — the streaming twin
   * of [[graft.ext.IngestOps.ingestWave]]'s five-artifact lockstep;
   * post-stream labels equal clustering the full evidence set
   * (spec-proven).
   *
   * Scale: the admission cost is [[dedupIngest]]'s (O(batch) shingles,
   * O(batch × bands) index join); the ANN append is one narrow
   * assignment pass over admitted rows against broadcast centroids.
   */
  def dedupAnnIngest(spark: SparkSession, docs: DataFrame, idCol: String,
                     textCol: String, vecCol: String, corpusPath: String,
                     indexPath: String, rejectPath: String,
                     annIndexPath: String, checkpoint: String,
                     n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                     threshold: Double = 0.8,
                     lexIndexPath: Option[String] = None,
                     clusterPath: Option[String] = None): StreamingQuery = {
    val runTag = runTagOf(checkpoint)
    // the ANN index partitions on a LONG batch id (no run= level), so the
    // run scope is folded into the id's high bits: a replayed batch under
    // the same checkpoint lands on its own partition (exactly-once), a
    // NEW run appends alongside prior runs instead of overwriting b=1
    val runBase = java.lang.Long.parseLong(runTag, 16) << 24
    docs.writeStream
      .queryName("graft_dedup_ann_ingest")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          try {
            val (admitted, evidence) = admitDedupBatch(spark, b, batchId,
              runTag, idCol, textCol, corpusPath, indexPath, rejectPath,
              n, numHashes, bands, threshold)
            try {
              // optional fourth artifact: the dup-cluster assignment grows
              // with the batch's verified evidence (in-batch + vs-corpus
              // pairs) in the same scope — the consumers of clusters (ban
              // propagation, leakage audits) see the same generation the
              // admission decided against. Append is idempotent on edge
              // sets, so an at-least-once replay cannot corrupt labels.
              clusterPath.foreach { cp =>
                if (!evidence.isEmpty) {
                  if (graft.ext.ClusterStore.exists(spark, cp))
                    graft.ext.ClusterStore.append(cp, evidence)
                  else graft.ext.ClusterStore.build(cp, evidence)
                }
              }
              if (!admitted.isEmpty) {
                graft.ext.AnnIndexStore.append(annIndexPath, admitted,
                  idCol, vecCol, batchId = runBase + batchId + 1)
                // optional third artifact: the BM25 postings index grows
                // with the same admitted set in the same batch scope —
                // admitted ⇒ retrievable lexically AND semantically, and
                // a replay overwrites the same b= partition everywhere
                lexIndexPath.foreach(lp =>
                  graft.ext.LexIndexStore.append(lp, admitted, idCol,
                    textCol, batchId = runBase + batchId + 1))
              }
            } finally admitted.unpersist(blocking = false)
          } finally b.unpersist(blocking = false)
        }
      }
      .start()
  }
}
