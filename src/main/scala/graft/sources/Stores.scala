package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Sources and sinks. The reference's storage layout
 * (`/root/reference/dag_mgo_pg_schedule_etl_qc.py`, "DAG:NN") is a two-tier
 * staging (`staging.test_table_raw_v3`, DAG:247-268) + mart
 * (`public.test_table_v3`, DAG:211-244) pair in PostgreSQL; here both tiers
 * are parquet directories, and the properties the reference had to engineer —
 * run isolation (DAG:4), idempotent DDL (DAG:211,247), deadlock-free cleanup
 * (DAG:320) — fall out of partition layout.
 */
object Stores {

  /** Memoized unresolved plans, keyed per (session, dir, table). Bounded:
    * entries belonging to stopped sessions are purged on every miss (a
    * long-lived multi-session service would otherwise leak one plan per
    * table per session forever), and a hard cap guards against unbounded
    * distinct (dir, table) churn within one live session. Plans are tiny
    * (no data), so the cap is generous. */
  private val TableCacheMax = 4096
  private val tableCacheTicket = new java.util.concurrent.atomic.AtomicLong(0L)
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), (Long, DataFrame)]()

  /** Evict dead-session entries always; over the cap, evict the
    * OLDEST-INSERTED half by ticket (insertion-order FIFO — tickets are not
    * refreshed on hit; plans are cheap to rebuild, so approximate eviction
    * beats per-hit bookkeeping). Not a full clear: a cap breach doesn't
    * force a re-listing of every table. */
  private def pruneTableCache(): Unit = {
    tableCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    if (tableCache.size > TableCacheMax) {
      import scala.jdk.CollectionConverters._
      // index into the SAME snapshot we sort — the live map can grow
      // concurrently, and indexing a stale snapshot by the live size would
      // walk off the end
      val tickets = tableCache.values.asScala.map(_._1).toSeq.sorted
      if (tickets.nonEmpty) {
        val cutoff = tickets(tickets.size / 2)
        tableCache.entrySet.removeIf(e => e.getValue._1 < cutoff)
      }
    }
  }

  /** Source scan (DAG:94-96 `client[DB][COLLECTION]`). Projection/predicates
    * applied by the caller are pushed into the parquet scan by Catalyst —
    * the engine-side equivalent of Mongo server-side
    * projection+filter+sort pushdown (DAG:98-132). The unresolved plan is
    * memoized per (session, dir, table): plans are immutable, and re-reading
    * repeats the file listing + footer schema read on every call — measurable
    * across a 70-query run. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (spark, sfDir, name)
    val hit = tableCache.get(key)
    if (hit != null) hit._2
    else {
      pruneTableCache()
      tableCache.computeIfAbsent(key, { _ =>
        (tableCacheTicket.incrementAndGet(),
          normalizeNanoTs(spark.read.parquet(s"$sfDir/$name.parquet")))
      })._2
    }
  }

  /** Timestamp physical-type normalization, schema-driven so either fixture
    * generation works:
    *  - TIMESTAMP(NANOS) columns are rejected by Spark 4 unless read as raw
    *    longs (`spark.sql.legacy.parquet.nanosAsLong`, set by our entry
    *    points); convert ns-longs back to µs timestamps — floor division,
    *    identical to DuckDB's ns→µs truncation, so oracle comparisons agree.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ
    *    under Spark 4's NTZ inference; cast to the session-TZ TIMESTAMP the
    *    whole engine (and every oracle) is written against. The session TZ is
    *    pinned to UTC by all entry points, so the wall-clock values are
    *    bit-identical to DuckDB's naive reading of the same parquet. */
  private def normalizeNanoTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        acc.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        acc.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else acc
    }

  /** Parquet codec for everything the engine writes: zstd ≈ snappy's speed
    * at ~2× better ratio — at 100 TB that halves storage AND every
    * downstream scan's IO. Read-side is codec-agnostic, so this is a pure
    * write-path default. */
  private val ParquetCodec = "zstd"

  /** Staging append, partitioned by run_id (DAG:270-276 `execute_values`
    * batched INSERT, rows pre-tagged with airflow_run_id DAG:264).
    * Partitioning by run_id makes the reference's run-scoped delete
    * (DAG:320) a directory drop and concurrent runs contention-free
    * (the deadlock the reference's header warns about, DAG:2-4, cannot
    * happen: writers touch disjoint directories). */
  def stageAppend(df: DataFrame, stagingPath: String): Unit =
    df.write.mode("append").option("compression", ParquetCodec)
      .partitionBy("run_id").parquet(stagingPath)

  /** Read one run's staging rows (DAG:309-310 `WHERE airflow_run_id = %s`)
    * with the `schema` the run staged them under (the staged frame's
    * schema, run_id included). Only the run's own `run_id=` directory is
    * listed (basePath keeps run_id a partition column), and the pinned
    * schema skips footer inference, which costs a job on every read. The
    * run_id filter keeps partition pruning explicit in the plan. */
  def stagingForRun(spark: SparkSession, stagingPath: String, runId: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("basePath", stagingPath)
      .parquet(s"$stagingPath/run_id=$runId")
      .filter(col("run_id") === lit(runId))

  /** Drop one run's staging partition (DAG:317-320 predicate DELETE).
    * Metadata-only at any scale. Goes through the Hadoop FileSystem API —
    * a java.io.File path would silently no-op on HDFS/S3 and accrete
    * staging garbage forever. */
  def dropRun(spark: SparkSession, stagingPath: String, runId: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$stagingPath/run_id=$runId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def hpath(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Mart overwrite (the materialization step after the merge, DAG:279-316).
    * Parquet is immutable, so "upsert into mart" = compute merged frame,
    * write new version. The merged plan READS the current mart, so writing
    * goes to a temp dir first and swaps in — the same write-new-version-then-
    * flip-pointer discipline every table format (Delta/Iceberg) uses.
    *
    * The swap is [[TreeSwap]]'s [[TreeSwap.Mart]] kind: the live dir is
    * RENAMED aside (never deleted) before the new version renames in, so at
    * every instant either the live dir or a complete predecessor or
    * successor exists; [[recoverMart]] promotes whichever survives a crash.
    * A delete-then-rename swap here would be data loss under foreachBatch
    * replay: on restart martExists()=false and the replayed micro-batch
    * would seed a mart containing only itself.
    *
    * At 100 TB the mart is partitioned and incremental runs go through
    * [[martMergePartitioned]] instead — this whole-table form is for
    * bounded marts and first materialization. */
  def martOverwrite(df: DataFrame, martPath: String): Unit = {
    recoverMart(df.sparkSession, martPath)
    TreeSwap.swap(df.sparkSession, martPath, TreeSwap.Mart) { tmp =>
      df.write.mode("overwrite").option("compression", ParquetCodec)
        .parquet(tmp)
    }
  }

  /** Recover a mart root after a crash: the [[martOverwrite]] whole-tree
    * swap, then the [[martMergePartitioned]] per-partition swap — an aside
    * dir whose live twin exists is superseded (drop it); one whose live
    * twin is missing holds the last complete version (restore it). */
  def recoverMart(spark: SparkSession, martPath: String): Unit = {
    TreeSwap.recover(spark, martPath, TreeSwap.Mart)
    val fs = hpath(martPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val asideRoot = hpath(martPath + ".aside")
    if (!fs.exists(asideRoot)) return
    fs.listStatus(asideRoot).foreach { part =>
      val live = new org.apache.hadoop.fs.Path(martPath, part.getPath.getName)
      if (fs.exists(live)) TreeSwap.deleteOrThrow(fs, part.getPath)
      else TreeSwap.renameOrThrow(fs, part.getPath, live)
    }
    fs.delete(asideRoot, true)
  }

  /** Recover the [[compact]] swap after a crash. */
  def recoverCompacted(spark: SparkSession, path: String): Unit =
    TreeSwap.recover(spark, path, TreeSwap.Compact)

  /** Mart read with `mergeSchema`: after an additive schema evolution
    * ([[martMergePartitioned]]) only the partitions touched since carry the
    * new columns — merging footers surfaces the UNION schema, with the new
    * columns null on old partitions. The footer merge is a distributed job
    * over file metadata (not data); a production deployment at very large
    * file counts pins the schema in a catalog instead. */
  def martRead(spark: SparkSession, martPath: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(martPath)

  /** Mart read under a schema the caller already holds — the one
    * [[martMergePartitioned]] returns — with no footer job: files lacking a
    * column read it as null, as under `mergeSchema`. */
  def martRead(spark: SparkSession, martPath: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(martPath)

  /**
   * Partition-scoped incremental merge — the 100 TB mart path. The mart is
   * partitioned by `partitionCol` (a key-immutable derivation, e.g. the
   * record's creation day); an incremental run:
   *
   *   1. collects the update batch's distinct partition values (bounded by
   *      the batch's window — a driver-side list of partition KEYS, never
   *      data rows);
   *   2. reads ONLY those mart partitions (isin filter → directory-level
   *      partition pruning, asserted in PhysicalPlanSpec);
   *   3. merges with [[graft.ops.CoreOps.upsert]] partial-update semantics;
   *   4. rewrites only the touched partition directories via
   *      write-to-tmp + per-directory swap (the overwrite-while-reading
   *      hazard makes in-place dynamic overwrite illegal).
   *
   * Untouched partitions are never read, shuffled, or rewritten — an
   * incremental run's cost is O(touched partitions), not O(mart).
   * Requires `partitionCol` immutable per key (true for creation-date
   * partitioning; the reference's updatedAt-driven re-extract keeps _id's
   * createdAt fixed, dag_mgo_pg_schedule_etl_qc.py:124-129).
   *
   * Returns the mart's schema after the merge: the union of the batch's
   * columns and every column any mart file carries (the target read's
   * merged footers), with `partitionCol` typed as in the batch. Reading
   * the mart under it sees what the `mergeSchema` [[martRead]] would,
   * without that read's O(mart files) footer job.
   */
  def martMergePartitioned(spark: SparkSession, martPath: String,
                           updates: DataFrame, key: String,
                           updateCols: Seq[String],
                           partitionCol: String,
                           instrument: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.types.StructType = {
    if (!martExists(spark, martPath)) {
      instrument(updates).write.option("compression", ParquetCodec)
        .partitionBy(partitionCol).parquet(martPath)
      return updates.schema
    }
    val touched = updates.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    // partition values are directory names on disk — discovery re-infers
    // their type (e.g. date for "2024-01-01" written from a string column),
    // so the partition column is cast to the batch's type rather than
    // flagged as a conflict
    val targetRaw = martRead(spark, martPath)
      .filter(col(partitionCol).isin(touched: _*))
      .withColumn(partitionCol,
        col(partitionCol).cast(updates.schema(partitionCol).dataType))
    // Additive schema evolution: a batch may carry columns the mart hasn't
    // seen (the source grew a field) and the mart may carry columns this
    // batch lacks — align BOTH sides to the union schema with typed nulls,
    // never dropping data on either side. Untouched partitions keep their
    // old files; [[martRead]]'s mergeSchema surfaces the union lazily.
    // Conflicts refuse loudly, on the resolver's terms:
    //   - names compare CASE-INSENSITIVELY (Spark's default resolution):
    //     a batch 'Score' against a mart 'score' would otherwise slip past
    //     a case-sensitive check and withColumn("Score", null) would
    //     case-insensitively REPLACE the mart's populated column;
    //   - types compare by simpleString, which ignores nested-container
    //     nullability (array containsNull etc.) — parquet round-trips and
    //     toDF literals disagree on those bits while being fully
    //     merge-compatible.
    for (f <- updates.schema.fields; g <- targetRaw.schema.fields
         if f.name.equalsIgnoreCase(g.name)) {
      if (f.name != g.name)
        throw new IllegalArgumentException(
          s"schema evolution case conflict: mart has '${g.name}', batch has " +
            s"'${f.name}' — Spark resolves names case-insensitively, pick one spelling")
      if (f.dataType.simpleString != g.dataType.simpleString)
        throw new IllegalArgumentException(
          s"schema evolution type conflict on '${f.name}': mart has " +
            s"${g.dataType.simpleString}, batch has ${f.dataType.simpleString}")
    }
    def widen(df: DataFrame, other: org.apache.spark.sql.types.StructType) =
      other.fields.filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(df)((acc, f) =>
          acc.withColumn(f.name, lit(null).cast(f.dataType)))
    val unionCols = (updates.columns ++
      targetRaw.columns.filterNot(c => updates.columns.exists(_.equalsIgnoreCase(c))))
      .toIndexedSeq
    val target = widen(targetRaw, updates.schema).select(unionCols.map(col): _*)
    val updatesWide = widen(updates, targetRaw.schema).select(unionCols.map(col): _*)
    val merged = graft.ops.CoreOps.upsert(target, updatesWide, key, updateCols)

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(martPath).getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(martPath + ".tmpparts")
    instrument(merged).write.mode("overwrite").option("compression", ParquetCodec)
      .partitionBy(partitionCol).parquet(tmp.toString)
    // Per-directory swap, crash-safe per partition: old dir renames ASIDE
    // (outside the mart root, so partition discovery never sees it), new dir
    // renames in, then the aside copy drops. A crash mid-loop leaves each
    // partition either fully old, fully new, or old-under-aside — never
    // absent; [[recoverMart]] restores aside dirs on next access
    // and the keyed upsert makes the replayed run idempotent.
    // Guard against non-canonical partition directory names: discovery
    // casts e.g. "day=2024-1-1" to the same VALUE as the canonical
    // "day=2024-01-01" this rewrite emits — swapping in the canonical dir
    // would leave the old dir in place holding the SAME keys (duplicate
    // rows on every later read). Refuse loudly before touching the mart;
    // the operator normalizes the layout (one rewrite) first.
    val tmpNames = fs.listStatus(tmp).map(_.getPath.getName)
      .filter(_.startsWith(s"$partitionCol=")).toSet
    val existingNames = fs.listStatus(hpath(martPath)).map(_.getPath.getName)
      .filter(_.startsWith(s"$partitionCol=")).toSet
    val prefixLen = partitionCol.length + 1
    val suspects = (existingNames -- tmpNames).toSeq.map(_.substring(prefixLen))
    if (suspects.nonEmpty && tmpNames.nonEmpty) {
      import spark.implicits._
      val partType = updates.schema(partitionCol).dataType
      val tmpValues = tmpNames.map(_.substring(prefixLen))
      val forks = suspects.toDF("raw")
        .select(col("raw"), col("raw").cast(partType).cast("string").as("canon"))
        .collect()
        .collect { case r if !r.isNullAt(1) && r.getString(1) != r.getString(0) &&
          tmpValues.contains(r.getString(1)) => r.getString(0) }
      if (forks.nonEmpty)
        throw new IllegalStateException(
          s"non-canonical partition dirs ${forks.map(v => s"$partitionCol=$v").mkString(", ")} " +
            s"hold the same value(s) this merge would write canonically — " +
            "normalize the mart layout before merging (duplicate-key hazard)")
    }
    val asideRoot = new org.apache.hadoop.fs.Path(martPath + ".aside")
    fs.mkdirs(asideRoot)
    fs.listStatus(tmp)
      .filter(_.getPath.getName.startsWith(s"$partitionCol="))
      .foreach { part =>
        val dst = new org.apache.hadoop.fs.Path(martPath, part.getPath.getName)
        val aside = new org.apache.hadoop.fs.Path(asideRoot, part.getPath.getName)
        TreeSwap.deleteOrThrow(fs, aside)
        if (fs.exists(dst)) TreeSwap.renameOrThrow(fs, dst, aside)
        TreeSwap.renameOrThrow(fs, part.getPath, dst)
        TreeSwap.deleteOrThrow(fs, aside)
      }
    fs.delete(tmp, true)
    fs.delete(asideRoot, true)
    merged.schema
  }

  def martExists(spark: SparkSession, martPath: String): Boolean = {
    recoverMart(spark, martPath)
    val p = new org.apache.hadoop.fs.Path(martPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /**
   * Small-files compaction: rewrite a parquet directory into
   * ⌈bytes / targetFileBytes⌉ files (atomic tmp-swap). Incremental
   * append-per-run staging (and any streaming sink) accretes small files;
   * at scale the file count — not the byte count — kills scan planning
   * (one task + one open per file). Run periodically or when
   * `fileCount / idealCount` exceeds ~10×.
   */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    compactRoot(spark, path, TreeSwap.Compact, None, targetFileBytes)

  /** The one compaction body: recover `kind`'s swap, size the rewrite from
    * the root's bytes, and swap the coalesced union in as `kind`. With a
    * `level` partition column, its directories fold into one `level=0`. */
  private[graft] def compactRoot(spark: SparkSession, path: String,
                                 kind: TreeSwap.Kind, level: Option[String],
                                 targetFileBytes: Long): Unit = {
    TreeSwap.recover(spark, path, kind)
    val p = hpath(path)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // mergeSchema: after an additive schema evolution the directory holds
    // files of different widths — reading a single sampled footer here
    // would silently and PERMANENTLY drop the evolved columns in the
    // rewrite (compaction is the one op that replaces every file)
    val all = spark.read.option("mergeSchema", "true").parquet(path)
    val df = level.fold(all)(all.drop).coalesce(nFiles)
    TreeSwap.swap(spark, path, kind) { tmp =>
      df.write.mode("overwrite").option("compression", ParquetCodec)
        .parquet(level.fold(tmp)(l => s"$tmp/$l=0"))
    }
  }

  // -------------------------------------------------------------------------
  // Bucketed tables — co-located joins without a per-query shuffle
  // -------------------------------------------------------------------------

  /** Bucketed + bucket-sorted managed-table write: the table is physically
    * hash-partitioned by `bucketCol` into `n` buckets at WRITE time, so
    * every subsequent equi-join or aggregation on that key plans with NO
    * Exchange — the shuffle is paid once, not per query. This is the
    * 100 TB answer for fact⋈fact joins where neither side broadcasts
    * (the staging⋈mart merge in [[graft.ops.CoreOps.upsert]] being the
    * canonical case: bucket both tiers by `_id`). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    n: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(n, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /**
   * Range-sorted layout write — the data-skipping counterpart to
   * [[writeBucketed]]: `repartitionByRange` + `sortWithinPartitions` on
   * the hot filter column(s) gives every output file a DISJOINT value
   * range, so parquet's per-file/row-group min-max statistics let a
   * selective scan skip everything outside its predicate without any
   * index. At 100 TB this is the difference between "read 3 files" and
   * "read the corpus" for time-range or key-range queries — the poor
   * man's clustering key, paid once at write. One range-exchange shuffle
   * (sampled boundaries keep partitions even under skew); scans stay
   * shuffle-free.
   */
  def writeRangeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                       nFiles: Int): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").option("compression", ParquetCodec)
      .parquet(path)
  }

  /**
   * Parquet BLOOM-FILTER layout write — the point-lookup complement of
   * [[writeRangeSorted]]'s min-max skipping: min-max stats prune RANGE
   * predicates but are useless for `key = X` probes on a column whose
   * values interleave across files (every file's [min,max] straddles X).
   * A per-row-group bloom filter answers "definitely absent" for equality
   * probes, so a needle lookup over 100 TB opens row groups instead of
   * scanning them — the standard trick for id-probe tables (dedup
   * verification reads, incremental-merge key probes). `ndv` sizes the
   * filter (~1.2 GB per 10⁹ distinct keys at 1% fpp, split across row
   * groups). Readers get the skipping for free
   * (`spark.sql.parquet.filterPushdown` is on by default).
   */
  def writeBloomFiltered(df: DataFrame, path: String, bloomCols: Seq[String],
                         ndv: Long = 1000000L): Unit =
    bloomCols.foldLeft(
        df.write.mode("overwrite").option("compression", ParquetCodec)) {
      (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }.parquet(path)

  /**
   * Z-ORDER layout write — multi-dimensional data skipping where
   * [[writeRangeSorted]] covers one dimension: interleave the bits of two
   * integer-keyed columns into a single Morton code and range-sort on it.
   * Files then cover compact RECTANGLES of the (a, b) key space instead of
   * slabs of one key, so parquet min-max stats prune selective scans on
   * EITHER column (or both) — the standard multi-dim clustering layout
   * (Delta/Iceberg `ZORDER BY` do exactly this). Each key is first rank-
   * normalized into `2^bitsPerDim` equi-depth cells via `ntile` (raw values
   * would let one skewed dimension dominate the interleave). Cost: one
   * window rank per dimension + one range exchange, paid once at write;
   * scans stay shuffle-free.
   *
   * File cuts are aligned to Morton-PREFIX blocks (z >> k), not sampled z
   * quantiles: a sampled cut lands mid-quadrant and the straddling file
   * then unions two z-distant rectangles — blowing its min-max extent up
   * to a full dimension and killing the skipping property the layout
   * exists for. Block-aligned cuts keep every file inside one rectangle
   * by construction (`nFiles` must be a power of two for the alignment).
   *
   * Cells are SAMPLED-QUANTILE equi-depth buckets (the
   * [[graft.ops.StatsOps.withRangeBuckets]] kernel): boundary quality
   * only moves cell balance, never the rectangle property (assignment
   * stays monotone in the key), and the corpus never funnels through
   * the single-task global window an `ntile` would plan — the write
   * path holds at 100 TB. `bitsPerDim` ≤ 10 keeps the cell comparison
   * chain codegen-bounded (a 2^10-cell grid is already 1M rectangles).
   */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int, bitsPerDim: Int = 8): Unit = {
    import org.apache.spark.sql.functions._
    require(bitsPerDim >= 1 && bitsPerDim <= 10, "bitsPerDim in [1,10]")
    require(nFiles > 0 && (nFiles & (nFiles - 1)) == 0,
      s"nFiles=$nFiles must be a power of two (block-aligned z cuts)")
    val blockBits = 31 - Integer.numberOfLeadingZeros(nFiles)
    require(blockBits <= 2 * bitsPerDim, "nFiles exceeds the z-code space")
    val cells = 1 << bitsPerDim
    // full-input sketch (not the default 20% sample): a layout write is
    // a full pass anyway, and tight cell boundaries keep file rectangles
    // at their nominal fractional extents even on small inputs
    val ranked = graft.ops.StatsOps.withRangeBuckets(
        graft.ops.StatsOps.withRangeBuckets(df, colA, desc = false,
            nBuckets = Some(cells), sampleFraction = 1.0)
          .withColumnRenamed("__bkt", "__za"),
        colB, desc = false, nBuckets = Some(cells), sampleFraction = 1.0)
      .withColumnRenamed("__bkt", "__zb")
    // Morton interleave: bit i of a → bit 2i, bit i of b → bit 2i+1
    val z = (0 until bitsPerDim).map { i =>
      (shiftright(col("__za"), i).bitwiseAND(1).cast("long") * (1L << (2 * i))) +
      (shiftright(col("__zb"), i).bitwiseAND(1).cast("long") * (1L << (2 * i + 1)))
    }.reduce(_ + _)
    ranked.withColumn("__z", z)
      .withColumn("__zfile", shiftright(col("__z"), 2 * bitsPerDim - blockBits))
      .repartitionByRange(nFiles, col("__zfile"))
      .sortWithinPartitions(col("__zfile"), col("__z"))
      .drop("__za", "__zb", "__z", "__zfile")
      .write.mode("overwrite").option("compression", ParquetCodec)
      .parquet(path)
  }

  // -------------------------------------------------------------------------
  // Text formats — CSV / JSON-lines, schema always pinned
  // -------------------------------------------------------------------------

  /** CSV source with an explicit schema — NEVER inferSchema: schema
    * inference on a text format is a full extra pass over the data (at
    * 100 TB, a second 100 TB read before the first real job). Same rule the
    * engine applies at the parquet boundary (SURVEY.md §1.3). */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSON-lines source with an explicit schema (no inference pass). */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC source/sink — Spark's second native columnar format (self-
    * describing schema, predicate pushdown and column pruning work the same
    * as parquet). Interop surface for ORC-standardized warehouses; parquet
    * stays the engine default. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zlib").orc(path)

  /** Connectivity probe (DAG:79-84: Mongo ping + PG SELECT 1): a status
    * call on the source dir, the one question a directory source can be
    * asked. No Spark job — a `SELECT 1` would only show the local session
    * is up, never that the source is reachable. The check goes through
    * the Hadoop FileSystem API — java.io.File answers about the driver's
    * LOCAL disk and would report false for every hdfs:///s3a:// source
    * dir, failing the pipeline's require at startup on any real cluster
    * (same bug class as dropRun's original). */
  def probe(spark: SparkSession, sfDir: String): Boolean = {
    // contract: a boolean probe — malformed URIs and transient FS errors
    // answer false rather than propagate (the caller's `require` is the
    // loud path; the probe itself never throws on bad input)
    try {
      val p = hpath(sfDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getFileStatus(p).isDirectory
    } catch {
      case _: java.io.IOException | _: IllegalArgumentException => false
    }
  }

  // -------------------------------------------------------------------------
  // External connectors — jar-gated JDBC seam
  // -------------------------------------------------------------------------

  /** A JDBC boundary (the reference's PostgreSQL sink / MongoDB source
    * analog, DAG:270-276 / DAG:94-132). `driver` is the JDBC driver class
    * whose presence on the classpath gates the connector path. */
  final case class JdbcTarget(url: String, table: String,
                              driver: String = "org.postgresql.Driver",
                              user: String = "", password: String = "")

  /** True iff the target's JDBC driver jar is on the classpath. This build
    * environment ships no connector jars (documented, SURVEY §7.4.5), so
    * the seam is jar-gated at RUNTIME rather than assumed: deployments add
    * the jar and get `format("jdbc")` with no code change; without it every
    * boundary falls back to parquet. */
  def jdbcDriverPresent(driver: String): Boolean =
    try { Class.forName(driver); true } catch { case _: Throwable => false }

  private def defaultJdbcWrite(df: DataFrame, t: JdbcTarget): Unit =
    df.write.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).option("driver", t.driver)
      .option("user", t.user).option("password", t.password)
      .mode("append").save()

  private def defaultJdbcRead(spark: SparkSession, t: JdbcTarget): DataFrame =
    spark.read.format("jdbc")
      .option("url", t.url).option("dbtable", t.table).option("driver", t.driver)
      .option("user", t.user).option("password", t.password)
      .load()

  /** Write through JDBC when the driver is present, else parquet fallback.
    * Returns the branch taken ("jdbc" | "parquet"). The actual JDBC write is
    * an injectable seam so the gate is unit-testable with no server. */
  def writeJdbcOrParquet(df: DataFrame, target: JdbcTarget,
                         fallbackPath: String,
                         jdbcWrite: (DataFrame, JdbcTarget) => Unit =
                           defaultJdbcWrite): String =
    if (jdbcDriverPresent(target.driver)) { jdbcWrite(df, target); "jdbc" }
    else {
      df.write.mode("overwrite").option("compression", ParquetCodec)
        .parquet(fallbackPath)
      "parquet"
    }

  /** Read through JDBC when the driver is present, else parquet fallback.
    * JDBC predicate/projection pushdown then applies upstream exactly as
    * the reference pushes its window filter into Mongo (DAG:124-132). */
  def readJdbcOrParquet(spark: SparkSession, target: JdbcTarget,
                        fallbackPath: String,
                        jdbcRead: (SparkSession, JdbcTarget) => DataFrame =
                          defaultJdbcRead): DataFrame =
    if (jdbcDriverPresent(target.driver)) jdbcRead(spark, target)
    else spark.read.parquet(fallbackPath)

  /** Keyed PARTIAL-UPDATE upsert against a live JDBC table — the
    * reference's `INSERT ... ON CONFLICT (key) DO UPDATE SET <subset>`
    * (DAG:279-316), kept SERVER-SIDE the way the reference keeps it:
    * Spark ships ONLY the update rows (staged through `format("jdbc")`
    * into a run-scoped `<table>_updates_<runId>` staging table, dropped
    * after the merge), then one `MERGE INTO` statement runs inside
    * the database. At 100 TB-mart scale this is the only sane shape — a
    * read-merge-overwrite round trip would pull the whole mart through
    * the driver's JDBC pipe twice and drop the table between; here the
    * mart never leaves the server and non-update columns keep their
    * target values exactly as `ON CONFLICT DO UPDATE SET` leaves them.
    *
    * Identifier discipline: Spark's JDBC writer quotes COLUMN names at
    * CREATE (case-sensitive in Derby/Postgres), while the `dbtable` name
    * passes through unquoted — the MERGE text below mirrors that (quoted
    * columns, as-is table names) — and because these names are
    * interpolated into SQL text, every table/key/column name is first
    * validated against a strict `[A-Za-z][A-Za-z0-9_]*` pattern (no
    * quoting trick survives that alphabet). Update rows with a NULL key
    * are dropped first: `ON t.k = u.k` can never match them and the
    * reference's conflict target is a PK.
    *
    * Staging is RUN-SCOPED: each call stages into a unique
    * `<table>_updates_<runId>` table and DROPs it in a finally block, so
    * concurrent upserts against the same target never clobber each
    * other's staging rows and no stale staging table lingers after the
    * MERGE (success or failure). Pass `runId` explicitly to make the
    * staging name deterministic (e.g. the pipeline's run id, giving
    * at-most-once staging per logical run); the default draws a fresh
    * unique suffix per call. */
  def jdbcUpsert(updates: DataFrame, target: JdbcTarget, key: String,
                 updateCols: Seq[String], runId: String = ""): Unit = {
    require(updateCols.nonEmpty && !updateCols.contains(key),
      s"bad update set ${updateCols.mkString(",")} for key $key")
    val cols = updates.columns.toIndexedSeq
    require(cols.contains(key) && updateCols.forall(cols.contains),
      s"update set/key must be update columns: ${cols.mkString(",")}")
    val ident = "[A-Za-z][A-Za-z0-9_]*".r
    (target.table +: key +: cols).foreach { n =>
      require(ident.matches(n), s"unsafe SQL identifier: '$n'")
    }
    val suffix =
      if (runId.nonEmpty) {
        require(ident.matches(runId), s"unsafe runId: '$runId'"); runId
      } else java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val stage = target.copy(table = s"${target.table}_updates_$suffix")
    updates.filter(col(key).isNotNull)
      .write.format("jdbc")
      .option("url", stage.url).option("dbtable", stage.table)
      .option("driver", stage.driver)
      .option("user", stage.user).option("password", stage.password)
      .mode("overwrite").save()
    def q(c: String) = "\"" + c + "\""
    val sql =
      s"""MERGE INTO ${target.table} t USING ${stage.table} u
         |ON t.${q(key)} = u.${q(key)}
         |WHEN MATCHED THEN UPDATE SET ${
           updateCols.map(c => s"${q(c)} = u.${q(c)}").mkString(", ")}
         |WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")})
         |VALUES (${cols.map(c => s"u.${q(c)}").mkString(", ")})""".stripMargin
    Class.forName(target.driver)
    val conn = java.sql.DriverManager.getConnection(
      target.url, target.user, target.password)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    } finally {
      // best-effort staging cleanup: the MERGE outcome (committed or
      // thrown) is already decided; a failed DROP must not mask it
      try {
        val st = conn.createStatement()
        try st.executeUpdate(s"DROP TABLE ${stage.table}") finally st.close()
      } catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }

  // -------------------------------------------------------------------------
  // External connectors — jar-gated document-store source
  // -------------------------------------------------------------------------

  /** A document-store source boundary (the reference's MongoDB collection,
    * DAG:94-96 `client[DB][COLLECTION]`). `providerClass` is the Spark
    * connector's DataSource registration class whose classpath presence
    * gates the connector path (the MongoDB Spark connector's V2 provider). */
  final case class DocStoreTarget(
      uri: String, database: String, collection: String,
      format: String = "mongodb",
      providerClass: String = "com.mongodb.spark.sql.connector.MongoTableProvider")

  /** True iff the document-store connector jar is on the classpath. Same
    * runtime jar-gating discipline as [[jdbcDriverPresent]]: deployments
    * that ship the connector get `format("mongodb")` with aggregation-
    * pipeline pushdown (the reference pushes projection+filter+sort into
    * Mongo server-side, DAG:98-132) and no code change; this sandbox has no
    * connector jars, so every boundary falls back to parquet. */
  def docStoreProviderPresent(providerClass: String): Boolean =
    try { Class.forName(providerClass); true } catch { case _: Throwable => false }

  private def defaultDocStoreRead(spark: SparkSession, t: DocStoreTarget): DataFrame =
    spark.read.format(t.format)
      .option("connection.uri", t.uri)
      .option("database", t.database)
      .option("collection", t.collection)
      .load()

  /** Read through the document-store connector when its provider class is
    * present, else parquet fallback. Catalyst pushes the caller's
    * projection/filters into either scan — connector pushdown upstream
    * mirrors the reference's server-side Mongo find() options
    * (DAG:98-132). The connector read is an injectable seam so both
    * branches are unit-testable with no server. */
  def readDocStoreOrParquet(spark: SparkSession, target: DocStoreTarget,
                            fallbackPath: String,
                            docRead: (SparkSession, DocStoreTarget) => DataFrame =
                              defaultDocStoreRead): DataFrame =
    if (docStoreProviderPresent(target.providerClass)) docRead(spark, target)
    else spark.read.parquet(fallbackPath)
}
