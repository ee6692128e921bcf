package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampType}

/** Outcome of one op: its input rows, whether it passed its check, and the
  * numbers the check or the layer ratios need. */
final case class OpResult(rows: Long, ok: Boolean, error: String = "",
                          extracted: Long = 0L, admitted: Long = 0L)

/** One workload: set-up that warms the JVM and builds state, then a fixed
  * op sequence run against that state. */
trait Workload {
  /** Layer of a job whose call site names no program file. */
  def fallbackLayer: String
  /** Builds the pre-built state in `dir`. */
  def build(dir: Path): Unit
  /** Warm-up before the build (JIT, codegen, memoized artifacts), with its
    * own state under `dir`. */
  def warmUp(dir: Path): Unit
  /** The op sequence; inputs are opened here, before the clock starts. */
  def ops: Seq[(String, Path => OpResult)]
  /** Per-op checks that read the op's output back after the clock stops:
    * (passed, error, admitted rows). Empty when `ops` checks inline. */
  def opChecks(dir: Path): Seq[(Boolean, String, Long)] = Nil
  /** Checks the state the whole sequence left behind. */
  def finalCheck(dir: Path): Option[String]
}

object Workloads {
  def apply(spark: SparkSession, plan: JsonNode, spans: Spans): Workload =
    plan.get("workload").asText match {
      case "etl_cron" => new Etl(spark, plan)
      case "llm_ingest" => new Ingest(spark, plan)
      case "query_mix" => new QueryMix(spark, plan, spans)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
}

/** `Pipeline.run` over a list of windows, some of them replays, against a
  * mart pre-built in set-up. */
final class Etl(spark: SparkSession, plan: JsonNode) extends Workload {
  import graft.pipeline.Pipeline

  private val input = plan.get("input").asText
  private val windows = plan.get("windows").elements.asScala.toSeq
  private val prebuild = plan.get("prebuild")
  private val warm = plan.get("warmup").elements.asScala.toSeq

  def fallbackLayer = "pipeline"

  def build(dir: Path): Unit =
    Pipeline.run(spark, input, prebuild.get("start").asText, prebuild.get("end").asText,
      runId = "prebuild", workDir = dir.toString)

  def warmUp(dir: Path): Unit = {
    warm.zipWithIndex.foreach { case (w, i) =>
      Pipeline.run(spark, w.get("input").asText, w.get("start").asText,
        w.get("end").asText, runId = s"warmup_$i", workDir = dir.toString)
    }
    Main.deleteTree(dir)
  }

  def ops: Seq[(String, Path => OpResult)] = windows.map { w =>
    val (start, end, runId) = (w.get("start").asText, w.get("end").asText,
      w.get("run_id").asText)
    val expected = w.get("rows").asLong
    val f: Path => OpResult = dir => {
      val r = Pipeline.run(spark, input, start, end, runId, dir.toString)
      val qcOk = r.qc.getOrElse("n_rows", 0L) > 0L &&
        r.qc.forall { case (k, v) => k == "n_rows" || v == 0L }
      val ok = r.reconciled && qcOk && r.extracted == expected && r.loaded == expected
      OpResult(expected, ok,
        if (ok) "" else s"$runId: extracted=${r.extracted} loaded=${r.loaded} " +
          s"expected=$expected reconciled=${r.reconciled} qc=${r.qc}",
        extracted = r.extracted)
    }
    (runId, f)
  }

  /** Order-independent content checksum of the mart against the same
    * checksum of the generated source rows the windows (and the pre-built
    * part) cover. Replays must leave it unchanged. */
  def finalCheck(dir: Path): Option[String] = {
    val (lo, hi) = (plan.get("covered_start").asText, plan.get("covered_end").asText)
    val mart = spark.read.parquet(dir.resolve("mart").toString)
      .select(col("_id").cast("long").as("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"), col("props_k"))
    val src = spark.read.parquet(s"$input/events.parquet")
      .withColumn("ts", col("ts").cast(TimestampType))
      .filter(col("ts") >= lit(lo).cast(TimestampType) && col("ts") < lit(hi).cast(TimestampType))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"),
        get_json_object(col("props"), "$.k").cast("long").as("props_k"))
    def digest(df: DataFrame) = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(20, 0))),
        lit(0).cast(DecimalType(30, 0))).cast("string")).head()
    val (m, s) = (digest(mart), digest(src))
    if (m.getLong(0) == s.getLong(0) && m.getString(1) == s.getString(1)) None
    else Some(s"mart checksum (${m.getLong(0)}, ${m.getString(1)}) != " +
      s"source checksum (${s.getLong(0)}, ${s.getString(1)})")
  }
}

/** `IngestOps.ingestWave` over waves of generated documents against a base
  * corpus built in set-up with the public store builders. */
final class Ingest(spark: SparkSession, plan: JsonNode) extends Workload {
  import graft.ext._

  private val input = plan.get("input").asText
  private val waves = plan.get("waves").elements.asScala.toSeq

  def fallbackLayer = "ext"

  private def stores(dir: Path) = IngestOps.WaveStores(
    s"$dir/corpus", s"$dir/bandidx", s"$dir/clusters", s"$dir/ann",
    s"$dir/lex", s"$dir/report")

  def build(dir: Path): Unit = {
    val st = stores(dir)
    val base = spark.read.parquet(s"$input/base.parquet")
    base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(base, "doc_id", "text", n = 3, numHashes = 16, bands = 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    ClusterStore.build(st.clusterPath,
      DedupOps.minhashDedupPairs(base, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.4))
    val withVec = base.filter(col("embedding").isNotNull)
    AnnIndexStore.save(st.annPath, withVec, "doc_id", "embedding",
      SimilarityOps.takeCentroids(withVec, "doc_id", "embedding", 8))
    LexIndexStore.build(st.lexPath, base, "doc_id", "text")
  }

  /** None: the base build warms the JVM, and a warm-up wave would cost as
    * much as a timed one. */
  def warmUp(dir: Path): Unit = ()

  def ops: Seq[(String, Path => OpResult)] = waves.zipWithIndex.map { case (w, i) =>
    val waveId = i + 1L
    val batch = spark.read.parquet(s"$input/wave_$waveId.parquet")
    val f: Path => OpResult = dir => {
      IngestOps.ingestWave(spark, batch, "doc_id", "text", "embedding",
        stores(dir), waveId)
      // the report is read back after the op's clock stops
      OpResult(w.get("expected").size, ok = true)
    }
    (s"wave_$waveId", f)
  }

  /** Every wave row appears exactly once in its report, with the disposition
    * the generator planted (exact copies of admitted text are near-dups,
    * short or stopword-free text fails the gate, the rest is admitted). */
  override def opChecks(dir: Path): Seq[(Boolean, String, Long)] =
    waves.indices.map(checkWave(dir, _))

  private def checkWave(dir: Path, i: Int): (Boolean, String, Long) = {
    val w = waves(i)
    val expected = w.get("expected").fields.asScala
      .map(e => e.getKey.toLong -> e.getValue.asText).toMap
    val got = spark.read.parquet(s"${stores(dir).reportPath}/wave=${i + 1}")
      .select("doc_id", "disposition").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val byId = got.toMap
    val admitted = got.count(_._2 == "admitted").toLong
    if (got.size != expected.size || byId.size != got.size)
      (false, s"wave ${i + 1}: ${got.size} report rows, ${byId.size} distinct, " +
        s"${expected.size} wave rows", admitted)
    else {
      val bad = expected.filter { case (id, d) => !byId.get(id).contains(d) }
      if (bad.isEmpty) (true, "", admitted)
      else (false, s"wave ${i + 1}: ${bad.size} dispositions differ, e.g. " +
        bad.take(3).map { case (id, d) => s"$id expected $d got ${byId.get(id)}" }
          .mkString("; "), admitted)
    }
  }

  def finalCheck(dir: Path): Option[String] = None
}

/** A fixed list of `SparkEntry.queries`, each built and then drained the way
  * the program's `Bench` drains. Set-up builds and drains every query once
  * on the cold session, which also builds the memoized artifacts. After the
  * timed phase every query's output is written for the oracle-hash check,
  * built the way the timed ops build it, on top of those artifacts. */
final class QueryMix(spark: SparkSession, plan: JsonNode, spans: Spans)
    extends Workload {
  private val input = plan.get("input").asText
  private val order = plan.get("order").elements.asScala.map(_.asText).toSeq
  private val slowestFirst = plan.get("queries").elements.asScala.map(_.asText).toSeq
  private val outDir = plan.get("out").asText
  private lazy val queries = graft.SparkEntry.queries

  def fallbackLayer = "exec"
  def build(dir: Path): Unit = ()

  def warmUp(dir: Path): Unit = eachQuery(name => drain(queries(name)(spark, input)))

  /** Runs `f` on every query from four driver threads: a cold JVM spends
    * most of a query's first run in driver-side planning and code
    * generation, which concurrent queries overlap. The slowest queries go
    * first, so the threads end close together. */
  private def eachQuery(f: String => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = slowestFirst.map { name =>
        pool.submit(new Runnable { def run(): Unit = f(name) })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Forces every row and column of the plan on the executors with no
    * driver collect. */
  private def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }

  def ops: Seq[(String, Path => OpResult)] = order.map { name =>
    val f: Path => OpResult = _ => {
      val df = spans("build", name)(queries(name)(spark, input))
      spans("drain", name)(drain(df))
      OpResult(0L, ok = true)
    }
    (name, f)
  }

  /** Writes every query's output under `$outDir`, the way the program's
    * `Verify` does; run.py compares them with the oracle hashes. */
  def finalCheck(dir: Path): Option[String] = {
    eachQuery(name => queries(name)(spark, input).coalesce(1).write
      .mode("overwrite").parquet(s"$outDir/$name"))
    None
  }
}
