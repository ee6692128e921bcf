package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs and writes a plan;
  * this process starts the session, runs the workload's set-up, then the op
  * sequence on the set-up state (traced or not), checks the outputs and
  * writes raw measurements as JSON.
  *
  * Usage: perfbench.Main <plan.json> <result.json> */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val work = Paths.get(plan.get("work").asText)
    val t0 = System.nanoTime()
    val spark = session(plan.get("cores").asInt, work)
    val sessionS = secs(t0)
    try {
      val traced = plan.get("trace").asInt == 1
      val spans = new Spans(spark.sparkContext, enabled = traced)
      val wl = Workloads(spark, plan, spans)
      // warm-up first, on its own inputs, so the build below and the timed
      // phase run on a warm JVM
      val tw = System.nanoTime()
      wl.warmUp(work.resolve("warm"))
      val warmS = secs(tw)
      val base = Files.createDirectories(work.resolve("state"))
      val tb = System.nanoTime()
      wl.build(base)
      val prebuildS = secs(tb)
      System.err.println(
        f"[perfbench] session $sessionS%.3f s, warm-up $warmS%.3f s, build $prebuildS%.3f s")
      val fileLayer = plan.get("file_layers").fields.asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
      val phase = runPhase(spark, wl, base, traced, spans,
        fileLayer, Option(plan.get("trace_out")).map(_.asText).orNull)
      val out = Json.obj(
        "session_s" -> sessionS,
        "prebuild_s" -> prebuildS,
        "warmup_s" -> warmS,
        "phase" -> phase)
      Files.write(Paths.get(args(1)), out.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  private def runPhase(spark: SparkSession, wl: Workload, dir: Path,
                       traced: Boolean, spans: Spans,
                       fileLayer: Map[String, String],
                       traceOut: String): Map[String, Any] = {
    val sc = spark.sparkContext
    // opening the inputs (schema reads) is no part of the traced sequence
    val sequence = wl.ops
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(sc.addSparkListener)
    // garbage left by set-up is collected here, not inside the first ops
    System.gc()
    val t0 = System.nanoTime()
    val ops = sequence.map { case (name, f) =>
      val t = System.nanoTime()
      val r = try spans("op", name)(f(dir))
      catch { case e: Throwable => OpResult(0L, ok = false, s"$name: $e") }
      val s = secs(t)
      System.err.println(f"[perfbench] op $name%s $s%.3f s")
      (name, s, r)
    }
    val wall = secs(t0)
    val heapMb = retainedHeapMb()
    val layers = tracer.map { t =>
      t.settle(sc)
      sc.removeSparkListener(t)
      val jobs = t.jobs.values.asScala.toSeq.sortBy(_.id)
      Option(traceOut).foreach(p => Files.write(Paths.get(p), Json.value(Map(
        "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
        "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span,
          "site" -> t.execSites.getOrDefault(j.execId, j.site), "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks,
          "run_ms" -> j.runMs)))).getBytes(StandardCharsets.UTF_8)))
      Layers.attribute(spans.all, jobs, t.execSites.asScala.toMap, fileLayer,
        wl.fallbackLayer)
    }
    val tc = System.nanoTime()
    val checks = wl.opChecks(dir)
    val opJson = ops.zipWithIndex.map { case ((name, s, r), i) =>
      val (ok, err, admitted) = checks.lift(i).getOrElse((true, "", r.admitted))
      Map("name" -> name, "s" -> s, "rows" -> r.rows, "ok" -> (r.ok && ok),
        "error" -> (r.error + err), "extracted" -> r.extracted, "admitted" -> admitted)
    }
    val finalErr = try wl.finalCheck(dir).getOrElse("")
    catch { case e: Throwable => s"final check: $e" }
    System.err.println(f"[perfbench] heap $heapMb%.1f MB, checks ${secs(tc)}%.3f s")
    Map("traced" -> traced, "wall_s" -> wall, "heap_mb" -> heapMb,
      "ops" -> opJson, "final_error" -> finalErr) ++ layers.map { a =>
      Map("layers" -> a.layers, "per_op_layer_job_s" -> a.perOp,
        "gap_s" -> a.gapSeconds, "build_s" -> a.buildSeconds,
        "unattributed_jobs" -> a.unattributedJobs,
        "qc_records_read" -> a.qcRecordsRead,
        "trace_overhead_s" -> tracer.get.overheadSeconds)
    }.getOrElse(Map.empty)
  }

  /** The session the program's own entry points (`Bench`, `Verify`) start,
    * with its scratch and warehouse directories under `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap still live once the timed phase is over: state the program keeps.
    * Spark's cleaner releases the blocks and shuffle state of collected
    * frames on its own thread after a GC, so collect again after a pause
    * until two readings agree within 1 MB. */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = Double.MaxValue
    var cur = used()
    var i = 0
    while (math.abs(cur - prev) > 1.0 && i < 8) {
      Thread.sleep(250)
      prev = cur
      cur = used()
      i += 1
    }
    cur
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
