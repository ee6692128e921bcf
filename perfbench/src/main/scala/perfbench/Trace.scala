package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span of the benchmark's own timeline: an op, or for query_mix the
  * construction call and the drain inside an op. Times are epoch ms, the
  * clock Spark stamps its job events with. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** Spans recorded around the public calls the benchmark makes. The id of the
  * innermost open span rides on a Spark local property, so every job a call
  * submits (also from threads it starts) carries the span that caused it. */
final class Spans(sc: SparkContext, enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Long] = Nil

  def apply[T](kind: String, name: String)(body: => T): T =
    if (enabled) record(kind, name)(body) else body

  private def record[T](kind: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open.headOption.getOrElse(0L)
    val prev = sc.getLocalProperty(Spans.Key)
    sc.setLocalProperty(Spans.Key, id.toString)
    open = id :: open
    val t0 = System.currentTimeMillis()
    try body
    finally {
      done += Span(id, parent, kind, name, t0, System.currentTimeMillis())
      open = open.tail
      sc.setLocalProperty(Spans.Key, prev)
    }
  }

  def all: Seq[Span] = done.toSeq
}

object Spans {
  val Key = "perfbench.span"
}

/** Counters of one Spark job, filled by the tracer's callbacks. */
final class JobRec(val id: Int, val span: Long, val execId: String,
                   val site: String, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Records every Spark job as a child of the span that was open when it was
  * submitted, with its tasks' counters. Registered only for the traced run. */
final class Tracer extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  private val selfNs = new AtomicLong(0L)

  /** Seconds the tracer itself cost: its callbacks plus the final drain. */
  def overheadSeconds: Double = selfNs.get / 1e9

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Spans.Key)))
      .map(_.toLong).getOrElse(0L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .getOrElse("")
    // the result stage is the job's newest; its name is the job's short call
    // site ("parquet at Stores.scala:102")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new JobRec(e.jobId, span, exec, site, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    started.incrementAndGet()
  }

  /** SQL execution id -> short call site of the action that started it. AQE
    * and broadcasts submit an execution's jobs from Spark's own threads, so
    * only the execution start carries the program frame that caused them. */
  val execSites = new ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
      execSites.put(s.executionId.toString, s.description)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val j = if (stageJob.containsKey(e.stageId)) jobs.get(stageJob.get(e.stageId)) else null
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      j.recordsWritten += m.outputMetrics.recordsWritten
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  /** Blocks until every event posted so far is delivered and every job that
    * started has ended — no fixed sleep. */
  def settle(sc: SparkContext): Unit = timed {
    val deadline = System.currentTimeMillis() + 60000L
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc, 60000L)
    while (started.get != ended.get && System.currentTimeMillis() < deadline) {
      Thread.sleep(5)
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc, 60000L)
    }
    require(started.get == ended.get,
      s"tracer: ${started.get} jobs started but ${ended.get} ended")
  }
}

/** Turns spans and job records into the per-layer metrics. */
object Layers {
  val Names: Seq[String] = Seq("pipeline", "sources", "ops", "ext", "entry", "exec")

  private val SiteFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored

  /** Union length of [start, end) intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total += curE - curS
    total / 1000.0
  }

  final case class Attributed(layers: Map[String, Map[String, Double]],
                              perOp: Seq[Map[String, Double]],
                              gapSeconds: Double, buildSeconds: Double,
                              unattributedJobs: Long,
                              qcRecordsRead: Long)

  /** Assigns each job a layer and sums the counters.
    *  - In a query_mix op, a job inside the construction span is `entry` and
    *    one inside the drain span is `exec`.
    *  - Otherwise the source file of the call site names the layer
    *    (`fileLayer`, derived from the program's package layout): the call
    *    site of the job's SQL execution, else the job's own, else
    *    `fallback`.
    *  - A job submitted outside any span is counted, not dropped. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec], execSites: Map[String, String],
                fileLayer: Map[String, String], fallback: String): Attributed = {
    val byId = spans.map(s => s.id -> s).toMap
    def opOf(id: Long): Option[Span] = byId.get(id).flatMap { s =>
      if (s.kind == "op") Some(s) else opOf(s.parent)
    }
    def fileOf(site: String): Option[String] = site match {
      case SiteFile(f) => fileLayer.get(f)
      case _ => None
    }
    def layerOf(j: JobRec): String = byId.get(j.span).map(_.kind) match {
      case Some("build") => "entry"
      case Some("drain") => "exec"
      case _ => execSites.get(j.execId).flatMap(fileOf)
        .orElse(fileOf(j.site)).getOrElse(fallback)
    }
    val traced = jobs.filter(j => j.span != 0L && opOf(j.span).nonEmpty)
    val layerJobs = traced.groupBy(layerOf)
    val ops = spans.filter(_.kind == "op").sortBy(_.start)
    val jobsOfOp = traced.groupBy(j => opOf(j.span).get.id)
    def iv(js: Seq[JobRec]) = js.map(j => (j.start, math.max(j.start, j.end)))

    val perOp = ops.map { op =>
      val js = jobsOfOp.getOrElse(op.id, Nil)
      js.groupBy(layerOf).map { case (l, ljs) => l -> unionSeconds(iv(ljs)) }
    }
    val layers = Names.map { l =>
      val js = layerJobs.getOrElse(l, Nil)
      val mb = 1024.0 * 1024.0
      l -> Map(
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "job_s" -> perOp.map(_.getOrElse(l, 0.0)).sum,
        "task_run_s" -> js.map(_.runMs).sum / 1000.0,
        "task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "gc_s" -> js.map(_.gcMs).sum / 1000.0,
        "records_read" -> js.map(_.recordsRead).sum.toDouble,
        "records_written" -> js.map(_.recordsWritten).sum.toDouble,
        "write_mb" -> js.map(_.bytesWritten).sum / mb,
        "shuffle_write_mb" -> js.map(_.shuffleWriteBytes).sum / mb,
        "spill_mb" -> js.map(_.spillBytes).sum / mb)
    }.toMap
    val gap = ops.map { op =>
      val covered = unionSeconds(iv(jobsOfOp.getOrElse(op.id, Nil)))
      math.max(0.0, (op.end - op.start) / 1000.0 - covered)
    }.sum
    val build = spans.filter(_.kind == "build").map(s => (s.end - s.start) / 1000.0).sum
    val qcRead = traced.filter(j => execSites.getOrElse(j.execId, j.site)
        .contains("QualityCheck.scala"))
      .map(_.recordsRead).sum
    Attributed(layers, perOp, gap, build, (jobs.size - traced.size).toLong, qcRead)
  }
}
