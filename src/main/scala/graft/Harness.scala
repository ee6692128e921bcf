package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every entry point (`Bench`, `Verify`, `Smoke`, `ScaleGen`,
  * `PlanDump`) and the test session share: the session rules, the drain
  * sink, the warm-up, and the per-body job profile. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, or every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The one session builder: `local[cpus]` with as many shuffle
    * partitions, UTC session time (day buckets and window bounds assume
    * it), `nanosAsLong` (`events.ts` is nanoseconds in parquet), AQE on,
    * no UI, WARN logs. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Unpartitioned windows are decided per query by PlanAuditSpec; Spark's
    // per-plan "No Partition Defined" warning would flood the log and hide
    // a real one.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** Force full evaluation of every output row WITHOUT an aggregating
    * action: `count()` lets Catalyst prune all columns (a projection-only
    * query then measures ~nothing and expression cost is under-weighted).
    * Draining the executed plan's internal-row iterator materializes every
    * column of every row on the executors — an honest no-op sink with no
    * driver collect. */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }

  /** Warm the session (codegen, shuffle service, parquet footer reads) so
    * startup cost isn't attributed to whichever query happens to run first. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/region.parquet").count()
    SparkEntry.queries.get("q_projection")
      .foreach(fn => try drain(fn(spark, sfDir)) catch { case _: Throwable => })
  }

  /** One started job: the short call site of its result stage
    * ("parquet at Stores.scala:216") and whether it ran inside a SQL
    * execution (the ones outside are schema inference while a DataFrame is
    * built). */
  final case class Job(site: String, inSql: Boolean)

  /** What a body ran: the jobs it started, and the stages (with their
    * tasks) that completed. Skipped stages never run and are not counted. */
  final case class Profile(jobs: Seq[Job], stages: Int, tasks: Int)

  /** `body`'s result and its [[Profile]], read after the listener bus
    * drains — no sleep. The bus is drained before the listener attaches
    * too, so events of earlier work are not counted. */
  def profiled[T](sc: SparkContext)(body: => T): (T, Profile) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(e.stageInfos.maxBy(_.stageId).name,
          Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
      }
    }
    GraftListenerBus.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBus.waitUntilEmpty(sc)
      import scala.jdk.CollectionConverters._
      (out, Profile(jobs.asScala.toSeq, stages.get, tasks.get))
    } finally sc.removeSparkListener(listener)
  }

  /** Seconds (or any figure) to ms precision for the JSON outputs. */
  def r3(v: Double): String = BigDecimal(v)
    .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load of Verify's `oracle_sql.json` fail and silently
    * zero the round's correctness. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
