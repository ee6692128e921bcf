package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** `Harness.profiled`, the job/stage/task counter behind Bench's per-query
  * profile and JobBudgetSpec's budgets. */
class HarnessSpec extends SparkSpec {
  private val query = "q3_top_revenue_orders"

  private def profile(): Harness.Profile =
    Harness.profiled(spark.sparkContext) {
      Harness.drain(SparkEntry.queries(query)(spark, sf0001))
    }._2

  test("a query's profile is the same on two warm passes") {
    profile() // cold: codegen, footer reads
    val a = profile()
    val b = profile()
    a.jobs.size should be > 0
    a.stages should be >= a.jobs.size
    a.tasks should be >= a.stages
    (b.jobs, b.stages, b.tasks) shouldBe ((a.jobs, a.stages, a.tasks))
  }

  test("the profile counts what a plain SparkListener sees") {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger(0)
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
      }
    }
    profile() // warm; returns with the listener bus drained
    sc.addSparkListener(plain)
    // returns with the bus drained again: `plain` has seen every event too
    val p = try profile() finally sc.removeSparkListener(plain)
    (p.jobs.size, p.stages, p.tasks) shouldBe ((jobs.get, stages.get, tasks.get))
  }

  test("the profile never sleeps: a body that runs no job returns at once") {
    val t0 = System.nanoTime()
    val ps = (1 to 10).map(_ => Harness.profiled(spark.sparkContext)(())._2)
    val secs = (System.nanoTime() - t0) / 1e9
    all(ps) shouldBe Harness.Profile(Nil, 0, 0)
    // the fixed 300 ms flush this replaced would take 3 s here
    secs should be < 1.0
  }
}
