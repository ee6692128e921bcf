package graft
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.SparkSession

/** The one timing loop: every declared query (or the ones named as
  * arguments), built then drained, best of `SPARK_GRAFT_BENCH_PASSES`
  * (default 3) interleaved passes, against `SPARK_GRAFT_SF_DIR`. The
  * summary line goes to stdout and the full JSON to `SPARK_GRAFT_BENCH_OUT`
  * (default `bench_out.json`).
  *
  * A scale run is two Bench runs over the same query set, one against an
  * sf dir and one against its [[ScaleGen]] k× replica;
  * `tools/scale_compare.py` reads the two output files.
  *
  * Usage: `runMain graft.Bench [query ...]`
  */
object Bench {

  /** Fixed-work ambient-load probe: a dependent-LCG busy loop (~100 ms on
    * an unloaded core, zero allocation, zero I/O) on each of `n` threads,
    * all started together, timed immediately before each measurement pass;
    * returns wall seconds until the LAST finishes. The box is shared, and
    * whole runs have recorded 2–4× inflation from neighbor load; emitting
    * the probe times alongside the query times makes the bench
    * self-adjudicating — a reader normalizes recorded seconds by the
    * calibration spread instead of re-running the bench to decide whether a
    * "regression" is code or neighbors.
    *
    * `calibratePar(1)` is the single-thread probe (`calibration`). It is
    * blind to MODERATE neighbor load: a neighbor pinning 8 of 32 cores
    * leaves the single probe a free core (flat reading) while every
    * 32-thread query loses ~25% — exactly the "diffuse ×1.1 creep, flat
    * calibration" signature round 14 could not adjudicate. So each pass
    * also runs it on one thread per core (`calibration_par`): on a quiet
    * box that reads ≈ the 1-thread probe (independent cores); under
    * multi-core contention it inflates proportionally. */
  private def calibratePar(n: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (1 to n).map { seed =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + seed
        var i = 0
        while (i < 60000000) {
          x = x * 6364136223846793005L + 1442695040888963407L
          i += 1
        }
        // data-dependent side effect so the JIT cannot elide the loop
        if (x == 42L) System.err.print("")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative JVM GC milliseconds across all collectors. Persisted
    * artifacts live on the one local-mode heap; if the growing artifact
    * set is taxing every query via collection pressure, the per-pass GC
    * delta shows it directly instead of leaving a diffuse unattributable
    * creep. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Per-RDD cached state: id -> (name, cachedPartitions, memSize,
    * diskSize). Diffing consecutive snapshots between queries makes
    * block-level cache churn VISIBLE: a drop in cachedPartitions means a
    * shared artifact must silently recompute on next touch (the round-14
    * item-CF pathology — ~11 s charged to an innocent query with nothing
    * recording why); memSize→diskSize movement is a spill (slower reads,
    * no recompute). Driver-local in-memory call — negligible cost. */
  private def storageSnapshot(spark: SparkSession)
      : Map[Int, (String, Int, Long, Long)] =
    spark.sparkContext.getRDDStorageInfo.map { i =>
      i.id -> ((i.name: String, i.numCachedPartitions, i.memSize, i.diskSize))
    }.toMap

  /** Used heap after a forced GC, in MB. Read at the start and the end of
    * the timed passes: a driver accumulating per-row state (the
    * scale-killer class) shows an end−start delta growing with the data;
    * bounded artifacts (grids, centroids, heaps) do not. */
  private def usedHeapMb(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
  }

  /** Summed peak usage of the heap pools, in MB — mostly executor-side
    * unified memory (shuffle and aggregation buffers) in local mode. */
  private def peakHeapMb(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).fold(0L)(_.getUsed)).sum >> 20
  }

  /** One query's sample in one pass: build-and-drain seconds (negated on
    * failure), build seconds (the query function's call, incl. eager driver
    * jobs), and what it ran. */
  private final case class Sample(time: Double, build: Double, profile: Harness.Profile)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    Harness.warm(spark, sfDir)
    // A failed query records the NEGATED elapsed time — a broken query must
    // stay distinguishable from a fast one in the JSON.
    // Best-of-N per query, passes INTERLEAVED (all queries pass 1, then all
    // pass 2): single-pass timings on a shared box are hostage to whoever
    // else is on the CPU, and noise bursts are time-local — back-to-back
    // passes of one query sit inside the same burst (observed: a 0.5s query
    // at 36s in BOTH adjacent passes while isolated re-runs gave 0.9s).
    // Interleaving puts a whole sweep between a query's passes, so the min
    // discards JIT/GC/neighbor spikes the adjacent-pass form could not.
    // UNIFORM pass count for EVERY query (protocol v2). Round 10 granted
    // extra passes only to the slowest decile; min over more samples is
    // stochastically smaller, so slow-tail timings (and the total) dropped
    // relative to rounds measured under uniform min-of-2 even with
    // byte-identical code — the exact cross-round comparison the change
    // meant to protect. Noise-robustness now comes from PROVENANCE
    // instead: every sample's pass carries its own ambient-load probe, and
    // each query's chosen min is reported as {time, pass, cal} so a reader
    // separates code from box per query rather than trusting the min.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt max 1
    // SORTED run order (protocol v2.1): `queries` is a hash map, so the
    // pre-r15 insertion-order run sequence RESHUFFLED wholesale every time
    // keys were added — which query pays a shared artifact's first build,
    // which neighbors pollute a query's page/code cache, and where each
    // query sits relative to GC pressure all changed round-to-round on
    // unchanged code (the r13→r14 driver compare shows a diffuse ×1.1
    // shift plus ±1.5× scatter on small queries — exactly order-churn's
    // signature). Sorted order is stable under insertion: new keys shift
    // only their alphabetic neighbors. Trailing query names restrict the
    // run to those queries (a scale run over a chosen set), same order.
    val names = (if (args.isEmpty) SparkEntry.queries.keys.toSeq else args.toSeq)
      .distinct.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such query: ${unknown.mkString(", ")}")
    // JIT-warm the probe once so pass-1 calibration isn't interpreter time
    calibratePar(2)
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    val parCalibrations = scala.collection.mutable.ArrayBuffer.empty[Double]
    val gcSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // storage-churn events: (pass, query, rddName, kind, detail)
    val churn = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, String)]
    var storBefore = storageSnapshot(spark)
    // snapshots each RDD id has been observed in: per-op scratch frames
    // (persist → unpersist(blocking=false) inside ONE query) surface in at
    // most one boundary snapshot before their async removal lands — their
    // disappearance is by design, not churn. Only an RDD seen at ≥2
    // boundaries (a long-lived artifact) going away is worth an event.
    val seenCount = scala.collection.mutable.Map.empty[Int, Int]
    // seed from the pre-loop snapshot: a long-lived artifact cached during
    // warmup and evicted during the very first query would otherwise read
    // seenCount=1 at its disappearance and dodge the `gone` detector
    storBefore.keysIterator.foreach(id => seenCount.update(id, 1))
    val heapStart = usedHeapMb()
    val passSamples = (1 to passes).map { pass =>
      calibrations += calibratePar(1)
      parCalibrations += calibratePar(cpus)
      val gc0 = gcMillis()
      val res = names.map { name =>
        // the profile's listener-bus drains sit outside the timed span
        val ((time, build), profile) = Harness.profiled(spark.sparkContext) {
          val t0 = System.nanoTime()
          var build = 0.0
          val ok = try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            build = (System.nanoTime() - t0) / 1e9
            Harness.drain(df); true
          } catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          (if (ok) sec else -sec, build)
        }
        val storAfter = storageSnapshot(spark)
        storAfter.keysIterator.foreach(id =>
          seenCount.update(id, seenCount.getOrElse(id, 0) + 1))
        storBefore.foreach { case (id, (nm, cp0, mem0, dsk0)) =>
          val short = nm.replaceAll("\\s+", " ").take(48)
          storAfter.get(id) match {
            case Some((_, cp1, mem1, dsk1)) =>
              if (cp1 < cp0)
                churn += ((pass, name, short, "drop", s"cached $cp0->$cp1"))
              else if (mem1 < mem0 && dsk1 > dsk0)
                churn += ((pass, name, short, "spill",
                  s"mem ${mem0 / 1024}K->${mem1 / 1024}K"))
            case None if cp0 > 0 && seenCount.getOrElse(id, 0) >= 2 =>
              churn += ((pass, name, short, "gone", s"cached $cp0->0"))
            case None =>
          }
        }
        storBefore = storAfter
        name -> Sample(time, build, profile)
      }.toMap
      gcSecs += (gcMillis() - gc0) / 1e3
      res
    }
    val heapEnd = usedHeapMb()
    val heapPeak = peakHeapMb()
    // chosen sample: fastest clean pass, or the most-negative (failed) one —
    // a query that failed any pass stays visibly negative in the JSON.
    // detail = (chosen sample, 1-based pass it came from, that pass's probe)
    val detail = names.map { name =>
      val times = passSamples.map(_(name).time)
      val passIdx = times.indexOf(times.min)
      name -> ((passSamples(passIdx)(name), passIdx + 1, calibrations(passIdx)))
    }.toMap
    // Continuity metric: the same queries under the round-1 `.count()`
    // methodology (Catalyst prunes to counts — under-measures projection
    // cost, but directly comparable with earlier rounds' totals).
    calibrations += calibratePar(1)
    val countTotal = names.map { name =>
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
      catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) sec else -sec
    }.sum
    // ms precision: keeps the one-line JSON compact enough to survive the
    // driver's stdout tail window even at 130+ queries (full-precision
    // floats pushed the line past it); the file below keeps ms too — ±1 ms
    // is far inside run-to-run noise.
    import Harness.r3
    val qs = names.map(n => s"\"" + n + "\":" + r3(detail(n)._1.time))
      .mkString("{", ",", "}")
    // per-query provenance: which pass the min came from and that pass's
    // ambient-load probe — a judge separates "code got slower" from "that
    // pass ran under neighbor load" per query, without re-running anything.
    // The same pass's build seconds and job/stage/task counts split the
    // time into driver build, scheduling and compute; a job count that
    // differs between passes is a first build (or a rebuild) of an artifact.
    val qd = names.map { name =>
      val (s, p, c) = detail(name)
      s"\"" + name + s"\":{\"time\":${r3(s.time)},\"pass\":$p,\"cal\":${r3(c)}," +
        s"\"build\":${r3(s.build)},\"jobs\":${s.profile.jobs.size}," +
        s"\"stages\":${s.profile.stages},\"tasks\":${s.profile.tasks}," +
        passSamples.map(_(name).profile.jobs.size).mkString("\"jobs_by_pass\":[", ",", "]}")
    }.mkString("{", ",", "}")
    val total = names.map(detail(_)._1.time).sum
    // calibration: fixed-work probe seconds, one before each drain pass and
    // one before the count-method sweep; spread = max/min. A spread near 1.0
    // means a quiet box; >>1 flags which passes ran under ambient load.
    val calJson = calibrations.map(r3).mkString("[", ",", "]")
    val calSpread =
      if (calibrations.nonEmpty) calibrations.max / calibrations.min else 1.0
    // artifact lifecycle: every memoized shared artifact's build count and
    // build-lambda seconds (ArtifactRegistry). All passes share one session,
    // so ANY count > 1 here is a real rebuild — the exact event class that
    // silently poisoned q_item_cf_topk in round 14.
    val artifacts = ArtifactRegistry.snapshot()
    val artifactRebuilds = artifacts.valuesIterator.map(_._1 - 1).filter(_ > 0).sum
    val artifactSecs = artifacts.valuesIterator.map(_._2).sum
    // storage churn between queries: "drop" = cached partitions lost (next
    // touch recomputes — the silent-rebuild pathology), "spill" = memory →
    // disk movement (slower reads, no recompute), "gone" = RDD left the
    // store entirely (usually a deliberate per-op unpersist whose async
    // removal landed after the query boundary — noise unless it names a
    // long-lived artifact).
    val dropCount = churn.count(_._4 == "drop")
    val spillCount = churn.count(_._4 == "spill")
    val churnJson = churn.map { case (p, q, nm, kind, det) =>
      s"""{"pass":$p,"q":"$q","kind":"$kind","rdd":${Harness.quote(nm)},"detail":"$det"}"""
    }.mkString("[", ",", "]")
    val gcJson = gcSecs.map(r3).mkString("[", ",", "]")
    val pcalJson = parCalibrations.map(r3).mkString("[", ",", "]")
    // The driver records only a bounded TAIL of stdout (observed:
    // BENCH_r10.json kept the last 2000 chars and its full-line parse came
    // back null) — so stdout leads with the bulky per-query map and ends
    // with the summary fields, keeping metric/value/calibration inside any
    // reasonable tail window; the committed bench_out.json carries the
    // complete form including per-query {time, pass, cal} provenance.
    // Heap: used-after-GC before and after the timed passes, and the pools'
    // peak — read outside the passes.
    val summary =
      s""""metric":"total","value":${r3(total)},"unit":"sec","protocol":"v2.1-sorted-min","passes":$passes,"agg":"min","count_method_total":${r3(countTotal)},"calibration":$calJson,"calibration_par":$pcalJson,"gc_secs_per_pass":$gcJson,"artifact_rebuilds":$artifactRebuilds,"artifact_build_secs":${r3(artifactSecs)},"storage_drops":$dropCount,"storage_spills":$spillCount,"calibration_spread":${r3(calSpread)},"heap_start_mb":$heapStart,"heap_end_mb":$heapEnd,"heap_peak_mb":$heapPeak,"n_queries":${names.size},"sf":"$sfDir""""
    println(s"""{"queries":$qs,$summary}""")
    val json =
      s"""{"queries":$qs,"query_detail":$qd,"artifacts":${ArtifactRegistry.json()},"storage_churn":$churnJson,$summary}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
  }
}
