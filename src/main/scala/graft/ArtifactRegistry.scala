package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession

/** The one memoizer for session-shared artifacts (cluster stores,
  * shingle index, trained models, prepared graphs, persisted frames, …)
  * and the instrument that counts their builds.
  *
  * Round 14 proved the failure mode the counting exists to expose:
  * `q_item_cf_topk` silently paid an ~11 s cold rebuild whenever other
  * queries' persists evicted the shared basket frame mid-bench — the
  * cost was charged to an innocent query and NOTHING recorded that a
  * rebuild had happened. Every artifact is one [[memo]] call under its
  * registry key, and every miss is timed, so:
  *
  *   - build count + wall seconds are recorded per artifact key;
  *   - any key building more than once in a JVM logs a LOUD stderr
  *     line at build time (a second build is either a session restart
  *     — legitimate, visible — or a memoization bug);
  *   - [[Bench]] emits the full per-artifact map in `bench_out.json`
  *     and rebuild totals on the stdout summary line, and
  *     `ArtifactBuildOnceSpec` asserts a full `SparkEntry.queries`
  *     sweep builds every artifact exactly once.
  *
  * Session rule: a value tied to a session (a persisted frame, a
  * prepared graph, the shingle index) is memoized with the caller's
  * session and is a hit only for that same session — after a same-JVM
  * session restart the dead entry is rebuilt (its cache died with its
  * context; dropping the reference is the whole cleanup). A value tied
  * to none (a store path, a driver-side model) is kept across sessions.
  *
  * Scope note: the counters observe the build. For disk stores and
  * models that is the whole build job, so the seconds are the true build
  * cost. For persisted frames the build constructs the plan and calls
  * `.persist()` — materialization is lazy and rides the FIRST
  * consumer's action, so block-level cache eviction recomputes
  * silently without re-entering the memo. That second failure mode is
  * covered by [[Bench]]'s storage snapshots (`sc.getRDDStorageInfo`
  * diffs between queries → spill/drop events), not by these counters;
  * the two instruments are designed as a pair.
  */
object ArtifactRegistry {

  /** A memoized value and, if it is tied to one, the session that built it. */
  private final case class Entry(value: Any, session: Option[SparkSession])

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private val totalSecs = new ConcurrentHashMap[String, java.lang.Double]()

  /** The artifact under `key`: `build` runs on a miss, every later call
    * reads the stored value back. Pass the caller's `session` for a value
    * tied to it; an entry built under another session is then a miss.
    *
    * The build runs outside any map update, so it may itself memo other
    * keys (a wave store starts from the ingest base store; the category
    * baskets project the item baskets). A build that throws stores
    * nothing and counts no build. Callers build from one thread: there
    * is no per-key lock, so two threads missing the same key would both
    * build it (and the counter would say so). */
  def memo[T](key: String, session: Option[SparkSession] = None)
             (build: => T): T =
    Option(entries.get(key)) match {
      case Some(e) if e.session.forall(b => session.exists(_ eq b)) =>
        e.value.asInstanceOf[T]
      case _ =>
        val out = timed(key)(build)
        entries.put(key, Entry(out, session))
        out
    }

  /** Run a build: count it, time it, and shout on any build after the
    * first. A build that throws records nothing. */
  private def timed[T](key: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val out = build
    val sec = (System.nanoTime() - t0) / 1e9
    val nth = counts.computeIfAbsent(key, _ => new AtomicInteger(0))
      .incrementAndGet()
    totalSecs.merge(key, sec, (a, b) => a + b)
    if (nth > 1)
      System.err.println(
        f"[artifact] REBUILD #$nth%d of '$key' took $sec%.3f s — " +
          "session restart or memoization bug; bench timings for the " +
          "triggering query are polluted")
    out
  }

  /** (build count, total build seconds) per artifact key. */
  def snapshot(): Map[String, (Int, Double)] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, n) =>
      k -> ((n.get, Option(totalSecs.get(k)).fold(0.0)(_.doubleValue)))
    }.toMap
  }

  /** [[snapshot]] as a JSON object, keys sorted:
    * `{"<key>":{"builds":n,"secs":s}, ...}`, seconds to ms. */
  def json(): String =
    snapshot().toSeq.sortBy(_._1).map { case (k, (n, s)) =>
      s"${Harness.quote(k)}:{\"builds\":$n,\"secs\":${Harness.r3(s)}}"
    }.mkString("{", ",", "}")
}
