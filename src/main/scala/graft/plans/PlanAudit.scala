package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec

/**
 * The ONE source of truth for the repo's physical-plan gates — the
 * anti-patterns that sink a 100 TB run must never silently return:
 *
 *  - `CartesianProduct` — O(|L|·|R|) with both sides shuffled; never
 *    acceptable in any query here.
 *  - `BroadcastNestedLoopJoin` — acceptable ONLY when the broadcast side
 *    is a bounded scalar / model artifact (a 1-row aggregate, a k-row
 *    centroid or query set). Those queries declare [[Bnlj]] on their
 *    `SparkEntry.QueryDef`; everything else must plan an equi-join.
 *  - `Window` in the ANN top-k family (queries declaring [[AnnHeap]]) —
 *    the bounded-heap aggregate is the contract (the exchange carries
 *    ≤k-element buffers, not |Q|·|C| ranked pairs); a Window node means
 *    the heap regressed to a rank window.
 *  - UNPARTITIONED `Window` — a single-task sort at 100 TB unless the
 *    window input is bounded by construction (a grid whose cardinality
 *    does NOT grow with corpus size); those queries declare
 *    [[UnpartWindow]], and a query declaring it that stops planning one
 *    is itself a violation (stale allowance) so the allowances can
 *    never rot into a bypass.
 *
 * Enforced in TWO places off this object: `PlanAuditSpec` (the
 * `sbt test` CI gate, fails the suite) and [[graft.Verify]] (the
 * driver's per-round correctness dump, which records
 * `plan_violations.json` beside the query results — round 13 shipped a
 * query whose ANSWER was oracle-green but whose PLAN violated the gate,
 * and only `sbt test` could see it; now the driver's own artifact does
 * too).
 *
 * The checks run on the statically-planned `executedPlan` (no
 * execution): AQE runtime replanning can turn a shuffle join into a
 * broadcast join, but never introduces a nested-loop or cartesian node
 * the static planner didn't choose, so the static plan is the right
 * (and cheap) place to pin these.
 */
object PlanAudit {

  /** A reviewed plan allowance, declared on the query's
    * `SparkEntry.QueryDef` as `plan = Set(...)` with its justification
    * beside it: [[Bnlj]] and [[UnpartWindow]] each lift one gate,
    * [[AnnHeap]] adds the bounded-heap gate. A query that declares none
    * is held to every gate. */
  sealed trait Allowance

  /** The plan legitimately carries a BroadcastNestedLoopJoin: the
    * broadcast side is a bounded artifact (1-row corpus aggregate, ≤k
    * centroids, the broadcast query set of a top-k), so the "nested
    * loop" is a constant-width scalar join, the correct 100 TB plan.
    * Reviewed per query — declare it only with the same justification. */
  case object Bnlj extends Allowance

  /** An ANN/top-k path that must stay on the bounded-heap aggregate:
    * no Window node, and an ObjectHashAggregate present. */
  case object AnnHeap extends Allowance

  /** The plan legitimately carries an UNPARTITIONED Window: the window
    * input is bounded by construction — a grid whose cardinality does
    * NOT grow with corpus size (days, bins, cents/value range, top-k
    * limits, replicate counts, or the ≤256-row bucket grid of the
    * distributed rank kernel). This is the q_spearman gate (round 12's
    * one `weak`): an unpartitioned window over a corpus-scaled input is a
    * single-task sort at 100 TB, so any query NOT declaring this must
    * plan zero unpartitioned windows — and a query declaring it that
    * stops planning one must drop it (the stale-allowance check), so the
    * allowances can't rot into a bypass. Declare it only with the same
    * input-bound justification. */
  case object UnpartWindow extends Allowance

  /** All gate violations for one query's compiled plan (no execution),
    * given the query's declared allowances. Empty = the plan is clean.
    * The stale-allowance check is included so a rotted allowance
    * surfaces in every enforcement site. */
  def violations(name: String, allowed: Set[Allowance],
                 df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString
    val cart = "CartesianProduct".r.findAllIn(plan).length
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val nUnpart = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.length
    val annWin =
      if (allowed(AnnHeap)) "Window".r.findAllIn(plan).length else 0
    val checks = Seq(
      (cart > 0) ->
        s"$name: CartesianProduct x$cart",
      (bnlj > 0 && !allowed(Bnlj)) ->
        s"$name: BroadcastNestedLoopJoin x$bnlj (no Bnlj allowance)",
      (annWin > 0) ->
        s"$name: Window x$annWin in ANN plan",
      (allowed(AnnHeap) && !plan.contains("ObjectHashAggregate")) ->
        s"$name: ANN plan missing ObjectHashAggregate (heap) node",
      (nUnpart > 0 && !allowed(UnpartWindow)) ->
        (s"$name: $nUnpart unpartitioned Window(s) — single-task sort at " +
          "scale; partition it, route it through the distributed rank " +
          "kernel (StatsOps.distributedCumSum), or justify the bound in " +
          "its QueryDef's plan = Set(UnpartWindow)"),
      (nUnpart == 0 && allowed(UnpartWindow)) ->
        (s"$name: allowed UnpartWindow but plans no unpartitioned " +
          "window — remove the stale allowance"))
    checks.collect { case (true, msg) => msg }
  }
}
