package graft

/**
 * CI plan gate over EVERY `SparkEntry.registry` entry: compiles each query's
 * physical plan at sf0.001 and asserts the anti-patterns that sink a 100 TB
 * run can never silently return:
 *
 *  - `CartesianProduct` — O(|L|·|R|) with both sides shuffled; never
 *    acceptable in any query here.
 *  - `BroadcastNestedLoopJoin` — acceptable ONLY when the broadcast side is
 *    a bounded scalar / model artifact (a 1-row aggregate, a k-row centroid
 *    or query set). Those queries declare it on their `SparkEntry.QueryDef`
 *    (`plan = Set(Bnlj)`); everything else must plan an equi-join.
 *  - `Window` in the ANN top-k family (`plan = Set(AnnHeap)`) — the
 *    bounded-heap aggregate is the contract (the exchange carries
 *    ≤k-element buffers, not |Q|·|C| ranked pairs); a Window node means
 *    the heap regressed to a rank window.
 *
 * The assertions run on the statically-planned `executedPlan` (no
 * execution): AQE runtime replanning can turn a shuffle join into a
 * broadcast join, but never introduces a nested-loop or cartesian node that
 * the static planner didn't choose, so the static plan is the right (and
 * cheap) place to pin these.
 */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("plan gate: every query clean under graft.plans.PlanAudit (cartesian / BNLJ whitelist / ANN heap / unpartitioned windows, live whitelists)") {
    // The rule set lives in src/main graft.plans.PlanAudit and each
    // query's allowances (with their bound justifications) on its
    // SparkEntry.QueryDef, so the driver's Verify pass enforces the SAME
    // gate per round — round 13 shipped an oracle-green query with a red
    // plan that only this suite could see.
    val violations = SparkEntry.registry.sortBy(_.name).flatMap { q =>
      graft.plans.PlanAudit.violations(q.name, q.plan, q.build(spark, sf0001))
    }
    withClue(violations.mkString("plan violations:\n", "\n", "\n")) {
      violations shouldBe empty
    }
  }

  test("query registry: 456 distinct names, each with an oracle; the driver maps are its views") {
    val names = SparkEntry.registry.map(_.name)
    names.diff(names.distinct) shouldBe empty
    names should have size 456
    SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name) shouldBe empty
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
  }

  test("nested-document source: predicate pushdown + nested schema pruning reach the scan") {
    // The reference pushes find(query, projection) INTO Mongo (DAG:94-132)
    // so the server never ships unselected fields or unmatched documents.
    // The engine-side contract on a nested columnar source is the same,
    // enforced by Catalyst: a filter on a nested leaf lands in the scan's
    // PushedFilters, and the ReadSchema carries ONLY the selected leaves —
    // unread struct fields (profile.first_ts here) never leave the file.
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft_nested_").toString
    Seq((1L, 3L, "2024-01-01", Seq((10L, "a", 1.0), (11L, "b", 2.0))),
        (2L, 1L, "2024-02-02", Seq((20L, "c", 3.0))))
      .toDF("user_id", "n", "f", "ev")
      .select(col("user_id"),
        struct(col("n").as("n_events"), col("f").as("first_ts")).as("profile"),
        transform(col("ev"), e => struct(e.getField("_1").as("event_id"),
          e.getField("_2").as("event_type"), e.getField("_3").as("value")))
          .as("events"))
      .write.parquet(s"$work/docs")

    val q = spark.read.parquet(s"$work/docs")
      .filter(col("profile.n_events") >= 2)
      .select(col("user_id"), col("profile.n_events").as("n_events"),
        explode(col("events.event_id")).as("event_id"))
    val plan = q.queryExecution.executedPlan.toString

    // nested PREDICATE pushdown: the profile.n_events filter reaches the
    // parquet scan (server-side find(query) analog)
    plan should include("PushedFilters")
    plan should include regex "PushedFilters: \\[[^\\]]*profile\\.n_events"
    // nested SCHEMA pruning: only the read leaves survive in ReadSchema
    // (projection analog) — the unread profile.first_ts and the unread
    // array-element leaves must be pruned out of the scan
    val readSchema =
      "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    readSchema should include("n_events")
    // (`not` is shadowed by functions._ here — assert via boolean)
    readSchema.contains("first_ts") shouldBe false
    readSchema.contains("event_type") shouldBe false

    // and the result itself is right (filter kept user 1 only)
    q.orderBy("event_id").as[(Long, Long, Long)].collect() shouldBe
      Array((1L, 3L, 10L), (1L, 3L, 11L))
  }

  test("PQ/IVF queries ride the native kernels, not the declarative argmax") {
    // the struct-per-centroid/code forms cross Janino's 64 KB method
    // limit at production sizes and silently drop to interpreted eval —
    // these plans must carry the reference-object expressions
    Seq("q_pq_quantize", "q_pq_rerank", "q_ivfpq_topk").foreach { name =>
      withClue(s"$name missing graft_pq_encode: ") {
        planOf(name) should include("graft_pq_encode")
      }
    }
    Seq("q_ivf_topk", "q_ivf_topk_probe2", "q_ivfpq_topk").foreach { name =>
      withClue(s"$name missing graft_centroid_cells: ") {
        planOf(name) should include("graft_centroid_cells")
      }
    }
  }

  test("set-similarity verification rides the early-exit overlap kernel") {
    // the verify step of the two most expensive pair joins must carry
    // graft_overlap_ge (sorted-merge, remaining-length short-circuit) —
    // a silent regression to array_intersect walks both full arrays per
    // candidate and re-opens the round-11 top bench lines
    Seq("q_containment_pairs", "q_jaccard_prefix").foreach { name =>
      withClue(s"$name missing graft_overlap_ge: ") {
        planOf(name) should include("graft_overlap_ge")
      }
    }
  }

}
