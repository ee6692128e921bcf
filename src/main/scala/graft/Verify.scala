package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: one pass over SparkEntry.registry writes
  * each query's result → parquet, its plan violations and its
  * oracle_sql.json entry, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — trailing names restrict the
    // dump to those queries (local iteration; the driver passes none)
    val (Array(sfDir, outDir), onlyNames) = (args.take(2), args.drop(2).toSet)
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // Plan-gate audit per query (graft.plans.PlanAudit — the SAME rule
    // set PlanAuditSpec enforces under `sbt test`): round 13 shipped a
    // query whose answer was oracle-green but whose plan violated the
    // gate, invisible to the driver's correctness pass. Recording the
    // violations beside the results makes the per-round artifact carry
    // plan health too, not just answers.
    val planViolations = scala.collection.mutable.ArrayBuffer[String]()
    val oracles = scala.collection.mutable.ArrayBuffer[String]()
    import Harness.{quote => q}
    SparkEntry.registry
      .filter(query => onlyNames.isEmpty || onlyNames(query.name))
      .foreach { query =>
        val out = s"$outDir/${query.name}"
        oracles += s"${q(query.name)}: ${q(query.oracle)}"
        // a failed build must not leave an earlier run's output to be
        // compared as this run's
        graft.sources.DocsConnector.deleteTree(new java.io.File(out))
        try {
          val df = query.build(spark, sfDir)
          planViolations ++=
            graft.plans.PlanAudit.violations(query.name, query.plan, df)
          df.coalesce(1).write.mode("overwrite").parquet(out)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/plan_violations.json"),
      planViolations.map(q).mkString("[", ",", "]"))
    // artifact lifecycle beside the results: builds and build-lambda
    // seconds per memoized shared artifact (ArtifactRegistry). One Verify
    // sweep in one session must build each exactly once — a count > 1
    // here is the same red finding Bench's artifact_rebuilds flags.
    Files.writeString(Paths.get(s"$outDir/artifact_builds.json"),
      ArtifactRegistry.json())
    if (planViolations.nonEmpty)
      System.err.println(
        s"[verify] ${planViolations.size} plan-gate violation(s): " +
          planViolations.mkString("; "))
    spark.stop()
  }
}
