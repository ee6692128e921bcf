package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (`plans/r16/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> [query ...]`
  * (no query names = every declared query). Each query `q` writes
  * `<outDir>/<q>_<suffix>.txt`. Plans are captured without executing the
  * query (formatted explain of the optimized physical plan; AQE shows the
  * initial plan, which is the committed shape the optimizer starts from).
  * It stays its own main rather than a [[Bench]] mode: it explains without
  * executing, so it is not a timing loop.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(Harness.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"PlanDump: no such query $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            println(s"PLAN $name -> $outDir/${name}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"PlanDump: $name failed: $e")
          }
      }
    }
    spark.stop()
  }
}
