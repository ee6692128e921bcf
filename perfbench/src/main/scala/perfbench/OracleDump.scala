package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Writes, for the named queries, the DuckDB oracle SQL and the program's
  * output over `<input>`, the way the program's `Verify` does, plus one
  * drained run time per query. `oracle.py` turns these into the query_mix
  * oracle hashes.
  *
  * Usage: perfbench.OracleDump <input> <out> <cores> <query>... */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val Array(input, out, cores) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = Main.session(cores.toInt, Paths.get(out))
    try {
      val queries = graft.SparkEntry.queries
      val times = names.map { name =>
        queries(name)(spark, input).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        val t = System.nanoTime()
        queries(name)(spark, input).queryExecution.toRdd.foreachPartition { it =>
          while (it.hasNext) it.next()
        }
        name -> (System.nanoTime() - t) / 1e9
      }
      val oracle = graft.SparkEntry.oracleSql
      Files.write(Paths.get(s"$out/oracle.json"), Json.value(Map(
        "sql" -> names.map(n => n -> oracle(n)).toMap,
        "seconds" -> times.toMap)).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
