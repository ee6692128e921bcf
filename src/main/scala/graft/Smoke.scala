package graft

/** Local smoke runner for the driver's t1 check: runs `SparkEntry.entry`
  * (the flagship end-to-end pipeline on sf0.001) and prints the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    val df = SparkEntry.entry(spark)
    df.show(truncate = false)
    println(s"ENTRY_ROWS=${df.count()}")
    spark.stop()
  }
}
