package graft

import graft.ops.QualityCheck
import graft.sources.Stores
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PartitionedMartSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: Seq[(Long, String, Double, String)]) =
    rows.toDF("id", "s", "v", "day")

  test("martMergePartitioned rewrites only touched partitions") {
    val work = Files.createTempDirectory("graft_pmart_").toString
    val mart = s"$work/mart"

    // seed: two partitions
    Stores.martMergePartitioned(spark, mart,
      frame(Seq(
        (1L, "a", 1.0, "2024-01-01"), (2L, "b", 2.0, "2024-01-01"),
        (3L, "c", 3.0, "2024-01-02"))),
      key = "id", updateCols = Seq("v"), partitionCol = "day")

    val dayAFiles = new java.io.File(s"$mart/day=2024-01-01")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet

    // update one existing key and insert a new one, both in day 2
    Stores.martMergePartitioned(spark, mart,
      frame(Seq(
        (3L, "CHANGED", 30.0, "2024-01-02"),   // only v may change
        (4L, "d", 4.0, "2024-01-02"))),
      key = "id", updateCols = Seq("v"), partitionCol = "day")

    val out = Stores.martRead(spark, mart)
      .orderBy("id").select("id", "s", "v").as[(Long, String, Double)].collect()
    out shouldBe Array(
      (1L, "a", 1.0),      // untouched partition intact
      (2L, "b", 2.0),
      (3L, "c", 30.0),     // v updated, s keeps target (partial update)
      (4L, "d", 4.0))      // inserted

    // untouched partition directory was not rewritten
    val dayAAfter = new java.io.File(s"$mart/day=2024-01-01")
      .listFiles().map(f => (f.getName, f.lastModified())).toSet
    dayAAfter shouldBe dayAFiles
  }

  test("additive schema evolution: new batch column appears, old columns survive") {
    val work = Files.createTempDirectory("graft_pmart_evo_").toString
    val mart = s"$work/mart"
    Stores.martMergePartitioned(spark, mart,
      frame(Seq(
        (1L, "a", 1.0, "2024-01-01"), (3L, "c", 3.0, "2024-01-02"))),
      key = "id", updateCols = Seq("v"), partitionCol = "day")

    // the source grew a column: batch carries `extra`, touches only day 2
    val evolved = Seq((3L, "c", 30.0, "2024-01-02", "NEW"),
        (4L, "d", 4.0, "2024-01-02", "ALSO"))
      .toDF("id", "s", "v", "day", "extra")
    Stores.martMergePartitioned(spark, mart, evolved,
      key = "id", updateCols = Seq("v", "extra"), partitionCol = "day")

    val out = Stores.martRead(spark, mart)
      .orderBy("id").select("id", "s", "v", "extra")
      .as[(Long, String, Double, Option[String])].collect()
    out shouldBe Array(
      (1L, "a", 1.0, None),         // untouched partition: extra reads null
      (3L, "c", 30.0, Some("NEW")), // updated row gains the new column
      (4L, "d", 4.0, Some("ALSO")))

    // the reverse direction: a TRIMMED batch (no `extra`, no `s`) must not
    // drop the mart's columns on the partitions it rewrites
    val trimmed = Seq((4L, 40.0, "2024-01-02")).toDF("id", "v", "day")
    Stores.martMergePartitioned(spark, mart, trimmed,
      key = "id", updateCols = Seq("v"), partitionCol = "day")
    Stores.martRead(spark, mart).filter(col("id") === 4L)
      .select("s", "v", "extra").as[(String, Double, String)].head() shouldBe
      ("d", 40.0, "ALSO")

    // same-name different-type is refused loudly, not silently cast
    val conflict = Seq((5L, 5, "2024-01-02")).toDF("id", "v", "day") // v: int
    an[IllegalArgumentException] should be thrownBy
      Stores.martMergePartitioned(spark, mart, conflict,
        key = "id", updateCols = Seq("v"), partitionCol = "day")

    // a name differing only in CASE is a conflict too — Spark resolves
    // case-insensitively, so widening with "V" would clobber mart's "v"
    val caseClash = Seq((5L, 5.0, "2024-01-02")).toDF("id", "V", "day")
    val ex = intercept[IllegalArgumentException] {
      Stores.martMergePartitioned(spark, mart, caseClash,
        key = "id", updateCols = Seq("V"), partitionCol = "day")
    }
    ex.getMessage should include("case conflict")
  }

  test("QC over the merge's returned schema equals QC over the mergeSchema read") {
    val work = Files.createTempDirectory("graft_pmart_qc_").toString
    val mart = s"$work/mart"
    def days(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("day", to_date(col("day")))
    // the mart carries `legacy`, which the next batch lacks
    Stores.martMergePartitioned(spark, mart, days(Seq(
        (1L, "a", 1.0, "L1", "2024-01-01"), (2L, "b", 2.0, "L2", "2024-01-02"),
        (3L, "c", 3.0, "L3", "2024-01-03"))
      .toDF("id", "s", "v", "legacy", "day")),
      key = "id", updateCols = Seq("v"), partitionCol = "day")
    // the batch carries `fresh`, which the mart lacks; day 3 stays untouched
    // in the window, its files without `fresh`
    val schema = Stores.martMergePartitioned(spark, mart, days(Seq(
        (2L, "b", 20.0, "F2", "2024-01-02"), (4L, "d", 4.0, "F4", "2024-01-04"))
      .toDF("id", "s", "v", "fresh", "day")),
      key = "id", updateCols = Seq("v", "fresh"), partitionCol = "day")
    val window = col("day").between(lit("2024-01-02").cast("date"),
      lit("2024-01-04").cast("date"))
    val pinned = Stores.martRead(spark, mart, schema).filter(window)
    val inferred = Stores.martRead(spark, mart).filter(window)
    schema.fieldNames.toSet shouldBe inferred.columns.toSet
    import QualityCheck.{NotNull, Regex, Unique, ValidType}
    val passing = Seq(NotNull("id"), Unique("id"), Regex("legacy", "^L[0-9]$"),
      Regex("fresh", "^F[0-9]$"), ValidType("s", "string"))
    val qc = QualityCheck.check(pinned, passing)
    qc shouldBe QualityCheck.check(inferred, passing)
    qc("n_rows") shouldBe 3L
    // columns one side lacks read as null on the other side's rows
    val nulls = Seq(NotNull("legacy"), NotNull("fresh"), NotNull("s"))
    val counted = QualityCheck.report(pinned, nulls).head()
    counted shouldBe QualityCheck.report(inferred, nulls).head()
    counted.toSeq shouldBe Seq(3L, 1L, 1L, 0L)
  }

  test("touched-partition read plans with directory-level pruning") {
    val work = Files.createTempDirectory("graft_pmart_prune_").toString
    val mart = s"$work/mart"
    Stores.martMergePartitioned(spark, mart,
      frame(Seq((1L, "a", 1.0, "2024-01-01"), (2L, "b", 2.0, "2024-01-02"))),
      key = "id", updateCols = Seq("v"), partitionCol = "day")
    val read = Stores.martRead(spark, mart).filter(col("day") === "2024-01-02")
    read.count() shouldBe 1
    read.queryExecution.executedPlan.toString should include("PartitionFilters")
  }
}
