package graft
import org.apache.spark.sql.functions._

/** Deterministic k× replication of a testdata sf dir into a scratch dir —
  * the input for the empirical scale audit (a [[Bench]] run against it).
  * Each replica r is a DISJOINT consistent universe: every key column (PKs
  * and the FKs that reference them) is offset by `r × STRIDE`, so per-key join
  * fanouts, group sizes, and graph degrees are identical to the source —
  * the ideal shape for measuring a scaling exponent, because any
  * super-linear growth is then the operator's, not the data's.
  *
  * Two columns need more than a key offset to keep replicas from
  * interacting in ways 10× real data would not:
  *
  *  - `documents.text`: replica r>0 is passed through a caesar
  *    `translate` (per-case alphabet rotation by r). Length, word
  *    boundaries, and within-replica token statistics are preserved
  *    exactly (rotation is a bijection on characters), but replica
  *    vocabularies are disjoint — without this every doc would have k−1
  *    exact cross-replica copies and the dedup family would measure a
  *    k× dup-density corpus instead of a k× corpus.
  *  - `embeddings.embedding`: replica r>0 rotates the dimension order by
  *    r. A coordinate permutation is an isometry — all within-replica
  *    pairwise cosines are EXACTLY the source's — while cross-replica
  *    neighbors decorrelate.
  *
  * `region`/`nation` stay as-is (bounded dimension tables; group-by-
  * nation groups grow k×, which is what a k× corpus does).
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <dstDir> [k]`
  */
object ScaleGen {
  private val Stride = 10000000L

  private val keyCols = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))
  private val copyOnly = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    require(k >= 1 && k <= 26, s"k=$k out of range (text rotation needs k<=26)")
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase

    keyCols.foreach { case (table, keys) =>
      val df = spark.read.parquet(s"$src/$table.parquet")
      val replicas = (0 until k).map { r =>
        var d = df
        keys.foreach { c =>
          d = d.withColumn(c,
            (col(c) + lit(r * Stride)).cast(df.schema(c).dataType))
        }
        if (table == "documents" && r > 0) {
          val to = lower.drop(r) + lower.take(r) + upper.drop(r) + upper.take(r)
          d = d.withColumn("text", translate(col("text"), lower + upper, to))
        }
        if (table == "embeddings" && r > 0)
          d = d.withColumn("embedding", expr(
            s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
              s"slice(embedding, 1, $r))"))
        d
      }
      replicas.reduce(_ union _)
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"SCALEGEN $table x$k done")
    }
    copyOnly.foreach { table =>
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"SCALEGEN $table copied")
    }
    println(s"SCALEGEN_DONE $dst k=$k")
    spark.stop()
  }
}
