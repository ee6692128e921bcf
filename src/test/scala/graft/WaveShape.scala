package graft

import graft.ext.{AnnIndexStore, ClusterStore, DedupOps, IngestOps,
  LexIndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ingest-wave fixture shared by `IngestWaveSpec` and `JobBudgetSpec`:
  * a two-doc base with one near-dup pair (so the base cluster store is
  * non-trivial) and six-doc waves with one doc per disposition plus a
  * second admit. */
object WaveShape {
  val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
  val baseTxt = "the quick brown fox jumps over the lazy dog today"
  private val txt102 = "alpha beta gamma delta epsilon the zeta omega kappa iota"

  def base(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (10L, baseTxt, Seq(0.9f, 0.1f, 0f, 0f)),
      (11L, baseTxt, Seq(0.8f, 0.2f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding")
  }

  def wave(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (101L, "xx", Seq(0.5f, 0.5f, 0f, 0f)),       // fails the gate
      (102L, txt102, Seq(0.1f, 0.9f, 0f, 0f)),      // admitted
      (103L, txt102, Seq(0.2f, 0.8f, 0f, 0f)),      // in-batch dup of 102
      (104L, baseTxt, Seq(0.7f, 0.3f, 0f, 0f)),     // dup of the corpus
      (105L, "one mango two melon three apple four grape the banana",
        Seq(0.6f, 0.6f, 0f, 0f)),                   // admitted
      (106L, null.asInstanceOf[String],
        Seq(0.4f, 0.6f, 0f, 0f)))                   // null text: no admission
      .toDF("doc_id", "text", "embedding")
  }

  /** A wave to run after [[wave]]: the same dispositions, its corpus dup
    * a copy of the earlier wave's admitted 102. */
  def nextWave(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val txt202 = "red green blue cyan the magenta yellow black white gray"
    Seq(
      (201L, "yy", Seq(0.5f, 0.5f, 0f, 0f)),
      (202L, txt202, Seq(0.1f, 0.9f, 0f, 0f)),
      (203L, txt202, Seq(0.2f, 0.8f, 0f, 0f)),
      (204L, txt102, Seq(0.7f, 0.3f, 0f, 0f)),
      (205L, "north south east west the upper lower inner outer center",
        Seq(0.6f, 0.6f, 0f, 0f)),
      (206L, null.asInstanceOf[String], Seq(0.4f, 0.6f, 0f, 0f)))
      .toDF("doc_id", "text", "embedding")
  }

  /** Fresh stores under `work` holding [[base]] as the admitted base. */
  def seed(spark: SparkSession, work: String): IngestOps.WaveStores = {
    val st = IngestOps.WaveStores(s"$work/corpus", s"$work/bandidx",
      s"$work/clusters", s"$work/ann", s"$work/lex", s"$work/report")
    val b = base(spark)
    b.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
    DedupOps.bandIndex(b, "doc_id", "text", n = 3, numHashes = 16,
        bands = 4)
      .write.parquet(s"${st.bandIndexPath}/wave=0")
    ClusterStore.build(st.clusterPath,
      DedupOps.minhashDedupPairs(b, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.9))
    AnnIndexStore.save(st.annPath, b, "doc_id", "embedding", cents)
    LexIndexStore.build(st.lexPath, b, "doc_id", "text", nBuckets = 8)
    st
  }

  def run(spark: SparkSession, st: IngestOps.WaveStores, batch: DataFrame,
          waveId: Long): DataFrame =
    IngestOps.ingestWave(spark, batch, "doc_id", "text",
      "embedding", st, waveId = waveId,
      n = 3, numHashes = 16, bands = 4, threshold = 0.9,
      minTokens = 5, maxTokens = 80, minStopHits = 1)
}
