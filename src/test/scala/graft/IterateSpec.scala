package graft

import graft.ext.{DedupOps, SimilarityOps, TextOps}
import graft.ops.GraphOps
import org.apache.spark.CheckpointDirAccess
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The per-round lineage cut shared by every iterative operator
  * (`graft.ops.Iterate`): what it leaves behind, and its reliable form. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def edges = ((2L to 21L).map(l => (1L, l)) ++
    Seq((100L, 101L), (101L, 102L), (100L, 102L),
      (30L, 31L), (31L, 32L), (32L, 33L))).toDF("s", "t")
  private def pairs = edges.toDF("id1", "id2")
  private def seeds = Seq(1L, 30L).toDF("node")
  private def labeled = Seq(
    (0L, Array(1f, 0f)), (0L, Array(1.1f, 0.1f)), (0L, Array(9f, 9f)),
    (1L, Array(-1f, 2f)), (1L, Array(-1.2f, 2.1f))).toDF("label", "embedding")
  private def corpus = Seq(
    (1L, Array(1f, 0f, 0f, 0f)), (10L, Array(0.99f, 0.1f, 0f, 0f)),
    (11L, Array(0.989f, 0.11f, 0f, 0f)), (12L, Array(0.7f, 0f, 0.7f, 0f)),
    (13L, Array(0.1f, 0f, 0f, 1f))).toDF("vec_id", "embedding")

  private def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }

  private def sorted(df: DataFrame) =
    df.orderBy(df.columns.map(df(_)): _*).collect().toSeq

  /** RDD ids the call left persisted, minus the result's own checkpoint. */
  private def owned(run: => DataFrame): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    out.collect()
    sc.getPersistentRDDs.keySet.diff(before).toSet -- leaves(out).map(_.id)
  }

  test("iterative operators leave callers owning only their result") {
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRankScaled" -> (() => GraphOps.pageRankScaled(edges, "s", "t", 5)),
      "personalizedPageRankScaled" -> (() => GraphOps
        .personalizedPageRankScaled(edges, "s", "t", seeds, "node", 5)),
      "kCoreBounded" -> (() => GraphOps.kCoreBounded(edges, "s", "t", 2, 3)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(edges, "s", "t", 3)),
      "bfsHops" -> (() => GraphOps.bfsHops(edges, "s", "t", seeds, "node", 3)),
      "connectedComponents" -> (() => DedupOps.connectedComponents(pairs, 4)),
      "connectedComponentsStar" -> (() => DedupOps.connectedComponentsStar(pairs)),
      "geometricMedian" -> (() => SimilarityOps.geometricMedian(
        labeled, "label", "embedding", dims = 2, rounds = 4)),
      "mmrRerank" -> (() => SimilarityOps.mmrRerank(
        corpus.filter($"vec_id" === 1L), corpus, "vec_id", "embedding",
        pool = 4, k = 3, lambda = 0.5)),
      "bpeTrainMerges" -> (() => TextOps.bpeTrainMerges(Seq(
        (1L, "low lower lowest newer newest wider"),
        (2L, "low low lower newest widest")).toDF("id", "text"), "text", 4)
        .toDF("merge")))
    ops.map { case (name, run) => name -> owned(run()) }
      .filter(_._2.nonEmpty) shouldBe empty
  }

  test("a checkpoint directory makes every cut reliable, rows unchanged") {
    val sc = spark.sparkContext
    val local = (sorted(GraphOps.pageRankScaled(edges, "s", "t", 5)),
      sorted(DedupOps.connectedComponentsStar(pairs)))
    val dir = java.nio.file.Files.createTempDirectory("graft-checkpoint")
    sc.setCheckpointDir(dir.toString)
    try {
      val pr = GraphOps.pageRankScaled(edges, "s", "t", 5)
      val cc = DedupOps.connectedComponentsStar(pairs)
      (sorted(pr), sorted(cc)) shouldBe local
      for (df <- Seq(pr, cc)) {
        leaves(df) should not be empty
        leaves(df).foreach { rdd =>
          rdd.isCheckpointed shouldBe true
          rdd.getCheckpointFile shouldBe defined
        }
      }
      // every released round deleted its files: only the two results remain
      val root = new java.io.File(new java.net.URI(sc.getCheckpointDir.get))
      root.list().count(_.startsWith("rdd-")) shouldBe 2
    } finally {
      CheckpointDirAccess.clear(sc)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    sc.getCheckpointDir shouldBe empty
  }
}
