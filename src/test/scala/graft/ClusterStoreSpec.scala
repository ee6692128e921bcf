package graft

import graft.ext.{ClusterStore, DedupOps}
import graft.ext.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted dup-cluster artifact: store-backed reads must be
  * row-identical to from-scratch connected components, incremental append
  * must equal a full rebuild over the unioned pairs, and the swap must
  * survive a simulated crash. */
class ClusterStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A fresh store path; its temp dir is deleted when the test ends. */
  private def tmp(): String = {
    val dir = java.nio.file.Files.createTempDirectory("cstore_spec_")
    dirs += dir.toFile
    s"$dir/s"
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally {
      dirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
      dirs.clear()
    }

  private def pairsDf(p: (Long, Long)*): DataFrame =
    p.toSeq.toDF("id1", "id2")

  private def sortedRows(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("id").cast("long"), col("cluster_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("build: persisted assignment row-identical to from-scratch CC") {
    val path = tmp()
    // two chains + one clique + a self-contained pair
    val pairs = pairsDf((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
    ClusterStore.build(path, pairs)
    val direct = DedupOps.connectedComponentsStar(pairs)
    sortedRows(ClusterStore.assignment(spark, path)) shouldBe sortedRows(direct)
    ClusterStore.version(spark, path) shouldBe 1L
    // the evidence set round-trips
    ClusterStore.pairs(spark, path)
      .select("id1", "id2").as[(Long, Long)].collect().sorted shouldBe
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
        (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)).sorted
  }

  test("build with a checkpoint dir leaves no checkpoint files behind") {
    val sc = spark.sparkContext
    val pairs = pairsDf((1L, 2L), (2L, 3L), (10L, 11L))
    val dir = java.nio.file.Files.createTempDirectory("cstore_spec_ckpt_")
    dirs += dir.toFile
    sc.setCheckpointDir(dir.toString)
    try {
      val path = tmp()
      ClusterStore.build(path, pairs)
      sortedRows(ClusterStore.assignment(spark, path)) shouldBe
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      // every star round's cut, the labels' included, was deleted
      val root = new java.io.File(new java.net.URI(sc.getCheckpointDir.get))
      root.list().filter(_.startsWith("rdd-")) shouldBe empty
    } finally org.apache.spark.CheckpointDirAccess.clear(sc)
  }

  test("append: store path equals full rebuild over unioned pairs") {
    val path = tmp()
    val base = pairsDf((1L, 2L), (3L, 4L), (10L, 11L))
    // the batch bridges two existing clusters (2-3), extends one (11-12),
    // and introduces a brand-new component (50-51)
    val batch = pairsDf((2L, 3L), (11L, 12L), (50L, 51L))
    ClusterStore.build(path, base)
    ClusterStore.append(path, batch)
    val full = DedupOps.connectedComponentsStar(base.unionByName(batch))
    sortedRows(ClusterStore.assignment(spark, path)) shouldBe sortedRows(full)
    ClusterStore.version(spark, path) shouldBe 2L
    ClusterStore.pairs(spark, path).count() shouldBe 6L
  }

  test("rebuild bumps the version and replaces the tables") {
    val path = tmp()
    ClusterStore.build(path, pairsDf((1L, 2L)))
    ClusterStore.build(path, pairsDf((5L, 6L), (6L, 7L)))
    ClusterStore.version(spark, path) shouldBe 2L
    sortedRows(ClusterStore.assignment(spark, path)) shouldBe
      Seq((5L, 5L), (6L, 5L), (7L, 5L))
  }

  test("crash mid-swap: the whole store generation recovers ATOMICALLY") {
    val path = tmp()
    ClusterStore.build(path, pairsDf((1L, 2L), (2L, 3L)))
    val v1 = sortedRows(ClusterStore.assignment(spark, path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    // crash between live→prev and next→live: the MARKED next (which
    // carries assignment + pairs + meta together) promotes WHOLE — no
    // window where one table is new-generation and another old
    fs.rename(hp(path), hp(s"$path.next")) shouldBe true
    fs.exists(hp(s"$path.next/_STORE_SUCCESS")) shouldBe true
    ClusterStore.recover(spark, path)
    sortedRows(ClusterStore.assignment(spark, path)) shouldBe v1
    ClusterStore.version(spark, path) shouldBe 1L
    // a stale MARKED .next beside a live store must be dropped, never
    // later promoted over newer live data
    fs.mkdirs(hp(s"$path.next/assignment"))
    fs.create(hp(s"$path.next/_STORE_SUCCESS")).close()
    ClusterStore.recover(spark, path)
    new java.io.File(s"$path.next").exists() shouldBe false
    sortedRows(ClusterStore.assignment(spark, path)) shouldBe v1
    // crash mid-write: live renamed to .prev, an UNMARKED partial next —
    // the backup restores
    fs.rename(hp(path), hp(s"$path.prev")) shouldBe true
    fs.delete(hp(s"$path.prev/_STORE_SUCCESS"), false)
    fs.mkdirs(hp(s"$path.next/assignment"))
    ClusterStore.recover(spark, path)
    sortedRows(ClusterStore.assignment(spark, path)) shouldBe v1
  }

  test("append resolves a re-delivered edge's score to the MAX, deterministically") {
    val path = tmp()
    ClusterStore.build(path,
      Seq((1L, 2L, 0.41)).toDF("id1", "id2", "jaccard"))
    ClusterStore.append(path,
      Seq((1L, 2L, 0.93), (2L, 3L, 0.5)).toDF("id1", "id2", "jaccard"))
    ClusterStore.pairs(spark, path)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().sorted shouldBe
      Array((1L, 2L, 0.93), (2L, 3L, 0.5))
  }

  test("append keeps one actual DELIVERY whole — never a per-column chimera") {
    val path = tmp()
    ClusterStore.build(path,
      Seq((1L, 2L, 0.9, 10L)).toDF("id1", "id2", "jaccard", "seen"))
    ClusterStore.append(path,
      Seq((1L, 2L, 0.4, 99L)).toDF("id1", "id2", "jaccard", "seen"))
    // per-column max would fabricate (0.9, 99); the struct max keeps the
    // lexicographically-larger delivery intact
    ClusterStore.pairs(spark, path)
      .select("id1", "id2", "jaccard", "seen")
      .as[(Long, Long, Double, Long)].collect().toSeq shouldBe
      Seq((1L, 2L, 0.9, 10L))
  }

  test("keepBestByAssignment over the store equals keepBestPerCluster") {
    val path = tmp()
    val docs = Seq((1L, 10), (2L, 30), (3L, 20), (4L, 5), (9L, 7))
      .toDF("doc_id", "score")
    val pairs = pairsDf((1L, 2L), (2L, 3L))
    ClusterStore.build(path, pairs)
    val viaStore = DedupOps.keepBestByAssignment(docs, "doc_id", "score",
        ClusterStore.assignment(spark, path))
      .select("doc_id", "score", "n_members")
      .as[(Long, Int, Long)].collect().sorted
    val direct = DedupOps.keepBestPerCluster(docs, "doc_id", "score", pairs)
      .select("doc_id", "score", "n_members")
      .as[(Long, Int, Long)].collect().sorted
    viaStore shouldBe direct
    viaStore.map(_._1) shouldBe Array(2L, 4L, 9L) // best-of-cluster + singletons
  }

  test("semanticDedupByAssignment over the store equals semanticDedup") {
    val path = tmp()
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pairs = SimilarityOps.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.4, nBits = 4, stride = 8)
    ClusterStore.build(path, pairs)
    val viaStore = SimilarityOps.semanticDedupByAssignment(emb, "vec_id",
        ClusterStore.assignment(spark, path))
      .select(col("vec_id").cast("long"), col("n_members"))
      .as[(Long, Long)].collect().sorted
    val direct = SimilarityOps.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.4, nBits = 4, stride = 8)
      .select(col("vec_id").cast("long"), col("n_members"))
      .as[(Long, Long)].collect().sorted
    viaStore shouldBe direct
  }

  test("rareShingleEdges: bounded cliques, canonical orientation") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox sleeps"),   // shares "the quick brown" etc.
      (3L, "the quick brown fox jumps"),    // exact copy of 1
      (4L, "completely different text entirely here"),
      (5L, "another unrelated document body")
    ).toDF("doc_id", "text")
    val edges = DedupOps.rareShingleEdges(docs, "doc_id", "text", n = 3,
        minDf = 2, maxDf = 5)
      .as[(Long, Long)].collect().sorted
    // 1,2,3 share rare 3-grams pairwise; 4 and 5 share nothing
    edges shouldBe Array((1L, 2L), (1L, 3L), (2L, 3L))
    edges.foreach { case (a, b) => a should be < b }
  }
}
