package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted dup-cluster artifact — the build-once / consume-many deployment
 * of [[DedupOps.connectedComponentsStar]], mirroring what [[AnnIndexStore]]
 * is to the ANN stack. A production corpus runs connected components over
 * its dup-pair graph ONCE per ingest wave; every downstream question
 * ("which doc survives?", "ban this cluster", "are splits leakage-free?",
 * "what's the cluster-size histogram?") then reads the persisted
 * assignment instead of re-clustering 100 TB per query. Incremental growth
 * goes through [[DedupOps.mergeComponents]] — O(batch) over touched
 * clusters, never a corpus re-cluster. An append of up to a million
 * pairs is clustered by a driver-side union-find after one collect, with
 * no star rounds; [[build]] always runs the distributed star rounds.
 *
 * Layout under `path/`:
 *   - `assignment/`  (id: long, cluster_id: long) — cluster_id = component
 *     min member id, exactly [[DedupOps.connectedComponentsStar]]'s
 *     contract (spec-proven identical);
 *   - `pairs/`       (id1: long, id2: long [, score…]) — the evidence edge
 *     set the assignment was clustered from, kept so consumers that need
 *     the GRAPH (leakage audits, modularity, conductance, graph analytics)
 *     read the same artifact generation as the labels;
 *   - `meta/`        1 row (version: long, n_pairs: long, n_nodes: long).
 *
 * `assignment` and `meta` are always written under those fixed schemas,
 * so they are read back under them with no footer-inference job;
 * `pairs` keeps inference, because its score columns vary.
 *
 * Commits swap the WHOLE store root atomically: all three tables write
 * beside the live tree under `path.next/`, a root `_STORE_SUCCESS`
 * marker witnesses that every sub-write committed, and one rename-aside
 * (live→`.prev`, `.next`→live, drop `.prev`) makes the new generation
 * visible. Per-table swaps would let a crash between renames publish a
 * generation-N+1 assignment beside generation-N pairs — and every audit
 * JOINS the two, so cross-table consistency is the invariant that
 * matters. [[recover]] repairs any crash point (live wins and stale
 * neighbors drop; a marked `.next` promotes whole; `.prev` restores).
 */
object ClusterStore {

  private def asgPath(path: String)   = s"$path/assignment"
  private def pairsPath(path: String) = s"$path/pairs"
  private def metaPath(path: String)  = s"$path/meta"

  private def canonical(pairs: DataFrame): DataFrame = {
    val extra = pairs.columns.filterNot(c => c == "id1" || c == "id2")
    pairs.select((Seq(col("id1").cast("long").as("id1"),
      col("id2").cast("long").as("id2")) ++ extra.map(col)): _*)
  }

  /** Full (re)build: cluster the pair graph and commit assignment + pairs
    * + meta as version `max(current, 0) + 1`. The pair frame may be an
    * expensive job (minhash LSH, embedding near-dup) — it is persisted for
    * the duration so the assignment build and the pair materialization
    * share one evaluation. The labels' cut is released once the commit
    * has written them, so a checkpoint dir keeps none of its files. */
  def build(path: String, pairs: DataFrame, maxRounds: Int = 20): Unit = {
    val spark = pairs.sparkSession
    val p = canonical(pairs).persist()
    try {
      val asg = DedupOps.connectedComponentsStarCut(
        p.select("id1", "id2"), maxRounds)
      try {
        val prior = if (exists(spark, path)) version(spark, path) else 0L
        commit(spark, path, asg.df, p, prior + 1)
      } finally asg.release()
    } finally p.unpersist(blocking = false)
  }

  /** Incremental growth: fold a batch of new dup pairs into the persisted
    * assignment via [[DedupOps.mergeComponents]] — cost O(batch) over the
    * touched clusters, not O(corpus) — and union the evidence set. Labels
    * after append are row-identical to a full rebuild over the unioned
    * pair set (the mergeComponents contract, spec-proven here through the
    * store path). */
  def append(path: String, newPairs: DataFrame): Unit = {
    val spark = newPairs.sparkSession
    require(exists(spark, path), s"no ClusterStore at $path — build first")
    val np = canonical(newPairs).persist()
    try {
      val merged = DedupOps.mergeComponents(assignment(spark, path),
        np.select("id1", "id2"))
      // align on the shared columns: an append batch may carry a score
      // column the base build lacked (or vice versa) — the edge identity
      // is (id1, id2)
      val base = pairs(spark, path)
      val shared = base.columns.intersect(np.columns).toSeq
      // deterministic edge reducer: a re-delivered edge with a NEW score
      // (re-verified pair after a text update) must not leave the kept
      // row to shuffle order — the lexicographically-largest DELIVERY
      // wins whole (max over the packed extras struct), so the kept row
      // is always one that actually arrived, never a per-column chimera
      // mixing fields of different deliveries; extras must be orderable
      val both = base.select(shared.map(col): _*)
        .unionByName(np.select(shared.map(col): _*))
      val extras = shared.filterNot(c => c == "id1" || c == "id2")
      val unioned =
        if (extras.isEmpty) both.distinct()
        else both.groupBy("id1", "id2")
          .agg(max(struct(extras.map(col): _*)).as("__m"))
          .select(col("id1") +: col("id2") +:
            extras.map(e => col(s"__m.$e").as(e)): _*)
      commit(spark, path, merged, unioned, version(spark, path) + 1)
    } finally np.unpersist(blocking = false)
  }

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Commit discipline: the THREE tables publish as ONE atomic root swap
    * — write all of them under `path.next/`, mark the root, rename
    * aside. A consumer can never observe an assignment generation joined
    * against a different pairs generation. */
  private def commit(spark: SparkSession, path: String, asg: DataFrame,
                     pairs: DataFrame, newVersion: Long): Unit = {
    import spark.implicits._
    // append's merged/unioned frames scan the live dirs; both writes finish
    // inside the swap's build, before any rename touches those dirs. The
    // meta counts ride the two writes as Observations — no extra jobs.
    val nodesObs, pairsObs = new org.apache.spark.sql.Observation()
    graft.sources.TreeSwap.swap(spark, path,
        graft.sources.TreeSwap.ClusterCommit) { tmp =>
      asg.select(col("id").cast("long"), col("cluster_id").cast("long"))
        .observe(nodesObs, count(lit(1)).as("n"))
        .write.parquet(s"$tmp/assignment")
      pairs.observe(pairsObs, count(lit(1)).as("n"))
        .write.parquet(s"$tmp/pairs")
      Seq((newVersion, pairsObs.get("n").asInstanceOf[Long],
          nodesObs.get("n").asInstanceOf[Long]))
        .toDF("version", "n_pairs", "n_nodes")
        .write.parquet(s"$tmp/meta")
    }
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    recover(spark, path)
    val fs = hp(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hp(metaPath(path)))
  }

  /** Recover the root swap after a crash —
    * [[graft.sources.TreeSwap.recover]]'s invariants over the
    * [[graft.sources.TreeSwap.ClusterCommit]] neighbors. Every reader and
    * writer below runs it first. */
  def recover(spark: SparkSession, path: String): Unit =
    graft.sources.TreeSwap.recover(spark, path,
      graft.sources.TreeSwap.ClusterCommit)

  /** The committed (id, cluster_id) table; cluster_id = component min. */
  def assignment(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    spark.read.schema("id long, cluster_id long").parquet(asgPath(path))
  }

  /** The committed evidence edge set this assignment was clustered from. */
  def pairs(spark: SparkSession, path: String): DataFrame = {
    recover(spark, path)
    spark.read.parquet(pairsPath(path))
  }

  def version(spark: SparkSession, path: String): Long = {
    recover(spark, path)
    spark.read.schema("version long, n_pairs long, n_nodes long")
      .parquet(metaPath(path)).select("version").head().getLong(0)
  }

  /** Cluster sizes from the persisted assignment — the histogram /
    * keep-one bookkeeping read, one narrow aggregate over the artifact. */
  def clusterSizes(spark: SparkSession, path: String): DataFrame =
    assignment(spark, path).groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
}
