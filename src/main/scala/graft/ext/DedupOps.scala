package graft.ext

import graft.ops.{Iterate, StatsOps}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * [EXT] Deduplication operators for LLM training-data pipelines: exact
 * (hash-groupBy), word-shingle Jaccard, MinHash+LSH, SimHash. North-star
 * mandate (BASELINE.json), not in the reference — but they generalize the
 * reference's keyed idempotency (dag_mgo_pg_schedule_etl_qc.py:279-316:
 * "one row per _id") from key-equality to content-equality and
 * near-equality.
 *
 * Cross-engine hash: all hashing goes through [[TextOps.fingerprint60]]
 * (md5-prefix → bigint) so every operator here has an exact SQL oracle.
 * At real 100 TB scale xxhash64 is ~10× cheaper than md5 and is the drop-in
 * production choice (same 64-bit shape); md5 is used here because the
 * correctness gate demands a hash both engines compute identically.
 *
 * Scale notes:
 *  - exact dedup: one shuffle on the fingerprint. ~128 bits ⇒ no collision
 *    handling needed at any realistic corpus size.
 *  - MinHash/LSH: shuffle volume is O(docs × bands), never O(docs²); the
 *    band-bucket join only materializes genuine candidate pairs. Hot buckets
 *    (boilerplate shingles) are the skew risk — AQE skew-join splits them.
 *  - SimHash: per-doc signature is a narrow aggregation over tokens;
 *    near-dup lookup joins on rotated signature bands (not implemented as a
 *    query here — signature generation is the engine primitive).
 */
object DedupOps {

  import TextOps.{fingerprint60, tokens}

  /** Exact content dedup: keep one representative (min id) per distinct text
    * fingerprint. One hash-agg shuffle on the 128-bit fingerprint —
    * the only exact-dedup shape that works at 100 TB (never groupBy the
    * full text: the fingerprint is 16 bytes, the document is unbounded). */
  def dedupExactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles of a text column, as an array of distinct 60-bit
    * shingle hashes. Narrow (per-row), one native codegen expression per
    * document ([[graft.functions.ShingleHashes]] → HashKernel) —
    * semantically: tokens = split(text, " "); gram_i = tokens[i, i+n) joined
    * by " " for i ∈ [0, max(|tokens|−n, 0)]; hash = fingerprint60(gram);
    * distinct, first-occurrence order. (The equivalent
    * sequence→slice→concat_ws→md5→conv higher-order-function tree is
    * interpreted per element — ~0.5 ms/doc vs ~10 µs for the kernel; a
    * Scala UDF adds an encoder round-trip per row on top.) */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.ShingleHashes(text, n)

  /** Drop exploded index entries whose key's document frequency exceeds
    * `cap` — the standard guard (CCNet et al.) against hot boilerplate:
    * one shingle/band key shared by n docs yields n² candidate pairs, and
    * AQE can split the shuffle partitions but not the quadratic pair count.
    * Cost: one hash-agg over the (small) key column + a broadcast anti-join;
    * the df aggregation is partial+final so the extra pass is cheap relative
    * to the self-join it bounds. `cap` ≥ dedup-cluster size keeps genuine
    * duplicate groups intact — boilerplate df is orders of magnitude above
    * both. */
  private def dropHotKeys(exploded: DataFrame, keyCol: String, cap: Int): DataFrame =
    if (cap == Int.MaxValue) exploded
    else {
      // Pin ONE hash exchange on the key and hang the df aggregation, the
      // anti-join probe side, and (downstream) both self-join sides off it:
      // ReuseExchange then computes the expensive upstream (shingle kernel +
      // explode) exactly once, and neither the groupBy nor the self-join
      // needs a further shuffle — their partitioning requirement is already
      // satisfied.
      val exchanged = exploded.repartition(col(keyCol))
      val hot = exchanged.groupBy(keyCol)
        .agg(count(lit(1)).as("__df")).filter(col("__df") > cap)
        .select(keyCol)
      exchanged.join(broadcast(hot), Seq(keyCol), "left_anti")
    }

  /** Pairwise n-gram Jaccard near-dup pairs above `threshold`, via an
    * inverted index on shingle hash: explode shingles → self-join on shingle
    * → count common → |A∩B| / (|A|+|B|−|A∩B|). Shuffle is O(total shingles),
    * and only docs sharing ≥1 shingle ever meet — never a cross join.
    * (id1 < id2 keeps each pair once.) Shingles with document frequency >
    * `maxShingleDf` are dropped BEFORE the self-join (hot-boilerplate guard,
    * see [[dropHotKeys]]); set sizes |A|,|B| are computed before the cap, so
    * capped pairs can only lose score, never gain. */
  /** The exploded positional shingle frame (id, sz, pos, sh) every
    * set-similarity join in this family starts from: per-doc canonical
    * (hash-sorted) shingle set with the set size and each element's
    * canonical rank riding the exploded rows, df-capped. */
  private def shinglePositions(df: DataFrame, idCol: String, textCol: String,
                               n: Int, maxShingleDf: Int): DataFrame =
    dropHotKeys(
      spread(df)
        .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sha"))
        .select(col("id"), size(col("sha")).cast("bigint").as("sz"),
          posexplode(array_sort(col("sha"))).as(Seq("pos", "sh"))),
      "sh", maxShingleDf)

  /**
   * Persisted SHINGLE-INDEX artifact shared across the set-similarity
   * family ([[jaccardPairs]], [[jaccardPairsPrefix]],
   * [[containmentPairs]]) — each of those starts from the SAME kernel
   * shingle pass + explode + df-cap exchange, and a user running several
   * similarity analyses over one corpus should pay that pass ONCE (the
   * [[graft.ops.GraphOps.PreparedGraph]] economics, on text). Build the
   * index, hand it to each join, `unpersist()` when done. The
   * per-DataFrame overloads remain and cost exactly what they used to
   * (plan-level exchange reuse inside one query, nothing persisted).
   *
   * Cache-eviction caveat (same as PreparedGraph): Spark's CacheManager
   * keys by canonicalized plan, so building and releasing a SECOND index
   * over the same frame evicts the shared entry — one artifact per
   * corpus, released by its owner.
   */
  final class ShingleIndex private[DedupOps] (
      private[graft] val shPos: DataFrame, val n: Int, val maxDf: Int) {
    def unpersist(): Unit = { shPos.unpersist(blocking = false); () }
  }

  /** Build the shared artifact; see [[ShingleIndex]]. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                   n: Int, maxShingleDf: Int = Int.MaxValue): ShingleIndex =
    new ShingleIndex(
      shinglePositions(df, idCol, textCol, n, maxShingleDf).persist(),
      n, maxShingleDf)

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxShingleDf: Int = Int.MaxValue): DataFrame =
    jaccardPairsCore(
      shinglePositions(df, idCol, textCol, n, maxShingleDf), threshold)

  /** [[jaccardPairs]] off a shared [[ShingleIndex]] — the kernel shingle
    * pass is the artifact's cache, paid once across the family. */
  def jaccardPairs(ix: ShingleIndex, threshold: Double): DataFrame =
    jaccardPairsCore(ix.shPos, threshold)

  private def jaccardPairsCore(shPos: DataFrame,
                               threshold: Double): DataFrame = {
    // set size rides along each exploded shingle row (it's functionally
    // dependent on the id), so |A| and |B| fall out of the pair groupBy —
    // no separate sizes aggregation and no two joins back
    val sh = shPos.select("id", "sz", "sh")
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /**
   * Prefix-filtered set-similarity join (AllPairs/PPJoin family) — the
   * same output as [[jaccardPairs]], via a smaller index: under the
   * canonical shingle-hash ordering, a pair with Jaccard ≥ t must share
   * an element within each side's first |S| − ⌈t·|S|⌉ + 1 shingles
   * (pigeonhole: an overlap of α elements cannot avoid the first
   * |S| − α + 1), so only that PREFIX is indexed and self-joined —
   * ~(1−t)× of the exploded volume the full inverted index shuffles
   * (5× less at t = 0.8), with the PPJoin LENGTH filter
   * (min(sz) ≥ t·max(sz), a necessary condition of j ≥ t) applied in
   * the self-join condition so size-incompatible collisions never
   * reach verification. Candidates are then verified exactly against
   * the full (df-capped) shingle sets, reproducing jaccardPairs' score
   * formula bit-for-bit — a spec asserts output equality.
   *
   * The per-side overlap bound uses a slightly relaxed threshold
   * (t − 10⁻³) so pairs whose raw score rounds UP to t at 4 dp (which
   * jaccardPairs keeps) can never be pruned; float slack 10⁻⁹ guards the
   * ⌈⌉ boundary. Both only lengthen prefixes — candidate generation
   * stays a superset, verification keeps output exact.
   */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double,
                         maxShingleDf: Int = Int.MaxValue): DataFrame =
    jaccardPairsPrefixDiag(df, idCol, textCol, n, threshold, maxShingleDf,
      positional = true)._2

  /** [[jaccardPairsPrefix]] off a shared [[ShingleIndex]]. */
  def jaccardPairsPrefix(ix: ShingleIndex, threshold: Double): DataFrame =
    jaccardPairsPrefixCore(ix.shPos, threshold, positional = true)._2

  /** Diagnostic form: also returns the candidate-pair frame (pre-
    * verification), and can disable the PPJoin+ positional bound — lets a
    * spec MEASURE the candidate cut the bound buys while asserting output
    * identity through the exact same code path the public op runs. */
  private[graft] def jaccardPairsPrefixDiag(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Int,
      positional: Boolean,
      overlapKernel: Boolean = true): (DataFrame, DataFrame) =
    jaccardPairsPrefixCore(
      shinglePositions(df, idCol, textCol, n, maxShingleDf),
      threshold, positional, overlapKernel)

  private def jaccardPairsPrefixCore(
      shPos: DataFrame, threshold: Double,
      positional: Boolean,
      overlapKernel: Boolean = true): (DataFrame, DataFrame) = {
    // ONE kernel pass + ONE pinned exchange (same discipline as
    // jaccardPairs): the index carries each shingle's per-row canonical
    // rank (position in the hash-sorted array), so the prefix slice, the
    // df-cap, the candidate self-join, and both verification reads all
    // hang off the same exchanged subtree — no doc-keyed window shuffle,
    // no recomputed shingling. (Off a persisted ShingleIndex, "the same
    // exchanged subtree" becomes "the same cache", shared across queries.)
    val sh = shPos.select("id", "sz", "sh")
    val alpha = ceil(lit(threshold - 0.001) * col("sz") - lit(1e-9))
    // Positions count ALL of the doc's shingles while the pigeonhole
    // bound applies to the df-capped set; dropped hot predecessors only
    // ever shift a capped element's rank DOWN (rank_capped ≤ pos), so
    // `pos ≤ sz − α + 1` retains every capped-prefix element — the index
    // stays a candidate superset. Verification is exact, so extra
    // candidates cost time, never correctness.
    val prefix = shPos
      .filter(col("pos") + 1 <= col("sz") - alpha + 1)
      .select("id", "sz", "pos", "sh")
    // PPJoin LENGTH GATE, free on columns already riding the index rows:
    // j = c/(s1+s2−c) ≥ t with c ≤ min(s1,s2) forces min ≥ t·max, so
    // size-incompatible collisions are dropped AT CANDIDATE GENERATION —
    // before the distinct() and both verification joins ever see them.
    // Same relaxed t−10⁻³ as the prefix bound (round-up-to-t pairs
    // survive); necessary-condition only, so output stays exact.
    val tRelax = lit(threshold - 0.001)
    // PPJoin+ POSITIONAL upper bound, also free on riding columns: both
    // arrays are sorted by the SAME global hash order, so their common
    // elements form one subsequence visited in the same order on both
    // sides — at a collision sitting at (0-based) canonical ranks
    // (pa, pb), at most min(pa, pb) common elements can precede it and at
    // most min(s1−pa, s2−pb) can sit at-or-after it (including itself).
    // Every collision of a TRUE pair therefore bounds overlap from above
    // by min(pa,pb) + min(s1−pa, s2−pb); requiring that bound ≥ the
    // j ≥ t overlap minimum α = ⌈t·(s1+s2)/(1+t)⌉ drops collisions that
    // PROVE the pair impossible while every collision of a qualifying
    // pair passes — candidates stay a superset, output stays exact.
    // (Capped-set safety as the prefix bound: capped common elements
    // before full-array rank pa number ≤ pa, and capped remainders are
    // ≤ the full remainders, so the bound still majorizes capped common.)
    val alphaPair = ceil(tRelax * (col("a.sz") + col("b.sz")) /
      (lit(1.0) + tRelax) - lit(1e-9))
    val baseCond =
      col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
        col("b.sz") >= tRelax * col("a.sz") &&
        col("a.sz") >= tRelax * col("b.sz")
    val posCond = least(col("a.pos"), col("b.pos")) +
      least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >=
      alphaPair
    val cands = prefix.as("a").join(prefix.as("b"),
        if (positional) baseCond && posCond else baseCond)
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // Exact verification WITHOUT re-exploding (same trick as
    // [[containmentPairs]]): each side's capped shingle set rides the
    // candidate row as ONE array value — shuffle volume is C·(two doc
    // arrays), not C·|A| exploded rows. Arrays are re-sorted at doc-array
    // build time (once per DOC, not per pair — the exploded rows lost
    // their canonical order in the groupBy shuffle) so the merge kernel
    // below sees its sorted-input precondition.
    val docArr = sh.groupBy(col("id"), col("sz"))
      .agg(array_sort(collect_list(col("sh"))).as("sha"))
    // EARLY-EXIT overlap kernel ([[graft.functions.OverlapGeCount]]):
    // common = |A∩B| exactly whenever it can still qualify, −1 the moment
    // the sorted-merge's remaining-length bound proves overlap < α — the
    // SAME relaxed pigeonhole minimum the candidate stage uses, so every
    // round-up-to-t pair keeps its exact count and the −1 rows are
    // exactly rows the score filter dropped anyway (their jaccard column
    // goes negative). Below-threshold candidates — the bulk — stop after
    // a short prefix instead of paying a full array_intersect walk plus
    // an intersection-array allocation per pair. `overlapKernel=false`
    // keeps the array_intersect form for the output-identity spec.
    val alphaVerify = ceil(tRelax * (col("sz1") + col("sz2")) /
      (lit(1.0) + tRelax) - lit(1e-9)).cast("long")
    val commonCol =
      if (overlapKernel)
        graft.functions.OverlapGeCount(col("__sa"), col("__sb"), alphaVerify)
      else size(array_intersect(col("__sa"), col("__sb"))).cast("bigint")
    val result = cands
      .join(docArr.select(col("id").as("id1"), col("sz").as("sz1"),
        col("sha").as("__sa")), "id1")
      .join(docArr.select(col("id").as("id2"), col("sz").as("sz2"),
        col("sha").as("__sb")), "id2")
      .select(col("id1"), col("id2"), col("sz1"), col("sz2"),
        commonCol.as("common"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
    (cands, result)
  }

  /**
   * ASYMMETRIC containment pairs — the quote/subset detector Jaccard
   * misses: `containment(A in B) = |shingles(A) ∩ shingles(B)| / |A|`
   * is ~1.0 when a short document is wholly quoted inside a long one,
   * while their Jaccard stays near |A|/|B| (tiny). Emits every ORDERED
   * pair (id_sub, id_super) with containment ≥ threshold — both
   * directions are reported when two docs mutually contain each other.
   *
   * PREFIX-FILTERED on the subset side (the asymmetric pigeonhole):
   * containment ≥ t needs overlap α ≥ ⌈t·|A|⌉, and α shared elements
   * cannot all avoid A's first |A| − α + 1 canonical-order shingles —
   * so only that prefix of the SUBSET side is indexed against the
   * fully-indexed superset side, cutting candidate volume ~t-fold with
   * identical output (the [[jaccardPairsPrefix]] discipline, one-sided
   * because |B| is unbounded by the score). Candidates are verified
   * exactly against the full (df-capped) shingle sets, reproducing the
   * full-index score bit-for-bit — a spec asserts output equality at
   * multiple thresholds. Same relaxed t − 10⁻³ / 10⁻⁹ slack as the
   * sibling so round-up-to-t pairs survive; positions count ALL
   * shingles while the bound applies to the df-capped set — dropped hot
   * predecessors only shift a capped element's rank DOWN, so the
   * pos-based slice stays a candidate superset.
   *
   * Scale contract as [[jaccardPairs]]: only docs sharing ≥1 shingle
   * ever meet, |A| rides the exploded rows (sizes computed BEFORE the
   * df-cap, so capped pairs can only lose score), hot shingles
   * df-capped via the shared one-exchange pass.
   */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxShingleDf: Int = Int.MaxValue): DataFrame =
    containmentPairsDiag(df, idCol, textCol, n, threshold, maxShingleDf,
      positional = true)._2

  /** [[containmentPairs]] off a shared [[ShingleIndex]]. */
  def containmentPairs(ix: ShingleIndex, threshold: Double): DataFrame =
    containmentPairsCore(ix.shPos, threshold, positional = true)._2

  /** Diagnostic form ([[jaccardPairsPrefixDiag]] contract): candidate
    * frame + result, with the positional bound toggleable for the spec's
    * candidate-cut measurement. */
  private[graft] def containmentPairsDiag(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Int,
      positional: Boolean,
      overlapKernel: Boolean = true): (DataFrame, DataFrame) =
    containmentPairsCore(
      shinglePositions(df, idCol, textCol, n, maxShingleDf),
      threshold, positional, overlapKernel)

  private def containmentPairsCore(
      shPos: DataFrame, threshold: Double,
      positional: Boolean,
      overlapKernel: Boolean = true): (DataFrame, DataFrame) = {
    val sh = shPos.select("id", "sz", "sh")
    val shP = shPos.select("id", "sz", "pos", "sh")
    val alpha = ceil(lit(threshold - 0.001) * col("sz") - lit(1e-9))
    val prefixSub = shPos
      .filter(col("pos") + 1 <= col("sz") - alpha + 1)
      .select("id", "sz", "pos", "sh")
    // one-sided LENGTH gate: containment ≥ t needs overlap ⌈t·|A|⌉ and
    // overlap ≤ |B|, so a superset smaller than t·|A| can never qualify —
    // free on columns already riding the index rows (|B| has no UPPER
    // bound from the score, so only this direction applies). Plus the
    // PPJoin+ POSITIONAL bound ([[jaccardPairsPrefix]] has the proof):
    // a collision at canonical ranks (pa, pb) caps the overlap at
    // min(pa, pb) + min(|A|−pa, |B|−pb); requiring that ≥ the
    // containment-≥-t overlap minimum ⌈t·|A|⌉ drops provably-impossible
    // collisions while every collision of a qualifying pair passes —
    // candidates stay a superset, exact verification keeps output equal.
    val tRelax = lit(threshold - 0.001)
    val alphaSub = ceil(tRelax * col("a.sz") - lit(1e-9))
    val baseCond =
      col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id") &&
        col("b.sz") >= tRelax * col("a.sz")
    val posCond = least(col("a.pos"), col("b.pos")) +
      least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) >=
      alphaSub
    val cands = prefixSub.as("a").join(shP.as("b"),
        if (positional) baseCond && posCond else baseCond)
      .select(col("a.id").as("id_sub"), col("b.id").as("id_super"))
      .distinct()
    // Exact verification WITHOUT re-exploding: each doc's capped shingle
    // set rides its candidate rows as ONE array value — shuffle volume is
    // C·(two doc arrays), never the C·|A| exploded rows of a per-shingle
    // verify join (at moderate thresholds the explode-verify form costs
    // more than the prefix saves). Common is counted by the EARLY-EXIT
    // sorted-merge kernel ([[graft.functions.OverlapGeCount]], proof and
    // −1 convention at the [[jaccardPairsPrefix]] twin): α here is the
    // one-sided containment minimum ⌈(t−10⁻³)·|A|⌉ the candidate stage
    // already uses, so kernel-cut rows are exactly the rows the score
    // filter dropped. Arrays re-sorted once per DOC (groupBy dropped the
    // canonical order) to meet the merge precondition.
    val docArr = sh.groupBy(col("id"), col("sz"))
      .agg(array_sort(collect_list(col("sh"))).as("sha"))
    val alphaVerify = ceil(tRelax * col("sz_sub") - lit(1e-9)).cast("long")
    val result = cands
      .join(docArr.select(col("id").as("id_sub"), col("sz").as("sz_sub"),
        col("sha").as("__sa")), "id_sub")
      .join(docArr.select(col("id").as("id_super"), col("sha").as("__sb")),
        "id_super")
      .select(col("id_sub"), col("id_super"), col("sz_sub"),
        (if (overlapKernel)
          graft.functions.OverlapGeCount(col("__sa"), col("__sb"), alphaVerify)
        else size(array_intersect(col("__sa"), col("__sb"))).cast("bigint"))
          .as("common"))
      .withColumn("containment",
        round(col("common").cast("double") / col("sz_sub"), 4))
      .filter(col("containment") >= threshold)
      .select("id_sub", "id_super", "containment")
    (cands, result)
  }

  /**
   * The un-prefix-filtered full-inverted-index containment join — the
   * reference form [[containmentPairs]] must reproduce bit-for-bit
   * (its identity spec compares the two at multiple thresholds/caps).
   * Kept `private[graft]`: ~1/t× the candidate work of the prefix form,
   * never the production path.
   */
  private[graft] def containmentPairsFullIndex(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = dropHotKeys(
      spread(df)
        .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sha"))
        .select(col("id"), size(col("sha")).cast("bigint").as("sz"),
          explode(col("sha")).as("sh")),
      "sh", maxShingleDf)
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_sub"), col("b.id").as("id_super"),
        col("a.sz").as("sz_sub"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment",
        round(col("common").cast("double") / col("sz_sub"), 4))
      .filter(col("containment") >= threshold)
      .select("id_sub", "id_super", "containment")
  }

  /** Spread a FEW-SPLIT input across the cluster before CPU-heavy per-row
    * work — signature cost is O(shingles × hashes) per doc and must not be
    * bound by the source's split count. Conditional: a 100 TB corpus
    * already scans as many thousands of splits (maxPartitionBytes), and
    * round-robin repartitioning it would shuffle the full document text
    * just to move CPU — only genuinely under-split inputs (tiny fixture
    * files, coalesced upstreams) pay the redistribution. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd reuses the frame's memoized queryExecution (df.rdd would build
    // a second plan plus a discarded Row-deserializer layer)
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Full MinHash-LSH near-dup pipeline: per-row signatures → per-row band
    * keys → band-bucket join for candidates → exact-Jaccard verification ≥
    * threshold. Wide ops: the band join + the two verification joins — all
    * hash joins on doc id / 16-byte keys, never O(docs²). Band keys with
    * document frequency > `maxBandDf` are dropped before the candidate
    * join (hot-boilerplate guard, [[dropHotKeys]]). */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int, bands: Int,
                        threshold: Double,
                        maxBandDf: Int = Int.MaxValue): DataFrame =
    keyedPairs(keyed(df, idCol, textCol, n, numHashes, bands), threshold,
      maxBandDf)

  /** The form every MinHash-LSH path here starts from: (`id`, `sh` = the
    * shingle set, `keys` = its band keys) per text-bearing row, spread
    * when under-split. [[bandIndex]], [[minhashDedupPairs]] and
    * [[incrementalNearDupPairs]] all key docs through it — the incremental
    * path's equivalence to the full pipeline depends on the persisted
    * index and the batch side sharing one construction. */
  private def keyed(df: DataFrame, idCol: String, textCol: String, n: Int,
                    numHashes: Int, bands: Int): DataFrame =
    spread(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .withColumn("keys",
        graft.functions.BandKeys(col("sh"), numHashes, bands))

  /** One (band_key, id) row per band of each row's `keys` array (a
    * [[graft.functions.BandKeys]] result), keyed `band:key` so equal keys
    * of different bands never meet: the persisted band index's rows and
    * both sides of every band join. */
  private[graft] def bandKeyRows(df: DataFrame, id: Column,
                                 keys: Column): DataFrame =
    df.select(id.as("id"), posexplode(keys))
      .select(concat_ws(":", col("pos").cast("string"), col("col"))
        .as("band_key"), col("id"))

  /** Exact Jaccard of two shingle sets (distinct-element arrays, as
    * [[shingleHashes]] emits them), unrounded. */
  private def shingleJaccard(s1: Column, s2: Column): Column = {
    val inter = size(array_intersect(s1, s2)).cast("double")
    inter / (size(s1) + size(s2) - inter)
  }

  /** [[minhashDedupPairs]] over docs already in [[keyed]] form (`id`, `sh`,
    * `keys`): band-bucket self-join for candidates, verified from the
    * stored shingle sets — no text is shingled again. */
  private[graft] def keyedPairs(docs: DataFrame, threshold: Double,
                                maxBandDf: Int = Int.MaxValue): DataFrame = {
    val banded = dropHotKeys(bandKeyRows(docs, col("id"), col("keys")),
      "band_key", maxBandDf)
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    val sh = docs.select(col("id"), col("sh"))
    cands
      .join(sh.withColumnsRenamed(Map("id" -> "id1", "sh" -> "s1")), "id1")
      .join(sh.withColumnsRenamed(Map("id" -> "id2", "sh" -> "s2")), "id2")
      .withColumn("j", round(shingleJaccard(col("s1"), col("s2")), 4))
      .filter(col("j") >= threshold)
      .select(col("id1"), col("id2"), col("j").as("jaccard"))
  }

  /**
   * Test-set DECONTAMINATION — drop training documents that share at
   * least `minOverlap` distinct word n-grams with ANY eval/benchmark
   * document (the standard guard against benchmark leakage into training
   * corpora; n=13 is the published GPT-3-style setting, smaller n is
   * stricter). The eval side is tiny by nature → its distinct shingle set
   * BROADCASTS; the corpus pays one kernel shingle pass and a broadcast
   * join — the corpus itself never shuffles. Null-text documents carry no
   * n-grams and are kept. Returns the clean corpus (all original columns).
   */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    evalDocs: DataFrame, evalTextCol: String,
                    n: Int, minOverlap: Int = 1): DataFrame = {
    val corpusShingles = corpus.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("sh"))
    val contaminated =
      if (minOverlap <= 1) {
        // fast path: any single shared gram condemns — eval doc identity
        // is irrelevant, pool the distinct shingle set
        val evalShingles = evalDocs.filter(col(evalTextCol).isNotNull)
          .select(explode(shingleHashes(col(evalTextCol), n)).as("sh")).distinct()
        corpusShingles.join(broadcast(evalShingles), "sh")
          .select(idCol).distinct()
      } else {
        // per-eval-DOC threshold (the documented semantics): a training doc
        // falls iff SOME single eval doc shares ≥ minOverlap distinct grams
        // with it — one gram shared with each of three eval docs does NOT
        // condemn at minOverlap=3. (id, eid, sh) triples are unique (the
        // shingle kernel emits distinct hashes per doc), so plain count
        // counts distinct shared grams.
        val ev = evalDocs.filter(col(evalTextCol).isNotNull)
          .withColumn("__eid", monotonically_increasing_id())
          .select(col("__eid"), explode(shingleHashes(col(evalTextCol), n)).as("sh"))
        corpusShingles.join(broadcast(ev), "sh")
          .groupBy(col(idCol), col("__eid")).agg(count(lit(1)).as("__c"))
          .filter(col("__c") >= minOverlap)
          .select(idCol).distinct()
      }
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * CONTAMINATION REPORT — the audit dual of [[decontaminate]]: instead of
   * dropping training docs, measure per EVAL doc how much of it already
   * leaks into the training corpus (the table every eval-integrity section
   * reports: n-gram overlap percentages per benchmark item). Returns
   * (`evalIdCol`, n_grams, n_hit, hit_ratio) over each eval doc's DISTINCT
   * word `n`-grams.
   *
   * Scale: the corpus gram stream is SEMI-FILTERED against the broadcast
   * distinct eval-gram set BEFORE any wide op, so the only shuffled corpus
   * rows are grams that actually match eval grams (≈0 for clean corpora) —
   * the corpus-side distinct happens after that filter, never on the full
   * gram universe. Eval-side aggregates are bounded by the eval set.
   */
  def contaminationReport(corpus: DataFrame, textCol: String,
                          evalDocs: DataFrame, evalIdCol: String,
                          evalTextCol: String, n: Int): DataFrame = {
    val evalSh = evalDocs.filter(col(evalTextCol).isNotNull)
      .select(col(evalIdCol), explode(shingleHashes(col(evalTextCol), n)).as("sh"))
    val evalGramSet = evalSh.select("sh").distinct()
    val corpusHitGrams = spread(corpus.filter(col(textCol).isNotNull))
      .select(explode(shingleHashes(col(textCol), n)).as("sh"))
      .join(broadcast(evalGramSet), "sh")
      .distinct()
    val hits = evalSh.join(corpusHitGrams, Seq("sh"), "left_semi")
      .groupBy(evalIdCol).agg(count(lit(1)).as("n_hit"))
    evalSh.groupBy(evalIdCol).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq(evalIdCol), "left_outer")
      .select(col(evalIdCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("hit_ratio"))
  }

  /**
   * The LSH band index of a corpus (or batch): one (band_key, id) row per
   * doc per band, with the same composite `band:key` form the in-corpus
   * band join uses. Persist this next to the corpus (it's O(docs × bands)
   * 16-byte keys — a sliver of the text it indexes); incremental batches
   * then near-dup-check against the index WITHOUT recomputing corpus
   * signatures. `maxBandDf` caps hot boilerplate keys at BUILD time, so
   * every future batch inherits the skew guard for free.
   */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
                n: Int, numHashes: Int, bands: Int,
                maxBandDf: Int = Int.MaxValue): DataFrame = {
    val kd = keyed(docs, idCol, textCol, n, numHashes, bands)
    dropHotKeys(bandKeyRows(kd, col("id"), col("keys")), "band_key",
      maxBandDf)
  }

  /**
   * MinHash-LSH top-k RETRIEVAL: for each query doc, the k most-similar
   * corpus docs by exact n-gram Jaccard, with candidates restricted to
   * LSH band collisions — the set-similarity counterpart of
   * [[graft.ext.SimilarityOps.cosineTopK]] ("find the near-copies of
   * THESE docs" rather than "find all near-dup pairs"). Queries must be
   * members of `docs` (identified by `queryIds`): bands and the hot-key
   * cap are computed ONCE over the whole corpus, so a query sees exactly
   * the candidates the pair pipeline would pair it with.
   *
   * Ranking is on the RAW Jaccard — a single IEEE division of exact
   * integer set sizes, bit-identical across engines — with the emitted
   * score rounded separately (ranking on a rounded score lets sub-1e-4
   * raw gaps collapse into engine-dependent tie orders). Per-query top-k
   * rides the bounded-heap aggregator ([[SimilarityOps.heapTopK]]): the
   * shuffle carries |Q|·k·partitions heap entries, never the full scored
   * candidate set.
   */
  def minhashTopK(docs: DataFrame, idCol: String, textCol: String,
                  queryIds: DataFrame, n: Int, numHashes: Int, bands: Int,
                  k: Int, maxBandDf: Int = Int.MaxValue): DataFrame = {
    val banded = bandIndex(docs, idCol, textCol, n, numHashes, bands,
      maxBandDf)
    val qids = queryIds.select(col(queryIds.columns.head).as("id"))
    val qb = banded.join(qids, Seq("id"), "left_semi")
    val cands = qb.as("a").join(banded.as("b"),
        col("a.band_key") === col("b.band_key") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"))
      .distinct()
    val withText = docs.select(col(idCol).as("id"),
      shingleHashes(col(textCol), n).as("sh"))
    val scored = cands
      .join(withText.withColumnsRenamed(
        Map("id" -> "query_id", "sh" -> "sh1")), "query_id")
      .join(withText.withColumnsRenamed(
        Map("id" -> "neighbor_id", "sh" -> "sh2")), "neighbor_id")
      .withColumn("score", shingleJaccard(col("sh1"), col("sh2")))
    SimilarityOps.heapTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score"), 4).as("jaccard"), col("rank"))
  }

  /**
   * Incremental NEAR-dup detection — the approximate counterpart of
   * [[dedupIncremental]], and the production shape for daily batches
   * against a 100 TB corpus: the new batch's band keys (one narrow kernel
   * pass over the BATCH only) join the corpus' persisted [[bandIndex]];
   * only genuine candidates join text back for exact-Jaccard verification.
   * The corpus is never re-shingled and never re-shuffled — the batch side
   * (small) broadcasts through the index join under AQE, and the corpus
   * TEXT is read only by the verification join (one column-pruned IO pass;
   * only candidate rows survive the join — at very large corpora, store
   * text range-sorted by id so runtime filters prune that scan too).
   * Returns (new_id, corpus_id, jaccard ≥ threshold).
   *
   * CONTRACT — ids are the join identity and must be globally unique
   * across corpus and batches: a batch id equal to a corpus id is treated
   * as THE SAME DOCUMENT (its self-pair is suppressed), so colliding id
   * namespaces silently hide genuine near-dups. And this function returns
   * batch×corpus pairs ONLY — near-dups arriving together in one batch are
   * found by running [[minhashDedupPairs]] on the batch first (the same
   * within-batch-then-against-corpus composition [[dedupIncremental]]
   * performs internally for the exact case).
   *
   * Maintaining the index is append-only: after admitting the batch,
   * append `bandIndex(admittedBatch)` — O(new docs), same as the exact
   * fingerprint index.
   */
  def incrementalNearDupPairs(newDocs: DataFrame, idCol: String, textCol: String,
                              corpusIndex: DataFrame, corpusText: DataFrame,
                              n: Int, numHashes: Int, bands: Int,
                              threshold: Double,
                              maxBandDf: Int = Int.MaxValue): DataFrame =
    keyedProbePairs(keyed(newDocs, idCol, textCol, n, numHashes, bands),
      corpusIndex, corpusText, idCol, textCol, n, threshold, maxBandDf)

  /** [[incrementalNearDupPairs]] for new docs already in [[keyed]] form
    * (`id`, `sh`, `keys`): their stored keys probe the index and their
    * stored shingle sets verify, so only the corpus side of each candidate
    * is shingled. */
  private[graft] def keyedProbePairs(newDocs: DataFrame,
                                     corpusIndex: DataFrame,
                                     corpusText: DataFrame, idCol: String,
                                     textCol: String, n: Int,
                                     threshold: Double,
                                     maxBandDf: Int = Int.MaxValue): DataFrame = {
    val newBanded = dropHotKeys(bandKeyRows(newDocs, col("id"), col("keys")),
      "band_key", maxBandDf)
    val cands = newBanded
      .join(corpusIndex.withColumnRenamed("id", "corpus_id"), "band_key")
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id").as("new_id"), col("corpus_id")).distinct()
    val s1 = newDocs.select(col("id").as("new_id"), col("sh").as("__s1"))
    val t2 = corpusText.select(col(idCol).as("corpus_id"), col(textCol).as("__t2"))
    // the corpus side is shingled AFTER the join: candidates only
    cands.join(s1, "new_id").join(t2, "corpus_id")
      .withColumn("jaccard", round(shingleJaccard(col("__s1"),
        shingleHashes(col("__t2"), n)), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /**
   * Incremental exact dedup — the production shape for a growing corpus:
   * each new batch dedups against the corpus' FINGERPRINT INDEX (16-byte
   * md5 per doc), never re-scanning corpus text. Within-batch dups collapse
   * to the min-id representative first; rows whose fingerprint already
   * exists in the index are dropped. Cost: one hash-agg over the batch +
   * one anti-join against the index (broadcast when the batch ≪ index —
   * AQE decides). Pairs with [[graft.ops.CoreOps]]'s run-scoped staging:
   * the updated index is `seen ∪ survivors` — append-only, O(new docs).
   */
  def dedupIncremental(newDocs: DataFrame, idCol: String, textCol: String,
                       seenFingerprints: DataFrame): DataFrame = {
    // null-text docs have no fingerprint and are DISTINCT documents, not
    // duplicates of each other — they bypass both dedup stages untouched
    // (md5(null) is null; grouping on it would collapse them all into one)
    val withFp = newDocs.withColumn("__fp", md5(col(textCol)))
    val nullText = withFp.filter(col("__fp").isNull).drop("__fp")
    val batchUnique = graft.ops.CoreOps.dedupExact(
      withFp.filter(col("__fp").isNotNull), Seq("__fp"), idCol)
    batchUnique
      .join(seenFingerprints.select(col("fingerprint").as("__fp")),
        Seq("__fp"), "left_anti")
      .drop("__fp")
      .unionByName(nullText)
  }

  /** The fingerprint index contribution of a batch (append to the corpus
    * index after [[dedupIncremental]]); null-text docs contribute nothing. */
  def fingerprintIndex(docs: DataFrame, textCol: String): DataFrame =
    docs.select(md5(col(textCol)).as("fingerprint"))
      .filter(col("fingerprint").isNotNull).distinct()

  /**
   * Connected components over a near-duplicate pair graph — the step that
   * turns pairwise dedup output into KEEPABLE clusters (one representative
   * per component; "dedup" at corpus level means dropping all but the
   * min-id member of each component, including transitive duplicates the
   * pair list never emitted directly).
   *
   * Min-label propagation: every node starts labeled with itself; each
   * iteration takes the min of its own label and its neighbors' labels.
   * Converges in `iterations` ≥ graph diameter (near-dup components are
   * shallow — boilerplate stars and small cliques; production corpora run
   * the large-star/small-star variant, which is this same primitive with
   * edge rewiring, in O(log d) rounds). Per iteration: one hash-agg on the
   * neighbor side + one join on node id — shuffle volume O(edges), never
   * materializing the transitive closure.
   */
  def connectedComponents(pairs: DataFrame, iterations: Int): DataFrame = {
    // Iterative algorithm, run EAGERLY round by round (the GraphX/ML shape):
    // each round references the previous labels TWICE (neighbor build side
    // + join base) and the edges once — without a per-round cut the plan
    // TREE doubles every iteration and lineage re-evaluates the previous
    // round per reference, O(2^iterations) recomputations of the
    // (possibly expensive: minhashDedupPairs) pair job. [[Iterate.fold]]
    // cuts every round and releases the previous one, so peak state =
    // edges + two label generations. The RETURNED frame is the last
    // round's checkpoint and every loop-persist is unpersisted before
    // returning — repeated invocations (per-batch dedup) accumulate
    // nothing.
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .persist()
    val labels = Iterate.fold(
        edges.select(col("a").as("id")).distinct()
          .withColumn("label", col("id")), iterations) { (labels, _) =>
      labels.join(
          edges.join(labels.select(col("id").as("b"), col("label").as("nl")), "b")
            .groupBy(col("a").as("id")).agg(min(col("nl")).as("min_nbr")),
          Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
    }.df
    edges.unpersist(blocking = false)
    labels.withColumnRenamed("label", "cluster_id")
  }

  /**
   * INCREMENTAL connected-components maintenance: fold a batch of new
   * dup pairs into an existing (id, cluster_id) assignment WITHOUT
   * re-clustering the corpus. New-pair endpoints contract to their
   * current cluster roots (their own id if unseen); components are found
   * only on that contracted graph — O(batch) edges over touched clusters,
   * not O(corpus) — and the resulting root→root mapping (bounded by
   * touched clusters, broadcast) remaps the big assignment in one narrow
   * join. Labels stay "min member id" exactly as a full
   * [[connectedComponentsStar]] recompute would produce (spec-proven):
   * old roots are their clusters' min ids, so the min over contracted
   * nodes IS the merged cluster's global min.
   *
   * The contracted edge list is collected once through a LIMIT of
   * [[graft.ops.StatsOps.FinisherGridCap]] + 1 rows. At or under the cap
   * a driver-side union-find ([[componentMins]]) builds the root map as a
   * local relation: no Spark job beyond the collect, where the star
   * rounds would cost a job per round plus their checkpoints. Over the
   * cap (a wave with more than a million evidence pairs) the distributed
   * [[connectedComponentsStar]] runs on the contracted graph instead.
   * Null endpoints join nothing and self-loops union nothing on either
   * branch, so both give the same rows.
   */
  def mergeComponents(assignment: DataFrame, newPairs: DataFrame): DataFrame = {
    val asg = assignment.select(col("id"), col("cluster_id"))
    val p = newPairs.select(col("id1"), col("id2"))
    def contract(pairs: DataFrame): DataFrame = pairs
      .join(asg.withColumnsRenamed(
        Map("id" -> "id1", "cluster_id" -> "r1")), Seq("id1"), "left")
      .join(asg.withColumnsRenamed(
        Map("id" -> "id2", "cluster_id" -> "r2")), Seq("id2"), "left")
      .select(coalesce(col("r1"), col("id1")).as("id1"),
        coalesce(col("r2"), col("id2")).as("id2"))
    // the probe reads the new pairs as ONE partition: a LIMIT collect over
    // n partitions runs as a scale-up sequence of take jobs (1, 4, 16, …
    // partitions), over one partition as a single job that stops at cap + 1
    val rootMap = StatsOps.boundedCollect(contract(p.coalesce(1)).select(
        col("id1").cast("long"), col("id2").cast("long")), StatsOps.FinisherGridCap)
      .map(edges => componentMins(p.sparkSession, edges))
      .getOrElse(connectedComponentsStar(contract(p)))
    val remapped = asg
      .join(broadcast(rootMap.select(col("id").as("cluster_id"),
        col("cluster_id").as("__newc"))), Seq("cluster_id"), "left")
      .select(col("id"),
        coalesce(col("__newc"), col("cluster_id")).as("cluster_id"))
    val fresh = p.select(col("id1").as("id"))
      .unionByName(p.select(col("id2").as("id"))).distinct()
      .join(asg.select("id"), Seq("id"), "left_anti")
      .join(broadcast(rootMap.select(col("id"),
        col("cluster_id").as("__newc"))), Seq("id"), "left")
      .select(col("id"), coalesce(col("__newc"), col("id")).as("cluster_id"))
    remapped.unionByName(fresh)
  }

  /** Connected components of a collected (id1: long, id2: long) edge list,
    * on the driver: one (id, cluster_id = component min) row per distinct
    * non-null endpoint, as a local relation. Union-find over primitive
    * arrays — the sorted distinct ids and an Int parent array indexed by
    * position — with union by smaller root and path compression; ids are
    * sorted, so the smaller index is the smaller id and every root is its
    * component's min. */
  private def componentMins(spark: SparkSession, edges: Array[Row]): DataFrame = {
    val ends = new Array[Long](2 * edges.length)
    var k = 0
    for (r <- edges; c <- 0 to 1 if !r.isNullAt(c)) { ends(k) = r.getLong(c); k += 1 }
    java.util.Arrays.sort(ends, 0, k)
    var n = 0
    for (i <- 0 until k if i == 0 || ends(i) != ends(i - 1)) { ends(n) = ends(i); n += 1 }
    val ids = java.util.Arrays.copyOf(ends, n)
    val parent = Array.range(0, n)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i
      while (parent(j) != root) { val up = parent(j); parent(j) = root; j = up }
      root
    }
    for (r <- edges if !r.isNullAt(0) && !r.isNullAt(1)) {
      val a = find(java.util.Arrays.binarySearch(ids, r.getLong(0)))
      val b = find(java.util.Arrays.binarySearch(ids, r.getLong(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    spark.createDataFrame(
      java.util.Arrays.asList(Array.tabulate(n)(i => Row(ids(i), ids(find(i)))): _*),
      StructType.fromDDL("id long, cluster_id long"))
  }

  /**
   * Connected components via alternating large-star/small-star rewiring —
   * the production variant for graphs whose diameter exceeds any sane
   * iteration budget (long duplicate chains). Same contract as
   * [[connectedComponents]]: (id, cluster_id) with cluster_id = component
   * min. Where plain min-label propagation needs `iterations` ≥ diameter,
   * star rewiring HALVES tree heights every round and converges in
   * O(log d) rounds regardless of chain length.
   *
   * Per round (edges kept canonically oriented larger→smaller):
   *   - large-star: every node hooks its LARGER neighbors directly onto
   *     the min of its neighborhood (min(Γ(u) ∪ u)),
   *   - small-star: every node hooks its smaller neighbors + itself onto
   *     that min.
   * Each op is one hash-agg (per-node min) + one join (re-emit edges) —
   * shuffle volume O(edges); nothing quadratic, no transitive closure
   * materialized. One round = smallStar∘largeStar composed LAZILY and
   * materialized once: the intra-round intermediate only re-reads the
   * previous round's cut edge set (cheap at any scale), so each round
   * costs a single job instead of three. Convergence = the edge set reaches a
   * fixed point, detected by (count, Σ xxhash64(u,v)) riding the round's
   * materializing aggregate — zero extra jobs; with equal counts a
   * differing set escapes detection only on a 2⁻⁶⁴ checksum collision
   * (and a false positive still yields star-shaped near-final edges, not
   * arbitrary garbage). Persistence discipline matches
   * [[connectedComponents]]: eager [[Iterate]] cuts, rolling release, a
   * cut result so callers own nothing.
   */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 20): DataFrame =
    connectedComponentsStarCut(pairs, maxRounds).df

  /** [[connectedComponentsStar]]'s labels as the [[Iterate.Cut]] that holds
    * them, for a caller that can say when the last reader is done: with a
    * checkpoint dir, only [[Iterate.Cut.release]] deletes its files. */
  private[graft] def connectedComponentsStarCut(pairs: DataFrame,
                                                maxRounds: Int = 20): Iterate.Cut = {
    val nodes = pairs.select(col("id1").as("id"))
      .unionByName(pairs.select(col("id2").as("id"))).distinct()

    def largeStar(edges: DataFrame): DataFrame = {
      val both = edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = both.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      both.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    def smallStar(edges: DataFrame): DataFrame = {
      // input oriented u > v, so min(v) is the neighborhood min outright
      val mins = edges.groupBy("u").agg(min(col("v")).as("m"))
      edges.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // Each round references the previous round's frame several times, so an
    // un-cut plan tree grows ~4× per round — O(4^rounds) nodes, a driver
    // OOM in plan stringification long before any data moves; every round
    // is an [[Iterate]] cut. The (count, checksum) aggregate is the cut's
    // probe — the materializing job itself — so the fixed-point test adds
    // no per-round job. ANSI overflow-safe: the hash sum rides an
    // unbounded decimal.
    def fingerprint(e: DataFrame): (Long, BigDecimal) = {
      val row = e.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("chk")).head()
      (row.getLong(0),
        if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1)))
    }

    var (edges, fp) = Iterate.cut(
      pairs.filter(col("id1") =!= col("id2"))
        .select(greatest(col("id1"), col("id2")).as("u"),
          least(col("id1"), col("id2")).as("v"))
        .distinct(), fingerprint)
    var converged = fp._1 == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      // one lazy composed round, one materializing job; the doubled
      // references inside each star op re-read the previous round's cut
      val (next, nextFp) =
        Iterate.cut(smallStar(largeStar(edges.df)), fingerprint)
      converged = nextFp == fp
      edges.release()
      edges = next
      fp = nextFp
      round += 1
    }
    // the doc advertises O(log d) convergence — if the round budget ran out
    // first, labels may hook children to a non-minimal intermediate; say so
    // loudly rather than hand back a silently-wrong clustering
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds " +
          s"(${fp._1} edges remain in motion); raise maxRounds")
    // converged edges form stars (child → component min); roots and
    // isolated nodes label themselves
    val childLabel = edges.df.groupBy(col("u").as("id")).agg(min(col("v")).as("lbl"))
    val labels = Iterate.cut(nodes.join(childLabel, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id")))
    edges.release()
    labels
  }

  /** SimHash (bitwise-majority) signature over token hashes, `bits` wide
    * (≤ 32 here; production uses 64 via two 32-bit halves). Per doc:
    * for each bit b, sum ±1 over distinct tokens' hash-bit b; signature
    * bit = sign of the sum. Pure per-row projection via higher-order
    * `aggregate` — ZERO shuffle, whole corpus streams once. (The naive
    * explode-tokens × crossJoin-bits × two-level-agg shape shuffled
    * O(tokens × bits) rows; this computes the same signature in-register.) */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        bits: Int): DataFrame =
    spread(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("id"),
        transform(array_distinct(tokens(col(textCol))),
          t => fingerprint60(t)).as("hs"))
      .select(col("id"),
        (0 until bits).map { b =>
          val s = aggregate(col("hs"), lit(0L), (acc, h) =>
            acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          when(s > 0, lit(1L << b)).otherwise(0L)
        }.reduce(_ + _).as("simhash"))

  /**
   * SimHash NEAR-dup pairs: all (id1 < id2) pairs whose `bits`-wide SimHash
   * signatures differ in at most `maxHamming` bits. EXACT under banding by
   * the pigeonhole principle: the signature is cut into `bands` equal-width
   * chunks, and two signatures within Hamming distance `maxHamming` ≤
   * `bands` − 1 can spread their differing bits over at most `maxHamming`
   * chunks — so at least one chunk is bit-identical and the pair MUST meet
   * in the equi-join on (band, chunk-value). No candidate is missed; false
   * candidates are removed by the final `bit_count(xor)` filter.
   *
   * Scale shape: signatures are the zero-shuffle per-row aggregate above;
   * the band explode is ×`bands`; the only wide op is the band equi-join —
   * O(docs × bands) shuffle of (id, signature) rows, NEVER all pairs, and
   * never the text. Hot bands (boilerplate-heavy corpora collapse into few
   * signatures) are df-capped via `maxBandDf` BEFORE the self-join — the
   * same quadratic-blowup guard as MinHash banding ([[dropHotKeys]]);
   * capped runs trade recall for a bound, uncapped runs are exact.
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int, bands: Int, maxHamming: Int,
                          maxBandDf: Int = Int.MaxValue): DataFrame =
    hammingNearDupPairs(simhashSignatures(df, idCol, textCol, bits),
      "id", "simhash", bits, bands, maxHamming, maxBandDf)

  /**
   * Generic banded Hamming-distance pair join over any (id, 64-bit-or-less
   * signature) frame — the engine primitive behind [[simhashNearDupPairs]]
   * (text) and [[MultimodalOps.imageNearDupPairs]] (perceptual image
   * hashes). Same pigeonhole-exactness and scale contract as documented
   * there: O(rows × bands) shuffle of (id, signature), never all pairs.
   */
  def hammingNearDupPairs(sig: DataFrame, idCol: String, sigCol: String,
                          bits: Int, bands: Int, maxHamming: Int,
                          maxBandDf: Int = Int.MaxValue): DataFrame = {
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    require(maxHamming < bands,
      s"pigeonhole exactness needs maxHamming=$maxHamming < bands=$bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val banded = sig.select(col(idCol).as("id"), col(sigCol).as("sig"),
        posexplode(array((0 until bands).map { b =>
          // band_key packs (band index, chunk value) into one equi-join key
          lit(b.toLong << width) + shiftright(col(sigCol), b * width)
            .bitwiseAND(mask)
        }: _*)).as(Seq("band", "band_key")))
      .select("id", "sig", "band_key")
    val capped = dropHotKeys(banded, "band_key", maxBandDf)
    capped.as("a").join(capped.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Segment-level dedup (CCNet-style "line dedup", with fixed-width word
   * segments standing in for lines on unstructured text): cut every
   * document into consecutive `segWords`-word segments, drop each segment
   * that occurs in MORE than `maxDocs` distinct documents (corpus-wide
   * boilerplate: headers, navigation chrome, license blocks), and reassemble
   * the surviving segments in original order. Documents left with zero
   * segments are dropped (CCNet drops emptied docs).
   *
   * Returns (`idCol`, text_deduped, n_kept, n_dropped).
   *
   * Scale shape — the text crosses the wire ONCE: segment occurrence counts
   * aggregate (fingerprint, doc-count) pairs only (16-byte md5 fingerprint,
   * never the segment text — one shuffle of O(segments) short rows); the
   * resulting HOT set (df > maxDocs) is orders of magnitude smaller than
   * the corpus and joins back as a left join the planner broadcasts when it
   * fits (falling back to a fingerprint-key shuffle join when it doesn't);
   * the only text-bearing shuffle is the final per-document reassembly
   * groupBy. Compare: the naive plan joins full segment text against global
   * counts — twice the text volume over the wire.
   */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segWords: Int, maxDocs: Int): DataFrame = {
    require(segWords > 0 && maxDocs > 0, "segWords and maxDocs must be > 0")
    val toks = tokens(col(textCol))
    val nSegs = ceil(size(toks).cast("double") / segWords).cast("int")
    val segs = spread(df.filter(col(textCol).isNotNull))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nSegs - 1), i =>
          array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
          .as(Seq("seg_idx", "seg")))
      .withColumn("fp", md5(col("seg")))
    val hot = segs.groupBy("fp")
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDocs)
      .select(col("fp").as("hot_fp"))
    val marked = segs.join(hot, col("fp") === col("hot_fp"), "left_outer")
      // left join against the hot set: a match means boilerplate, drop it
      .withColumn("keep", col("hot_fp").isNull)
    val kept = when(col("keep"), struct(col("seg_idx"), col("seg")))
    marked.groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(kept)),
          s => s.getField("seg")), " ").as("text_deduped"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
      .filter(col("n_kept") > 0)
  }

  /**
   * PER-SOURCE BOILERPLATE MINING — the template report behind per-domain
   * cleaning (CCNet and friends dedup lines per DOMAIN, because nav bars,
   * footers and cookie banners repeat within a site, not across the web):
   * fixed-width word segments occurring in ≥ `minDocs` distinct documents
   * OF THE SAME SOURCE. The output is the removal list a per-source
   * segment-dedup pass consumes, and the artifact a human audits before
   * turning that pass on.
   *
   * Returns (`sourceCol`, seg, n_docs), one row per (source, segment).
   *
   * Scale: ONE shuffle keyed (source, 16-byte segment fingerprint) — the
   * per-doc pre-distinct and the min(seg) representative both partial-
   * aggregate map-side, so repeated in-doc boilerplate adds no wire
   * volume and each distinct segment's text crosses once per partition,
   * not once per occurrence.
   */
  def boilerplateBySource(df: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, segWords: Int,
                          minDocs: Int): DataFrame = {
    require(segWords > 0 && minDocs > 1, "segWords > 0, minDocs > 1")
    val toks = tokens(col(textCol))
    val nSegs = ceil(size(toks).cast("double") / segWords).cast("int")
    spread(df.filter(col(textCol).isNotNull))
      .select(col(sourceCol), col(idCol),
        explode(transform(sequence(lit(0), nSegs - 1), i =>
          array_join(slice(toks, i * segWords + 1, lit(segWords)), " ")))
          .as("seg"))
      .groupBy(col(sourceCol), md5(col("seg")).as("__fp"))
      .agg(count_distinct(col(idCol)).as("n_docs"), min(col("seg")).as("seg"))
      .filter(col("n_docs") >= minDocs)
      .select(col(sourceCol), col("seg"), col("n_docs"))
  }

  /**
   * Keep the BEST-scoring member of every duplicate cluster — the
   * production keep rule for near-dup dedup (min-id keep, as in
   * [[SimilarityOps.semanticDedup]], discards quality information; real
   * pipelines keep the longest / highest-quality / most-recent member).
   * `pairs` (id1, id2) are dup edges from any tier (MinHash, SimHash,
   * embedding); clusters are their transitive closure via
   * [[connectedComponentsStar]]; within each cluster the row with the
   * highest `scoreCol` wins, ties toward the smaller id. Rows in no pair
   * survive as their own singleton cluster (`n_members` = 1).
   *
   * Scale: components shuffle O(edges)/round (O(log d) rounds); the keep
   * step is one (cluster, score-argmax) hash agg — max_by partial-
   * aggregates map-side, so the exchange carries one candidate per
   * (cluster, partition) — plus one id equi-join back to the corpus.
   * Nothing touches all-pairs and nothing collects.
   */
  def keepBestPerCluster(df: DataFrame, idCol: String, scoreCol: String,
                         pairs: DataFrame): DataFrame =
    keepBestByAssignment(df, idCol, scoreCol, connectedComponentsStar(pairs))

  /** [[keepBestPerCluster]] against a PRECOMPUTED (id, cluster_id)
    * assignment — the [[ClusterStore]] consumer form: the cluster artifact
    * is built once per ingest wave and every keep/ban/split question reads
    * it, instead of re-running connected components per query. */
  def keepBestByAssignment(df: DataFrame, idCol: String, scoreCol: String,
                           assignment: DataFrame): DataFrame = {
    val clusters = assignment.select(col("id"), col("cluster_id"))
    val lab = df
      .select(col(idCol).cast("long").as("__kb_id"), col(scoreCol).as("__kb_s"))
      .join(clusters, col("__kb_id") === col("id"), "left")
      .select(col("__kb_id"), col("__kb_s"),
        coalesce(col("cluster_id"), col("__kb_id")).as("__kb_cl"))
    val best = lab.groupBy("__kb_cl").agg(
      max_by(col("__kb_id"), struct(col("__kb_s"), -col("__kb_id")))
        .as("__kb_keep"),
      count(lit(1)).as("n_members"))
    df.join(best, col(idCol).cast("long") === col("__kb_keep"))
      .drop("__kb_cl", "__kb_keep")
  }

  /**
   * RARE-SHINGLE co-occurrence edges — the dup-EVIDENCE graph: an edge
   * links two docs that share at least one `n`-gram whose corpus document
   * frequency lies in [`minDf`, `maxDf`]. Low-df shingles are exactly the
   * content that is distinctive yet repeated — quoted passages, shared
   * templates, partial copies — so this graph is the raw material graph
   * analytics over a dedup corpus run on (PageRank centrality of
   * boilerplate hubs, k-core of template families, triangle-dense clique
   * detection), a strictly denser companion to the verified near-dup pair
   * graph (which at high thresholds is near-degree-1).
   *
   * Scale: per-doc shingling is the zero-shuffle [[shingleHashes]] kernel;
   * ONE pinned exchange on the shingle hash serves the df aggregation, the
   * rarity semi-join, and both self-join sides (ReuseExchange — the
   * [[dropHotKeys]] discipline); `maxDf` caps the per-shingle clique at
   * maxDf·(maxDf−1)/2 pairs, so the edge count is linear in the number of
   * rare shingles — never quadratic in any document neighborhood. The text
   * itself moves nowhere: rows are (id, 8-byte hash).
   */
  def rareShingleEdges(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDf: Int = 2, maxDf: Int = 5): DataFrame = {
    require(minDf >= 2 && maxDf >= minDf, "need 2 <= minDf <= maxDf")
    val sh = spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long").as("id"),
        explode(shingleHashes(col(textCol), n)).as("sh"))
    val exchanged = sh.repartition(col("sh"))
    val rare = exchanged.groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(minDf, maxDf)).select("sh")
    val keyed = exchanged.join(rare, Seq("sh"), "left_semi")
    keyed.as("a").join(keyed.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /**
   * EXACT-SUBSTRING duplicated spans — the span-level dedup of Lee et al.,
   * "Deduplicating Training Data Makes Language Models Better" (ExactSubstr):
   * instead of dropping whole near-dup documents, find the exact token
   * ranges that recur across documents (licenses, boilerplate headers,
   * quoted passages) so a pipeline can cut the span and keep the rest.
   *
   * Every word `n`-gram occurrence (position kept, duplicates kept —
   * [[graft.functions.WordGrams]], the counting kernel) is fingerprinted;
   * grams whose corpus document-frequency ≥ `minDf` are duplicate hits;
   * per document, overlapping-or-adjacent hit ranges `[pos, pos+n-1]`
   * merge into MAXIMAL spans (gaps-and-islands over a running max-end).
   * The paper's suffix-array machinery finds arbitrary-length repeats;
   * fixed-`n` gram chaining finds every repeat of length ≥ `n` — the same
   * spans, because a duplicated region of length L ≥ n contains exactly
   * its L−n+1 duplicated grams, which chain into one island.
   *
   * Returns (`idCol`, span_start, span_end, span_tokens, n_dup_grams),
   * token positions 0-based inclusive, clamped to document length.
   *
   * Scale: gram rows are (id, pos, 8-byte hash) — the TEXT never moves.
   * ONE pinned gram-level exchange on `sh` serves both the df-aggregation
   * and the hit join (ReuseExchange; same discipline as [[jaccardPairs]]);
   * the island window shuffles ONLY duplicate hits — in a clean corpus
   * orders of magnitude fewer rows than grams — partitioned per document,
   * never global. The df-agg pre-distincts (id, sh) map-side, so repeated
   * boilerplate inside one doc adds no shuffle volume.
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int, minDf: Int = 2): DataFrame = {
    require(n > 0 && minDf >= 2, "n must be > 0, minDf >= 2")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val grams = spread(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("id"),
        size(tokens(col(textCol))).cast("bigint").as("dl"),
        posexplode(call_function("graft_word_grams", col(textCol), lit(n)))
          .as(Seq("pos", "g")))
      .select(col("id"), col("dl"), col("pos").cast("bigint").as("pos"),
        TextOps.fingerprint60(col("g")).as("sh"))
      .repartition(col("sh")) // the ONE gram-level exchange, reused below
    val dup = grams.select("id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("sh")
    val hits = grams.join(dup, "sh")
    val byPos = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(n - 1))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val isles = hits
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L)
        .otherwise(0L))
      .withColumn("__isle",
        sum(col("__new")).over(byPos.rowsBetween(Window.unboundedPreceding, 0)))
    isles.groupBy(col("id"), col("__isle"))
      .agg(min("pos").as("span_start"),
        least(max(col("pos")) + lit(n - 1), max(col("dl")) - 1).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_dup_grams"))
  }

  /**
   * Per-document DUPLICATED-TOKEN RATIO — the corpus-level quality signal
   * on top of [[duplicateSpans]]: what fraction of each document's tokens
   * sit inside a cross-document duplicated span. The standard gate feeding
   * a keep/trim/drop decision (e.g. drop when > 0.8, trim spans when
   * > 0.2). Zero-span documents are kept with ratio 0 (a LEFT join — the
   * gate must see clean docs too, not just offenders).
   *
   * Returns (`idCol`, n_tokens, dup_tokens, dup_ratio).
   *
   * Scale: [[duplicateSpans]]'s contract plus one per-doc sum of span
   * lengths (hits-only rows) and one id equi-join against a narrow
   * (id, token-count) projection of the corpus — text never moves here
   * either.
   */
  def dupTokenRatio(df: DataFrame, idCol: String, textCol: String,
                    n: Int, minDf: Int = 2): DataFrame = {
    val perDoc = duplicateSpans(df, idCol, textCol, n, minDf)
      .groupBy(idCol).agg(sum("span_tokens").as("dup_tokens"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), size(tokens(col(textCol))).cast("bigint").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_ratio"))
  }

  /**
   * WINNOWING near-dup pairs — the MOSS tier: document pairs sharing at
   * least `minShared` winnowed character-k-gram fingerprints
   * ([[TextOps.winnowFingerprints]]). The winnowing guarantee (any
   * shared substring of length ≥ k+w−1 contributes a shared
   * fingerprint) makes this the LOCAL-similarity tier: it catches
   * copied passages and light edits that whole-document Jaccard dilutes
   * away, and it's character-level, so token-boundary games don't
   * evade it — the plagiarism-detection complement to MinHash (global
   * resemblance) and SimHash (global Hamming).
   *
   * Returns (id1, id2, n_shared), id1 < id2.
   *
   * Scale: winnowing compresses each doc ~w× before anything wide; the
   * inverted-index self-join runs over the compressed fingerprint
   * stream with the same ONE pinned exchange + `maxFpDf` hot-key cap as
   * every other pair tier (a fingerprint in more than `maxFpDf` docs is
   * corpus boilerplate, not evidence). Never all-pairs.
   */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int, minShared: Int,
                         maxFpDf: Int = Int.MaxValue): DataFrame =
    winnowNearDupPairs(
      TextOps.winnowFingerprints(df, idCol, textCol, k, w),
      idCol, minShared, maxFpDf)

  /** [[winnowNearDupPairs]] off PRECOMPUTED
    * [[TextOps.winnowFingerprints]] output — the shared-artifact form
    * (the ShingleIndex economics applied to the winnow tier): a user
    * running both the per-doc fingerprint profile and the pair join over
    * one corpus pays the O(total characters) winnow pass ONCE (persist
    * the fingerprint frame, hand it to both). Expects the exact
    * winnowFingerprints schema (`idCol`, `fingerprint`). */
  def winnowNearDupPairs(fingerprints: DataFrame, idCol: String,
                         minShared: Int, maxFpDf: Int): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val fp = fingerprints
      .select(col(idCol).cast("long").as("id"),
        col("fingerprint").as("__fp"))
    val kept = dropHotKeys(fp, "__fp", maxFpDf)
    kept.as("a").join(kept.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * LSH ESTIMATOR-QUALITY AUDIT — before trusting MinHash+LSH dedup at
   * corpus scale, measure it against exact n-gram Jaccard on a slice:
   * recall says what fraction of true near-dup pairs the banding scheme
   * surfaces (banding misses borderline pairs by design — this is the
   * number that justifies the bands/hashes setting), precision says what
   * the verification step's full-shingle Jaccard admits that the
   * df-capped exact pipeline would not. One row:
   * (n_true, n_est, n_hit, recall, prec).
   *
   * Scale: both arms are the production pipelines themselves (banded /
   * inverted-index — never all-pairs); the comparison is a pair-key
   * full-outer join + conditional sums over pair sets that are tiny by
   * construction. Run it on a sampled slice at 100 TB — the estimate of
   * recall needs thousands of pairs, not the corpus.
   */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
                     n: Int, numHashes: Int, bands: Int, threshold: Double,
                     maxDf: Int): DataFrame = {
    val tru = jaccardPairs(df, idCol, textCol, n, threshold, maxDf)
      .select(col("id1"), col("id2"), lit(1L).as("__t"))
    val est = minhashDedupPairs(df, idCol, textCol, n, numHashes, bands,
        threshold, maxDf)
      .select(col("id1"), col("id2"), lit(1L).as("__e"))
    tru.join(est, Seq("id1", "id2"), "full_outer")
      .agg(
        sum(coalesce(col("__t"), lit(0L))).as("n_true"),
        sum(coalesce(col("__e"), lit(0L))).as("n_est"),
        sum(when(col("__t").isNotNull && col("__e").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_true"), col("n_est"), col("n_hit"),
        round(col("n_hit").cast("double") /
          nullif(col("n_true"), lit(0L)), 6).as("recall"),
        round(col("n_hit").cast("double") /
          nullif(col("n_est"), lit(0L)), 6).as("prec"))
  }

  /**
   * APPLY the ExactSubstr cut — the second half of Lee et al.'s span
   * dedup that [[duplicateSpans]] only reports: remove every token
   * sitting inside a cross-document duplicated span and reassemble the
   * remainder in order. Documents with no duplicated span pass through
   * verbatim (a LEFT join — the cut must not drop clean docs); a fully
   * duplicated document survives as an empty string with
   * `n_tokens_kept = 0` (the caller's drop gate, not ours — matching the
   * paper, which cuts spans and leaves document-level policy downstream).
   *
   * Returns (`idCol`, text_cut, n_tokens, n_tokens_kept, n_tokens_cut).
   *
   * Scale: [[duplicateSpans]]'s contract (text never moves there), plus
   * ONE id equi-join of the corpus against the per-doc span lists —
   * spans are offender-docs-only and ride as a small array column; the
   * cut itself is a per-row higher-order `filter` over the token array
   * (codegen, zero shuffle). The corpus text moves at most once, and
   * only to meet its own spans.
   */
  def cutDupSpans(df: DataFrame, idCol: String, textCol: String,
                  n: Int, minDf: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, n, minDf)
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = TextOps.tokens(col(textCol))
    df.filter(col(textCol).isNotNull)
      .join(spans, Seq(idCol), "left_outer")
      .select(col(idCol),
        filter(toks, (t, i) => !exists(coalesce(col("__spans"),
            array().cast("array<struct<span_start:bigint,span_end:bigint>>")),
          s => i.cast("long").between(s.getField("span_start"),
            s.getField("span_end"))))
          .as("__kept"),
        size(toks).cast("long").as("n_tokens"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_cut"),
        col("n_tokens"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        (col("n_tokens") - size(col("__kept"))).cast("long")
          .as("n_tokens_cut"))
  }

  /**
   * Blocked fuzzy self-join — the entity-resolution primitive: candidate
   * pairs come ONLY from rows sharing a blocking key (a cheap deterministic
   * surrogate: first token, soundex, sorted-prefix …), then the expensive
   * string distance runs within blocks and pairs with
   * `levenshtein ≤ maxDist` survive. Emits (id1, id2, s1, s2, dist) with
   * id1 < id2.
   *
   * Scale: the block equi-join shuffles each side once on the blocking key
   * — never the all-pairs cross join (the defining trick of record
   * linkage). Within-block cost is O(Σ blockSize²) levenshtein calls;
   * `maxBlockSize` df-caps degenerate blocks (the empty-key / "the" block)
   * via the same [[dropHotKeys]] one-exchange pass the LSH tiers use —
   * dropping a super-hot block is the standard blocking-quality trade,
   * not a correctness loss (callers re-block hot rows on a finer key).
   */
  def blockedFuzzyJoin(df: DataFrame, idCol: String, strCol: String,
                       blockKey: Column, maxDist: Int,
                       maxBlockSize: Int = Int.MaxValue): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(strCol).as("s"),
      blockKey.as("block_key"))
    val capped = dropHotKeys(v, "block_key", maxBlockSize)
    capped.as("a").join(capped.as("b"),
        col("a.block_key") === col("b.block_key") && col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.s").as("s1"), col("b.s").as("s2"), col("dist"))
  }

  /**
   * FELLEGI–SUNTER record-linkage scoring — the probabilistic tier above
   * [[blockedFuzzyJoin]]'s single-field distance gate: every within-block
   * candidate pair gets a log-likelihood-ratio match score summed over
   * the comparison `fields`. A field agreement contributes ln(m/u_f),
   * a disagreement ln((1−m)/(1−u_f)), where `m` is the assumed
   * agreement probability among true matches (the classic 0.9 default)
   * and u_f — the probability two RANDOM records agree on field f — is
   * ESTIMATED from the data as Σ_v share_v² over f's value distribution
   * (the standard frequency-based u). Rare fields thus earn high
   * agreement weight, near-constant fields earn almost none — exactly
   * the calibration a hand-tuned "+1 per matching field" score lacks.
   *
   * Emits (id1, id2, n_agree, score) for ALL within-block pairs (id1 <
   * id2, ids cast long); callers threshold `score` (> 0 ≈ "more likely
   * match than chance"). Null fields compare null-safely (null = null
   * agrees). Deterministic: u_f derives from exact integer counts, the
   * per-pair sum is a fixed-order expression over ≤ |fields| doubles,
   * and the score rounds to 6dp.
   *
   * Scale: one count aggregate per field (value-cardinality sized) folds
   * into a 1-row broadcast weight artifact; pairs come from the same
   * hot-capped block equi-join as [[blockedFuzzyJoin]] — each side
   * shuffles once on the block key, never an all-pairs join; scoring is
   * a per-row projection.
   */
  def linkageScores(df: DataFrame, idCol: String, blockCols: Seq[String],
                    fields: Seq[String], m: Double = 0.9,
                    maxBlockSize: Int = 1000): DataFrame = {
    require(fields.nonEmpty, "linkageScores needs comparison fields")
    require(m > 0 && m < 1, s"bad m=$m")
    // 1-row weight artifact: u_f = Σ_v n_v² / N² per field, then the
    // agree/disagree log-likelihood weights
    val nRows = df.agg(count(lit(1)).as("__n"))
    val weights = fields.map { f =>
        df.groupBy(col(f)).agg(count(lit(1)).as("__c"))
          .agg(sum(col("__c") * col("__c")).as(s"__s_$f"))
      }
      .foldLeft(nRows)((acc, w) => acc.crossJoin(w))
    val weighted = fields.foldLeft(weights) { (acc, f) =>
      val u = col(s"__s_$f").cast("double") / (col("__n") * col("__n"))
      acc.withColumn(s"__wa_$f", log(lit(m) / u))
        .withColumn(s"__wd_$f", log(lit(1 - m) / (lit(1.0) - u)))
    }
    val v = df.select((col(idCol).cast("long").as("__id") +:
      blockCols.map(col)) ++ fields.map(col): _*)
    val capped = {
      val sized = v.groupBy(blockCols.map(col): _*)
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") <= maxBlockSize)
        .select(blockCols.map(col): _*)
      v.join(sized, blockCols, "left_semi")
    }
    val a = capped.select((col("__id").as("id1") +: blockCols.map(col)) ++
      fields.map(f => col(f).as(s"__a_$f")): _*)
    val b = capped.select((col("__id").as("id2") +: blockCols.map(col)) ++
      fields.map(f => col(f).as(s"__b_$f")): _*)
    val score = fields.map(f =>
      when(col(s"__a_$f") <=> col(s"__b_$f"), col(s"__wa_$f"))
        .otherwise(col(s"__wd_$f"))).reduce(_ + _)
    val nAgree = fields.map(f =>
      when(col(s"__a_$f") <=> col(s"__b_$f"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, blockCols).filter(col("id1") < col("id2"))
      .crossJoin(broadcast(weighted))
      .select(col("id1"), col("id2"), nAgree.as("n_agree"),
        round(score, 6).as("score"))
  }

  /**
   * EDIT-DISTANCE self-join over the DISTINCT string dictionary — all
   * pairs within `maxDistance` Levenshtein edits: the fuzzy-matching
   * primitive for name/brand/label dictionaries ("red widgett" ≈ "red
   * widget"), where [[blockedFuzzyJoin]] needs a caller-chosen blocking
   * key, this derives its own from the strings. The Ed-Join q-gram
   * prefix filter (Xiao/Wang/Lin 2008): k edits destroy at most q·k of
   * a string's positional q-grams, so two strings within k edits MUST
   * share a gram among their first q·k+1 distinct grams in any common
   * total order (hash order here — the jaccardPairsPrefix canon); plus
   * the free length gate ||a|−|b|| ≤ k. Candidates verify with exact
   * `levenshtein`, so the filters only cost recall nothing. Strings pad
   * with q−1 sentinel chars per side, so even sub-q-length strings carry
   * grams and short-string pairs are never silently missed. Emits
   * (s1, s2, ed), s1 < s2, ordered.
   *
   * Operates on the DISTINCT dictionary deliberately: row-level pair
   * output explodes quadratically in duplicate frequency (312 copies
   * per name at sf0.1 → ~3M same-name pairs alone), while the
   * dictionary stays vocabulary-sized at any corpus scale — join the
   * result back to rows when row pairs are genuinely wanted.
   *
   * `maxGramDf` caps hot-gram postings like the LSH tiers — but unlike
   * there, verification cannot repair a capped candidate miss (the
   * score is over raw strings, not capped sets), so the default is
   * uncapped: set it only as an explicit recall trade on dictionaries
   * with pathological shared boilerplate.
   *
   * Scale: one narrow gram pass over the dictionary, a prefix-sized
   * self-join, and |candidates| exact verifications — never the all-
   * pairs product.
   */
  def editDistancePairs(df: DataFrame, strCol: String, maxDistance: Int,
                        q: Int = 3,
                        maxGramDf: Int = Int.MaxValue): DataFrame = {
    require(maxDistance >= 1, s"bad maxDistance=$maxDistance")
    require(q >= 1, s"bad q=$q")
    val names = spread(
      df.select(col(strCol).cast("string").as("s"))
        .filter(col("s").isNotNull).distinct())
    val pad = "\u0001" * (q - 1)
    val padded = concat(lit(pad), col("s"), lit(pad))
    val grams = array_sort(array_distinct(
      transform(sequence(lit(0), length(padded) - q),
        i => graft.ext.TextOps.fingerprint60(padded.substr(i + 1, lit(q))))))
    val withG = names
      .select(col("s"), length(col("s")).as("len"), grams.as("__g"))
      .withColumn("sz", size(col("__g")))
    val qk = q * maxDistance
    // PREFIX arm — valid only when BOTH sides hold more than q·k
    // distinct grams (the pigeonhole needs a guaranteed survivor:
    // overlap ≥ max(|Gₐ|,|G_b|) − q·k ≥ 1)
    val pre = withG.filter(col("sz") > qk)
      .select(col("s"), col("len"),
        explode(slice(col("__g"), 1, qk + 1)).as("gr"))
    val capped = dropHotKeys(pre, "gr", maxGramDf)
    val candsPrefix = capped.as("a").join(capped.as("b"),
        col("a.gr") === col("b.gr") && col("a.s") < col("b.s") &&
          abs(col("a.len") - col("b.len")) <= maxDistance)
      .select(col("a.s").as("s1"), col("b.s").as("s2"))
    // FALLBACK arm — pairs touching a LOW-GRAM string (short, or long
    // but repetitive: "aaaa…" collapses to ≤ q·k distinct grams), where
    // zero shared grams proves nothing. Such strings length-band join
    // against the whole dictionary on an exploded band key (equi-join,
    // never a nested loop); they are a rare dictionary slice, and on a
    // pathologically repetitive dictionary this degrades to the length-
    // banded quadratic — correct, just honest about the input.
    val low = withG.filter(col("sz") <= qk)
      .select(col("s").as("__ls"),
        explode(sequence(col("len") - maxDistance,
          col("len") + maxDistance)).as("__lb"))
    val candsLow = low
      .join(withG.select(col("s"), col("len")),
        col("len") === col("__lb") && col("__ls") =!= col("s"))
      .select(least(col("__ls"), col("s")).as("s1"),
        greatest(col("__ls"), col("s")).as("s2"))
    candsPrefix.unionByName(candsLow).distinct()
      .withColumn("ed", levenshtein(col("s1"), col("s2")).cast("long"))
      .filter(col("ed") <= maxDistance)
      .orderBy("s1", "s2")
  }

  /**
   * MUTUAL BEST MATCH — one-to-one record linkage from a scored
   * candidate-pair table: keep (a, b) only when b is a's highest-scoring
   * candidate AND a is b's (ties → smaller counterpart). This is the
   * standard greedy-free assignment step after scoring
   * ([[linkageScores]], Jaro-Winkler, cosine): without it one golden
   * record absorbs every near-match in its block and the merge
   * manufactures a mega-entity. Symmetric-best is the scalable relaxation
   * of optimal bipartite matching — it never chains (a→b→c), needs no
   * sequential greedy pass, and is the rule ER systems actually deploy.
   *
   * `pairs` carries (aCol, bCol, scoreCol) with each unordered pair in
   * ONE row. Emits (aCol, bCol, scoreCol) for the surviving pairs.
   *
   * Deterministic: both argmaxes are `min(struct(−score, counterpart))`
   * aggregates on the caller's (pre-rounded) scores — the negated-score
   * form keeps the smaller-counterpart tie-break for ANY ordered id
   * type (strings included, where the −id trick can't apply).
   *
   * Scale: the pair table unions into a directed view (2·pairs rows),
   * one hash aggregate per side, one equi-join back — O(pairs), no
   * windows, nothing quadratic beyond the candidate generation the
   * caller already bounded (blocked/banded, never all-pairs).
   */
  def mutualBestMatch(pairs: DataFrame, aCol: String, bCol: String,
                      scoreCol: String): DataFrame = {
    val directed = pairs
      .select(col(aCol).as("__x"), col(bCol).as("__y"),
        col(scoreCol).as("__s"))
      .unionAll(pairs.select(col(bCol).as("__x"), col(aCol).as("__y"),
        col(scoreCol).as("__s")))
    val best = directed.groupBy("__x")
      .agg(min(struct((-col("__s")).as("ns"), col("__y"))).as("b"))
      .select(col("__x"), col("b.__y").as("__besty"))
    pairs
      .join(best.select(col("__x").as(aCol), col("__besty").as(bCol)),
        Seq(aCol, bCol), "left_semi")
      .join(best.select(col("__besty").as(aCol), col("__x").as(bCol)),
        Seq(aCol, bCol), "left_semi")
  }
}
