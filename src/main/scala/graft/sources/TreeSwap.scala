package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Marker-gated rename-aside swap of a whole directory TREE — the one
 * state machine behind every persisted root that publishes by rename:
 * [[Stores.martOverwrite]] and [[Stores.compact]], the
 * [[graft.ext.IngestOps]] wave roots, [[graft.ext.AnnIndexStore]]
 * retrain/compact, [[graft.ext.LexIndexStore]] compact and
 * [[graft.ext.ClusterStore]] commits. Each use is one declared [[Kind]]
 * below; those names are the on-disk layout and never change.
 *
 * [[swap]]: `build` writes the complete successor tree at the tmp path;
 * the root `marker` file witnesses that EVERY sub-write committed
 * (parquet `_SUCCESS` files only mark individual sub-writes); then
 * live→bak, tmp→live, drop bak — never delete-then-rename, so at any
 * instant a complete tree is live or recoverable.
 *
 * [[recover]] repairs any crash point: live present → BOTH stale
 * neighbors drop (a marked-but-unswapped tmp goes stale the moment the
 * live tree is consumed again — promoting it later would roll the
 * artifact back); live missing + MARKED tmp → the commit completed,
 * promote it whole; live missing + bak → restore it. An unmarked tmp is
 * an interrupted build: never promoted. Every store runs it on entry, in
 * its readers and writers alike, so a crashed swap heals on the next
 * access. That assumes one writer per root, with no reader of the root
 * running while its swap is in flight (recovery would drop the
 * unswapped tmp).
 *
 * A rename or delete the file system REFUSES (returns false — Hadoop
 * reports failure that way, not by throwing) aborts with an
 * `IOException`: carrying on to the cleanup deletes would destroy the
 * only surviving copy while the caller reports success.
 */
private[graft] object TreeSwap {

  /** One swap protocol: the successor builds at `path + tmp`, the live
    * tree steps aside to `path + bak`, and `tmp/marker` witnesses a
    * complete build. */
  final case class Kind(tmp: String, bak: String, marker: String)

  /** Whole-mart overwrite: a parquet directory, parquet's own marker. */
  val Mart = Kind(".tmp", ".bak", "_SUCCESS")
  /** Small-files compaction of a parquet directory. */
  val Compact = Kind(".compact", ".precompact", "_SUCCESS")
  /** Compaction of an ingest-wave root (corpus, band index, report). */
  val WaveCompact = Kind(".compact", ".precompact", "_STORE_SUCCESS")
  /** ANN / BM25 index compaction. */
  val IndexCompact = Kind(".compact", ".precompact", "_INDEX_SUCCESS")
  /** ANN index re-train under new centroids. */
  val IndexRetrain = Kind(".retrain", ".preretrain", "_INDEX_SUCCESS")
  /** Dup-cluster store commit (assignment + pairs + meta as one tree). */
  val ClusterCommit = Kind(".next", ".prev", "_STORE_SUCCESS")

  private def hp(s: String) = new Path(s)
  private def fsOf(spark: SparkSession, path: String) =
    hp(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  private[graft] def deleteOrThrow(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"delete failed: $p")

  def swap(spark: SparkSession, path: String, kind: Kind)
          (build: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val (live, tmp, bak) = (hp(path), hp(path + kind.tmp), hp(path + kind.bak))
    deleteOrThrow(fs, tmp)
    build(path + kind.tmp)
    fs.create(new Path(tmp, kind.marker)).close()
    deleteOrThrow(fs, bak)
    if (fs.exists(live)) renameOrThrow(fs, live, bak)
    renameOrThrow(fs, tmp, live)
    deleteOrThrow(fs, bak)
  }

  def recover(spark: SparkSession, path: String, kind: Kind): Unit = {
    val fs = fsOf(spark, path)
    val (live, tmp, bak) = (hp(path), hp(path + kind.tmp), hp(path + kind.bak))
    if (fs.exists(live)) {
      deleteOrThrow(fs, bak)
      deleteOrThrow(fs, tmp)
    } else if (fs.exists(new Path(tmp, kind.marker))) {
      renameOrThrow(fs, tmp, live)
      deleteOrThrow(fs, bak)
    } else if (fs.exists(bak)) {
      renameOrThrow(fs, bak, live)
      deleteOrThrow(fs, tmp)
    }
  }
}
