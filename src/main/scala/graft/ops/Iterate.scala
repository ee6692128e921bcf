package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{CheckpointAccess, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * The one per-round lineage cut behind every iterative operator (the
 * graph family, both connected-components forms, Weiszfeld, MMR, BPE
 * training), and the stage cut of the ingest wave
 * ([[graft.ext.IngestOps.ingestWave]]), whose six artifact writes read
 * each admission stage as a `LogicalRDD` leaf instead of re-planning —
 * and re-printing into every SQL event — the whole chain above it.
 *
 * Why every round is cut: a lazily composed loop embeds all i−1
 * predecessor plans inside round i's, so total work is O(rounds²)
 * re-executions and the plan tree itself outgrows the driver (a round
 * that reads its predecessor twice DOUBLES the tree per round). The cut
 * must truncate both the logical plan AND the physical RDD dependency
 * chain. persist() plus a rebase of the next round on the persisted RDD
 * (`LogicalRDD` leaf) truncates only the logical plan: each round's
 * serialized task binary still references the full RDD object graph of
 * every previous round (ShuffleDependency links are not pruned at stage
 * boundaries), and ~50 accumulated rounds overflow the task
 * deserializer's stack. A checkpoint truncates both. The cut frame also
 * drops the size estimate the checkpoint carries over from the plan it
 * materialized ([[org.apache.spark.sql.CheckpointAccess]]): carried
 * round to round, the estimates of a loop that joins its predecessor
 * twice square every round.
 *
 * One fault-tolerance policy, read from Spark's own deployment setting:
 * with a SparkContext checkpoint directory the cut is a reliable
 * `checkpoint()` — an executor lost mid-loop costs a re-read, not the
 * job — and [[Cut.release]] deletes the files; without one it is
 * `localCheckpoint`, whose executor-local blocks a lost executor takes
 * with it. Either way each round is computed exactly once.
 *
 * The returned frame's leaf is the checkpointed RDD, so callers own no
 * cache-manager entry; an operator that returns its last cut leaves the
 * blocks to the ContextCleaner once the caller drops the frame.
 */
private[graft] object Iterate {

  /** A materialized, lineage-cut frame plus the thunk that frees its
    * checkpoint (local blocks or reliable files) once nothing reads it. */
  final case class Cut(df: DataFrame, release: () => Unit)

  /** Cut `df` eagerly: one job computes it and checkpoints it. */
  def cut(df: DataFrame): Cut =
    wrap(if (reliable(df)) df.checkpoint() else df.localCheckpoint())

  /** Cut `df` with the caller's `probe` — an action over the frame, e.g.
    * a fixed-point aggregate — as the materializing job, so the probe
    * costs no job of its own (Spark completes a local checkpoint at the
    * end of the first job that computes the RDD). A reliable cut writes
    * its files in its own job and the probe reads them back: the round
    * is still computed once. */
  def cut[A](df: DataFrame, probe: DataFrame => A): (Cut, A) = {
    val c = if (reliable(df)) cut(df) else wrap(df.localCheckpoint(eager = false))
    (c, probe(c.df))
  }

  /** `rounds` applications of `step(previous, round)` starting from
    * `init`: every frame is cut, and each is released as soon as its
    * successor is materialized. Returns the last cut, unreleased. */
  def fold(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): Cut =
    (1 to rounds).foldLeft(cut(init)) { (prev, round) =>
      val next = cut(step(prev.df, round))
      prev.release()
      next
    }

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  private def wrap(checkpointed: DataFrame): Cut = {
    val df = CheckpointAccess.withoutStats(checkpointed)
    val rdd = df.queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l.rdd }.get
    Cut(df, () => {
      CheckpointAccess.dropBlocks(rdd)
      rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(rdd.context.hadoopConfiguration).delete(p, true)
      }
    })
  }
}
