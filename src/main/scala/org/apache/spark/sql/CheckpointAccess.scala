package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD

/** The two checkpoint operations the per-round lineage cut needs that
  * Spark keeps package-private. */
object CheckpointAccess {

  /** Rebuilds a checkpointed frame's `LogicalRDD` leaf without the size
    * statistics and constraints `Dataset.checkpoint` copies from the plan
    * it materialized. A loop that cuts every round would otherwise carry
    * each round's size estimate into the next, where every join MULTIPLIES
    * it: a round that joins its predecessor twice squares the estimate,
    * and a few dozen rounds in, planning one round means multiplying
    * integers with millions of digits. */
  def withoutStats(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case l: LogicalRDD =>
      val session = df.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(session, l.copy()(session, None, None))
  }

  /** Drops a checkpointed RDD's blocks. `RDD.unpersist` does the same but
    * warns, for a local checkpoint, that the lineage is gone — a warning
    * per released round, for a round that is never read again. */
  def dropBlocks(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
