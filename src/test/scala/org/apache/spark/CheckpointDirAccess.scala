package org.apache.spark

/** Spark can set a context's checkpoint directory but offers no public way
  * to unset it; specs that set one on the shared test context clear it
  * here, so later specs do not silently run the reliable-checkpoint path. */
object CheckpointDirAccess {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
