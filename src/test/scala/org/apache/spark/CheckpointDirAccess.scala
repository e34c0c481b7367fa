package org.apache.spark

/** Test-only access to the context's checkpoint dir, which the public
  * API can set but never clear (`SparkContext.checkpointDir` is
  * `private[spark]`). Tests that set a dir on the shared context clear
  * it again so later suites keep the local-checkpoint path.
  */
object CheckpointDirAccess {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
