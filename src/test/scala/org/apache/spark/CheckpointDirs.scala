package org.apache.spark

/** Spec access to a context's checkpoint dir exactly as Spark holds it.
  * `setCheckpointDir` cannot clear a dir or restore a resolved one (it
  * always appends a fresh uuid level), so a spec that changes the shared
  * context's dir puts the saved value back through here. */
object CheckpointDirs {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
