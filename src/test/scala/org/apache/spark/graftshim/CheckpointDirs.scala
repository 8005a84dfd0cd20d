package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Sets a SparkContext's checkpoint dir to an exact value, or to none.
  * The public `setCheckpointDir` appends a fresh random subdirectory,
  * so a spec that saves the dir cannot put it back through it. Lives
  * under `org.apache.spark` only for the `private[spark]` field. */
object CheckpointDirs {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
