package org.apache.spark

/** Test-only access to SparkContext's `private[spark]` checkpoint dir.
  * Spark has no public way to unset a dir once set, so a suite that sets
  * one would otherwise leave every later suite in the same JVM writing
  * reliable checkpoints. */
object CheckpointDirs {
  def unset(sc: SparkContext): Unit = sc.checkpointDir = None
}
