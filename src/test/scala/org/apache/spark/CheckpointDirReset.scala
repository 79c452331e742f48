package org.apache.spark

/** Test access to clear the context's checkpoint directory, whose setter is
  * `private[spark]`: suites share one context, and a directory left set
  * switches every later iterative kernel to reliable checkpoints. */
object CheckpointDirReset {
  def apply(sc: SparkContext): Unit = sc.checkpointDir = None
}
