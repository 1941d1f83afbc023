package org.apache.spark

/** The checkpoint dir is global to the `SparkContext` and, under the
  * `graft.operators.Reuse` rule, decides how EVERY later truncation in
  * the JVM materializes. Specs that need the reliable path set it only
  * for the duration of one block. `SparkContext` has no public way to
  * unset it, hence this package. */
object CheckpointDirs {
  /** Runs `body` with `dir` as `sc`'s checkpoint dir, then unsets it
    * on every exit path. */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }
}
