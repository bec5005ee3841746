package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Same-package access to the context's checkpoint dir, so a test can set
  * one for a block of code and unset it afterwards — SparkContext has no
  * public way to unset it, and the test session is shared by every suite. */
object Checkpoints {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
