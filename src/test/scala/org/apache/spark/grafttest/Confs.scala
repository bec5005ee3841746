package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Same-package access to the live conf of the context, so a test can set
  * Spark confs that tasks read when they run (the sorter's force-spill
  * threshold, the executor's memory-leak check) for a block of code and
  * restore them afterwards — the test session is shared by every suite, and
  * in local mode the executor reads this very conf. */
object Confs {
  def withConfs[T](sc: SparkContext, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> sc.conf.getOption(k) }
    confs.foreach { case (k, v) => sc.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => sc.conf.set(k, v)
      case (k, None) => sc.conf.remove(k)
    }
  }
}
