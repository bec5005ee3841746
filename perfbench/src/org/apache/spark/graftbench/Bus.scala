package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Same-package access to the listener bus, so the trace can wait until every
  * scheduler event of a finished call has been delivered before reading its
  * counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
