package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Same-package access to the listener bus, so a test can wait until every
  * scheduler event of a finished action has been delivered before reading
  * a listener's counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
