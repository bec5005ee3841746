package org.apache.spark.grafttest

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Same-package access to the listener bus, so a test can wait until every
  * scheduler event of a finished action has been delivered before reading
  * a listener's counts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of Spark jobs started while `body` ran. */
  def jobsOf(sc: SparkContext)(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc) }
    finally sc.removeSparkListener(listener)
    started.get
  }
}
