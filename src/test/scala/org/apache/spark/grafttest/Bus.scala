package org.apache.spark.grafttest

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

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

  /** Bytes the tasks that ran while `body` ran spilled to disk. */
  def diskSpilledOf(sc: SparkContext)(body: => Unit): Long = {
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) spilled.addAndGet(e.taskMetrics.diskBytesSpilled)
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc) }
    finally sc.removeSparkListener(listener)
    spilled.get
  }
}
