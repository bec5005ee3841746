package org.apache.spark.grafttest

import org.apache.spark.metrics.source.CodegenMetrics

/** Same-package access to the code generator's metrics, so a test can count
  * the classes Spark compiles while a block runs. A class found in the
  * codegen cache is not compiled again, so a warm plan compiles none. */
object Codegen {
  /** Number of generated classes compiled while `body` ran. */
  def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
