package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the job
  * counts read after an operation are complete. The listener bus is
  * spark-private; this shim is the only code of the benchmark that lives in
  * Spark's package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
