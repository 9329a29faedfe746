package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered. The
  * listener bus is asynchronous, so task metrics read right after a job
  * returns may still be in flight; `waitUntilEmpty` is Spark-internal, which
  * is why this one call lives under the `org.apache.spark` package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
