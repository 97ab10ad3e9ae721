package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own thread. A traced op is
  * closed only after the bus has drained, so every job, query and
  * micro-batch event of the op is attributed before the next op starts.
  * `waitUntilEmpty` is package-private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
