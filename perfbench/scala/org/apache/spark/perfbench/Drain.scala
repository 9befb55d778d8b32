package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the async listener queues are empty, so events of the op
  * that just returned are recorded before the next op starts. Runs
  * outside every op timer. */
object Drain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
