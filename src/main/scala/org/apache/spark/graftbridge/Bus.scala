package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import scala.reflect.ClassTag

/** The `private[spark]` reach-ins the timed runs need. Block-update
  * events post to an ASYNC listener queue, so per-query storage/
  * eviction counters snapshotted right after a query returns would
  * race the tail of its own events (and misattribute them to the next
  * rep). `waitUntilEmpty` drains the queues; it runs OUTSIDE the
  * timers, so the wait costs the measurement nothing. `find` lets a
  * listener be registered once per context with no registry beside
  * the bus itself.
  */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The first listener of class `T` registered on `sc`, if any. */
  def find[T <: SparkListenerInterface : ClassTag](sc: SparkContext): Option[T] =
    sc.listenerBus.findListenersByClass[T]().headOption
}
