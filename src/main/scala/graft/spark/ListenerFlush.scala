package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this shim in
  * the spark package exposes the one call
  * [[graft.core.Metrics.metered]] needs to read complete stage
  * totals — listener events are posted asynchronously, so without a
  * flush the last stages of a just-finished job may not be counted
  * yet. Object name kept graft-specific to avoid any collision with
  * Spark's own members. */
object GraftListenerAccess {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
