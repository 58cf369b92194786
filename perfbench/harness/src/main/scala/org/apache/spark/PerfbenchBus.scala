package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * traced pass's job and task records are complete before they are read.
  * Lives in `org.apache.spark` because the listener bus is
  * `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
