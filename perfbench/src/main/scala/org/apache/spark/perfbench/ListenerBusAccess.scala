package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * the job counts it reads after a call include every event that call
  * posted.
  */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
