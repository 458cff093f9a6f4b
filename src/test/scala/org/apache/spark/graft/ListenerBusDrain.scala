package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Scheduler events reach listeners asynchronously; a spec that counts
  * jobs drains the bus before it reads its counter. The bus is
  * `private[spark]`, hence this bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
