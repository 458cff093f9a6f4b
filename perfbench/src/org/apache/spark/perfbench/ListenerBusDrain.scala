package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers scheduler events asynchronously. Counts read
  * right after an action returns would miss its last task and job events,
  * so the benchmark drains the bus before it reads them. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
