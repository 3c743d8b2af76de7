package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so the
  * trace recorder reads complete job, stage and task metrics. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's namespace.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
