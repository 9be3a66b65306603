package org.apache.spark.lifecycle

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus at every span boundary so that the
  * listener's cumulative counts are settled when a span opens and
  * closes. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
