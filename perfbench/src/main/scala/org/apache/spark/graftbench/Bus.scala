package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one engine-internal call the tracer needs: block until every
  * listener event posted so far has been delivered. Draining at each span
  * boundary makes event attribution exact (everything posted while a span
  * is innermost reaches the listeners before the next span opens).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
