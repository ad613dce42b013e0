package org.apache.spark

/** The listener bus is `private[spark]`; the trace must wait until every
  * event of a pass has been delivered before it reads its listeners, so
  * this one call is made from inside Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
