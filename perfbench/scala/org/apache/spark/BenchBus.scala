package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so listener counters read at a span boundary cover every job
  * that ran inside the span. The bus is `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
