package org.apache.spark

/** The listener bus's drain is package-private; the traced run drains it
  * before it detaches its listeners, so no event of a traced pass is
  * dropped. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
