package org.apache.spark

/** `SparkContext.listenerBus` is package-private; the benchmark needs it
  * to wait until every listener event of an op has been delivered before
  * reading that op's jobs and plans.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
