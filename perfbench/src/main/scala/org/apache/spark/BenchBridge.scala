package org.apache.spark

/** The `private[spark]` members the benchmark needs: the active context,
  * and waiting for the listener bus to deliver every posted event
  * before counters are read.
  */
object BenchBridge {
  def activeContext: Option[SparkContext] = SparkContext.getActive

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
