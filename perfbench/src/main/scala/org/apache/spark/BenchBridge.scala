package org.apache.spark

/** The one Spark-internal hook the harness needs: listener events are
  * delivered asynchronously, so a traced operation waits for the bus to
  * drain before it reads its counters. `listenerBus` is `private[spark]`,
  * hence this file's package.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
