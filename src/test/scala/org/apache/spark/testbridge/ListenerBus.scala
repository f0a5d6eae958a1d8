package org.apache.spark.testbridge

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a spec that counts
  * what its listener saw waits for the bus to drain first. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
