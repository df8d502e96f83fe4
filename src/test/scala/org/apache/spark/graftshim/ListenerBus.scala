package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private:
  * the status tracker reads state the bus delivers asynchronously. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
