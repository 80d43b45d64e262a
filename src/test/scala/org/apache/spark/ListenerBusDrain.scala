package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * a spec reads listener counters only after every posted event was
  * delivered. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
