package org.apache.spark

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * span counters are read only after every posted event was delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
