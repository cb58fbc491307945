package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so that counts read after a traced call include all of its jobs. The
  * bus's drain method is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
