package org.apache.spark

/** The one Spark-private call the benchmark needs: listener events arrive
  * asynchronously, so counters are read only after the bus has delivered
  * every event posted so far.
  */
object LakebenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
