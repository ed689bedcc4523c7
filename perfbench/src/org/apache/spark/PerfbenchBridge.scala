package org.apache.spark

/** The one package-private call the benchmark's tracer needs: wait until
  * every listener event posted so far has been delivered. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
