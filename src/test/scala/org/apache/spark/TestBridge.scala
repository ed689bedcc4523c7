package org.apache.spark

/** The one package-private call the specs need: wait until every
  * listener event posted so far has been delivered. */
object TestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
