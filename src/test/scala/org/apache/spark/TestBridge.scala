package org.apache.spark

/** The package-private calls the specs need. */
object TestBridge {

  /** Wait until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Build the executor's process-tree metrics reader now. Its
    * constructor forks `getconf PAGESIZE`, once per JVM, at whichever
    * metrics poll comes first: a heartbeat or a task's end. */
  def initProcessTreeMetrics(): Unit = {
    val _ = executor.ProcfsMetricsGetter.pTreeInfo
  }
}
