package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Spark delivers listener events asynchronously, so counters read at a
  * span boundary are only complete after this returns. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
