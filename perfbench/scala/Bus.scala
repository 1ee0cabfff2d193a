package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The bus is package-private, hence this file's package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
