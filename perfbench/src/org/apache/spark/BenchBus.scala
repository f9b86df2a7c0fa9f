package org.apache.spark

/** Lets the benchmark wait until listener events of finished jobs are
  * delivered, so a traced operation's Spark totals are complete when read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
