package org.apache.spark

/** Waits until every listener (SparkListener and StreamingQueryListener
  * alike) has seen every event posted so far, so per-op counters are
  * read only once they are complete. Lives in this package because the
  * listener bus is private to Spark. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
