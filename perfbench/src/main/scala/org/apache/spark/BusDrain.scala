package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read after a timed section include all of its jobs and tasks.
  * `listenerBus` is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
