package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the session's listener bus, which Spark keeps package-private. */
object ListenerBus {
  /** Block until every posted event has reached the listeners, so counters
    * read after a job include all of its tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
