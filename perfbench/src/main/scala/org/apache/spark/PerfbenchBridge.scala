package org.apache.spark

/** Reaches the one `private[spark]` call the benchmark needs: waiting
  * until every queued listener event has been delivered, so counters
  * read at a pass boundary include that pass's last job.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
