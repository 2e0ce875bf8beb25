package org.apache.spark

/** The one Spark-internal the traced run needs: waiting until every
  * posted listener event has been delivered, so the events of one phase
  * are all counted before the next phase starts. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
