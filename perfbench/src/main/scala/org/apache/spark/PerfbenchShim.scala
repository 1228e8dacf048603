package org.apache.spark

/** The one package-private hook the harness needs: block until every
  * listener event posted so far has been delivered, so the counters a
  * listener accumulated can be read as final. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
