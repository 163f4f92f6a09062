package org.apache.spark

/** The one private Spark call the harness needs: block until every
  * posted listener event has been delivered, so the trace written at the
  * end of a run holds every job, stage and query execution. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
