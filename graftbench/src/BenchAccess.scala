package org.apache.spark

/** Reaches the one package-private call the tracer needs: waiting until
  * every queued listener event has been delivered, so per-op listener
  * totals are complete before they are read.
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
