package org.apache.spark

/** Reaches the one package-private call job counting needs: waiting
  * until every queued listener event has been delivered, so a listener's
  * totals are complete before they are read.
  */
object ListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
