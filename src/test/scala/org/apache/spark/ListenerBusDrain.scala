package org.apache.spark

/** Waits until every posted listener event has been delivered (the
  * listener bus is package-private), so a test counting jobs through a
  * `SparkListener` reads its count only after every job was seen. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
