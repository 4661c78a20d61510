package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners —
  * `listenerBus` is `private[spark]`, hence this package. Job-count
  * assertions drain before reading their counter.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
