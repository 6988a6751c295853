package org.apache.spark

/** The listener bus is package-private; the traced run must read its
  * listener's totals only after every event of the measured work has
  * been delivered.
  */
object ClaimbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
