package org.apache.spark

/** The listener bus's drain is package-private; the tracer needs it so a
  * span's counters include every event its Spark jobs posted.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
