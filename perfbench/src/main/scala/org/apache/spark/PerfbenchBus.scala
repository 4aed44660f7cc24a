package org.apache.spark

/** The listener bus's drain is package-private; the benchmark waits on it
  * so a phase's listener-derived numbers include every event the phase
  * posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
