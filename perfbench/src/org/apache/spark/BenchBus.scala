package org.apache.spark

/** The one private Spark call the benchmark makes: it waits until the
  * listener bus has delivered every event posted so far, so the traced
  * run's counters are complete before they are summed. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
