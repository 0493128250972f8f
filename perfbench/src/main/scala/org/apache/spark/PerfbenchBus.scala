package org.apache.spark

/** The listener bus is package-private; the benchmark drains it after each
  * traced pass so every job, stage and task event of that pass has been
  * delivered before the pass is attributed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
