package org.apache.spark

/** The one private Spark hook the benchmark uses: wait until every
  * listener event posted so far has been delivered, so per-pass
  * counters are complete when they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
