package org.apache.spark

/** Drains Spark's listener bus so every event of a finished timed region
  * has reached the benchmark's listeners. Called only outside timed
  * regions; lives in this package because the drain is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
