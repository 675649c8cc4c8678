package org.apache.spark

/** The listener bus is private to Spark; the traced run waits for it to
  * drain after each operation, so every job and stage event of the
  * operation has reached the benchmark's listener before it is
  * attributed. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
