package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so the benchmark's listener counts are complete before it reads them.
  * The bus is package-private to Spark; this is the one call the benchmark
  * makes through it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
