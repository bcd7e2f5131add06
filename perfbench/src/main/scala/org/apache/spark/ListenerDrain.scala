package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs of a window before it reads
  * their totals. The bus is private to Spark's own package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
