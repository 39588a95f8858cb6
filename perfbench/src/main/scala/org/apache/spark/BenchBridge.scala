package org.apache.spark

/** The benchmark's one use of a `private[spark]` member: waiting until
  * the listener bus has delivered every event posted so far, so a
  * per-operation snapshot never misses a job that already started. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
