package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * a trace read after an action sees all of that action's jobs and tasks.
  * The bus is `private[spark]`, hence this one-method file in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
