package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a span read right after a synchronous Spark call sees all of
  * that call's jobs, stages and tasks. (`waitUntilEmpty` is
  * package-private to Spark, hence this file's package.)
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
