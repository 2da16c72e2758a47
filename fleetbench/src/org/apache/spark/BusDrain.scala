package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered, so counters read after a job are complete. The bus is
  * `private[spark]`; this object lives in Spark's package to reach it.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
