package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a traced run reads complete job and task records. The listener bus
  * is package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
