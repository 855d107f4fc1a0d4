package org.apache.spark.benchbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark's own
  * listeners must see every event posted so far before a counter is
  * read, so this exposes the blocking drain and nothing else. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
