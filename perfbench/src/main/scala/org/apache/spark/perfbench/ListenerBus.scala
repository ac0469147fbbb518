package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package
  * private: the traced run drains it after each statement so listener
  * events are attributed before the next statement starts. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
