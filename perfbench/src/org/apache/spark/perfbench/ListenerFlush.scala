package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so the stage/task ledger
  * is complete before the benchmark reads it. The bus is
  * `private[spark]`; this one-line bridge lives in the benchmark's own
  * package under `org.apache.spark` to reach it. */
object ListenerFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
