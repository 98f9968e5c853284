package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so the
  * traced run reads complete per-layer counters. The bus is Spark-private;
  * this object lives in Spark's package only to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
