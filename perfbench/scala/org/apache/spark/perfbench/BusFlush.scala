package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus, so every event of the jobs
  * that have already finished is delivered before the tracer switches to
  * the next span. Lives in Spark's package because the bus is
  * `private[spark]`. */
object BusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
