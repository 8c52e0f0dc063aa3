package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * after `drain` returns, every event posted before the call has been
  * delivered to every listener. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
