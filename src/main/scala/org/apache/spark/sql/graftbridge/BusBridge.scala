package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus bridge (sibling of [[PlanBridge]]): `SparkContext.listenerBus`
  * is `private[spark]`. A probe that counts jobs per run drains the bus
  * before reading or resetting its counters, so every event is counted
  * against the run that caused it. */
object BusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
