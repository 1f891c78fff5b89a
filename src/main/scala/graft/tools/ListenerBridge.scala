package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus drain — measurements
  * (`graft.tools.StageMetrics.read`, perfbench's listener) read
  * listener-accumulated counters right after a blocking action returns,
  * but stage-completed events deliver asynchronously on the bus thread;
  * without a drain a stage's tail CPU is misattributed to the next window.
  * Same access-modifier-only pattern as
  * [[org.apache.spark.sql.graft.ColumnBridge]].
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(10000L)
}
