package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Minimal `private[spark]` bridge: the async listener bus exposes its
  * drain (`waitUntilEmpty`) only inside `org.apache.spark`.
  * [[graft.tools.RunProfile]] drains the bus on both sides of each
  * measured run, or late-arriving task-end events would leak into the
  * next run's counters — same package-in-spark
  * technique as [[org.apache.spark.sql.graftbridge.ColumnBridge]].
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
