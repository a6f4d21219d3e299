package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus drains only from inside `org.apache.spark`. The traced
  * run drains it at each op boundary so that late task-end events are not
  * counted against the next op.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
