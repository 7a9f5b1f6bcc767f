package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the listener bus, so the
  * tracer can wait until every task-end event of a span was delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
