package org.apache.spark.layerbench

import org.apache.spark.SparkContext

/** The one engine internal the harness needs that Spark keeps package-private:
  * waiting until every posted listener event has been delivered, so a pass's
  * job, stage and task records are complete before they are summed. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
