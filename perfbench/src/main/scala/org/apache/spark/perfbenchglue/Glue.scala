package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Access to the one listener-bus call the harness needs that Spark
  * keeps package-private: waiting until every posted event has reached
  * the listeners, so an op's jobs, stages and tasks are all counted
  * before the op's record is closed. */
object Glue {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
