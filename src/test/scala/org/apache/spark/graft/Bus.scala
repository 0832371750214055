package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every posted event has reached every listener, so
    * counters read afterwards include all tasks that already ran. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
