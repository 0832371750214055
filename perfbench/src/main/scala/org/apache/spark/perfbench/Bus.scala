package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every posted event has reached every listener, so the
    * counters read after a pass include all of that pass's tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
