package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read after an op must include every event that op posted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
