package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private. */
object ListenerBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
