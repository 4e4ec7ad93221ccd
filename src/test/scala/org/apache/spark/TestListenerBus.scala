package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private. */
object TestListenerBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
