package org.apache.spark

/** Spark's own wait for its asynchronous listener bus, which Spark keeps
  * package-private: returns once every event posted so far has been
  * delivered to every listener. */
object GraftBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
