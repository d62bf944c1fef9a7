package org.apache.spark

/** Spec access to the listener bus, which Spark keeps package-private:
  * block until every event posted so far has reached every listener,
  * so a listener's counts are complete when an action has returned. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
