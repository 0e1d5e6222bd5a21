package org.apache.spark

/** Test-only access to `private[spark]` internals. */
object GraftTestShim {
  /** Block until every event posted so far has reached the listeners. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
