package org.apache.spark

/** Test access to the listener bus, which is private to Spark: blocks
  * until every event posted so far has reached its listeners, so a
  * test's listener has seen all the jobs and stages an action ran. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
