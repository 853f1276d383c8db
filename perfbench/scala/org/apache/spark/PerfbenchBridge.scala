package org.apache.spark

/** Waits until every event posted so far has reached the benchmark's
  * listeners. The listener bus is asynchronous and `waitUntilEmpty` is
  * package-private, so a traced iteration would otherwise read its counts
  * before the last job's events had arrived.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
