package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * an iteration's job, task and query events are all counted before its
  * figures are read. (`listenerBus` is package-private to Spark; Spark's
  * own test suites wait on it the same way.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
