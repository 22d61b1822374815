package org.apache.spark

/** The one Spark-internal the harness touches: waiting until the listener
  * bus has delivered every event, so a traced run attributes all jobs,
  * stages and query executions before it aggregates them. Only traced runs
  * call it, after their timed window. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
