package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into Spark's `private[spark]` listener bus, so the bench can
  * drain in-flight task-end events before snapshotting its shuffle-byte
  * counters (listener delivery is asynchronous; without a flush, a
  * query's last tasks can be billed to the next query), and plan-shape
  * specs can collect every action a query ran before reading the plans
  * their `QueryExecutionListener` saw. Public Spark API offers no
  * flush — this is the standard package-private escape hatch, used by
  * bench instrumentation and specs, never by the engine.
  */
object ListenerFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
