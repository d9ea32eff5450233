package org.apache.spark

/** The benchmark's one reach into Spark internals: waiting until every
  * posted listener event has been delivered, so a traced op's jobs,
  * tasks and stream progress are all recorded before it is attributed.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
