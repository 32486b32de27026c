package org.apache.spark

/** Lets a spec wait until every posted listener event has been delivered
  * (a `QueryExecutionListener` hears a query asynchronously, after its
  * action returns). The listener bus is private to Spark, hence this shim
  * in Spark's package.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
