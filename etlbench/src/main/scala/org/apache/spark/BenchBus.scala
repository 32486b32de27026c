package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so a traced operation's jobs and query executions are all
  * counted before the operation's figures are read. The listener bus is
  * private to Spark, hence this shim in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
