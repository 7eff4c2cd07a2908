package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event
  * (job/task, SQL-execution and streaming-progress listeners all hang off
  * it), so a recorder reads complete counts. The bus is Spark-private,
  * hence this package. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
