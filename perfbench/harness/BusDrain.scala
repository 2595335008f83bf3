package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the tracer sees all jobs, stages and tasks of the run before it
  * summarises them. The bus's drain method is package-private to Spark,
  * hence this file's package. */
object GraftBenchBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
