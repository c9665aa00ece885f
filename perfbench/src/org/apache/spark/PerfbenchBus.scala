package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. Listener events are
  * delivered asynchronously; the tracer reads its per-operation counts
  * only after every event posted during the operation has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this
  * file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
