package org.apache.spark

/** The Spark-internal calls the tracer needs. */
object PerfbenchShim {
  /** Waits until every posted listener event has been delivered, so the
    * events of a step are attributed to that step and not to the next. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** An RDD id above every RDD created so far (it consumes one id). */
  def rddIdMark(sc: SparkContext): Int = sc.newRddId()
}
