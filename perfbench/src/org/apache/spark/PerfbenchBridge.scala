package org.apache.spark

/** Compile-time access to `private[spark]` surface the benchmark's tracer
  * needs; lives in `org.apache.spark` for access only. */
object PerfbenchBridge {

  /** Block until every event posted so far reached every listener, so the
    * traced run's job, task and query-execution records are complete before
    * they are summed. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
