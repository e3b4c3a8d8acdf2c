package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * every posted scheduler and streaming event has reached the
  * listeners, so per-job and per-trigger records are complete before
  * they are written out.
  */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
