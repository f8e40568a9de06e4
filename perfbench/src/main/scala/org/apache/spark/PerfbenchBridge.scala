package org.apache.spark

/** The one package-private hook the benchmark's tracer needs: listener
  * events are delivered asynchronously, so a traced iteration's counters
  * are read only after the bus has delivered everything posted so far.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
