package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark can wait
  * until every posted event has reached its listeners before it reads an
  * op's counters (instead of sleeping a fixed time and hoping). Lives in
  * the `org.apache.spark` package solely for access. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
