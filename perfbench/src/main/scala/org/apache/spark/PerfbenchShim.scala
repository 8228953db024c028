package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark must see every job, task and streaming event of a run
  * before it writes its record. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
