package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer must see every event of a finished span before it reads
  * the span's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
