package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which Spark keeps
  * package-private: the tracer waits for queued events before it reads
  * the counts they carry. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
