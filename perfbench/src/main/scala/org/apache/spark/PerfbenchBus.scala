package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * a traced op's task and job events must all be delivered before its
  * span's Spark work is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
