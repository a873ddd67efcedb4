package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run waits for every job, stage and progress event of an
  * operation to be delivered before it attributes them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
