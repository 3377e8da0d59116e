package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * per-job stage metrics are read only after every event of the job has
  * reached the listener. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
