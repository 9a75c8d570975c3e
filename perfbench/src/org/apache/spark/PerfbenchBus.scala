package org.apache.spark

/** Package-private foothold: drains Spark's asynchronous listener bus so
  * that task metrics land with the job that produced them before a
  * reading is taken.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
