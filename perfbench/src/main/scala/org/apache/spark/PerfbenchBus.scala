package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all jobs and queries before it reads
  * their tallies. The bus is package-private, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
