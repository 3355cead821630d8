package org.apache.spark

/** The two Spark internals the benchmark reads. Both are private to
  * Spark, hence this accessor in Spark's package. */
object BenchBus {
  /** Waits until every listener event already posted has been delivered,
    * so a traced operation's jobs, stages and tasks are all recorded
    * before the next operation starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of cached and checkpointed blocks the block manager holds in
    * memory. */
  def storageBytes: Long = SparkEnv.get.memoryManager.storageMemoryUsed
}
