package org.apache.spark

/** Heap bytes Spark's memory manager has handed out: cached blocks
  * (storage) plus task buffers such as aggregation maps and sort pages
  * (execution). The manager is internal to Spark, hence this bridge in
  * Spark's package.
  */
object SparkMemory {
  def usedBytes(): Long = Option(SparkEnv.get).fold(0L) { env =>
    env.memoryManager.storageMemoryUsed + env.memoryManager.executionMemoryUsed
  }
}
