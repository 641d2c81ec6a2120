package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The listener bus is private to Spark; the benchmark waits on it so
  * that every task and query event has reached its listeners before
  * the trace is written. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Memory Spark manages (execution: sort, aggregation and join buffers;
  * storage: cached blocks, broadcasts, large task results in transit),
  * from the memory manager that is private to Spark. */
object ManagedMemory {
  def usedBytes(): Long = {
    val mm = SparkEnv.get.memoryManager
    mm.executionMemoryUsed + mm.storageMemoryUsed
  }
}
