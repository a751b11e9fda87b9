package org.apache.spark.memory

import org.apache.spark.{SparkEnv, TaskContext}

/** Specs' doorway to a task's execution memory, whose accessors are
  * `private[spark]` or `private[memory]`.
  */
object GraftTaskMemory {
  /** A consumer that books execution memory and never frees it. */
  private class Hog(tmm: TaskMemoryManager)
      extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {
    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }

  /** Books `bytes` of execution memory for the running task, never freed
    * by the task itself. */
  def hog(bytes: Long): Unit =
    new Hog(TaskContext.get().taskMemoryManager()).acquireMemory(bytes)

  /** Execution memory booked under one task attempt id. */
  def usedBy(taskAttemptId: Long): Long =
    SparkEnv.get.memoryManager.getExecutionMemoryUsageForTask(taskAttemptId)
}
