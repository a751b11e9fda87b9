package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.util.Utils

/** Bridge into Spark's `private[sql]` Column↔Expression converters so the
  * graft custom Catalyst expressions can be exposed as user-facing Columns,
  * and into the `private[spark]` task classes an executor runs a task
  * with. This is the same doorway Spark's own connectors use; it lives
  * under org.apache.spark.sql only to satisfy the access scope — no Spark
  * internals are modified.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]` in Spark 4; this public alias
    * lets graft expressions declare `inputTypes` (ImplicitCastInputTypes)
    * so analysis inserts casts / rejects wrong-typed calls.
    */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Wrap a LogicalPlan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — the doorway custom logical operators (graft.plans)
    * use to surface through the public Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `body` with `spark` as the thread's active session, as Dataset
    * actions run (`withActive` is `private[sql]`): a physical plan node
    * takes its session from the thread when it is created. */
  def withActive[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    spark.withActive(body)

  private val localTasks = new AtomicLong

  /** Computes the one partition of `rdd` on the calling thread, with no
    * Spark job, and hands its rows to `consume`. `rdd` is a physical
    * plan's, already built (`SparkPlan.execute()`), so it can be computed
    * again by a later call: each call is a task of its own.
    *
    * The partition runs as a task set up as an executor sets one up: a
    * `TaskContextImpl` with its own `TaskMemoryManager`, and the task
    * registered for block locks. Its attempt id is negative (the
    * scheduler's are not) and unique per call: the execution memory pool
    * books memory per attempt id, so a shared id would let one call
    * release another's memory. On every exit the failure listeners (on a
    * failure) and the completion listeners run, and whatever execution
    * memory and block locks the task still holds are released.
    */
  def runLocally[U](spark: org.apache.spark.sql.SparkSession, rdd: RDD[InternalRow])(
      consume: Iterator[InternalRow] => U): U = spark.withActive {
    require(rdd.getNumPartitions == 1,
      s"runLocally: ${rdd.getNumPartitions} partitions, not one")
    val env = SparkEnv.get
    val id = -localTasks.incrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, 0, id, 0, 1, memory,
      Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    env.blockManager.registerTask(id)
    TaskContext.setTaskContext(ctx)
    try {
      val out = consume(rdd.iterator(rdd.partitions(0), ctx))
      ctx.markTaskCompleted(None)
      out
    } catch {
      case e: Throwable =>
        try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
        try ctx.markTaskCompleted(Some(e))
        catch { case t: Throwable => if (t ne e) e.addSuppressed(t) }
        throw e
    } finally {
      try {
        memory.cleanUpAllAllocatedMemory()
        env.blockManager.releaseAllLocksForTask(id)
      } finally TaskContext.unset()
    }
  }

  /** `runLocally` of `plan`, built here. */
  def runLocally[U](spark: org.apache.spark.sql.SparkSession, plan: SparkPlan)(
      consume: Iterator[InternalRow] => U): U =
    runLocally(spark, spark.withActive(plan.execute()))(consume)
}
