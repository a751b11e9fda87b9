package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.{CollapseCodegenStages, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftshim.GraftShim
import graft.sources.v2.K8sSnapshotScanExec

/** Collects a DataFrame's rows, with no Spark job when its plan is
  * snapshot-sized: the in-thread mode ksql itself has, answering from
  * in-memory arrays in one process (`ksql.js:159,298`), and the one F1
  * Query uses for small queries on its coordinator.
  *
  * A plan qualifies when every leaf is a one-partition snapshot scan
  * ([[K8sSnapshotScanExec]]), no node is an exchange or holds a subquery,
  * and it has one output partition. Its single partition is then computed
  * on the calling thread as a task of its own (`GraftShim.runLocally`),
  * and the rows are decoded as `df.collect()` decodes them. Any other plan
  * is `df.collect()`, with the jobs it always ran.
  *
  * The REPL, `GET /api` and the snapshot refresh all collect here.
  */
object LocalCollect {

  def apply(df: DataFrame): Array[Row] = localPlan(df) match {
    case Some(plan) =>
      val fromRow = ExpressionEncoder(df.schema).resolveAndBind()
        .createDeserializer()
      GraftShim.runLocally(df.sparkSession, plan)(
        _.map(r => fromRow(r.copy())).toArray)
    case None => df.collect()
  }

  /** The plan `apply` computes in-thread, if `df`'s qualifies.
    *
    * AQE wraps every plan with an aggregate or a join, even one it added
    * no exchange to, and runs that plan's one stage as a job. So the plan
    * judged (and computed) is AQE's initial plan, with its codegen stages
    * collapsed as AQE would collapse that stage's.
    */
  def localPlan(df: DataFrame): Option[SparkPlan] =
    GraftShim.withActive(df.sparkSession) {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => CollapseCodegenStages()(a.initialPlan)
        case p => p
      }
      val local = plan.collectLeaves().forall(_.isInstanceOf[K8sSnapshotScanExec]) &&
        !plan.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty) &&
        plan.outputPartitioning.numPartitions == 1
      if (local) Some(plan) else None
    }
}
