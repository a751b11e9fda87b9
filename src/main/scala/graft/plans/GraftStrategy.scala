package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, DynamicPruning}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalOperation}
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.internal.SQLConf
import graft.sources.v2.{K8sScan, K8sSnapshotScanExec}

/** Planner strategy for graft's custom logical operators and for
  * snapshot-sized K8s tables. `GraftExtensions` injects it into every
  * session built with the extensions (the ksql REPL and `/api`);
  * `TopKPerGroup.apply` registers it on sessions built without them.
  *
  *  - `TopKPerGroup` → `TopKPerGroupExec`.
  *  - A scan of a snapshot generation within
  *    `spark.sql.autoBroadcastJoinThreshold` → one-partition
  *    [[K8sSnapshotScanExec]], under the filters the scan did not take and
  *    the projection that makes unsafe rows (what `DataSourceV2Strategy`
  *    plans over its `BatchScanExec`).
  *  - An equi-join whose two sides read only such scans → a hash join of
  *    the two single partitions, the smaller side building. It needs no
  *    exchange, where the broadcast join Spark would choose from the
  *    sides' sizes runs a job to build its broadcast.
  */
object GraftStrategy extends SparkStrategy with JoinSelectionHelper {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, planLater(child)) :: Nil
    case PhysicalOperation(project, filters, WholeSnapshot(scan, output))
        if !filters.exists(_.isInstanceOf[DynamicPruning]) =>
      val leaf = K8sSnapshotScanExec(output, scan)
      val filtered = filters.reduceLeftOption(And)
        .fold[SparkPlan](leaf)(FilterExec(_, leaf))
      ProjectExec(project, filtered) :: Nil
    case ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, cond, _, left, right, _)
        if snapshotsOnly(left) && snapshotsOnly(right) =>
      buildSide(joinType, left, right).map { side =>
        val join = ShuffledHashJoinExec(leftKeys, rightKeys, joinType, side,
          cond, planLater(left), planLater(right))
        // a full outer join reports an unknown partitioning even over one
        // partition; coalescing that one partition to one declares it
        // single, so the aggregate or sort above needs no exchange
        if (joinType == FullOuter) CoalesceExec(1, join) else join
      }.toList
    case _ => Nil
  }

  /** A scan of one snapshot generation within the session's
    * `spark.sql.autoBroadcastJoinThreshold`: its scan and output. */
  private object WholeSnapshot {
    def unapply(p: LogicalPlan): Option[(K8sScan, Seq[AttributeReference])] = p match {
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: K8sScan if s.snapshot.exists(
            _.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold) =>
          Some((s, r.output))
        case _ => None
      }
      case _ => None
    }
  }

  private def snapshotsOnly(p: LogicalPlan): Boolean =
    !p.exists(n => n.children.isEmpty && WholeSnapshot.unapply(n).isEmpty)

  private def buildSide(joinType: JoinType, left: LogicalPlan,
      right: LogicalPlan): Option[BuildSide] =
    (canBuildShuffledHashJoinLeft(joinType),
      canBuildShuffledHashJoinRight(joinType)) match {
      case (true, true) => Some(getSmallerSide(left, right))
      case (true, false) => Some(BuildLeft)
      case (false, true) => Some(BuildRight)
      case _ => None
    }
}
