package graft.plans

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.{CollapseCodegenStages, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.internal.StaticSQLConf
import graft.sources.v2.{K8sSnapshotScanExec, K8sSnapshotTable}

/** Collects a DataFrame's rows, with no Spark job when its plan is
  * snapshot-sized: the in-thread mode ksql itself has, answering from
  * in-memory arrays in one process (`ksql.js:159,298`), and the one F1
  * Query uses for small queries on its coordinator.
  *
  * A plan qualifies when every leaf is a one-partition snapshot scan
  * ([[K8sSnapshotScanExec]]), no node is an exchange or holds a subquery,
  * and it has one output partition. Such a plan is answered in two steps:
  * `prepare` does everything up to a runnable RDD once (analysis,
  * optimisation and planning have run on the DataFrame; here its codegen
  * source is generated and its closures are cleaned), and
  * [[LocalCollect.Prepared.run]] computes that RDD's single partition on
  * the calling thread as a task of its own (`GraftShim.runLocally`) and
  * decodes the rows as `df.collect()` decodes them. A prepared plan can
  * run again, so `/api` and the REPL keep them per snapshot generation
  * ([[PlanCache]]). Any other plan is `df.collect()`, with the jobs it
  * always ran.
  *
  * The REPL, `GET /api` and the snapshot refresh all collect here.
  */
object LocalCollect {

  /** A plan ready to run in-thread: the output column names, the RDD of
    * its collapsed physical plan and the row deserializer. Physical plan
    * nodes keep per-run state in fields (a sort keeps its sorter), as a
    * task's deserialized copy may, so one prepared plan runs on one thread
    * at a time; `run` fails rather than share it.
    *
    * `repeatable` is false when a later run could answer what preparing
    * again would not: a non-deterministic expression (`rand`, `uuid`)
    * or one folded to a constant at optimisation (`current_timestamp`,
    * `now`, `current_date`). `reads` are the snapshot tables it scans.
    */
  final class Prepared private[LocalCollect] (spark: SparkSession,
      val columns: Seq[String], rdd: RDD[InternalRow],
      fromRow: ExpressionEncoder.Deserializer[Row],
      val repeatable: Boolean, val reads: Seq[K8sSnapshotTable]) {
    private val running = new AtomicBoolean

    def run(): Array[Row] = {
      if (!running.compareAndSet(false, true))
        throw new IllegalStateException("a prepared plan is running on another thread")
      try GraftShim.runLocally(spark, rdd)(_.map(r => fromRow(r.copy())).toArray)
      finally running.set(false)
    }
  }

  def apply(df: DataFrame): Array[Row] = prepare(df).fold(df.collect())(_.run())

  /** `df` prepared for in-thread runs, if its plan qualifies. */
  def prepare(df: DataFrame): Option[Prepared] = localPlan(df).map { plan =>
    val analyzed = df.queryExecution.analyzed
    new Prepared(df.sparkSession, df.columns.toSeq,
      GraftShim.withActive(df.sparkSession)(plan.execute()),
      ExpressionEncoder(df.schema).resolveAndBind().createDeserializer(),
      analyzed.deterministic && !analyzed.containsPattern(CURRENT_LIKE),
      plan.collectLeaves().map(_.asInstanceOf[K8sSnapshotScanExec].scan.table))
  }

  /** The plan `prepare` builds, if `df`'s qualifies.
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

/** The prepared plans of one snapshot generation, by query text, for the
  * session that loaded it: what AlaSQL's statement cache is to ksql
  * (SURVEY §4), so a repeated query skips parsing, analysis, planning and
  * code generation and only runs.
  *
  * Each text keeps a small pool of prepared instances, one per request
  * that ran it at once: `take` lends one out, and the request `give`s it
  * back after a clean run (a run that throws drops its instance). A pool
  * thus holds at most as many instances as requests ever ran its text
  * side by side. Texts are evicted least recently used beyond
  * `spark.sql.codegen.cache.maxEntries`, the bound Spark puts on its own
  * compiled classes.
  *
  * Only a `repeatable` plan that reads this generation's `tables` is
  * kept: a query over a catalog table or a view of an older generation
  * reads other rows than the text names now. The cache is never cleared:
  * a load, or a command that changes the session (`SET`, `CREATE VIEW`,
  * ...), starts a new one (`K8sSnapshot`), and a request still holding
  * the old one gives its instance back to that, where nothing finds it.
  */
final class PlanCache(val owner: SparkSession, tables: Set[K8sSnapshotTable]) {
  private val capacity =
    owner.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt
  private val pools = new java.util.LinkedHashMap[String,
      java.util.ArrayDeque[LocalCollect.Prepared]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String,
        java.util.ArrayDeque[LocalCollect.Prepared]]): Boolean = size > capacity
  }
  private[graft] val hits, misses = new AtomicLong

  /** A new, empty cache for the same session and generation. */
  def emptied: PlanCache = new PlanCache(owner, tables)

  /** An idle prepared instance of `text`, lent to the caller until it
    * `give`s it back. */
  def take(text: String): Option[LocalCollect.Prepared] = {
    val found = synchronized(Option(pools.get(text)).flatMap(p => Option(p.poll())))
    (if (found.isDefined) hits else misses).incrementAndGet()
    found
  }

  /** Keeps `p`, which just answered `text` cleanly, for a later request. */
  def give(text: String, p: LocalCollect.Prepared): Unit =
    if (p.repeatable && p.reads.forall(tables.contains)) synchronized {
      pools.computeIfAbsent(text, _ => new java.util.ArrayDeque).push(p)
    }

  private[graft] def entries: Int = synchronized(pools.size)
  private[graft] def instances: Int = synchronized {
    var n = 0
    pools.values.forEach(p => n += p.size)
    n
  }
}
