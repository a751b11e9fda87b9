package graft.sources

import java.util.concurrent.locks.ReentrantReadWriteLock
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.plans.{LocalCollect, PlanCache}
import graft.sources.v2.{K8sGeneration, K8sSnapshotTable}

/** Snapshot loader: K8s list responses → the four reference tables
  * (`pods`, `nodes`, `services`, derived `containers`), registered as
  * temp views — the Spark equivalent of the reference's load path
  * (`/root/reference/ksql.js:190-247,257-265`).
  *
  * Source of the snapshot is pluggable: `JsonFileSource` reads fixture
  * files shaped like K8s list responses (`{"items": [...]}`), which is the
  * zero-egress testable path; a live API loader would produce identical
  * DataFrames from `/api/v1/{pods,nodes,services}` (the kubeconfig /
  * client-auth plumbing of ksql.js:34-126 is connection code, out of the
  * SQL engine's scope — SURVEY §2.1).
  */
object K8sSnapshot {

  /** T1: pod → containers flatten (ksql.js:197-214). Index alignment —
    * `spec.containers[j]` pairs with `status.containerStatuses[j]` — is
    * exactly `arrays_zip` + `posexplode`. Where the status array is short
    * or absent, `restarts` is null: this matches the reference's output
    * for a missing `restartCount` (the raw value is pushed at ksql.js:211;
    * the computed default is ignored) and deliberately diverges from its
    * crash on Pending pods (throw at ksql.js:205) — documented divergence,
    * SURVEY §2.2.
    */
  def containers(podsDf: DataFrame): DataFrame =
    podsDf.select(
      col("metadata.uid").as("uid"),
      posexplode(arrays_zip(
        col("spec.containers").as("c"),
        coalesce(col("status.containerStatuses"),
          expr("array()").cast("array<struct<name:string,restartCount:int,ready:boolean>>"))
          .as("s"))))
      .filter(col("col.c").isNotNull) // pad rows beyond spec.containers
      .select(
        col("col.c.image").as("image"),
        col("uid"),
        col("col.s.restartCount").as("restarts"))

  /** The four views as one snapshot generation: `load` writes, `reading`
    * reads. Fair, so a pending refresh is not starved by a stream of
    * readers.
    */
  private val generation = new ReentrantReadWriteLock(true)

  /** The prepared plans of the current generation (see [[PlanCache]]),
    * swapped with the views; none before the first load.
    */
  @volatile private var cache: Option[PlanCache] = None

  /** Run `body` (the analysis of a query over the views, or the lookup of
    * its prepared plan in `plans`) against one snapshot generation: no
    * `load` can swap the views meanwhile. Analysis binds a query to the
    * views it names, so the query then reads that generation only,
    * however long it executes. Keep execution out of `body`, or a refresh
    * waits for it.
    */
  def reading[T](body: => T): T = {
    val lock = generation.readLock()
    lock.lock()
    try body finally lock.unlock()
  }

  private def writing(body: => Unit): Unit = {
    val lock = generation.writeLock()
    lock.lock()
    try body finally lock.unlock()
  }

  /** The current generation's prepared plans, when `spark` loaded it.
    * Read it under `reading`, with the analysis it stands in for.
    */
  def plans(spark: SparkSession): Option[PlanCache] = cache.filter(_.owner eq spark)

  /** Starts the current generation's prepared plans afresh: a command
    * (`SET`, `CREATE VIEW`, ...) may have changed what a text means.
    */
  def forgetPlans(): Unit = writing { cache = cache.map(_.emptied) }

  /** Load all four tables and register temp views — the equivalent of
    * create_tables + load + .data assignment (ksql.js:249-265). Returns
    * the table map for direct DataFrame use.
    *
    * Each list file is parsed once, here, into the compressed in-memory
    * rows of a new [[K8sSnapshotTable]] (see `graft.sources.v2`), and the
    * views are bound to those tables: queries read that generation, never
    * the files again, until the next `load` swaps the views.
    *
    * `containers` is flattened once per load too, as the reference fills
    * its containers array while loading the pods and then assigns it as
    * the table's data (ksql.js:197-215): [[containers]] runs here over the
    * new pods table, collected as a query is (`LocalCollect`: in-thread
    * for a snapshot-sized generation) while nodes and services still
    * parse, and its rows become a table of their own
    * (`K8sSnapshotTable.derived`). A query naming `containers` reads
    * those rows, not the pods again.
    *
    * The four views are replaced together under the generation write
    * lock, so a query analysed under `reading` never sees some of them
    * swapped and others not. The generation's [[PlanCache]] starts empty
    * and is swapped with them, so a replaced generation is freed,
    * prepared plans and all, once no request in flight uses it.
    */
  def load(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val files = K8sSnapshotTable.kinds
      .map(k => k -> new K8sSnapshotTable(k, s"$dir/$k.json")).toMap
    // materialize the three files now, side by side, not in the first
    // query; the frames over them are built meanwhile
    val parsed = files.map { case (k, t) => k -> Future(t.generation) }
    def frame(t: K8sSnapshotTable) = GraftShim.ofRows(spark,
      DataSourceV2Relation.create(t, None, None, CaseInsensitiveStringMap.empty()))
    val read = files.map { case (k, t) => k -> frame(t) }
    Await.result(parsed("pods"), Duration.Inf)
    val flat = containers(read("pods"))
    val toRow = ExpressionEncoder(flat.schema).createSerializer()
    val flattened = K8sSnapshotTable.derived("containers", files("pods").path,
      flat.schema, K8sGeneration.of(flat.schema, LocalCollect(flat).iterator.map(toRow)))
    Await.result(Future.sequence(parsed.values), Duration.Inf)
    val all = read + ("containers" -> frame(flattened))
    val plans = new PlanCache(spark, files.values.toSet + flattened)
    writing {
      all.foreach { case (n, df) => df.createOrReplaceTempView(n) }
      cache = Some(plans)
    }
    all
  }
}
