package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Machine-width partition count for explicit spreads.
  *
  * The operator surface pins CPU-bound, few-byte stages to full machine
  * width with an explicit user repartition (the dd20 rule: AQE's
  * byte-based advisory coalesces them to 2-3 tasks otherwise). Those
  * pins were the literal 32 — a constant tuned to the local[32] bench
  * box (guide §2: partitioning must be scale-adaptive, not a constant
  * tuned for either local mode or the cluster). `width` derives the
  * same number from the session: `defaultParallelism` is the total
  * core count of the master the session actually runs on (local[N] →
  * N, local-cluster/standalone/YARN → sum of executor cores), so the
  * bench at SPARK_GRAFT_CPUS=32 plans the identical 32-way exchange
  * while SPARK_GRAFT_CPUS=8 (the driver's scaling run) and a real
  * cluster get THEIR width instead of an 8-core box juggling 32 tasks.
  *
  * On a cluster master `defaultParallelism` counts only the executors
  * registered so far: read right after session start it can be 2. Two
  * floors therefore apply. A `spark.default.parallelism` setting is one
  * (Spark's own local and cluster schedulers already answer with it; the
  * floor holds for any scheduler). On `local-cluster[n,c,m]` the master
  * string itself names the cores that will register, n·c, and that is
  * the other. Both are read from the context: the session's conf would
  * build the whole session state on first use (~0.6 s), before the
  * server can take requests.
  */
object Par {
  def width(s: SparkSession): Int = {
    val sc = s.sparkContext
    Seq(sc.defaultParallelism, sc.getConf.getInt("spark.default.parallelism", 0),
      masterCores(sc.master)).max
  }
  def width(df: Dataset[_]): Int = width(df.sparkSession)

  /** Spark's own pattern for a `local-cluster[n,c,m]` master. */
  private val LocalCluster =
    """local-cluster\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,\s*([0-9]+)\s*]""".r

  /** The executor cores a `local-cluster[n,c,m]` master starts, n·c; 0
    * for any other master, whose cores its string does not name. */
  def masterCores(master: String): Int = master match {
    case LocalCluster(n, c, _) => n.toInt * c.toInt
    case _ => 0
  }

  /** Round-robin spread to machine width — `.transform(Par.spread)`
    * replaces the literal `.repartition(32)`. */
  def spread[T](df: Dataset[T]): Dataset[T] = df.repartition(width(df))

  /** Keyed machine-width pin (the non-coalescible exchange the next
    * equi-join/window reuses) — `.transform(Par.spreadBy(col(...)))`
    * replaces the literal `.repartition(32, cols...)`. */
  def spreadBy(cols: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.repartition(width(df), cols: _*)

  /** Partition count for the loop-carried frames of the iterative graph
    * operators (`Graph.fwbwScc`, gr20's level loop,
    * `Dedup.connectedComponents` / `connectedComponentsStar`), derived
    * from the live row count: one partition per 50,000 rows, at least 1
    * and at most 32. Those stages are scheduling-latency-bound over few
    * bytes, so small frames run as one task while the divisor keeps
    * parallelism growing with the graph. An edge-aware caller passes
    * `max(nodes, edges / 2)`.
    *
    * The cap of 32 is the value these loops have always used, not a
    * derived one; deriving it (from `width` or from bytes) is open
    * work that needs its own A/B. */
  def loopWidth(rows: Long): Int =
    math.max(1L, math.min(32L, rows / 50000L + 1L)).toInt
}
