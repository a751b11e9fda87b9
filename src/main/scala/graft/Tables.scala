package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver's parquet test tables (TESTDATA.md).
  *
  * Mirrors the reference's "register tables, then query" model
  * (`/root/reference/ksql.js:128-135,215-216,235`) re-expressed Spark-first:
  * each table is a parquet scan registered as a temp view, so Catalyst keeps
  * predicate pushdown + column pruning into the scan (no materialized copy,
  * no cache — at 100 TB a blanket cache() would be wrong; the scan itself is
  * the storage layer).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft session needs; applied once at build time
    * by the Verify/Bench/REPL/test session builders (NOT per query —
    * mutating session conf inside a reader helper is a race under
    * concurrent use).
    *
    * `nanosAsLong`: `events.ts` is nanosecond-precision parquet, which
    * Spark's reader otherwise rejects (PARQUET_TYPE_ILLEGAL). We read it
    * as raw long nanos and convert to a micros TimestampType with integer
    * division — double math would corrupt 1.7e18-scale nanos (2^53
    * mantissa).
    */
  val sessionConfs: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The batch-session builder shared by Verify, Bench, PlanDump,
    * LocalClusterCheck and the test suites: [[sessionConfs]]
    * plus `partitions` shuffle partitions, the UTC session zone every
    * oracle's date math assumes, and no UI. (The ksql REPL builds its
    * own session: it does not set UTC.) */
  def batchSession(master: String, partitions: String)
      : SparkSession.Builder =
    configure(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))

  /** One parquet-backed DataFrame; pushdown-friendly (no cache). Requires
    * a session built with [[configure]] (for the nanos-events read).
    *
    * `events.ts` is SCHEMA-ADAPTIVE: early driver drops wrote it as
    * nanosecond parquet (surfaces as LongType under `nanosAsLong`;
    * integer-divide to micros — double math would corrupt 1.7e18-scale
    * nanos), later drops write plain microsecond timestamps (surface as
    * TIMESTAMP_NTZ; cast to session-tz TimestampType — lossless under
    * the UTC session every graft entry point builds). Either way the
    * column downstream queries see is a micros TimestampType named `ts`.
    */
  // Memoized per (session, dir, name) — every spark.read.parquet call
  // re-lists the path and re-reads footers for schema inference
  // (~30 ms/table); operators call t() 1-4× per query build, INSIDE
  // the bench's timed region, so the sweep was paying the same
  // metadata work ~2000×. The memo caches the resolved DataFrame —
  // the logical PLAN with its file index and schema, never row data
  // (every action still scans the parquet), so bench/oracle honesty
  // is untouched (guide §6: file listing is driver-side work to do
  // once, which is also what a catalog table or registered view
  // does). Weak session keys: must not pin a stopped session.
  //
  // Freshness token: a shallow listing of the table directory
  // (name+size+mtime per file, ~0.1 ms) — a REWRITTEN path (the
  // driver regenerating a layout, ContractSpec's ts-adaptivity test)
  // invalidates its entry instead of serving a stale file index,
  // which would FAILED_READ_FILE on the replaced parts.
  //
  // Bounded LRU, NOT a WeakHashMap (ADVICE r13 medium): the cached
  // DataFrame values strongly reference their SparkSession
  // (Dataset.sparkSession), so weak KEYS could never be collected —
  // the map grew by one SessionState per GraftOps newSession() clone
  // for the JVM lifetime. An 8-session LRU (access-ordered) bounds
  // the footprint; evicting a live session only costs a ~30 ms
  // re-list on its next t() call. Stopped sessions are dropped
  // eagerly on each access.
  private val MaxSessions = 8
  private type ScanMap =
    scala.collection.mutable.Map[(String, String), (Long, DataFrame)]
  private val scans =
    new java.util.LinkedHashMap[SparkSession, ScanMap](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, ScanMap]): Boolean =
        size() > MaxSessions
    }

  private def dropStopped[V](
      m: java.util.LinkedHashMap[SparkSession, V]): Unit = {
    val it = m.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }

  private def dirToken(sfDir: String, name: String): Long = {
    // Shallow (top-level) listing by design: the driver's fixture
    // layout is a flat directory of part files. A partitioned layout
    // whose changes live only in nested subdirectories would bypass
    // this token — recurse here before ever pointing t() at one
    // (ADVICE r13).
    val d = new java.io.File(s"$sfDir/$name.parquet")
    val fs = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    fs.foldLeft(d.lastModified()) { (h, f) =>
      31L * (31L * (31L * h + f.getName.hashCode) + f.length()) +
        f.lastModified()
    }
  }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    synchronized {
      dropStopped(scans)
      val m = {
        val got = scans.get(spark)
        if (got != null) got
        else {
          val fresh = scala.collection.mutable
            .Map.empty[(String, String), (Long, DataFrame)]
          scans.put(spark, fresh)
          fresh
        }
      }
      val tok = dirToken(sfDir, name)
      m.get((sfDir, name)) match {
        case Some((t0, df)) if t0 == tok => df
        case _ =>
          val df = tUncached(spark, sfDir, name)
          m.put((sfDir, name), (tok, df))
          df
      }
    }

  private def tUncached(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Register all tables as temp views for spark.sql(...) queries.
    * Equivalent of the reference's create_tables + .data assignment
    * (`ksql.js:130-135,215-216`), but lazy: a view over a parquet scan.
    * Idempotent and cheap — createOrReplaceTempView only touches the
    * session catalog.
    */
  // Memoized per (session, dir): each registration re-reads 10 parquet
  // footers for schema inference (~0.3 s), which SQL-text queries were
  // paying on every invocation. Weak keys: the map must not pin a stopped
  // SparkSession for the JVM lifetime, and concurrent sessions must not
  // thrash each other's slot.
  private val registered =
    new java.util.WeakHashMap[SparkSession, String]()

  def register(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (registered.get(spark) != sfDir) {
      names.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))
      registered.put(spark, sfDir)
    }
  }
}
