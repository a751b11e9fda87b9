package graft.server

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Command
import graft.dialect.KsqlDialect
import graft.plans.LocalCollect
import graft.sinks.Render
import graft.sources.K8sSnapshot
import graft.sources.v2.K8sSnapshotTable

/** Main entry point — the Spark-native equivalent of `node ksql.js [www]`
  * (SURVEY §3): load the snapshot, register the four tables, then serve a
  * REPL on stdin and (with `www`) the HTTP API + web terminal on 8090.
  *
  * Usage: runMain graft.server.Ksql [fixtureDir|kubeconfig] [www] [port]
  *   a directory → fixture snapshot (pods.json / nodes.json /
  *   services.json, K8s list-response shape — see FIXTURES.md §A); a
  *   file → kubeconfig for a live API fetch. With NO source argument the
  *   reference's connect() order applies (ksql.js:58-94): try
  *   `$HOME/.kube/config`, else prompt `Server URL: ` on stdin and build
  *   an unauthenticated http client from the answer (clientFromURL,
  *   ksql.js:54-65 — the prompt path passes no x509/token either).
  */
object Ksql {

  /** A resolved snapshot source: where the first load came from plus how
    * to fetch it AGAIN (the TTY one-shot refresh re-snapshots live
    * clusters; fixture dirs just re-read).
    */
  final case class Source(dir: String, refetch: () => String)

  /** Reference connect() semantics (ksql.js:58-94 + 67-85). `home` is a
    * parameter (default `$HOME`) so specs can drive the
    * no-kubeconfig-on-disk prompt path hermetically.
    */
  def resolveSource(pathArg: Option[String], in: java.io.BufferedReader,
      out: java.io.PrintStream,
      home: String = sys.env.getOrElse("HOME", "/root")): Source = {
    import java.nio.file.{Files, Paths}
    import graft.sources.K8sApi
    def live(cfg: K8sApi.ClusterConfig): Source =
      Source(K8sApi.snapshot(cfg,
        Files.createTempDirectory("k8s-snapshot")).toString,
        () => K8sApi.snapshot(cfg,
          Files.createTempDirectory("k8s-snapshot")).toString)
    pathArg match {
      case Some(p) if Files.isDirectory(Paths.get(p)) => Source(p, () => p)
      case Some(p) => live(K8sApi.fromKubeconfig(Paths.get(p)))
      case None =>
        val kube = Paths.get(home, ".kube", "config")
        if (Files.exists(kube)) live(K8sApi.fromKubeconfig(kube))
        else {
          // ksql.js:76-77: "Server URL: " prompt when no kubeconfig
          out.print("Server URL: "); out.flush()
          val url = Option(in.readLine()).map(_.trim).filter(_.nonEmpty)
            .getOrElse(sys.error("no server URL given"))
          live(K8sApi.ClusterConfig(url, None, None, None, None))
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val www = args.contains("www")
    val port = args.drop(1).filter(_.forall(_.isDigit))
      .headOption.map(_.toInt).getOrElse(8090)
    val pathArg = args.headOption.filterNot(a =>
      a == "www" || a.forall(_.isDigit))
    val source = resolveSource(pathArg, new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in)), System.out)
    val dir = source.dir

    val spark = graft.Tables.configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-ksql")
      // custom kernels (simhash64, poly_hash_mod, float_dot, ...) are
      // part of the user-facing SQL surface, REPL and HTTP alike
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4") // snapshot-sized data
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    K8sSnapshot.load(spark, dir)

    if (www) {
      val srv = new KsqlServer(spark, port)
      srv.start()
      println(s"listening on $port")
    }

    // ksql.js:280: in TTY mode the reference reloads the snapshot ONCE
    // 10 s after startup (setTimeout, not setInterval)
    if (System.console() != null) scheduleRefresh(spark, source, 10000L)

    repl(spark)
  }

  /** One-shot snapshot refresh (ksql.js:280 parity) on a timer thread:
    * see `refreshOnce`. Returns the timer so callers/tests can cancel it;
    * the task runs exactly once.
    */
  def scheduleRefresh(spark: SparkSession, source: Source,
      delayMs: Long): java.util.Timer = {
    val timer = new java.util.Timer("ksql-refresh", true)
    timer.schedule(new java.util.TimerTask {
      override def run(): Unit =
        try refreshOnce(spark, source)
        catch { case e: Exception => println(s"refresh failed: $e") }
    }, delayMs)
    timer
  }

  /** Re-fetch the snapshot, swap in the new generation and log what
    * changed per table via SnapshotDiff. `K8sSnapshot.load` replaces all
    * four views at once (createOrReplaceTempView under its write lock —
    * downstream queries see the new data, no re-wiring), so it can land
    * in the middle of REPL or `/api` queries: each answers wholly from
    * the generation its analysis saw, old or new, never a mix.
    *
    * The "before" frames are the old views as analysed: each is bound to
    * its own immutable generation, so after the swap they still read the
    * pre-refresh rows, with no copy pinned. The diffs are collected as
    * `/api` answers are (`LocalCollect`): over snapshot-sized generations
    * they run no Spark job. Last, it prints what the replaced
    * generation's [[graft.plans.PlanCache]] held and served.
    */
  def refreshOnce(spark: SparkSession, source: Source): Unit = {
    val (before, plans) = K8sSnapshot.reading(
      (K8sSnapshotTable.kinds.map(t => t -> spark.table(t)), K8sSnapshot.plans(spark)))
    val after = K8sSnapshot.load(spark, source.refetch())
    before.foreach { case (name, old) =>
      val counts = LocalCollect(graft.sources.SnapshotDiff.summary(old, after(name)))
        .map(r => s"${r.getString(0)}=${r.getLong(1)}")
      println(s"refreshed $name: ${counts.mkString(" ")}")
    }
    plans.foreach(c => println(s"prepared plans of the replaced generation: " +
      s"${c.entries} texts, ${c.instances} idle, ${c.hits} hits, ${c.misses} misses"))
  }

  /** REPL loop (ksql.js:156-188): print ASCII table, `[]` on empty,
    * errors to stdout, prompt `> `, history capped at 100 lines in
    * /tmp/graft-ksql-history (ksql.js:269-272 parity).
    */
  def repl(spark: SparkSession): Unit = {
    val histFile = java.nio.file.Paths.get("/tmp/graft-ksql-history")
    var history: List[String] =
      if (java.nio.file.Files.exists(histFile))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(histFile)).asScala.toList
      else Nil
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in))
    print("> "); Console.flush()
    var line = in.readLine()
    while (line != null) {
      handleLine(spark, line)
      if (line.trim.nonEmpty) {
        history = (history :+ line).takeRight(100)
        try java.nio.file.Files.write(histFile,
          scala.jdk.CollectionConverters.SeqHasAsJava(history).asJava)
        catch { case _: java.io.IOException => () }
      }
      print("> "); Console.flush()
      line = in.readLine()
    }
    println("shutting down.")
  }

  def handleLine(spark: SparkSession, line: String): Unit =
    if (line != null && line.trim.nonEmpty) {
      try println(answer(spark, line)(Render.toAscii))
      catch { case e: Exception => println(e) }
    }

  private val requests = new java.util.concurrent.atomic.AtomicLong

  /** One request, REPL line or `GET /api`, answered from one snapshot
    * generation. The request runs in its own Spark job group `ksql-<n>`
    * with `interruptOnCancel`, so `cancelJobGroup` stops the jobs it runs
    * as a unit; the group is cleared on exit, as pool threads are reused.
    *
    * Under `K8sSnapshot.reading` (held for this step only, so a refresh
    * never waits for an execution) the request either takes an idle
    * prepared plan of `query` from the generation's `PlanCache`, or
    * analyses `query` against that generation. A query analysed here is
    * prepared (`LocalCollect.prepare`) when it qualifies for the
    * in-thread path; then, either way, the prepared plan runs on this
    * thread with no Spark job, and after a clean run goes back to the
    * cache it came from or was missed in, which keeps it only if it is
    * repeatable and reads that generation. A cache hit thus skips
    * parsing, analysis, planning and code generation. Any other query is
    * collected with its jobs, and a command (`SET`, `CREATE VIEW`, ...)
    * starts the generation's prepared plans afresh.
    */
  def answer(spark: SparkSession, query: String)(
      render: Render.Result => String): String = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"ksql-${requests.incrementAndGet()}", query,
      interruptOnCancel = true)
    try {
      val (plans, found) = K8sSnapshot.reading {
        val plans = K8sSnapshot.plans(spark)
        plans -> plans.flatMap(_.take(query)).toRight(KsqlDialect.sql(spark, query))
      }
      def run(p: LocalCollect.Prepared): Render.Result = {
        val rows = p.run()
        plans.foreach(_.give(query, p))
        Render.process(p.columns, rows)
      }
      render(found match {
        case Right(p) => run(p)
        case Left(df) =>
          if (df.queryExecution.analyzed.exists(_.isInstanceOf[Command]))
            K8sSnapshot.forgetPlans()
          LocalCollect.prepare(df).fold(Render.process(df.columns.toSeq, df.collect()))(run)
      })
    } finally sc.clearJobGroup()
  }
}
