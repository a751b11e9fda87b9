package perfbench

import java.lang.management.ManagementFactory
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.dialect.KsqlDialect
import graft.server.{Ksql, KsqlServer}
import graft.sinks.Render
import graft.sources.K8sSnapshot

/** JVM side of the benchmark. It hosts the program under test, and it
  * measures from inside only what has no outside view (per-layer spans,
  * Spark counters, kernel cost). Every line meant for `run.py` starts
  * with `@@pb ` followed by one JSON object; other stdout lines are the
  * program's own output.
  *
  * {{{
  * k8s                      session built like graft.server.Ksql, the
  *                          KsqlServer on an ephemeral port, and a
  *                          control server: /load /refresh /heap
  *                          /replay /quit
  * ops <sfDir> <resultDir> <seconds> <trace 0|1> <cpus> <q1,q2,...>
  *                          session built like graft.Bench, an untimed
  *                          warm pass that writes each result for the
  *                          digest check, then timed or traced passes
  * oracle-sql <q1,q2,...>   the DuckDB oracle SQL of the named queries
  * }}}
  */
object Harness {
  private val out = System.out

  def emit(event: String, fields: (String, Any)*): Unit = out.synchronized {
    out.println("@@pb " + Json.obj(("event" -> event) +: fields))
    out.flush()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Heap in use after full collections, in MiB. Spark's ContextCleaner
    * releases shuffle and broadcast state only once a collection has
    * found its owner unreachable, so collect until the figure settles.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var used = collect()
    var rounds = 1
    while (rounds < 5 && used < prev - (1L << 20)) {
      prev = used
      used = collect()
      rounds += 1
    }
    used / 1048576.0
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "k8s" => new K8sHost().run()
    case "ops" => OpsRun.run(args(1), args(2), args(3).toDouble,
      args(4) == "1", args(5).toInt, args(6).split(",").toSeq)
    case "oracle-sql" =>
      val sql = graft.SparkEntry.oracleSql
      emit("oracle", "sql" -> args(1).split(",").flatMap(q =>
        sql.get(q).map(q -> _)).toMap)
  }
}

/** Minimal JSON writer for the protocol lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }
      .mkString("{", ",", "}")
}

/** Nested timing spans of one operation. Off, it only runs the body. */
final class Tracer(on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += ((name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L))
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(_4 = System.nanoTime())
      }
    }

  /** (name, parent index, start ms, end ms) relative to `t0`. */
  def records(t0: Long): Seq[Map[String, Any]] = spans.toSeq.map {
    case (n, p, s, e) => Map("name" -> n, "parent" -> p,
      "start_ms" -> (s - t0) / 1e6, "end_ms" -> (e - t0) / 1e6)
  }
}

/** Spark engine counters by the job group of the operation that ran
  * them. Events with no group (jobs started from a pool thread that did
  * not inherit it) land in "" and are taken with the current operation:
  * [[Passes]] runs one operation at a time and drains the bus after each.
  */
final class Probe extends SparkListener {
  private final class C {
    var jobs, stages, tasks, taskMs, gcMs, shW, shR, spill, peak, records =
      0L
  }
  private val byGroup = mutable.Map.empty[String, C]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
  private def c(g: String): C = byGroup.getOrElseUpdate(g, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c(group(e.properties)).jobs += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageGroup(e.stageInfo.stageId) = group(e.properties) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageGroup.getOrElse(e.stageId, ""))
    k.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      k.taskMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      k.shW += m.shuffleWriteMetrics.bytesWritten
      k.shR += m.shuffleReadMetrics.totalBytesRead
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.peak = math.max(k.peak, m.peakExecutionMemory)
      k.records += m.inputMetrics.recordsRead
    }
  }

  /** Counters of group `g` plus the ungrouped ones; both are reset. */
  def take(g: String): Map[String, Long] = synchronized {
    val xs = Seq(byGroup.remove(g), byGroup.remove("")).flatten
    Map("jobs" -> xs.map(_.jobs).sum, "stages" -> xs.map(_.stages).sum,
      "tasks" -> xs.map(_.tasks).sum, "task_ms" -> xs.map(_.taskMs).sum,
      "gc_ms" -> xs.map(_.gcMs).sum,
      "shuffle_write_bytes" -> xs.map(_.shW).sum,
      "shuffle_read_bytes" -> xs.map(_.shR).sum,
      "spill_bytes" -> xs.map(_.spill).sum,
      "peak_exec_mem_bytes" -> xs.map(_.peak).foldLeft(0L)(math.max),
      "records_read" -> xs.map(_.records).sum)
  }
}

/** Catalyst optimisation + physical planning time of every action, from
  * each QueryExecution's own phase tracker.
  */
final class PlanTime extends QueryExecutionListener {
  private var total = 0.0
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      total += Seq("optimization", "planning").flatMap(ph.get)
        .map(_.durationMs.toDouble).sum
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()
  def take(): Double = synchronized { val t = total; total = 0.0; t }
}

/** Runs operations one at a time and times each. Traced, every operation
  * gets its own job group and spans, and the listener bus is drained
  * after it, so its engine counters and Catalyst plan time are exactly
  * its own (jobs started from pool threads that lost the group included).
  */
object Passes {
  def run(spark: SparkSession, labels: Seq[String], traced: Boolean)(
      op: (Int, Tracer) => Map[String, Any]): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val probe = new Probe
    val plan = new PlanTime
    if (traced) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(plan)
    }
    try labels.indices.map { i =>
      val g = s"pb-$i"
      if (traced) sc.setJobGroup(g, labels(i), interruptOnCancel = false)
      val tr = new Tracer(traced)
      val t0 = System.nanoTime()
      val rec = op(i, tr) + ("wall_ms" -> Harness.ms(t0))
      if (!traced) rec
      else {
        sc.clearJobGroup()
        org.apache.spark.perfbench.Bus.drain(sc)
        rec ++ Map("spans" -> tr.records(t0), "counters" -> probe.take(g),
          "plan_ms" -> plan.take())
      }
    } finally if (traced) {
      sc.removeSparkListener(probe)
      spark.listenerManager.unregister(plan)
    }
  }
}

/** Hosts the ksql HTTP API over a snapshot, plus a control server on
  * another port so that loads, refreshes and replays never queue behind
  * the API's serial handler.
  */
final class K8sHost {
  import Harness.{emit, ms}

  private var spark: SparkSession = _
  private val done = new java.util.concurrent.CountDownLatch(1)

  def run(): Unit = {
    val t0 = System.nanoTime()
    // graft.server.Ksql.main's session; isolation settings (warehouse,
    // local dir) arrive as -Dspark.* system properties
    spark = graft.Tables.configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-ksql")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = ms(t0)
    val api = new KsqlServer(spark, 0)
    val port = api.start()
    val ctl = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    ctl.createContext("/", (ex: HttpExchange) => control(ex))
    ctl.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    ctl.start()
    emit("ready", "port" -> port, "control" -> ctl.getAddress.getPort,
      "session_ms" -> sessionMs)
    done.await()
    api.stop()
    ctl.stop(0)
    spark.stop()
    System.exit(0)
  }

  private def control(ex: HttpExchange): Unit = {
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split("&").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> URLDecoder.decode(v, UTF_8)
      }.toMap
    val (code, body) =
      try 200 -> (ex.getRequestURI.getPath match {
        case "/load" =>
          val t0 = System.nanoTime()
          K8sSnapshot.load(spark, params("dir"))
          Json.obj(Seq("ms" -> ms(t0)))
        case "/refresh" =>
          val t0 = System.nanoTime()
          refresh(params("dir"))
          Json.obj(Seq("ms" -> ms(t0)))
        case "/heap" => Json.obj(Seq("mb" -> Harness.liveHeapMb()))
        case "/replay" => replay(params("file"))
        case "/quit" => done.countDown(); "{}"
      })
      catch { case e: Throwable => 500 -> Json.obj(Seq("error" -> e.toString)) }
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The ksql refresh path, re-fetching from `dir`. */
  private def refresh(dir: String): Unit =
    Ksql.refreshOnce(spark, Ksql.Source(dir, () => dir))

  /** Replays the operation file (`Q\t<sql>` or `R\t<dir>` per line)
    * traced, untraced and traced again, from this one thread, through
    * the direct calls `KsqlServer` makes: rewrite → sql → executedPlan →
    * process → toJson.
    */
  private def replay(file: String): String = {
    val ops = Files.readAllLines(Paths.get(file)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", 2))
    val sc = spark.sparkContext
    def pass(traced: Boolean): Seq[Map[String, Any]] =
      Passes.run(spark, ops.map(_(0)), traced) { (i, tr) =>
        val Array(kind, arg) = ops(i)
        if (kind == "R") {
          tr.span("sources.refresh")(refresh(arg))
          Map("kind" -> kind)
        } else {
          tr.span("dialect.rewrite")(KsqlDialect.rewrite(arg))
          val df = tr.span("dialect.analyze")(KsqlDialect.sql(spark, arg))
          tr.span("catalyst.plan")(df.queryExecution.executedPlan)
          val r = tr.span("sinks.collect")(Render.process(df))
          val js = tr.span("sinks.json")(Render.toJson(r))
          Map("kind" -> kind, "rows" -> r.data.size,
            "json_bytes" -> js.getBytes(UTF_8).length)
        }
      }
    // traced, untraced, traced: the untraced pass sits between the two
    // traced ones, so JIT warm-up does not bias the overhead estimate,
    // and the two traced passes give the exact-count check
    val traced = pass(traced = true)
    val untraced = pass(traced = false)
    val repeat = pass(traced = true)
    Json.obj(Seq("cores" -> sc.defaultParallelism, "untraced" -> untraced,
      "traced" -> traced, "repeat" -> repeat))
  }
}

/** Operator queries at a scale factor, session built like graft.Bench. */
object OpsRun {
  import Harness.{emit, ms}

  def run(sfDir: String, resultDir: String, seconds: Double,
      trace: Boolean, cpus: Int, names: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = ms(t0)
    val fns = graft.SparkEntry.queries

    // as graft.Bench: operators persist intermediates, so every query
    // starts from an empty cache
    def clearCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    def attempt[T](what: String, q: String)(body: => T): Option[T] =
      try Some(body)
      catch { case e: Throwable =>
        emit("error", "query" -> q, "phase" -> what, "message" -> e.toString)
        None
      } finally clearCaches()

    // untimed warm pass: JIT, codegen, parquet footers; its output is
    // the result the digest check reads
    val warm = names.map { q =>
      val t = System.nanoTime()
      attempt("warm", q)(fns(q)(spark, sfDir).write.mode("overwrite")
        .parquet(s"$resultDir/$q"))
      q -> ms(t)
    }
    emit("warm", "session_ms" -> sessionMs, "query_ms" -> warm.toMap)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    if (!trace) {
      val samples = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
      var failed = 0
      val start = System.nanoTime()
      var i = 0
      while (ms(start) < seconds * 1000 || i < names.size) {
        val q = names(i % names.size)
        val t = System.nanoTime()
        attempt("timed", q) {
          noop(fns(q)(spark, sfDir))
          ms(t)
        } match {
          case Some(wall) =>
            samples.getOrElseUpdate(q, mutable.Buffer.empty) += wall
          case None => failed += 1
        }
        i += 1
      }
      emit("timed", "elapsed_ms" -> ms(start), "attempted" -> i,
        "failed" -> failed, "samples" -> samples,
        "live_heap_mb" -> Harness.liveHeapMb())
    } else {
      val sc = spark.sparkContext
      def pass(traced: Boolean): Seq[Map[String, Any]] =
        Passes.run(spark, names, traced) { (i, tr) =>
          val q = names(i)
          val ok = attempt("traced", q) {
            val df = tr.span("operators.build")(fns(q)(spark, sfDir))
            tr.span("operators.exec")(noop(df))
          }.isDefined
          Map("query" -> q, "ok" -> ok)
        }
      // as in the k8s replay: traced, untraced, traced
      val tracedA = pass(traced = true)
      val untraced = pass(traced = false)
      val tracedB = pass(traced = true)
      emit("trace", "cores" -> sc.defaultParallelism,
        "untraced" -> untraced, "traced" -> tracedA, "repeat" -> tracedB,
        "kernels" -> Kernels.measure(spark, sfDir),
        "live_heap_mb" -> Harness.liveHeapMb())
    }
    spark.stop()
  }
}

/** ns/row of the custom codegen kernels in graft.functions over sf
  * `documents` / `embeddings` inputs that are prepared (replicated and
  * cached) once: the kernel's projection through the noop sink minus an
  * identity projection of the same input.
  */
object Kernels {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import graft.functions.GraftFunctions._

  def measure(spark: SparkSession, sfDir: String): Map[String, Double] = {
    def prepared(df: DataFrame, copies: Int): DataFrame = {
      val p = df.crossJoin(spark.range(copies).toDF("copy")).drop("copy")
        .cache()
      p.count()
      p
    }
    val docs = prepared(graft.Tables.t(spark, sfDir, "documents")
      .select("text"), 10)
    val vecs = prepared(graft.Tables.t(spark, sfDir, "embeddings")
      .select("embedding"), 25)
    val sets = prepared(graft.Tables.t(spark, sfDir, "documents")
      .select(array_sort(array_distinct(shingle_hashes64(col("text"))))
        .as("set")), 10)
    val cases: Seq[(String, DataFrame, Column)] = Seq(
      ("simhash64", docs, simhash64(col("text"))),
      ("md5_simhash_bits", docs, md5_simhash_bits(col("text"))),
      ("shingle_hashes64", docs, shingle_hashes64(col("text"))),
      ("char_diversity", docs, char_diversity(col("text"))),
      ("text_stats", docs, text_stats(col("text"))),
      ("float_dot", vecs, float_dot(col("embedding"), col("embedding"))),
      ("sorted_intersect_card", sets,
        sorted_intersect_card(col("set"), col("set"))))
    def timeNs(df: DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    def median(xs: Seq[Long]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val rows = Map(docs -> docs.count(), vecs -> vecs.count(),
      sets -> sets.count())
    val res = cases.map { case (name, in, k) =>
      val ident = in.select(col(in.columns.head))
      val kern = in.select(k.as("k"))
      timeNs(kern); timeNs(ident) // compile both plans
      val (ks, is) = (1 to 3).map(_ => (timeNs(kern), timeNs(ident))).unzip
      name -> (median(ks) - median(is)) / rows(in)
    }.toMap
    Seq(docs, vecs, sets).foreach(_.unpersist(true))
    res
  }
}
