package graft

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
import java.net.{HttpURLConnection, InetSocketAddress, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.sun.net.httpserver.HttpServer
import graft.server.{Ksql, KsqlServer}
import graft.sinks.Render
import graft.sources.K8sSnapshot

/** Reference connect()-order parity (S3, `ksql.js:58-94`): with no
  * source argument, `$HOME/.kube/config` is tried first; absent that the
  * user is prompted `Server URL: ` and an unauthenticated http client is
  * built from the answer. Plus the one-shot TTY refresh (`ksql.js:280`).
  */
class KsqlConnectSpec extends SparkSpec {

  private def fixtureServer(): (HttpServer, Int) = {
    val fixtures = new java.io.File(fixtureDir)
    val srv = HttpServer.create(new InetSocketAddress(0), 0)
    srv.createContext("/api/v1/", { ex =>
      val kind = ex.getRequestURI.getPath.stripPrefix("/api/v1/")
      val body = Files.readAllBytes(
        new java.io.File(fixtures, s"$kind.json").toPath)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    (srv, srv.getAddress.getPort)
  }

  test("no kubeconfig → 'Server URL: ' prompt builds an http source") {
    val (srv, port) = fixtureServer()
    try {
      val emptyHome = Files.createTempDirectory("home-no-kube")
      val out = new ByteArrayOutputStream()
      val src = Ksql.resolveSource(None,
        new BufferedReader(new StringReader(s"http://localhost:$port\n")),
        new PrintStream(out), home = emptyHome.toString)
      assert(out.toString.contains("Server URL: "))
      assert(Files.exists(Paths.get(src.dir, "pods.json")))
      val tables = K8sSnapshot.load(spark, src.dir)
      assert(tables("pods").count() == 4)
    } finally srv.stop(0)
  }

  test("a kubeconfig under $HOME/.kube/config wins over the prompt") {
    val (srv, port) = fixtureServer()
    try {
      val home = Files.createTempDirectory("home-with-kube")
      Files.createDirectories(home.resolve(".kube"))
      Files.writeString(home.resolve(".kube/config"),
        s"""apiVersion: v1
           |kind: Config
           |current-context: c
           |contexts: [{name: c, context: {cluster: k, user: u}}]
           |clusters: [{name: k, cluster: {server: "http://localhost:$port"}}]
           |users: [{name: u, user: {}}]
           |""".stripMargin)
      val out = new ByteArrayOutputStream()
      val src = Ksql.resolveSource(None,
        new BufferedReader(new StringReader("")), new PrintStream(out),
        home = home.toString)
      assert(!out.toString.contains("Server URL: ")) // never prompted
      assert(Files.exists(Paths.get(src.dir, "nodes.json")))
    } finally srv.stop(0)
  }

  /** A copy of the fixture snapshot with the first pod dropped. */
  private def droppedPodCopy(): java.nio.file.Path = {
    val mutated = Files.createTempDirectory("snapshot-v2")
    Seq("pods", "nodes", "services").foreach { k =>
      Files.copy(Paths.get(fixtureDir, s"$k.json"),
        mutated.resolve(s"$k.json"), StandardCopyOption.REPLACE_EXISTING)
    }
    val pods = ujsonFree(Files.readString(mutated.resolve("pods.json")))
    Files.writeString(mutated.resolve("pods.json"), pods)
    mutated
  }

  test("one-shot refresh re-registers views with the new snapshot") {
    // first load from the fixture dir; the refetch points at a MUTATED
    // copy (one pod dropped) — after refreshOnce the registered view
    // must serve the new content
    val mutated = droppedPodCopy()
    K8sSnapshot.load(spark, fixtureDir)
    val before = spark.table("pods").count()
    assert(before == 4)
    Ksql.refreshOnce(spark,
      Ksql.Source(fixtureDir, () => mutated.toString))
    assert(spark.table("pods").count() == 3) // the dropped pod is gone
    // and the refresh is repeatable (idempotent re-registration)
    Ksql.refreshOnce(spark,
      Ksql.Source(mutated.toString, () => fixtureDir))
    assert(spark.table("pods").count() == 4)
  }

  test("answers stay on the loaded generation until the next load") {
    // a snapshot dir whose pods.json is rewritten in place after `load`:
    // the views keep answering from what was loaded, as the reference
    // answers from its in-memory arrays, until a refresh re-reads it
    val dir = Files.createTempDirectory("snapshot-in-place")
    Seq("pods", "nodes", "services").foreach { k =>
      Files.copy(Paths.get(fixtureDir, s"$k.json"), dir.resolve(s"$k.json"))
    }
    val q = "select count(*) from pods"
    def ask(): String = Ksql.answer(spark, q)(Render.toJson)
    K8sSnapshot.load(spark, dir.toString)
    val loaded = ask()
    Files.writeString(dir.resolve("pods.json"),
      ujsonFree(Files.readString(dir.resolve("pods.json"))))
    assert(ask() == loaded)
    assert(spark.table("containers").count() == 5)
    Ksql.refreshOnce(spark, Ksql.Source(dir.toString, () => dir.toString))
    assert(ask() != loaded && ask().contains("3"))
    assert(spark.table("containers").count() == 4)
    // and a plain load picks up the file as it now is
    Files.copy(Paths.get(fixtureDir, "pods.json"), dir.resolve("pods.json"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(ask() != loaded)
    K8sSnapshot.load(spark, dir.toString)
    assert(ask() == loaded)
  }

  test("a replaced generation is freed once no plan uses it") {
    // the tables own their rows: after a refresh swaps the views, nothing
    // JVM-wide keeps the old generation reachable, the pods parsed from
    // the file nor the containers flattened from them
    def loadAndWatch(): Seq[java.lang.ref.WeakReference[AnyRef]] = {
      val tables = K8sSnapshot.load(spark, fixtureDir)
      Seq("pods", "containers").map { name =>
        val df = tables(name)
        df.count()
        val table = df.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            r.table.asInstanceOf[graft.sources.v2.K8sSnapshotTable]
        }.get
        assert(table.kind == name)
        new java.lang.ref.WeakReference[AnyRef](table.generation)
      }
    }
    val old = loadAndWatch()
    Ksql.refreshOnce(spark, Ksql.Source(fixtureDir, () => fixtureDir))
    var i = 0
    while (old.exists(_.get != null) && i < 20) { System.gc(); Thread.sleep(50); i += 1 }
    assert(old.forall(_.get == null), "the pre-refresh generation is still reachable")
  }

  test("a replaced generation is freed with its prepared plans warm") {
    // the six bench queries, each answered twice, so the generation's
    // plan cache holds a prepared plan of each when the refresh lands
    val queries = Seq(
      "select count(*) from containers where containers.image like 'mysql%'",
      "select count(*),image from containers where containers.image like " +
        "'mysql%' group by image",
      "select pods.metadata->name,pods.metadata->annotations->email,image " +
        "from pods join containers using uid where image like 'mysql:5.5%'",
      "select pods.metadata->name,image from pods left join containers " +
        "using uid where image like 'mysql%' and not " +
        "pods.metadata->annotations->email",
      "select node, count(*) from pods group by node",
      "select metadata->name, node from pods where uid = 'pod-uid-1'")
    def loadWarmAndWatch(): java.lang.ref.WeakReference[AnyRef] = {
      val pods = K8sSnapshot.load(spark, fixtureDir)("pods")
      for (q <- queries; _ <- 1 to 2) Ksql.answer(spark, q)(Render.toJson)
      val plans = K8sSnapshot.plans(spark).get
      assert(plans.entries == queries.size && plans.hits.get == queries.size)
      val table = pods.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.asInstanceOf[graft.sources.v2.K8sSnapshotTable]
      }.get
      new java.lang.ref.WeakReference(table.generation)
    }
    val old = loadWarmAndWatch()
    Ksql.refreshOnce(spark, Ksql.Source(fixtureDir, () => fixtureDir))
    var i = 0
    while (old.get != null && i < 20) { System.gc(); Thread.sleep(50); i += 1 }
    assert(old.get == null, "the pre-refresh generation is still reachable")
  }

  test("refreshes landing mid-query never answer from two generations") {
    val dirs = Seq(fixtureDir, droppedPodCopy().toString)
    // README query 4 joins pods and containers. The dropped pod is not in
    // its answer, and with a one-pod drop a cross-generation join equals
    // one generation's answer, so the second query, which reads both
    // views, is the one that tells every mix apart
    val queries = Seq(
      "select pods.metadata->name,image from pods left join containers " +
        "using uid where image like 'mysql%' and not " +
        "pods.metadata->annotations->email",
      "select (select count(*) from pods) as pods, " +
        "(select count(*) from containers) as containers")
    val answers = dirs.map { d =>
      K8sSnapshot.load(spark, d)
      queries.map(q => q -> Ksql.answer(spark, q)(Render.toJson)).toMap
    }
    K8sSnapshot.load(spark, dirs(0))
    assert(answers(0)(queries(1)) != answers(1)(queries(1)))

    val srv = new KsqlServer(spark, 0)
    val port = srv.start()
    val refreshing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Int, String)]
    def client(): Unit = while (refreshing.get) queries.foreach { q =>
      val conn = URI.create(s"http://localhost:$port/api?query=" +
        URLEncoder.encode(q, "UTF-8")).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      seen.add((q, code, new String(in.readAllBytes(), UTF_8)))
    }
    val clients = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val running = Seq.fill(4)(clients.submit[Unit](() => client()))
      try (1 to 20).foreach { i => // alternate generations, ending on 0
        Ksql.refreshOnce(spark, Ksql.Source(dirs(1 - i % 2),
          () => dirs(i % 2)))
      } finally refreshing.set(false)
      running.foreach(_.get())
    } finally { clients.shutdown(); srv.stop() }
    val replies = seen.asScala.toSeq
    val wrong = replies.filterNot { case (q, code, body) =>
      code == 200 && answers.exists(_(q) == body)
    }
    assert(wrong.isEmpty, s"${wrong.size} of ${replies.size}: ${wrong.take(3)}")
    // the queries did run across refreshes: both generations answered
    assert(answers.forall(a => replies.exists(_._3 == a(queries(1)))))
  }

  /** Drop the first item from a K8s list JSON without a JSON library:
    * items is an array of objects — cut from the first `{` after
    * `"items"` to its balanced closing brace (+ trailing comma).
    */
  private def ujsonFree(listJson: String): String = {
    val start = listJson.indexOf('{', listJson.indexOf("\"items\""))
    var depth = 0; var i = start
    while ({ // walk to the balanced close of the first item object
      val c = listJson.charAt(i)
      if (c == '{') depth += 1 else if (c == '}') depth -= 1
      i += 1
      depth > 0
    }) ()
    val after = if (listJson.charAt(i) == ',') i + 1 else i
    listJson.substring(0, start) + listJson.substring(after)
  }
}
