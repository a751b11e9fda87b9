package graft

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.io.Source
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.server.KsqlServer
import graft.sources.K8sSnapshot

/** HTTP contract tests (SURVEY §5 item 5): /api happy path, 400 on
  * missing query, 500 on bad SQL, static serving + `..` rejection
  * (`/root/reference/ksql.js:285-353` semantics).
  */
class HttpServerSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (stream == null) ""
      else Source.fromInputStream(stream, "UTF-8").mkString
    (code, body)
  }

  lazy val port: Int = {
    K8sSnapshot.load(spark, fixtureDir)
    // port 0 → ephemeral, avoids clashing with anything on 8090
    val srv = new KsqlServer(spark, 0)
    srv.start()
  }

  test("GET /api?query= happy path returns {headers, data}") {
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(
        "select count(*) from containers where containers.image like 'mysql%'",
        "UTF-8"))
    assert(code == 200)
    assert(body.contains("\"headers\""))
    assert(body.contains("3"))
  }

  test("missing query → 400 (ksql.js:310-313)") {
    assert(get(s"http://localhost:$port/api")._1 == 400)
  }

  test("bad SQL → 500 with error: prefix (ksql.js:306-309)") {
    val (code, body) = get(s"http://localhost:$port/api?query=definitely+not+sql")
    assert(code == 500)
    assert(body.startsWith("error: "))
  }

  test("bad SQL → 500 body names the exception, as the REPL prints it") {
    // ksql.js:306-309 sends 'error: ' + ex, i.e. the exception itself
    val (code, body) = get(s"http://localhost:$port/api?query=definitely+not+sql")
    assert(code == 500 && body.contains("ParseException"), body)
    val (code2, body2) = get(s"http://localhost:$port/api?query=" +
      URLEncoder.encode("select * from no_such_table", "UTF-8"))
    assert(code2 == 500 && body2.contains("AnalysisException"), body2)
  }

  test("pipeline operators are SQL-addressable over HTTP: dedup") {
    // round-4 verdict item 9: the reference UX is "type SQL, get a
    // table" — a dedup operator must run as plain SQL text end to end
    val sql = "SELECT doc_id, n_copies " +
      "FROM graft_op('dd02_dedup_exact_hash', '/root/testdata/sf0.001') " +
      "WHERE n_copies >= 2 ORDER BY doc_id LIMIT 5"
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(sql, "UTF-8"))
    assert(code == 200, body)
    assert(body.contains("\"headers\"") && body.contains("n_copies"), body)
    assert(body.contains("\"data\""), body)
  }

  test("pipeline operators are SQL-addressable over HTTP: ANN top-k") {
    val sql = "SELECT query_id, rank, neighbor_id " +
      "FROM graft_op('ss01_topk_bruteforce', '/root/testdata/sf0.001') " +
      "WHERE rank = 1 ORDER BY query_id LIMIT 3"
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(sql, "UTF-8"))
    assert(code == 200, body)
    assert(body.contains("neighbor_id"), body)
  }

  test("custom sketch aggregate runs as plain SQL over HTTP: misra_gries") {
    // the GraftExtensions-injected aggregate + the graft_op TVF compose
    // in one HTTP query — the full "type SQL, get a table" stack over a
    // round-5 addition
    val sql = "SELECT e.key, e.est FROM (SELECT misra_gries(" +
      "CASE WHEN id % 2 = 0 THEN 'HOT' ELSE CAST(id AS STRING) END, 4" +
      ") AS mg FROM range(100)) LATERAL VIEW explode(mg) AS e " +
      "ORDER BY e.est DESC, e.key LIMIT 1"
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(sql, "UTF-8"))
    assert(code == 200, body)
    assert(body.contains("HOT"), body)
  }

  test("round-5 operators ride the TVF automatically: media quarantine") {
    val sql = "SELECT status, count(*) AS n " +
      "FROM graft_op('mm10_media_quarantine', '/root/testdata/sf0.001') " +
      "GROUP BY status ORDER BY status"
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(sql, "UTF-8"))
    assert(code == 200, body)
    assert(body.contains("quarantined"), body)
  }

  test("session-5 operators ride the TVF: anomaly counts + tombstone search") {
    val sql = "SELECT sum(n_anom_k3) AS total FROM graft_op(" +
      "'q82_anomaly_exact', '/root/testdata/sf0.001')"
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(sql, "UTF-8"))
    assert(code == 200, body)
    val sql2 = "SELECT count(*) AS displaced FROM graft_op(" +
      "'ss24_tombstone_search', '/root/testdata/sf0.001') WHERE displaced"
    val (code2, body2) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(sql2, "UTF-8"))
    assert(code2 == 200, body2)
    assert(body2.contains("displaced"), body2)
  }

  test("index-publishing operators over the TVF surface: interleaved " +
      "invocations never cross-talk (per-invocation namespace)") {
    // the r12 ADVICE clobber hazard: invocation A's plan-build publish,
    // then several B publishes of the SAME op, then A's deferred
    // collection. Un-namespaced, B's generations would age A's pinned
    // tables out of the GC grace window; the per-invocation namespace
    // makes every invocation's family private.
    val sf = "/root/testdata/sf0.001"
    val q = s"SELECT * FROM graft_op('tx37_persisted_text_index', '$sf')"
    val a = graft.dialect.KsqlDialect.sql(spark, q) // publish #A
    val want = graft.dialect.KsqlDialect.sql(spark, q).collect().toSeq
    graft.dialect.KsqlDialect.sql(spark, q).collect() // more publishes
    graft.dialect.KsqlDialect.sql(spark, q).collect()
    // A's deferred collection still serves ITS generation, byte-true
    assert(a.collect().toSeq == want,
      "interleaved graft_op index invocations cross-talked")
    // and the namespaced invocations never touched the fixed family
    // names Verify/Bench use (isolated manifests per invocation)
    val fixedGen = graft.operators.Bucketing.currentGen(spark, "tx37")
    val srv = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(
        s"SELECT count(*) AS n FROM graft_op('dd35_persisted_bands', '$sf')",
        "UTF-8"))
    assert(srv._1 == 200, srv._2)
    assert(graft.operators.Bucketing.currentGen(spark, "tx37") == fixedGen)
  }

  test("graft_ops() lists operators; unknown operator → 500 with hint") {
    val (code, body) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(
        "SELECT * FROM graft_ops() WHERE op LIKE 'dd%'", "UTF-8"))
    assert(code == 200, body)
    assert(body.contains("dd01_dedup_exact") &&
      body.contains("dd19_neardup_recall"), body)
    val (code2, body2) = get(s"http://localhost:$port/api?query=" +
      java.net.URLEncoder.encode(
        "SELECT * FROM graft_op('no_such_op', '/tmp')", "UTF-8"))
    assert(code2 == 500 && body2.contains("graft_ops()"), body2)
  }

  private def poolThreads(port: Int): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(_.getName.startsWith(s"ksql-http-$port-"))

  test("concurrent /api requests answer byte-identically to serial ones; " +
      "stop() ends the pool") {
    // the four README queries, plus an operator whose plan build runs
    // Spark jobs while the query is analysed (sf0.001, as the operator
    // specs read it)
    val sf = java.nio.file.Paths.get(sys.props("user.home"), "testdata",
      "sf0.001")
    val queries = Seq(
      "select count(*) from containers where containers.image like 'mysql%'",
      "select count(*),image from containers where containers.image like " +
        "'mysql%' group by image",
      "select pods.metadata->name,pods.metadata->annotations->email,image " +
        "from pods join containers using uid where image like 'mysql:5.5%'",
      "select pods.metadata->name,image from pods left join containers " +
        "using uid where image like 'mysql%' and not " +
        "pods.metadata->annotations->email",
      "SELECT doc_id, n_copies " +
        s"FROM graft_op('dd02_dedup_exact_hash', '$sf') " +
        "WHERE n_copies >= 2 ORDER BY doc_id LIMIT 5")
    K8sSnapshot.load(spark, fixtureDir)
    val srv = new KsqlServer(spark, 0)
    val p = srv.start()
    def api(q: String) =
      get(s"http://localhost:$p/api?query=" + URLEncoder.encode(q, "UTF-8"))
    try {
      val serial = queries.map(q => q -> api(q)).toMap
      serial.values.foreach { case (code, body) => assert(code == 200, body) }
      val clients = Executors.newFixedThreadPool(16)
      try {
        val replies = Seq.tabulate(16)(i => queries(i % queries.size))
          .map(q => clients.submit(() => q -> api(q)))
          .map(_.get(5, TimeUnit.MINUTES))
        replies.foreach { case (q, got) => assert(got == serial(q), q) }
      } finally clients.shutdown()
      assert(poolThreads(p).size == Par.width(spark)) // one per core
    } finally srv.stop()
    assert(poolThreads(p).isEmpty)
  }

  test("each /api request runs in its own cancellable job group") {
    val groups = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          groups.add(p.getProperty("spark.jobGroup.id") ->
            p.getProperty("spark.job.interruptOnCancel"))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def api(sql: String) = "/api?query=" + URLEncoder.encode(sql, "UTF-8")
      // a query over a non-snapshot relation runs Spark jobs; one over
      // the snapshot tables is answered in-thread and runs none
      val jobbed = api("select id % 3 as k, count(*) from range(100) group by k")
      val inThread = api("select node, count(*) from pods group by node")
      assert(get(s"http://localhost:$port$jobbed")._1 == 200)
      assert(get(s"http://localhost:$port$inThread")._1 == 200)
      assert(get(s"http://localhost:$port$jobbed")._1 == 200)
      // the listener bus is asynchronous but ordered: once the second
      // jobbed request's jobs have arrived, the in-thread one's would have.
      // Requests number their groups in order, so the three are ksql-n,
      // ksql-(n+1) and ksql-(n+2).
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      def ids = groups.asScala.map(_._1).filter(g =>
        g != null && g.matches("ksql-\\d+")).toSet
      def nums = ids.map(_.stripPrefix("ksql-").toLong)
      while (!nums.exists(n => nums(n + 2)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val seen = nums
      val first = seen.filter(n => seen(n + 2)).max
      assert(!seen(first + 1), groups)
      val requests = Set(first, first + 2).map(n => s"ksql-$n")
      assert(groups.asScala.filter(g => requests(g._1)).forall(_._2 == "true"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("static index.html served with content-type") {
    val (code, body) = get(s"http://localhost:$port/")
    assert(code == 200)
    assert(body.contains("<html"))
  }

  test("path traversal rejected with 400 (ksql.js:321-325)") {
    assert(get(s"http://localhost:$port/..%2fbuild.sbt")._1 == 400)
  }

  test("unknown asset → 404 (ksql.js:341-344)") {
    assert(get(s"http://localhost:$port/nope.js")._1 == 404)
  }
}
