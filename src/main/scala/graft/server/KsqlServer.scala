package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import graft.sinks.Render

/** HTTP API + static web terminal (SURVEY §3.2), reproducing the
  * reference's routes and status-code semantics
  * (`/root/reference/ksql.js:285-361`):
  *   - `GET /api?query=<sql>` → 200 `{headers, data}` JSON
  *     (ksql.js:294-305)
  *   - missing query param → 400 (ksql.js:310-313)
  *   - SQL error → 500 body `error: <ex>` (ksql.js:306-309)
  *   - other paths → static assets from classpath `/web`, content-type
  *     by extension, `..` rejected, unknown → 404 (ksql.js:316-353)
  *   - default port 8090 (ksql.js:358)
  *
  * Zero dependencies: com.sun.net.httpserver ships with the JDK.
  *
  * Documented divergence, identical answers: the reference serves one
  * request at a time on Node's event loop; here requests run concurrently
  * on a fixed pool of one thread per core of the session (`Par.width`).
  * A query over snapshot-sized tables runs on its request thread with no
  * Spark job (`graft.plans.LocalCollect`), from a plan prepared once per
  * snapshot generation and text (`graft.plans.PlanCache`): a repeated
  * request's time is its row work on that one core, and only the first
  * of a text, or one the cache does not keep, also analyses, plans and
  * generates code. A larger query runs Spark jobs, whose tasks use the
  * session's cores while the request thread waits. Each request finds its
  * prepared plan or analyses its query under `K8sSnapshot.reading` (see
  * `Ksql.answer`), so it answers from one snapshot generation, as a
  * serial server would between two refreshes.
  */
class KsqlServer(spark: SparkSession, port: Int = 8090) {
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = {
    val name = s"ksql-http-${server.getAddress.getPort}-"
    val n = new AtomicInteger
    Executors.newFixedThreadPool(math.max(1, graft.Par.width(spark)),
      new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, name + n.incrementAndGet())
          t.setDaemon(true)
          t
        }
      })
  }
  server.createContext("/", new Handler)
  server.setExecutor(pool)

  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Stops listening, interrupts requests in flight and returns once
    * every pool thread has exited. */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "text/plain"): Unit =
    respond(ex, code, body.getBytes(UTF_8), contentType)

  private val contentTypes = Map(
    "html" -> "text/html", "js" -> "application/javascript",
    "css" -> "text/css", "json" -> "application/json",
    "png" -> "image/png", "ico" -> "image/x-icon")

  private class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try route(ex)
      catch { case e: Throwable => respond(ex, 500, "error: " + e) }

    private def route(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath
      if (path.startsWith("/api")) api(ex)
      else static(ex, if (path == "/") "/index.html" else path)
    }

    /** ksql.js:294-314 semantics. */
    private def api(ex: HttpExchange): Unit = {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => URLDecoder.decode(k, UTF_8) ->
              URLDecoder.decode(v, UTF_8)
            case Array(k) => URLDecoder.decode(k, UTF_8) -> ""
          }
        }.toMap
      params.get("query").filter(_.nonEmpty) match {
        case None => respond(ex, 400, "query parameter is required")
        // a failure goes to the handler's one 500: "error: " + the
        // exception itself (ksql.js's 'error: ' + ex), class included
        case Some(q) =>
          respond(ex, 200, Ksql.answer(spark, q)(Render.toJson),
            "application/json")
      }
    }

    /** ksql.js:316-353 semantics: classpath-backed static serving. */
    private def static(ex: HttpExchange, path: String): Unit = {
      // ksql.js:321-325: path traversal is a 400, not a 404
      if (path.contains("..")) { respond(ex, 400, "Bad request: " + path); return }
      val res = getClass.getResourceAsStream("/web" + path)
      if (res == null) { respond(ex, 404, "Not found: " + path); return }
      val bytes = res.readAllBytes(); res.close()
      val ext = path.substring(path.lastIndexOf('.') + 1)
      respond(ex, 200, bytes,
        contentTypes.getOrElse(ext, "application/octet-stream"))
    }
  }
}
