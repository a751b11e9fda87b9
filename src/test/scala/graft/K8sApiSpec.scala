package graft

import java.io.{BufferedReader, OutputStream, PrintStream, StringReader}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import com.sun.net.httpserver.HttpServer
import graft.server.Ksql
import graft.sources.{K8sApi, K8sSnapshot}

/** Live-API connection layer (S1-S3): kubeconfig resolution, bearer
  * auth, parallel list fetch — driven against a local HTTP stand-in for
  * the API server (zero egress).
  */
class K8sApiSpec extends SparkSpec {

  private def kubeconfigYaml(server: String): String =
    s"""apiVersion: v1
       |kind: Config
       |current-context: test-ctx
       |contexts:
       |- name: other-ctx
       |  context: {cluster: other, user: other-user}
       |- name: test-ctx
       |  context: {cluster: test-cluster, user: test-user}
       |clusters:
       |- name: other
       |  cluster: {server: "http://nowhere:1"}
       |- name: test-cluster
       |  cluster: {server: "$server"}
       |users:
       |- name: other-user
       |  user: {}
       |- name: test-user
       |  user: {token: sekrit-token}
       |""".stripMargin

  test("kubeconfig resolves current-context through name lookups") {
    val f = Files.createTempFile("kubeconfig", ".yaml")
    Files.writeString(f, kubeconfigYaml("http://localhost:1234"))
    val cfg = K8sApi.fromKubeconfig(f)
    assert(cfg.server == "http://localhost:1234")
    assert(cfg.token.contains("sekrit-token"))
    assert(!cfg.isHttps)
  }

  test("https without client certs raises the documented error") {
    val f = Files.createTempFile("kubeconfig", ".yaml")
    Files.writeString(f, kubeconfigYaml("https://secure:6443"))
    val e = intercept[RuntimeException](K8sApi.client(K8sApi.fromKubeconfig(f)))
    assert(e.getMessage.contains("client-certificate-data"))
  }

  test("live snapshot: fetch with bearer token, then full engine load") {
    val fixtures = new java.io.File(fixtureDir)
    var sawAuth: Option[String] = None
    val srv = HttpServer.create(new InetSocketAddress(0), 0)
    srv.createContext("/api/v1/", { ex =>
      sawAuth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val kind = ex.getRequestURI.getPath.stripPrefix("/api/v1/")
      val body = Files.readAllBytes(
        new java.io.File(fixtures, s"$kind.json").toPath)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    srv.start()
    try {
      val port = srv.getAddress.getPort
      val f = Files.createTempFile("kubeconfig", ".yaml")
      Files.writeString(f, kubeconfigYaml(s"http://localhost:$port"))
      // a kubeconfig path (not a directory) → live snapshot into a temp dir
      val dir = Ksql.resolveSource(Some(f.toString),
        new BufferedReader(new StringReader("")),
        new PrintStream(OutputStream.nullOutputStream())).dir
      assert(sawAuth.contains("Bearer sekrit-token"))
      val tables = K8sSnapshot.load(spark, dir)
      assert(tables("pods").count() == 4)
      assert(tables("containers").count() == 5)
    } finally srv.stop(0)
  }

  test("missing context name fails with a clear message") {
    val f = Files.createTempFile("kubeconfig", ".yaml")
    Files.writeString(f,
      kubeconfigYaml("http://x").replace("current-context: test-ctx",
        "current-context: nope"))
    val e = intercept[RuntimeException](K8sApi.fromKubeconfig(f))
    assert(e.getMessage.contains("nope"))
  }
}
