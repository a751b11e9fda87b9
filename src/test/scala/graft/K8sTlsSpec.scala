package graft

import java.io.{BufferedReader, OutputStream, PrintStream, StringReader}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.Base64
import com.sun.net.httpserver.{HttpsConfigurator, HttpsParameters, HttpsServer}
import graft.server.Ksql
import graft.sources.{K8sApi, K8sSnapshot, Pem}
import graft.sources.K8sApi.ClusterConfig

/** x509/mutual-TLS connect path (S2, reference `ksql.js:43-57`: https
  * requires cert+key, CA is pinned) — driven end-to-end against a local
  * HttpsServer stand-in that REQUIRES client certificates, using
  * openssl-generated fixtures (src/test/resources/tls, 100-year
  * validity; the client key is deliberately PKCS#1 to exercise the
  * PKCS#8 wrapping path).
  */
class K8sTlsSpec extends SparkSpec {

  private val tlsDir = "src/test/resources/tls"
  private def pem(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(tlsDir, name))
  private def b64(name: String): String =
    Base64.getEncoder.encodeToString(pem(name))

  private def kubeconfigYaml(server: String): String =
    s"""apiVersion: v1
       |kind: Config
       |current-context: tls-ctx
       |contexts:
       |- name: tls-ctx
       |  context: {cluster: tls-cluster, user: tls-user}
       |clusters:
       |- name: tls-cluster
       |  cluster:
       |    server: "$server"
       |    certificate-authority-data: ${b64("ca.crt")}
       |users:
       |- name: tls-user
       |  user:
       |    client-certificate-data: ${b64("client.crt")}
       |    client-key-data: ${b64("client.key")}
       |""".stripMargin

  test("PKCS#1 and PKCS#8 encodings of the same key parse identically") {
    val k1 = Pem.privateKey(pem("client.key"))
    val k8 = Pem.privateKey(pem("client-pkcs8.key"))
    assert(k1.getAlgorithm == "RSA" && k8.getAlgorithm == "RSA")
    assert(k1.asInstanceOf[java.security.interfaces.RSAPrivateKey].getModulus ==
      k8.asInstanceOf[java.security.interfaces.RSAPrivateKey].getModulus)
  }

  test("mutual-TLS snapshot: client cert + pinned CA, then engine load") {
    val fixtures = new java.io.File(fixtureDir)
    // the API-server stand-in: its own cert/key, trusts the same CA,
    // and DEMANDS a client certificate (mutual TLS)
    val serverCtx = K8sApi.sslContext(ClusterConfig(
      server = "https://localhost",
      token = None,
      caData = Some(pem("ca.crt")),
      certData = Some(pem("server.crt")),
      keyData = Some(pem("server.key"))))
    val srv = HttpsServer.create(new InetSocketAddress("localhost", 0), 0)
    srv.setHttpsConfigurator(new HttpsConfigurator(serverCtx) {
      override def configure(p: HttpsParameters): Unit = {
        val ssl = serverCtx.getDefaultSSLParameters
        ssl.setNeedClientAuth(true)
        p.setSSLParameters(ssl)
      }
    })
    var sawPeer: Option[String] = None
    srv.createContext("/api/v1/", { ex =>
      sawPeer = Some(ex.asInstanceOf[com.sun.net.httpserver.HttpsExchange]
        .getSSLSession.getPeerPrincipal.getName)
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
      val f = Files.createTempFile("kubeconfig-tls", ".yaml")
      Files.writeString(f, kubeconfigYaml(s"https://localhost:$port"))
      // a kubeconfig path (not a directory) → live snapshot into a temp dir
      val dir = Ksql.resolveSource(Some(f.toString),
        new BufferedReader(new StringReader("")),
        new PrintStream(OutputStream.nullOutputStream())).dir
      // the server saw (and authenticated) the client certificate
      assert(sawPeer.contains("CN=graft-client"), sawPeer)
      val tables = K8sSnapshot.load(spark, dir)
      assert(tables("pods").count() == 4)
      assert(tables("nodes").count() > 0)
    } finally srv.stop(0)
  }

  test("an unpinned server certificate is rejected (CA pinning works)") {
    // server presents a self-signed cert with a VALID hostname but from
    // outside the pinned CA → the handshake must fail on trust, not name
    val serverCtx = K8sApi.sslContext(ClusterConfig(
      server = "https://localhost",
      token = None,
      caData = Some(pem("rogue.crt")),
      certData = Some(pem("rogue.crt")),
      keyData = Some(pem("rogue.key"))))
    val srv = HttpsServer.create(new InetSocketAddress("localhost", 0), 0)
    srv.setHttpsConfigurator(new HttpsConfigurator(serverCtx))
    srv.createContext("/api/v1/", { ex =>
      ex.sendResponseHeaders(200, 2); ex.getResponseBody.write("{}".getBytes)
      ex.close()
    })
    srv.start()
    try {
      val port = srv.getAddress.getPort
      val cfg = ClusterConfig(s"https://localhost:$port", None,
        caData = Some(pem("ca.crt")),
        certData = Some(pem("client.crt")),
        keyData = Some(pem("client.key")))
      val http = K8sApi.client(cfg)
      intercept[java.io.IOException](K8sApi.fetchList(cfg, http, "pods"))
    } finally srv.stop(0)
  }
}
