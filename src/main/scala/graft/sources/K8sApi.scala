package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.util.Base64
import scala.jdk.CollectionConverters._
import org.yaml.snakeyaml.Yaml
import graft.sources.v2.K8sSnapshotTable

/** Live K8s API connection layer (SURVEY §2.1 S1-S3): kubeconfig
  * resolution and authenticated list fetches, mirroring the reference's
  * connect path (`/root/reference/ksql.js:34-126`):
  *   - `current-context` → context → cluster/user lookup by name
  *     (findByName, ksql.js:34-41)
  *   - bearer-token auth when the user entry has one (ksql.js:118-121)
  *   - https endpoints require client-certificate/key material; the
  *     reference THROWS without it (ksql.js:47-48) and crashes on the
  *     prompt path (ksql.js:78 passes no x509) — we raise an informative
  *     error instead (documented divergence, SURVEY §7.4 risk 4)
  *
  * Fetched lists are written as `{kind}.json` snapshot files and loaded
  * through the same DSv2 connector as fixtures — the engine downstream
  * of the fetch is identical (snapshot-in, snapshot-out, ksql.js:249-255
  * semantics).
  */
object K8sApi {

  case class ClusterConfig(server: String, token: Option[String],
      caData: Option[Array[Byte]], certData: Option[Array[Byte]],
      keyData: Option[Array[Byte]]) {
    def isHttps: Boolean = server.startsWith("https:")
  }

  /** Parse kubeconfig and resolve current-context → (cluster, user). */
  def fromKubeconfig(path: Path): ClusterConfig = {
    val root = new Yaml().load[java.util.Map[String, Object]](
      Files.readString(path))
    def section(name: String): Seq[Map[String, Object]] =
      Option(root.get(name)).toSeq
        .flatMap(_.asInstanceOf[java.util.List[Object]].asScala)
        .map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)
    def findByName(entries: Seq[Map[String, Object]], name: String,
        payload: String): Map[String, Object] =
      entries.find(_.get("name").contains(name))
        .map(_(payload).asInstanceOf[java.util.Map[String, Object]]
          .asScala.toMap)
        .getOrElse(sys.error(s"kubeconfig: no entry named '$name'"))

    val currentContext = Option(root.get("current-context"))
      .map(_.toString)
      .getOrElse(sys.error("kubeconfig: no current-context"))
    val ctx = findByName(section("contexts"), currentContext, "context")
    val cluster = findByName(section("clusters"),
      ctx("cluster").toString, "cluster")
    val user = findByName(section("users"), ctx("user").toString, "user")

    def b64(key: String, m: Map[String, Object]): Option[Array[Byte]] =
      m.get(key).map(v => Base64.getDecoder.decode(v.toString))

    ClusterConfig(
      server = cluster("server").toString,
      token = user.get("token").map(_.toString),
      caData = b64("certificate-authority-data", cluster),
      certData = b64("client-certificate-data", user),
      keyData = b64("client-key-data", user))
  }

  /** Build a client for the config. https requires cert material — the
    * reference's hard requirement (ksql.js:47-48), surfaced as an error
    * rather than a crash — and builds an SSLContext doing mutual TLS:
    * CA pinning from `certificate-authority-data` (ksql.js:52 `ca:`) and
    * x509 client auth from `client-certificate-data`/`client-key-data`
    * (ksql.js:49-51 `cert:`/`key:`).
    */
  def client(cfg: ClusterConfig): HttpClient = {
    if (!cfg.isHttps) HttpClient.newHttpClient()
    else {
      if (cfg.certData.isEmpty || cfg.keyData.isEmpty)
        sys.error("https api server requires client-certificate-data and " +
          "client-key-data in the kubeconfig (reference ksql.js:47-48)")
      HttpClient.newBuilder().sslContext(sslContext(cfg)).build()
    }
  }

  /** Mutual-TLS SSLContext from kubeconfig PEM material: trust = the
    * pinned CA (falls back to JVM default trust when absent), key = the
    * client certificate chain + private key.
    */
  def sslContext(cfg: ClusterConfig): javax.net.ssl.SSLContext = {
    import java.io.ByteArrayInputStream
    import java.security.KeyStore
    import java.security.cert.CertificateFactory
    import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}
    val cf = CertificateFactory.getInstance("X.509")
    val trust = cfg.caData.map { ca =>
      val ks = KeyStore.getInstance("PKCS12")
      ks.load(null, null)
      cf.generateCertificates(new ByteArrayInputStream(ca)).asScala
        .zipWithIndex.foreach { case (c, i) => ks.setCertificateEntry(s"ca$i", c) }
      val tmf = TrustManagerFactory.getInstance(
        TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      tmf.getTrustManagers
    }.orNull
    val keys = (cfg.certData, cfg.keyData) match {
      case (Some(cert), Some(key)) =>
        val chain = cf.generateCertificates(new ByteArrayInputStream(cert))
          .asScala.toArray[java.security.cert.Certificate]
        val ks = KeyStore.getInstance("PKCS12")
        ks.load(null, null)
        ks.setKeyEntry("client", Pem.privateKey(key), Array.emptyCharArray, chain)
        val kmf = KeyManagerFactory.getInstance(
          KeyManagerFactory.getDefaultAlgorithm)
        kmf.init(ks, Array.emptyCharArray)
        kmf.getKeyManagers
      case _ => null
    }
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(keys, trust, null)
    ctx
  }

  /** GET one list endpoint (`/api/v1/{pods,nodes,services}`) with
    * bearer auth when configured (ksql.js:118-121).
    */
  def fetchList(cfg: ClusterConfig, http: HttpClient,
      kind: String): String = {
    val b = HttpRequest.newBuilder(
      URI.create(s"${cfg.server.stripSuffix("/")}/api/v1/$kind"))
    cfg.token.foreach(t => b.header("Authorization", s"Bearer $t"))
    val resp = http.send(b.GET().build(),
      HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      sys.error(s"$kind list failed: HTTP ${resp.statusCode()}")
    resp.body()
  }

  /** Fetch all three lists into snapshot files (parallel, like the
    * reference's q.all at ksql.js:249-255) and return the snapshot dir,
    * ready for K8sSnapshot.load.
    */
  def snapshot(cfg: ClusterConfig, outDir: Path): Path = {
    val http = client(cfg)
    Files.createDirectories(outDir)
    // parallel like the reference's q.all (ksql.js:249-255)
    K8sSnapshotTable.kinds.asJava.parallelStream.forEach { kind =>
      Files.writeString(outDir.resolve(s"$kind.json"),
        fetchList(cfg, http, kind))
    }
    outDir
  }
}
