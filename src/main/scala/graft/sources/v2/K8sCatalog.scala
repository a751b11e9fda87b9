package graft.sources.v2

import java.util
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 **catalog** over a K8s snapshot directory (the SURVEY §7.3
  * optional scope: `spark.sql.catalog.k8s`): registers the three scans
  * as real catalog tables so plain SQL addresses them without any view
  * registration —
  *
  * {{{
  * spark.sql.catalog.k8s      = graft.sources.v2.K8sCatalog
  * spark.sql.catalog.k8s.path = /path/to/snapshot   // pods.json etc.
  *
  * SELECT count(*) FROM k8s.snapshot.pods WHERE node = 'node-a'
  * }}}
  *
  * Tables delegate to [[K8sSnapshotTable]], so column pruning and the
  * stamped-key filter pushdown ride along unchanged. Each lookup is a
  * new table, so a query reads the files as they are when it is planned
  * (materialized once for that query). Read-only by
  * design: the source of truth is the cluster (reference semantics —
  * `ksql.js` only ever GETs); DDL raises rather than pretending.
  */
class K8sCatalog extends TableCatalog with SupportsNamespaces {
  import K8sCatalog._

  private var catalogName: String = _
  private var dir: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    dir = Option(options.get("path")).getOrElse(sys.error(
      s"k8s catalog '$name': set spark.sql.catalog.$name.path to a " +
        "snapshot directory (pods.json / nodes.json / services.json)"))
  }

  override def name(): String = catalogName

  /** Both `k8s.pods` (empty namespace) and `k8s.snapshot.pods` resolve;
    * SHOW NAMESPACES advertises the canonical `snapshot`.
    */
  private def known(namespace: Array[String]): Boolean =
    namespace.isEmpty || namespace.sameElements(Array(NAMESPACE))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!known(namespace)) throw new RuntimeException(
      s"unknown namespace ${namespace.mkString(".")}")
    K8sSnapshotTable.kinds.map(Identifier.of(Array(NAMESPACE), _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    if (!known(ident.namespace()) ||
        !K8sSnapshotTable.kinds.contains(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    new K8sSnapshotTable(ident.name(), s"$dir/${ident.name()}.json")
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = readOnly()
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly()
  override def dropTable(ident: Identifier): Boolean = readOnly()
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly()

  override def listNamespaces(): Array[Array[String]] = Array(Array(NAMESPACE))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean =
    known(namespace)
  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!known(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        Seq(catalogName) ++ namespace)
    util.Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly()
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly()
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = readOnly()

  private def readOnly(): Nothing = throw new UnsupportedOperationException(
    s"k8s catalog '$catalogName' is read-only: the cluster is the source " +
      "of truth (reference semantics — scans only)")
}

object K8sCatalog {
  val NAMESPACE = "snapshot"
}
