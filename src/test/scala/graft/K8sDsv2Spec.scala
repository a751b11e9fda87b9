package graft

import org.apache.spark.sql.connector.read.{SupportsPushDownFilters, SupportsReportStatistics}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.dialect.KsqlDialect
import graft.sources.K8sSnapshot
import graft.plans.LocalCollect
import graft.sources.v2.{K8sBytesDecompressed, K8sSnapshotScanExec, K8sSnapshotTable}

/** DataSource V2 connector spec: same rows as the view-based loader,
  * column pruning reaches the reader, short name registered.
  */
class K8sDsv2Spec extends SparkSpec {

  private def dsv2(kind: String) =
    spark.read.format("k8s-snapshot").option("kind", kind)
      .load(s"$fixtureDir/$kind.json")

  test("pods via DSv2 match the view-based loader") {
    val v2 = dsv2("pods")
      .select("uid", "node", "metadata.name", "status.phase")
      .collect().map(_.toSeq).toSet
    val v1 = FromJsonSnapshot.pods(spark, s"$fixtureDir/pods.json")
      .select("uid", "node", "metadata.name", "status.phase")
      .collect().map(_.toSeq).toSet
    assert(v2 == v1)
    assert(v2.size == 4)
  }

  test("nested struct/map/array fields convert correctly") {
    val r = dsv2("pods").filter(col("uid") === "pod-uid-1")
      .select(col("metadata.annotations")("email"),
        col("spec.containers")(0)("image"),
        col("status.containerStatuses")(0)("restartCount"))
      .collect()(0)
    assert(r.getString(0) == "dba@example.com")
    assert(r.getString(1) == "mysql:5.5")
    assert(r.getInt(2) == 2)
  }

  test("nodes and services kinds load with stamped keys") {
    assert(dsv2("nodes").select("name").collect().map(_.getString(0)).sorted
      .toSeq == Seq("node-a", "node-b", "node-c"))
    assert(dsv2("services").filter(col("spec.type") === "LoadBalancer")
      .select("name").collect().map(_.getString(0)).toSeq == Seq("web"))
  }

  test("column pruning is pushed to the reader") {
    val df = dsv2("pods").select("uid")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cols=uid"), plan)
    assert(!plan.contains("cols=uid,node,metadata"), plan)
  }

  test("filters on stamped columns are pushed and skip conversion") {
    val df = dsv2("pods").filter(col("node") === "node-a").select("uid")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("filters=") && plan.contains("EqualTo(node,node-a)"),
      plan)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      FromJsonSnapshot.pods(spark, s"$fixtureDir/pods.json")
        .filter(col("node") === "node-a")
        .collect().map(_.getString(0)).sorted.toSeq)

    // the reader itself projects only matching rows — the pushdown
    // saves the per-row work, not just the downstream filter
    val builder = new K8sSnapshotTable("pods", s"$fixtureDir/pods.json")
      .newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[SupportsPushDownFilters]
    assert(builder.pushFilters(Array(EqualTo("node", "node-a"))).isEmpty)
    val batch = builder.build().toBatch
    val Array(part) = batch.planInputPartitions()
    val reader = batch.createReaderFactory().createReader(part)
      .asInstanceOf[graft.sources.v2.K8sPartitionReader]
    var n = 0
    while (reader.next()) n += 1
    assert(reader.converted == n && n < 4 && n > 0)

    // unsupported predicates (non-stamped column) are NOT pushed
    val resid = dsv2("pods").filter(col("status.phase") === "Running")
    val rplan = resid.queryExecution.executedPlan.toString
    assert(!rplan.contains("EqualTo(status"), rplan)
  }

  test("k8s catalog: SQL addresses snapshot tables, read-only, pushdown rides along") {
    spark.conf.set("spark.sql.catalog.k8s",
      classOf[graft.sources.v2.K8sCatalog].getName)
    spark.conf.set("spark.sql.catalog.k8s.path", fixtureDir)
    val got = spark.sql(
      "SELECT uid FROM k8s.snapshot.pods WHERE node = 'node-a' ORDER BY uid")
      .collect().map(_.getString(0)).toSeq
    val want = FromJsonSnapshot.pods(spark, s"$fixtureDir/pods.json")
      .filter(col("node") === "node-a")
      .select("uid").collect().map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // bare-namespace alias also resolves
    assert(spark.sql("SELECT count(*) FROM k8s.pods").collect()(0).getLong(0) == 4)
    // catalog surface: SHOW exposes the three scans
    assert(spark.sql("SHOW TABLES IN k8s.snapshot")
      .collect().map(_.getString(1)).sorted.toSeq ==
      Seq("nodes", "pods", "services"))
    // stamped-key filters still reach the reader through the catalog path
    val df = spark.sql("SELECT uid FROM k8s.snapshot.pods WHERE node = 'node-a'")
    assert(df.queryExecution.executedPlan.toString
      .contains("EqualTo(node,node-a)"))
    // read-only: DDL raises
    intercept[UnsupportedOperationException](
      spark.sql("DROP TABLE k8s.snapshot.pods"))
    // unknown table is a clean analysis error
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM k8s.snapshot.deployments").collect())
  }

  test("the scan reports the generation's exact row count; joins hash-join, no exchange") {
    for ((kind, items) <- Seq("pods" -> 4, "nodes" -> 3, "services" -> 2)) {
      val table = new K8sSnapshotTable(kind, s"$fixtureDir/$kind.json")
      val stats = table.newScanBuilder(CaseInsensitiveStringMap.empty())
        .build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
      assert(stats.numRows().getAsLong == items, kind)
      assert(stats.sizeInBytes().getAsLong == table.generation.sizeInBytes)
    }
    // README query 3 over the loaded views: both sides are one-partition
    // scans of a generation within the broadcast bound, so the join is a
    // hash join of the two partitions, with no exchange of any kind (no
    // shuffle and no broadcast) and no sort-merge join
    K8sSnapshot.load(spark, fixtureDir)
    val executed = KsqlDialect.sql(spark,
      "select pods.metadata->name,pods.metadata->annotations->email,image " +
        "from pods join containers using uid where image like 'mysql:5.5%'")
      .queryExecution.executedPlan
    val plan = executed match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(plan.collect { case j: ShuffledHashJoinExec => j }.size == 1, plan)
    assert(plan.collect { case s: K8sSnapshotScanExec => s }.size == 2, plan)
    assert(plan.collect {
      case e: Exchange => e
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, plan)
    assert(!executed.toString.contains("Exchange"), executed)
  }

  test("stamped-key pushdown and column pruning hold through the one-partition scan") {
    val df = dsv2("pods").filter(col("uid") === "pod-uid-3").select("uid", "node")
    val Seq(scan) = df.queryExecution.executedPlan
      .collect { case s: K8sSnapshotScanExec => s }
    val desc = scan.scan.description()
    assert(desc.contains("cols=uid,node ") && desc.contains("EqualTo(uid,pod-uid-3)"),
      desc)
    assert(scan.scan.pushed.contains(EqualTo("uid", "pod-uid-3")))
    assert(!df.queryExecution.executedPlan.exists(_.isInstanceOf[FilterExec]),
      df.queryExecution.executedPlan)
    assert(LocalCollect(df).map(_.toSeq).toSeq == Seq(Seq("pod-uid-3", "node-a")))
    // the scan produced the one matching row of four: the reader checked
    // the filter on each stored row and projected (converted) only that one
    assert(scan.metrics("numOutputRows").value == 1)
  }

  test("a generation above the bound keeps the multi-block jobbed scan") {
    val table = new K8sSnapshotTable("pods", s"$fixtureDir/pods.json")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, table.generation.sizeInBytes - 1)
    try {
      val df = dsv2("pods").filter(col("uid") === "pod-uid-3").select("uid", "node")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case s: K8sSnapshotScanExec => s }.isEmpty, plan)
      val Seq(batch) = plan.collect { case b: BatchScanExec => b }
      assert(batch.inputRDD.getNumPartitions == table.generation.blocks.length)
      assert(batch.toString.contains("EqualTo(uid,pod-uid-3)"), batch)
      assert(LocalCollect.localPlan(df).isEmpty)
      assert(LocalCollect(df).map(_.toSeq).toSeq == Seq(Seq("pod-uid-3", "node-a")))
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A snapshot of one item per edge of the converter, per kind: null
    * values, absent and empty maps, structs and arrays, short and absent
    * status arrays, and a missing restartCount. */
  private def edgeSnapshot(): java.nio.file.Path = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("k8s-edges")
    def list(items: String*) = items.mkString("""{"kind": "List", "items": [""", ",", "]}")
    Files.writeString(dir.resolve("pods.json"), list(
      """{"metadata": {"name": "p1", "uid": "u1", "labels": {}, "annotations": {"a": null}},
        | "spec": {"nodeName": null, "containers": []},
        | "status": {"phase": "Pending", "containerStatuses": []}}""".stripMargin,
      """{"metadata": {"name": "p2", "uid": "u2", "labels": {"app": "x", "tier": ""}},
        | "spec": {"nodeName": "n1", "containers": [{"name": "c0", "image": "i0"},
        |   {"name": "c1"}, {"image": null}]},
        | "status": {"containerStatuses": [{"name": "c0"}, {"restartCount": 3, "ready": false}]}}""".stripMargin,
      """{"metadata": {"uid": null}}""",
      """{"metadata": {"name": "p4", "uid": "u4", "namespace": "ns"}, "status": null, "extra": [1, {"b": 2}]}"""))
    Files.writeString(dir.resolve("nodes.json"), list(
      """{"metadata": {"name": "n1", "uid": "nu1", "labels": {"zone": "z"}},
        | "spec": {"podCIDR": "10.0.0.0/24", "unschedulable": true},
        | "status": {"capacity": {"cpu": "4"}, "allocatable": {},
        |   "conditions": [{"type": "Ready", "status": "True"}, {"type": "Disk"}],
        |   "nodeInfo": {"kubeletVersion": "v1"}}}""".stripMargin,
      """{"metadata": {"name": "n2"}, "spec": {}, "status": {"conditions": []}}""",
      """{"metadata": {"name": null, "uid": "nu3"}}"""))
    Files.writeString(dir.resolve("services.json"), list(
      """{"metadata": {"name": "s1", "uid": "su1"},
        | "spec": {"type": "ClusterIP", "selector": {}, "ports": []},
        | "status": {"loadBalancer": {}}}""".stripMargin,
      """{"metadata": {"name": "s2", "uid": "su2", "annotations": {}},
        | "spec": {"type": "LoadBalancer", "clusterIP": "None", "selector": {"app": "web"},
        |   "ports": [{"name": "http", "port": 80, "targetPort": "8080"}, {"port": 443}]},
        | "status": {"loadBalancer": {"ingress": [{"ip": "1.2.3.4"}, {}]}}}""".stripMargin,
      """{"metadata": {"name": "s3"}}"""))
    dir
  }

  test("every column of all three kinds reads back equal to the from_json reader") {
    val edges = edgeSnapshot()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    // `_raw` holds the same JSON value: the from_json reader keeps the
    // item's source text, the block-backed scan its compact form
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      r.schema.fieldNames.toSeq.zip(r.toSeq).map {
        case ("_raw", v) => mapper.readTree(v.asInstanceOf[String])
        case (_, v) => v
      })
    try for (dir <- Seq(fixtureDir, edges.toString);
        (kind, reference) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame)](
          "pods" -> FromJsonSnapshot.pods, "nodes" -> FromJsonSnapshot.nodes,
          "services" -> FromJsonSnapshot.services)) {
      val path = s"$dir/$kind.json"
      val blocks = spark.read.format("k8s-snapshot").option("kind", kind).load(path)
      val want = reference(spark, path)
      assert(blocks.schema == want.schema, path)
      assert(rows(blocks) == rows(want) && rows(want).nonEmpty, path)
      // each column alone (one column decompressed), and two out of order
      for (c <- blocks.columns)
        assert(rows(blocks.select(c)) == rows(want.select(c)), s"$path $c")
      val two = Seq("_raw", blocks.columns(1)).map(col)
      assert(rows(blocks.select(two: _*)) == rows(want.select(two: _*)), path)
    } finally K8sGen.rm(edges)
  }

  /** The one-partition snapshot scans of `df`'s plan, as `LocalCollect`
    * runs them. */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[K8sSnapshotScanExec] =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case s: K8sSnapshotScanExec => s }

  /** `q` answered in-thread: its rows and its scans' bytes decompressed. */
  private def decompressing(q: String): (Array[org.apache.spark.sql.Row], Long) = {
    val df = KsqlDialect.sql(spark, q)
    assert(LocalCollect.localPlan(df).isDefined, q)
    val rows = LocalCollect(df)
    (rows, scans(df).map(_.metrics(K8sBytesDecompressed.Name).value).sum)
  }

  test("a scan decompresses only the columns it reads, and for a pushed uid filter only the matching chunk's") {
    val dir = java.nio.file.Files.createTempDirectory("k8s-10k-columns")
    try {
      K8sGen.write(dir, 10000, seed = 7)
      val tables = K8sSnapshot.load(spark, dir.toString)
      val pods = tables("pods").queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.asInstanceOf[K8sSnapshotTable]
      }.get
      val chunks = pods.generation.blocks.flatMap(_.chunks)
      assert(chunks.length > 1)
      def column(name: String): Seq[Long] = {
        val i = pods.schema().fieldIndex(name)
        chunks.toSeq.map(_.columns(i).lz4.length.toLong)
      }
      // count(*): no column at all
      val (counted, none) = decompressing("select count(*) from pods")
      assert(counted.map(_.getLong(0)).toSeq == Seq(10000L) && none == 0)
      // group by node: the node column of every chunk, nothing else
      val (byNode, nodeBytes) = decompressing("select node, count(*) from pods group by node")
      assert(byNode.map(_.getLong(1)).sum == 10000L && nodeBytes == column("node").sum)
      // a uid lookup: the uid column of every chunk, then metadata and
      // node of the one chunk holding that pod (item 4242 of the file)
      val (found, lookupBytes) = decompressing(
        "select metadata->name, node from pods where uid = 'pod-uid-7-004242'")
      assert(found.map(_.getString(0)).toSeq == Seq("pod-004242"))
      val at = chunks.scanLeft(0)(_ + _.rows).indexWhere(_ > 4242) - 1
      assert(lookupBytes == column("uid").sum + column("metadata")(at) + column("node")(at))
      // a uid nobody has: the uid column only
      val (missing, missBytes) = decompressing(
        "select metadata->name, node from pods where uid = 'pod-uid-none'")
      assert(missing.isEmpty && missBytes == column("uid").sum)
    } finally K8sGen.rm(dir)
  }

  test("_raw escape hatch carries the full item") {
    val raw = dsv2("pods").filter(col("uid") === "pod-uid-3")
      .select("_raw").collect()(0).getString(0)
    assert(raw.contains("\"sidecar-logger\""))
  }

  test("micro-batch stream: each snapshot generation arrives exactly once") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("k8s-stream").toFile
    val ckpt = Files.createTempDirectory("k8s-ckpt").toFile
    try {
      // generation 0: the fixture snapshot
      Files.copy(Paths.get(s"$fixtureDir/pods.json"),
        Paths.get(dir.getAbsolutePath, "pods-000.json"),
        StandardCopyOption.REPLACE_EXISTING)
      val stream = spark.readStream.format("k8s-snapshot")
        .option("kind", "pods").load(dir.getAbsolutePath)
        .select("uid", "node")
      val q = stream.writeStream.format("memory")
        .queryName("k8s_stream_test")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        val gen0 = spark.sql("SELECT uid FROM k8s_stream_test")
          .collect().map(_.getString(0)).sorted.toSeq
        assert(gen0.size == 4 && gen0.contains("pod-uid-1"), gen0)
        // generation 1: a refreshed snapshot with a new pod uid
        val refreshed = new String(Files.readAllBytes(
          Paths.get(s"$fixtureDir/pods.json")), "UTF-8")
          .replace("pod-uid-1", "pod-uid-1b")
        Files.write(Paths.get(dir.getAbsolutePath, "pods-001.json"),
          refreshed.getBytes("UTF-8"))
        q.processAllAvailable()
        val all = spark.sql("SELECT uid FROM k8s_stream_test")
          .collect().map(_.getString(0)).toSeq
        assert(all.size == 8, s"expected 2 generations x 4 pods: $all")
        assert(all.count(_ == "pod-uid-1") == 1)
        assert(all.count(_ == "pod-uid-1b") == 1)
      } finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir); rm(ckpt)
    }
  }

  test("micro-batch stream: unpadded generation numbers stay exactly-once") {
    // 'pods-10.json' sorts lexically BEFORE 'pods-2.json'; an index-based
    // offset would replay one generation and skip another. Gen-parsed
    // offsets must deliver each exactly once, in generation order.
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("k8s-stream-unpad").toFile
    val ckpt = Files.createTempDirectory("k8s-ckpt-unpad").toFile
    try {
      val base = new String(Files.readAllBytes(
        Paths.get(s"$fixtureDir/pods.json")), "UTF-8")
      def gen(n: Int, tag: String): Unit =
        Files.write(Paths.get(dir.getAbsolutePath, s"pods-$n.json"),
          base.replace("pod-uid-1", s"pod-uid-$tag").getBytes("UTF-8"))
      gen(2, "g2")
      val stream = spark.readStream.format("k8s-snapshot")
        .option("kind", "pods").load(dir.getAbsolutePath)
        .select("uid")
      val q = stream.writeStream.format("memory")
        .queryName("k8s_stream_unpad")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      try {
        q.processAllAvailable()
        // gen 10 arrives after gen 2 was committed at offset 2
        gen(10, "g10")
        q.processAllAvailable()
        val all = spark.sql("SELECT uid FROM k8s_stream_unpad")
          .collect().map(_.getString(0)).toSeq
        assert(all.size == 8, s"expected 2 generations x 4 pods: $all")
        assert(all.count(_ == "pod-uid-g2") == 1, all)
        assert(all.count(_ == "pod-uid-g10") == 1, all)
      } finally q.stop()
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir); rm(ckpt)
    }
  }
}
