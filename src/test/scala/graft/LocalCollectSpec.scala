package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.memory.GraftTaskMemory
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.util.{TaskCompletionListener, TaskFailureListener}
import graft.dialect.KsqlDialect
import graft.plans.LocalCollect
import graft.sources.K8sSnapshot

/** The in-thread collect (`LocalCollect`): the README queries,
  * group-by-node and the uid lookup answer the same rows in-thread as
  * through `df.collect()`, with no Spark job, on the fixture snapshot and
  * on a generated 10k-pod one; a failing query still runs its task's
  * listeners and frees its memory; shapes it does not cover keep the
  * jobbed path.
  */
class LocalCollectSpec extends SparkSpec {

  private val queries = Seq(
    "select count(*) from containers where containers.image like 'mysql%'",
    "select count(*),image from containers where containers.image like " +
      "'mysql%' group by image",
    "select pods.metadata->name,pods.metadata->annotations->email,image " +
      "from pods join containers using uid where image like 'mysql:5.5%'",
    "select pods.metadata->name,image from pods left join containers " +
      "using uid where image like 'mysql%' and not " +
      "pods.metadata->annotations->email",
    "select node, count(*) from pods group by node")
  private def uidLookup(uid: String) =
    s"select metadata->name, node from pods where uid = '$uid'"

  private val groups = new AtomicInteger

  /** `body`'s result and the Spark jobs it started, counted on a job
    * group of its own. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"local-collect-${groups.incrementAndGet()}"
    jobsWhere(_.getProperty("spark.jobGroup.id") == group) {
      sc.setJobGroup(group, "body")
      try body finally sc.clearJobGroup()
    }
  }

  private def multiset(rows: Array[Row]): Map[String, Int] =
    rows.groupBy(_.toString).map { case (k, v) => k -> v.length }

  /** Each query answered in-thread with no job, and by `df.collect()`. */
  private def bothWays(dir: String, lookups: Seq[String]): Unit = {
    K8sSnapshot.load(spark, dir)
    for (q <- queries ++ lookups.map(uidLookup)) {
      val df = KsqlDialect.sql(spark, q)
      assert(LocalCollect.localPlan(df).isDefined, q)
      val (local, jobs) = jobsOf(LocalCollect(df))
      assert(jobs == 0, s"$jobs jobs on the local path: $q")
      val jobbed = KsqlDialect.sql(spark, q).collect()
      assert(multiset(local) == multiset(jobbed), q)
      assert(local.nonEmpty, q)
    }
  }

  private def withBound[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("fixture: README queries, group-by-node and uid lookup, in-thread = collect") {
    bothWays(fixtureDir, Seq("pod-uid-1", "pod-uid-4"))
  }

  test("10k-pod snapshot: the same queries in-thread = collect") {
    val dir = Files.createTempDirectory("k8s-10k")
    try {
      K8sGen.write(dir, 10000, seed = 7)
      bothWays(dir.toString, Seq("pod-uid-7-000042", "pod-uid-7-009999"))
    } finally K8sGen.rm(dir)
  }

  test("a snapshot above the bound, graft_op and a UNION with a non-snapshot branch keep the jobbed path") {
    val dir = Files.createTempDirectory("k8s-10k-bound")
    try {
      K8sGen.write(dir, 10000, seed = 11)
      K8sSnapshot.load(spark, dir.toString)
      val want = queries.map(q => multiset(KsqlDialect.sql(spark, q).collect()))
      // above the bound a snapshot scans one task per block, as every
      // snapshot did before
      withBound(1L) {
        queries.zip(want).foreach { case (q, rows) =>
          val df = KsqlDialect.sql(spark, q)
          assert(LocalCollect.localPlan(df).isEmpty, q)
          assert(df.queryExecution.executedPlan.toString.contains("BatchScan"), q)
          val (got, jobs) = jobsOf(LocalCollect(df))
          assert(jobs > 0, q)
          assert(multiset(got) == rows, q)
        }
      }
    } finally K8sGen.rm(dir)

    K8sSnapshot.load(spark, fixtureDir)
    val data = Files.createTempDirectory("graft-op-data")
    try {
      import spark.implicits._
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
        .write.parquet(s"$data/documents.parquet")
      val op = s"select * from graft_op('dd01_dedup_exact', '$data')"
      val union = "select uid from pods union all select 'x'"
      for (q <- Seq(op, union)) {
        val df = KsqlDialect.sql(spark, q)
        assert(LocalCollect.localPlan(df).isEmpty, q)
        val (got, jobs) = jobsOf(LocalCollect(df))
        assert(jobs > 0, q)
        assert(multiset(got) == multiset(KsqlDialect.sql(spark, q).collect()), q)
      }
      assert(LocalCollect(KsqlDialect.sql(spark, op)).map(_.toSeq).toSeq ==
        Seq(Seq(1L, 2L), Seq(3L, 1L)))
      assert(LocalCollect(KsqlDialect.sql(spark, union)).map(_.getString(0))
        .sorted.toSeq == Seq("pod-uid-1", "pod-uid-2", "pod-uid-3", "pod-uid-4", "x"))
    } finally K8sGen.rm(data)
  }

  test("the refresh diff (a full outer join, group and sort) runs in-thread") {
    val before = K8sSnapshot.load(spark, fixtureDir)
    val dir = Files.createTempDirectory("k8s-refreshed")
    try {
      for (k <- Seq("pods", "nodes", "services")) {
        val text = new String(Files.readAllBytes(Paths.get(s"$fixtureDir/$k.json")), "UTF-8")
        Files.write(dir.resolve(s"$k.json"), text.replace("pod-uid-1", "pod-uid-1b")
          .replace("\"node-b\"", "\"node-b2\"").getBytes("UTF-8"))
      }
      val after = K8sSnapshot.load(spark, dir.toString)
      for ((k, key) <- Seq("pods" -> "uid", "nodes" -> "name", "services" -> "name")) {
        def summary = graft.sources.SnapshotDiff.summary(before(k), after(k), key)
        assert(LocalCollect.localPlan(summary).isDefined, k)
        val (got, jobs) = jobsOf(LocalCollect(summary))
        assert(jobs == 0, k)
        assert(got.toSeq == summary.collect().toSeq, k)
      }
      assert(LocalCollect(graft.sources.SnapshotDiff.summary(before("pods"), after("pods")))
        .map(r => r.getString(0) -> r.getLong(1)).toSeq ==
        Seq("added" -> 1L, "changed" -> 1L, "removed" -> 1L, "unchanged" -> 2L))
    } finally K8sGen.rm(dir)
  }

  test("a UNION of snapshot scans is one partition, so it runs in-thread too") {
    // a union of single-partition children reports one partition and
    // plans no exchange, even under the DISTINCT's aggregate
    K8sSnapshot.load(spark, fixtureDir)
    for (q <- Seq("select uid from pods union select uid from containers",
        "select uid from pods union all select uid from containers")) {
      val df = KsqlDialect.sql(spark, q)
      assert(LocalCollect.localPlan(df).isDefined, q)
      val (got, jobs) = jobsOf(LocalCollect(df))
      assert(jobs == 0, q)
      assert(multiset(got) == multiset(KsqlDialect.sql(spark, q).collect()), q)
    }
  }

  private def executionMemory: Long = SparkEnv.get.memoryManager.executionMemoryUsed

  test("a query failing mid-iteration runs the listeners and frees its memory") {
    K8sSnapshot.load(spark, fixtureDir)
    val before = executionMemory
    // the aggregate books its hash map's memory before the third pod fails
    val failing = KsqlDialect.sql(spark, "select node, count(*) from pods " +
      "where assert_true(uid <> 'pod-uid-3') is null group by node")
    assert(LocalCollect.localPlan(failing).isDefined)
    val (err, jobs) = jobsOf(intercept[Exception](LocalCollect(failing)))
    assert(jobs == 0)
    assert(String.valueOf(err.getMessage).contains("pod-uid-3"), err)
    assert(executionMemory == before)
    assert(TaskContext.get() == null)

    // the task itself: listeners fire, booked memory is released
    val df = KsqlDialect.sql(spark, "select uid from pods")
    val plan = LocalCollect.localPlan(df).get
    val events = new ConcurrentLinkedQueue[String]
    var booked = 0L
    val boom = intercept[IllegalStateException](
      GraftShim.runLocally(spark, plan) { rows =>
        val ctx = TaskContext.get()
        ctx.addTaskCompletionListener(new TaskCompletionListener {
          def onTaskCompletion(c: TaskContext): Unit = events.add("completed")
        })
        ctx.addTaskFailureListener(new TaskFailureListener {
          def onTaskFailure(c: TaskContext, e: Throwable): Unit = events.add("failed")
        })
        GraftTaskMemory.hog(1 << 20)
        booked = executionMemory - before
        assert(rows.hasNext)
        rows.next()
        throw new IllegalStateException("mid-iteration")
      })
    assert(boom.getMessage == "mid-iteration")
    assert(booked >= (1 << 20))
    assert(events.asScala.toSeq == Seq("failed", "completed"))
    assert(executionMemory == before)
    assert(TaskContext.get() == null)
  }

  test("concurrent in-thread runs book memory under their own attempt ids") {
    K8sSnapshot.load(spark, fixtureDir)
    val before = executionMemory
    val plan = LocalCollect.localPlan(KsqlDialect.sql(spark, "select uid from pods")).get
    val holding = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val ids = new ConcurrentLinkedQueue[Long]
    val threads = (1 to 2).map { _ =>
      new Thread(() => GraftShim.runLocally(spark, plan) { rows =>
        val ctx = TaskContext.get()
        ids.add(ctx.taskAttemptId())
        GraftTaskMemory.hog(1 << 20)
        holding.countDown()
        release.await(60, TimeUnit.SECONDS)
        rows.size
        ()
      })
    }
    threads.foreach(_.start())
    assert(holding.await(60, TimeUnit.SECONDS))
    assert(ids.asScala.toSet.size == 2 && ids.asScala.forall(_ < 0), ids)
    ids.asScala.foreach(id => assert(GraftTaskMemory.usedBy(id) >= (1 << 20)))
    release.countDown()
    threads.foreach(_.join(60000))
    assert(executionMemory == before)
  }
}

/** A generated snapshot directory: `pods` pods varied from the fixture's
  * (names, uids, node placement, images, annotations), the fixture's
  * nodes and services.
  */
object K8sGen {
  private val images = Seq("mysql:5.5", "mysql:5.7", "mysql-tools:1.0",
    "nginx:1.9", "busybox:1.24", "redis:3.0")

  def write(dir: Path, pods: Int, seed: Int): Unit = {
    val fixtures = Paths.get("src/test/resources/k8s")
    val mapper = new ObjectMapper
    val templates = mapper.readTree(fixtures.resolve("pods.json").toFile)
      .get("items").elements().asScala.toVector
    val rng = new scala.util.Random(seed)
    val items = mapper.createArrayNode()
    for (i <- 0 until pods) {
      val p = templates(rng.nextInt(templates.size)).deepCopy[ObjectNode]()
      val md = p.get("metadata").asInstanceOf[ObjectNode]
      md.put("name", f"pod-$i%06d")
      md.put("uid", f"pod-uid-$seed-$i%06d")
      rng.nextInt(4) match {
        case 0 => md.putObject("annotations").put("email", s"team${rng.nextInt(50)}@example.com")
        case 1 => md.putObject("annotations").put("email", "")
        case 2 => md.putObject("annotations").put("owner", "app")
        case _ => md.remove("annotations")
      }
      val spec = p.get("spec").asInstanceOf[ObjectNode]
      spec.put("nodeName", s"node-${rng.nextInt(pods / 50 + 3)}")
      val n = 1 + rng.nextInt(3)
      val cs = spec.putArray("containers")
      val st = p.putObject("status")
      st.put("phase", "Running")
      val ss = st.putArray("containerStatuses")
      for (j <- 0 until n) {
        cs.addObject().put("name", s"c$j").put("image", images(rng.nextInt(images.size)))
        ss.addObject().put("name", s"c$j").put("restartCount", rng.nextInt(6))
          .put("ready", true)
      }
      items.add(p)
    }
    mapper.writeValue(dir.resolve("pods.json").toFile,
      mapper.createObjectNode().set[ObjectNode]("items", items))
    for (k <- Seq("nodes", "services"))
      Files.copy(fixtures.resolve(s"$k.json"), dir.resolve(s"$k.json"))
  }

  def rm(dir: Path): Unit = {
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(del)); f.delete()
    }
    del(dir.toFile)
  }
}
