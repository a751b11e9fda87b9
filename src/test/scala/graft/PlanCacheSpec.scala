package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import graft.dialect.KsqlDialect
import graft.plans.{LocalCollect, PlanCache}
import graft.server.Ksql
import graft.sinks.Render
import graft.sources.K8sSnapshot

/** The per-generation cache of prepared plans behind `Ksql.answer`: a
  * cached answer equals a cold one and `df.collect()`'s, one text is
  * prepared once per generation, and what must be prepared every time
  * (after a command, with a non-deterministic or time-folded expression,
  * on a failure) is.
  */
class PlanCacheSpec extends SparkSpec {

  /** The six `perfbench/k8sgen.py` queries; the first four are the
    * README's. */
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

  private def ask(q: String): Render.Result = {
    var out: Render.Result = null
    Ksql.answer(spark, q) { r => out = r; "" }
    out
  }

  private def plans: PlanCache = K8sSnapshot.plans(spark).get

  private def multiset(r: Render.Result): Map[Seq[Any], Int] =
    r.data.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Jobs started by `answer` requests for `q` while `body` runs: a
    * request's jobs carry its text as description. */
  private def jobsFor[T](q: String)(body: => T): (T, Int) =
    jobsWhere(_.getProperty("spark.job.description") == q)(body)

  /** Each query cold (a miss, prepared), then cached (a hit), equal as
    * multisets to each other and to `df.collect()`. */
  private def coldAndCached(dir: String, lookups: Seq[String]): Unit = {
    K8sSnapshot.load(spark, dir)
    for (q <- queries ++ lookups.map(uidLookup)) {
      val (misses, hits) = (plans.misses.get, plans.hits.get)
      val (cold, coldJobs) = jobsFor(q)(ask(q))
      assert(plans.misses.get == misses + 1 && plans.hits.get == hits, q)
      val (cached, cachedJobs) = jobsFor(q)(ask(q))
      assert(plans.misses.get == misses + 1 && plans.hits.get == hits + 1, q)
      assert(coldJobs == 0 && cachedJobs == 0, q)
      val df = KsqlDialect.sql(spark, q)
      val jobbed = df.collect().map(_.toSeq).toSeq
      assert(cold.headers == df.columns.toSeq && cached.headers == cold.headers, q)
      assert(multiset(cold) == multiset(cached), q)
      assert(multiset(cached) == jobbed.groupBy(identity).map { case (k, v) => k -> v.size }, q)
      assert(cold.data.nonEmpty, q)
    }
  }

  test("fixture: bench and README queries answer the same cold and cached") {
    coldAndCached(fixtureDir, Seq("pod-uid-1", "pod-uid-4"))
  }

  test("10k-pod snapshot: the same queries answer the same cold and cached") {
    val dir = Files.createTempDirectory("k8s-10k-cache")
    try {
      K8sGen.write(dir, 10000, seed = 7)
      coldAndCached(dir.toString, Seq("pod-uid-7-000042", "pod-uid-7-009999"))
    } finally K8sGen.rm(dir)
  }

  test("README query 1 reads the loaded containers table and is a hit the second time") {
    K8sSnapshot.load(spark, fixtureDir)
    val q = queries(0)
    val first = ask(q)
    assert(plans.misses.get == 1 && plans.hits.get == 0)
    assert(ask(q) == first && first.data == Seq(Seq(3L)))
    assert(plans.misses.get == 1 && plans.hits.get == 1 && plans.instances == 1)
    // its one leaf is the containers table of this generation: the pods
    // are not scanned and flattened again
    val Some(p) = LocalCollect.prepare(KsqlDialect.sql(spark, q))
    assert(p.reads.map(_.kind) == Seq("containers"))
  }

  test("a text answered N times is prepared once per generation") {
    K8sSnapshot.load(spark, fixtureDir)
    val q = queries(4)
    val answers = (1 to 5).map(_ => Render.toJson(ask(q)))
    assert(answers.distinct.size == 1)
    assert(plans.misses.get == 1 && plans.hits.get == 4)
    assert(plans.entries == 1 && plans.instances == 1)
    // a new generation starts empty: its first answer is a miss again
    K8sSnapshot.load(spark, fixtureDir)
    assert(plans.entries == 0)
    assert(Render.toJson(ask(q)) == answers.head)
    assert(plans.misses.get == 1 && plans.hits.get == 0)
  }

  test("after SET through answer, the text is prepared again and takes the jobbed path") {
    K8sSnapshot.load(spark, fixtureDir)
    val q = queries(4)
    val want = multiset(ask(q))
    assert(multiset(ask(q)) == want && plans.hits.get == 1)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try {
      ask(s"SET $key=-1")
      assert(plans.entries == 0 && plans.hits.get == 0)
      val (got, jobs) = jobsFor(q)(ask(q))
      assert(jobs > 0, "a scan above the bound runs Spark jobs")
      assert(multiset(got) == want)
      assert(plans.hits.get == 0 && plans.misses.get == 1 && plans.entries == 0)
    } finally {
      ask(s"RESET $key")
      spark.conf.unset(key)
    }
    val (got, jobs) = jobsFor(q)(ask(q))
    assert(jobs == 0 && multiset(got) == want)
    assert(plans.entries == 1)
  }

  test("rand(), uuid() and current_timestamp() are prepared on every request") {
    K8sSnapshot.load(spark, fixtureDir)
    for (q <- Seq("select uid, rand() from pods", "select uid, uuid() from pods",
        "select uid, current_timestamp() from pods", "select uid, now() from pods")) {
      assert(LocalCollect.prepare(KsqlDialect.sql(spark, q)).exists(!_.repeatable), q)
      val misses = plans.misses.get
      (1 to 3).foreach(_ => assert(ask(q).data.size == 4, q))
      assert(plans.misses.get == misses + 3 && plans.hits.get == 0, q)
      assert(plans.entries == 0, q)
    }
  }

  test("bad SQL and a query failing mid-iteration leave no entry behind") {
    K8sSnapshot.load(spark, fixtureDir)
    val failing = "select node, count(*) from pods " +
      "where assert_true(uid <> 'pod-uid-3') is null group by node"
    for (q <- Seq("select nosuchcolumn from pods", "selec uid from pods", failing)) {
      (1 to 2).foreach(_ => intercept[Exception](ask(q)))
      assert(plans.entries == 0 && plans.instances == 0, q)
      assert(plans.hits.get == 0, q)
    }
    assert(ask(queries(0)).data.nonEmpty && plans.entries == 1)
  }

  test("a view of an older generation is answered but not kept") {
    val old = K8sSnapshot.load(spark, fixtureDir)
    old("pods").createOrReplaceTempView("pods_before")
    try {
      K8sSnapshot.load(spark, fixtureDir)
      val q = "select node, count(*) from pods_before group by node"
      assert(LocalCollect.prepare(KsqlDialect.sql(spark, q)).isDefined)
      assert(multiset(ask(q)) == multiset(ask(queries(4))))
      assert(multiset(ask(q)) == multiset(ask(queries(4))))
      assert(plans.entries == 1 && plans.hits.get == 1)
    } finally spark.catalog.dropTempView("pods_before")
  }

  test("least recently used texts go first: distinct lookups never evict the hot ones") {
    K8sSnapshot.load(spark, fixtureDir)
    val capacity = spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt
    val hot = queries.take(2)
    (0 until capacity + 20).foreach { i =>
      hot.foreach(ask)
      ask(uidLookup(s"pod-uid-none-$i"))
    }
    assert(plans.entries == capacity)
    val hits = plans.hits.get
    hot.foreach(ask)
    assert(plans.hits.get == hits + hot.size)
  }

  test("eight threads on one text: equal answers, one thread per prepared instance") {
    K8sSnapshot.load(spark, fixtureDir)
    val q = queries(3)
    val want = Render.toJson(ask(q))
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val replies = (1 to 8).map(_ => pool.submit[Seq[String]] { () =>
        start.await()
        (1 to 25).map(_ => Render.toJson(ask(q)))
      })
      start.countDown()
      // a shared instance would fail its run ("running on another thread")
      val got = replies.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(got.size == 200 && got.forall(_ == want))
    } finally pool.shutdown()
    assert(plans.hits.get + plans.misses.get == 201)
    assert(plans.entries == 1)
    assert(plans.instances >= 1 && plans.instances <= 8)
    assert(plans.misses.get == plans.instances)
  }
}
