package graft

import java.nio.file.Files
import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.sources.K8sSnapshot

/** Property test for the flatten T1 (SURVEY §5 item 4): over randomly
  * generated pod lists — containers arrays of varying length, status
  * arrays shorter/longer/absent, restartCount sometimes missing — the
  * invariants hold on BOTH the DSv2 and from_json load paths:
  *   1. container row count = Σ size(spec.containers)
  *   2. restarts is null exactly where the index-aligned status entry
  *      (or its restartCount) is absent.
  * And the block-backed DSv2 scan returns the `from_json` loader's rows
  * on every column, `_raw` (as a JSON value) and absent (null) label
  * maps included.
  */
class FlattenPropertySpec extends SparkSpec {

  private case class GenPod(uid: String, nContainers: Int,
      statusLens: Option[Int], missingRestartAt: Set[Int],
      labels: Option[Int])

  private val podGen: Gen[GenPod] = for {
    uid <- Gen.uuid.map(_.toString.take(8))
    n <- Gen.choose(0, 4)
    statusLen <- Gen.option(Gen.choose(0, 6))
    missing <- Gen.listOf(Gen.choose(0, 5)).map(_.toSet)
    labels <- Gen.option(Gen.choose(0, 2))
  } yield GenPod(uid, n, statusLen, missing, labels)

  private def podJson(p: GenPod): String = {
    val containers = (0 until p.nContainers).map(i =>
      s"""{"name": "c$i", "image": "img-${p.uid}-$i"}""").mkString(",")
    val statuses = p.statusLens.map { len =>
      val entries = (0 until len).map { i =>
        if (p.missingRestartAt.contains(i))
          s"""{"name": "c$i", "ready": true}"""
        else s"""{"name": "c$i", "restartCount": $i, "ready": true}"""
      }.mkString(",")
      s""","containerStatuses": [$entries]"""
    }.getOrElse("")
    val labels = p.labels.map { k =>
      (0 until k).map(i => s""""l$i": "v$i"""").mkString(""", "labels": {""", ", ", "}")
    }.getOrElse("")
    s"""{
       |  "metadata": {"name": "p-${p.uid}", "uid": "${p.uid}"$labels},
       |  "spec": {"nodeName": "n1", "containers": [$containers]},
       |  "status": {"phase": "Running"$statuses}
       |}""".stripMargin
  }

  /** A snapshot directory of `samples` as pods, with no nodes or
    * services. */
  private def snapshotOf(samples: Seq[GenPod]): java.io.File = {
    val dir = Files.createTempDirectory("flatten-prop").toFile
    Files.writeString(new java.io.File(dir, "pods.json").toPath,
      s"""{"items": [${samples.map(podJson).mkString(",")}]}""")
    Seq("nodes", "services").foreach(k =>
      Files.writeString(new java.io.File(dir, s"$k.json").toPath, """{"items": []}"""))
    dir
  }

  test("flatten invariants hold for generated pod lists on both loaders") {
    val samples = Gen.listOfN(8, podGen).sample.get
    val file = new java.io.File(snapshotOf(samples), "pods.json")

    for (useV2 <- Seq(true, false)) {
      val pods =
        if (useV2) spark.read.format("k8s-snapshot").option("kind", "pods")
          .load(file.getPath)
        else FromJsonSnapshot.pods(spark, file.getPath)
      val containers = K8sSnapshot.containers(pods)

      val expectedCount = samples.map(_.nContainers).sum
      assert(containers.count() == expectedCount, s"useV2=$useV2")

      val got = containers.collect()
        .map(r => (r.getString(1), r.getString(0),
          if (r.isNullAt(2)) None else Some(r.getInt(2))))
        .toSet
      val want = samples.flatMap { p =>
        (0 until p.nContainers).map { i =>
          val hasStatus = p.statusLens.exists(_ > i) &&
            !p.missingRestartAt.contains(i)
          (p.uid, s"img-${p.uid}-$i", if (hasStatus) Some(i) else None)
        }
      }.toSet
      assert(got == want, s"useV2=$useV2")
    }

    // every column agrees. `_raw` holds the same JSON value: the
    // from_json loader keeps the item's source text, the block-backed
    // scan its compact form
    val blocks = spark.read.format("k8s-snapshot").option("kind", "pods")
      .load(file.getPath)
    val fromJson = FromJsonSnapshot.pods(spark, file.getPath)
    assert(blocks.schema == fromJson.schema)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map { r =>
      (r.toSeq.init, mapper.readTree(r.getString(r.fieldIndex("_raw"))))
    }
    assert(rows(blocks).size == samples.size)
    assert(rows(blocks) == rows(fromJson))
  }

  test("the containers table flattened at load equals the flatten of the loaded pods") {
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.groupBy(_.toSeq).map { case (k, v) => k -> v.size }
    val random = Gen.listOfN(24, podGen).sample.get
    for (dir <- Seq(fixtureDir, snapshotOf(random).getPath)) {
      val tables = K8sSnapshot.load(spark, dir)
      val flat = K8sSnapshot.containers(tables("pods"))
      assert(tables("containers").schema == flat.schema, dir)
      assert(multiset(tables("containers")) == multiset(flat), dir)
      assert(multiset(spark.table("containers")) == multiset(flat), dir)
    }
  }
}
