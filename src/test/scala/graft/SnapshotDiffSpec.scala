package graft

import org.apache.spark.sql.functions._
import graft.sources.SnapshotDiff

/** Snapshot diffing between two loads (the refresh-delta query). */
class SnapshotDiffSpec extends SparkSpec {

  private lazy val pods = FromJsonSnapshot.pods(spark, s"$fixtureDir/pods.json")

  test("identical snapshots diff to all-unchanged") {
    val d = SnapshotDiff.diff(pods, pods).collect()
    assert(d.nonEmpty)
    assert(d.forall(_.getString(1) == "unchanged"))
  }

  test("added / removed / changed are classified per uid") {
    val someUid = pods.select("uid").orderBy("uid").first().getString(0)
    val without = pods.filter(col("uid") =!= someUid)
    val mutated = pods.withColumn("_raw",
      when(col("uid") === someUid, concat(col("_raw"), lit(" ")))
        .otherwise(col("_raw")))

    val removed = SnapshotDiff.diff(pods, without).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(removed(someUid) == "removed")
    assert(removed.count(_._2 == "unchanged") == removed.size - 1)

    val added = SnapshotDiff.diff(without, pods).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(added(someUid) == "added")

    val changed = SnapshotDiff.diff(pods, mutated).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(changed(someUid) == "changed")
    assert(changed.count(_._2 == "unchanged") == changed.size - 1)

    val s = SnapshotDiff.summary(pods, mutated).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s("changed") == 1 && s("unchanged") == pods.count() - 1)
  }
}
