package graft

import graft.operators.Ranks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins Ranks' range-partitioned global rank/ntile/running-sum
  * machinery BIT-IDENTICAL to Spark's own single-partition windows —
  * the equivalence every rewritten query (pp16/pp14/q81/q88/q94/tx21/
  * pp23) rests on. Deliberately adversarial inputs: skewed duplicate
  * keys (ties must stay inside one range partition), negative values,
  * a descending sort dimension, sizes around the bucket count (the
  * ntile q=0 branch), and a many-partition unordered source — plus an
  * explicit pin of the monotonically_increasing_id bit layout
  * (partition id << 33 | record number) that the local rank is read
  * from, so a Spark upgrade that changed the layout fails HERE, not as
  * 301 silent oracle mismatches.
  */
class RanksSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-random rows, scattered over 7 partitions in
    * hash order (so nothing about the input order is helpful). */
  private def corpus(n: Int): DataFrame =
    spark.range(n).repartition(7)
      .select(col("id"),
        (pmod(xxhash64(col("id")), lit(97L)) - 40L).as("k"),
        pmod(xxhash64(col("id"), lit(1L)), lit(5L)).as("v"))

  test("globalRowNumber equals the single-partition row_number " +
      "(ties, negatives, unordered many-partition input)") {
    val df = corpus(1000)
    val got = Ranks.globalRowNumber(df, "rn", col("k"), col("id"))
      .select("id", "rn")
    val want = df.select(col("id"),
      row_number().over(Window.orderBy(col("k"), col("id")))
        .cast("bigint").as("rn"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "globalRowNumber diverged from row_number()")
  }

  test("globalRunningSum equals the single-partition running sum") {
    val df = corpus(800)
    val got = Ranks.globalRunningSum(df, col("v"), "cum",
      col("k"), col("id")).select("id", "cum")
    val want = df.select(col("id"),
      sum("v").over(Window.orderBy(col("k"), col("id"))
        .rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").as("cum"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "globalRunningSum diverged from the window running sum")
  }

  test("globalRankAndRunningSum equals both windows on a DESC order") {
    val df = corpus(600)
    val got = Ranks.globalRankAndRunningSum(df, col("v"), "rn", "cum",
      col("k").desc, col("id")).select("id", "rn", "cum")
    val w = Window.orderBy(col("k").desc, col("id"))
    val want = df.select(col("id"),
      row_number().over(w).cast("bigint").as("rn"),
      sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint").as("cum"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "globalRankAndRunningSum diverged from the windows")
  }

  test("globalNtile equals ntile() across bucket counts and the " +
      "n < buckets small-n regime") {
    for ((n, buckets) <- Seq((1000, 4), (997, 5), (3, 7), (1, 4),
        (16, 16))) {
      val df = corpus(n)
      val got = Ranks.globalNtile(df, buckets, "b",
        col("k"), col("id")).select("id", "b")
      val want = df.select(col("id"),
        ntile(buckets).over(Window.orderBy(col("k"), col("id")))
          .cast("bigint").as("b"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"globalNtile($buckets) diverged from ntile() at n=$n")
    }
  }

  test("empty input yields empty output, no crash") {
    val df = corpus(0)
    assert(Ranks.globalRowNumber(df, "rn", col("k"), col("id"))
      .count() == 0L)
    assert(Ranks.globalNtile(df, 4, "b", col("k"), col("id"))
      .count() == 0L)
    assert(Ranks.ntileBoundary(df, 4,
      Seq(Ranks.NtileSpec("b", col("k"), col("id")))).count() == 0L)
  }

  test("ntileBoundary equals ntile() — tie-heavy, negative, desc and " +
      "wide-range metrics, multi-spec, and the n < buckets regime") {
    // k: 97 distinct values over up to 1000 rows — every quintile
    // boundary lands INSIDE an equal-metric group, exercising the
    // phase-2 tiebreak search; w: ~5e9-range metric (multiple
    // histogram-refinement rounds); -k: descending via negation
    for ((n, buckets) <- Seq((1000, 5), (997, 4), (3, 7), (1, 4),
        (16, 16), (256, 2))) {
      val df = corpus(n).withColumn("w",
        xxhash64(col("id"), lit(7L)) % lit(5000000000L))
      val got = Ranks.ntileBoundary(df, buckets, Seq(
          Ranks.NtileSpec("bk", col("k"), col("id")),
          Ranks.NtileSpec("bkd", -col("k"), col("id")),
          Ranks.NtileSpec("bw", col("w"), col("id"))))
        .select("id", "bk", "bkd", "bw")
      val want = df.select(col("id"),
        ntile(buckets).over(Window.orderBy(col("k"), col("id")))
          .cast("bigint").as("bk"),
        ntile(buckets).over(Window.orderBy(col("k").desc, col("id")))
          .cast("bigint").as("bkd"),
        ntile(buckets).over(Window.orderBy(col("w"), col("id")))
          .cast("bigint").as("bw"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"ntileBoundary($buckets) diverged from ntile() at n=$n")
    }
  }

  test("keysAtWeightedRanks equals the running-sum boundary — ties on " +
      "the metric, zero weights, desc order via negation (q88's shape)") {
    // metric: 97 distinct values (boundaries land inside equal-metric
    // groups → the phase-2 tiebreak search); weight: 0..4 with zeros
    // (the boundary key must still carry weight); -k: descending.
    // w spans ~1e10 values, so its search refines over several rounds.
    val df = corpus(1000).withColumn("w",
      xxhash64(col("id"), lit(7L)) % lit(5000000000L))
    for ((name, metric) <- Seq("-k" -> -col("k"), "w" -> col("w"))) {
      val want = df.select(col("id"), metric.as("m"), col("v"))
        .withColumn("cum", sum(col("v")).over(Window.orderBy(col("m"),
          col("id")).rowsBetween(Window.unboundedPreceding, 0)))
        .orderBy("m", "id").collect()
      val totW = want.map(_.getLong(2)).sum
      val targets = Seq(1L, totW / 5, totW / 2, (totW * 4) / 5, totW)
      val (gotTot, got) = Ranks.keysAtWeightedRanks(df, metric,
        col("id"), col("v"), _ => targets)
      assert(gotTot == totW, name)
      targets.foreach { t =>
        val first = want.find(_.getLong(3) >= t).get
        assert(got(t) == (first.getLong(1), first.getLong(0)),
          s"$name: boundary at weighted rank $t: got ${got(t)}, want " +
            s"(${first.getLong(1)}, ${first.getLong(0)})")
      }
    }
  }

  test("ntileBoundary rejects null metrics loudly (a null would " +
      "silently vanish from the histograms and shift every rank)") {
    val df = corpus(50).withColumn("k",
      when(col("id") === 7L, lit(null)).otherwise(col("k")))
    val e = intercept[Exception] {
      Ranks.ntileBoundary(df, 4,
        Seq(Ranks.NtileSpec("b", col("k"), col("id")))).count()
    }
    assert(e.getMessage.contains("non-null"), e.getMessage)
  }

  test("monotonically_increasing_id bit layout pin: pid<<33 | record") {
    // the helper reads local rank from the low 33 bits and partition
    // id from a 33-bit shift; if a Spark upgrade changes the layout,
    // this minimal reproduction fails first
    val rows = spark.range(100).coalesce(1).repartition(3)
      .withColumn("mid", monotonically_increasing_id())
      .select(shiftright(col("mid"), 33).as("pid"),
        col("mid").bitwiseAND(lit((1L << 33) - 1)).as("rec"),
        spark_partition_id().cast("bigint").as("spid"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(2),
        s"mid upper bits != spark_partition_id: $r")
    }
    // record numbers are dense 0..k-1 within each partition
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val recs = rs.map(_.getLong(1)).sorted
      assert(recs.sameElements(recs.indices.map(_.toLong)),
        s"record numbers not dense from 0: ${recs.mkString(",")}")
    }
  }
}
