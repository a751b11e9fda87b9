package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Bucketing, Dedup, Graph}

/** Measured scaling decade for the three priciest iterative paths
  * (r12 verdict item 3 — turning the plan-structural "survives 100×"
  * claims into one observed decade each, the BpeScalingProbeSpec
  * style): synthesize a 10× input with the SAME structural shape
  * (constant component size / condensation depth, so round counts
  * stay fixed and only per-round row mass grows — exactly the regime
  * the linear-shuffle claims are about), run both scales back-to-back
  * in one session (the host-noise A/B rule), and bound the growth at
  * ≤ 15× for 10× rows — linear plus generous contention slack, a
  * claim-guard rather than a wall-clock pin. Observed exponents are
  * info()'d and recorded in docs/SCALING.md §r13.
  *
  * min-of-2 passes per point (the Bench contention discipline); the
  * SMALL scale keeps a fixed-latency floor (driver barrier rounds), so
  * the measured ratio systematically UNDERSTATES the asymptotic
  * per-row cost growth — fine: a superlinear blowup (pairs², plan
  * nesting, one-task funnels) would still blast through the bound.
  */
class ScalingProbeSpec extends SparkSpec {

  private def timed(f: => Unit): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }.min

  private def ratioCheck(name: String, t1: Double, t10: Double): Unit = {
    val ratio = t10 / math.max(t1, 0.2) // floor: latency-bound smalls
    val exponent = math.log(math.max(ratio, 1.0)) / math.log(10.0)
    info(f"$name: t(1x)=$t1%.2f s, t(10x)=$t10%.2f s, ratio=$ratio%.2f" +
      f" (observed exponent $exponent%.2f)")
    assert(ratio <= 15.0,
      f"$name grew ${ratio}%.1f× on a 10× input — superlinear")
  }

  // ---- gr19's engine: fwbw SCC ---------------------------------------
  // Shape: blocks of 10 nodes in a directed ring (one SCC each) plus a
  // cross edge pairing block 2k → 2k+1 — condensation depth 2 at every
  // scale, so peel rounds are constant and scaling is pure row mass.
  private def sccGraph(n: Long): (DataFrame, DataFrame) = {
    val nodes = spark.range(n).select(col("id"))
    val ring = spark.range(n).select(col("id").as("u"),
      (expr("id div 10") * 10 + pmod(col("id") + 1, lit(10L))).as("v"))
    val cross = spark.range(n / 20).select(
      (col("id") * 20).as("u"), (col("id") * 20 + 10).as("v"))
    (nodes, ring.unionAll(cross))
  }

  test("fwbw SCC scales ≲ linearly over a decade (constant-depth " +
      "condensation, 10× the row mass)") {
    val t1 = timed(Graph.fwbwScc(sccGraph(10000L)._1,
      sccGraph(10000L)._2).labels.count())
    val t10 = timed(Graph.fwbwScc(sccGraph(100000L)._1,
      sccGraph(100000L)._2).labels.count())
    ratioCheck("fwbwScc", t1, t10)
  }

  // ---- mm14's engine: star-contraction CC ----------------------------
  // Shape: chains of 8 (components of constant size; count scales) —
  // star contraction needs the same O(log 8) rounds at every scale.
  private def ccGraph(n: Long): (DataFrame, DataFrame) = {
    val nodes = spark.range(n).select(col("id"))
    val chain = spark.range(n).filter(pmod(col("id"), lit(8L)) =!= 7L)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    (nodes, chain)
  }

  test("star-contraction CC scales ≲ linearly over a decade " +
      "(constant component size, 10× the components)") {
    val (n1, e1) = ccGraph(20000L)
    val t1 = timed(Dedup.connectedComponentsStar(n1, e1).count())
    val (n10, e10) = ccGraph(200000L)
    val t10 = timed(Dedup.connectedComponentsStar(n10, e10).count())
    ratioCheck("starCC", t1, t10)
  }

  // ---- dd38's engine: the purge rebuild (sig → bands → publish) ------
  // Shape: synthetic docs of 40 words from a 500-word pool (hash-
  // derived — shingle mass per doc constant, band collisions rare, so
  // the measured cost is the rebuild pipeline itself: shingling,
  // md5 lanes, posting explode, two bucketed writes + manifest swap).
  private def synthDocs(n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), expr(
      "array_join(transform(sequence(0, 39), " +
        "k -> concat('w', pmod(hash(id * 40 + k), 500))), ' ')")
      .as("text"))

  test("dd38's purge rebuild (signatures → band postings → bucketed " +
      "publish) scales ≲ linearly over a decade") {
    def rebuild(n: Long): Unit = {
      val sig = Dedup.admissionSig(synthDocs(n))
      val tbls = Bucketing.publish(spark, "probe38",
        Dedup.bandSegment("bands", "sh", sig))
      assert(spark.table(tbls("bands")).count() == n * 4)
    }
    val t1 = timed(rebuild(5000L))
    val t10 = timed(rebuild(50000L))
    ratioCheck("dd38 rebuild", t1, t10)
  }
}
