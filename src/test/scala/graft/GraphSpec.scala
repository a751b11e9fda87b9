package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** In-JVM replays of the graph operators: PageRank mass accounting and a
  * brute-force triangle count on the condensed trade graph.
  */
class GraphSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def edges(): Array[(Int, Int, Long)] =
    Tables.t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
      .join(Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sf, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.t(spark, sf, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))

  test("gr01 PageRank equals a sequential in-JVM fixed-point replay") {
    val es = edges()
    val nodes = Tables.t(spark, sf, "nation")
      .select("n_nationkey").collect().map(_.getInt(0)).sorted
    val outw = es.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inbox = scala.collection.mutable.Map.empty[Int, Long]
        .withDefaultValue(0L)
      es.foreach { case (src, dst, w) =>
        inbox(dst) += (r(src) * 850L / 1000L) * w / outw(src)
      }
      r = nodes.map(n => n -> (150000L + inbox(n))).toMap
    }
    val got = Graph.gr01Pagerank(spark, sf)
      .collect().map(x => x.getInt(0) -> x.getLong(2)).toMap
    assert(got == r, s"diff: ${r.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }}")
    // damped mass accounting: total never exceeds the initial mass
    assert(r.values.sum <= nodes.length * 1000000L)
    assert(r.values.forall(_ >= 150000L))
  }

  test("gr13 HITS equals a sequential in-JVM mutual-reinforcement replay") {
    val es = edges().filter(e => e._1 != e._2)
    val nodes = Tables.t(spark, sf, "nation")
      .select("n_nationkey").collect().map(_.getInt(0)).sorted
    def l1(x: Map[Int, Long]): Map[Int, Long] = {
      val tot = x.values.sum
      x.map { case (k, v) => k -> v * 1000000L / tot }
    }
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 2) {
      auth = l1(nodes.map(n =>
        n -> es.filter(_._2 == n).map(e => hub(e._1) * e._3).sum).toMap)
      hub = l1(nodes.map(n =>
        n -> es.filter(_._1 == n).map(e => auth(e._2) * e._3).sum).toMap)
    }
    val got = Graph.gr13Hits(spark, sf)
      .collect().map(x => (x.getInt(0), x.getLong(2), x.getLong(3)))
    got.foreach { case (id, h, a) =>
      assert(h == hub(id), s"node $id hub: $h vs ${hub(id)}")
      assert(a == auth(id), s"node $id auth: $a vs ${auth(id)}")
    }
    // L1 normalization: each score vector sums to 10^6 minus at most
    // one truncation unit per node, and both must discriminate
    assert(got.map(_._2).sum > 1000000L - nodes.length &&
      got.map(_._2).sum <= 1000000L)
    assert(got.map(_._3).sum > 1000000L - nodes.length &&
      got.map(_._3).sum <= 1000000L)
    assert(got.map(_._2).distinct.length > 1 &&
      got.map(_._3).distinct.length > 1)
  }

  test("gr02 triangle counts equal a brute-force enumeration") {
    val und = edges().filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val ids = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val counts = scala.collection.mutable.Map.empty[Int, Long]
      .withDefaultValue(0L)
    for {
      a <- ids; b <- ids if a < b && und((a, b))
      c <- ids if b < c && und((b, c)) && und((a, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    val got = Graph.gr02Triangles(spark, sf)
      .collect().map(x => x.getInt(0) -> x.getLong(2)).toMap
    Tables.t(spark, sf, "nation").select("n_nationkey").collect()
      .map(_.getInt(0)).foreach { n =>
        assert(got(n) == counts(n), s"nation $n: ${got(n)} != ${counts(n)}")
      }
  }

  test("gr10 link-prediction indices equal a brute-force recompute") {
    // replay the skeleton: self-loops out, directions summed, top-120
    val undW = edges().filter(e => e._1 != e._2)
      .map(e => ((math.min(e._1, e._2), math.max(e._1, e._2)), e._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case ((u, v), w) => (-w, u, v) }.take(120).map(_._1)
    val skel = undW.toSet
    val nbr = undW.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = nbr.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids if a < b && !skel((a, b))
      common = nbr(a) intersect nbr(b) if common.nonEmpty
    } yield {
      val cn = common.size.toLong
      val jac = cn * 10000L / (nbr(a).size + nbr(b).size - cn)
      val ra = common.toSeq.map(z => 10000L / nbr(z).size).sum
      (a.toLong, b.toLong) -> ((cn, jac, ra))
    }).toMap
    val got = Graph.queries("gr10_link_predict")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expect,
      s"diff: ${expect.collect { case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }}")
    assert(expect.nonEmpty, "degenerate: no absent links to score")
  }

  test("gr11 modularity equals a brute-force recompute over gr03 labels") {
    // rebuild the 3-NN symmetrized skeleton exactly as lpaPartition does
    val knn = edges().filter(e => e._1 != e._2)
      .groupBy(_._1).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (-e._3, e._2)).take(3).map(e => (e._1, e._2))
      }
    val sym = knn.flatMap(e => Seq(e, e.swap)).toSet
    val lbl = Graph.queries("gr03_label_prop")(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap
    val m = sym.size / 2
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expect = lbl.values.toSeq.distinct.sorted.map { c =>
      val members = lbl.collect { case (id, l) if l == c => id }.toSet
      val eC = sym.count { case (a, b) =>
        members(a) && members(b) } / 2
      val dC = members.toSeq.map(deg).sum
      val qNum = 4L * eC * m * m - dC * dC * m
      c.toLong -> ((members.size.toLong, eC.toLong, dC, qNum))
    }.toMap
    val got = Graph.queries("gr11_modularity")(spark, sf).collect()
      .map(r => r.getInt(0).toLong ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))))
      .toMap
    assert(got == expect, s"diff: ${expect.collect {
      case (k, v) if got.get(k) != Some(v) => (k, v, got.get(k)) }}")
    // the partition beats a random one: total modularity is positive
    assert(got.values.map(_._4).sum > 0L, "non-positive total modularity")
  }

  test("gr04 4-core equals a sequential peel and fixpoints by round 5") {
    val nodes = Tables.t(spark, sf, "nation")
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    // symmetrized 3-NN sparsification, same determinism as the operator
    val knn = edges().filter(e => e._1 != e._2)
      .groupBy(_._1).values.flatMap(_.sortBy(e => (-e._3, e._2)).take(3))
      .map(e => (e._1, e._2)).toSet
    val sym = knn ++ knn.map(_.swap)
    def degrees(alive: Set[Int]): Map[Int, Int] =
      sym.toSeq.filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).view.mapValues(_.size).toMap.withDefaultValue(0)
    var alive = nodes
    var rounds = 0
    var changed = true
    while (changed) {
      val next = alive.filter(degrees(alive)(_) >= 4)
      changed = next != alive
      if (changed) rounds += 1
      alive = next
    }
    // six unconditional rounds in the operator: fixpoint must land first
    assert(rounds <= 5, s"peeling needed $rounds rounds, operator runs 6")
    val coreDeg = degrees(alive)
    val got = Graph.gr04Kcore(spark, sf).collect()
      .map(x => (x.getInt(0), x.getLong(2), x.getLong(3)))
    got.foreach { case (n, inCore, dg) =>
      assert(inCore == (if (alive(n)) 1L else 0L), s"nation $n core flag")
      assert(dg == (if (alive(n)) coreDeg(n).toLong else 0L),
        s"nation $n core degree: got $dg want ${coreDeg(n)}")
    }
    // the split is non-trivial on this graph: both sides populated
    assert(alive.nonEmpty && (nodes -- alive).nonEmpty,
      s"degenerate 4-core: ${alive.size} of ${nodes.size} nations")
  }

  test("gr06 4-truss equals a sequential edge peel and fixpoints early") {
    val knn = edges().filter(e => e._1 != e._2)
      .groupBy(_._1).values.flatMap(_.sortBy(e => (-e._3, e._2)).take(3))
      .map(e => (e._1, e._2)).toSet
    val und = (knn ++ knn.map(_.swap))
      .filter(e => e._1 < e._2).map(e => (e._1.toLong, e._2.toLong))
    def supports(alive: Set[(Long, Long)]): Map[(Long, Long), Int] = {
      val adj = (alive ++ alive.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap.withDefaultValue(Set.empty[Long])
      alive.map(e => e -> (adj(e._1) intersect adj(e._2)).size).toMap
    }
    var alive = und
    var rounds = 0
    var changed = true
    while (changed) {
      val next = supports(alive).filter(_._2 >= 2).keySet
      changed = next != alive
      if (changed) rounds += 1
      alive = next.toSet
    }
    // four unconditional rounds in the operator: fixpoint must land first
    assert(rounds <= 3, s"peeling needed $rounds rounds, operator runs 4")
    val sup = supports(alive)
    val got = Graph.gr06Ktruss(spark, sf).collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2), x.getLong(3)))
    assert(got.map(_._1).toSet == und, "edge universe mismatch")
    got.foreach { case (e, inTruss, s) =>
      assert(inTruss == (if (alive(e)) 1L else 0L), s"edge $e truss flag")
      assert(s == (if (alive(e)) sup(e).toLong else 0L),
        s"edge $e support: got $s want ${sup.getOrElse(e, 0)}")
    }
    // non-trivial: the truss keeps some edges and drops some
    assert(alive.nonEmpty && (und -- alive).nonEmpty,
      s"degenerate 4-truss: ${alive.size} of ${und.size} edges")
  }

  test("gr07 harmonic closeness equals a sequential multi-source BFS") {
    // rebuild the gr05/gr07 graph: per-source top-3 by (w desc, dst), then
    // symmetrize
    val top3 = edges().filter(e => e._1 != e._2)
      .groupBy(_._1).toSeq.flatMap { case (_, es) =>
        es.sortBy(e => (-e._3, e._2)).take(3).toSeq
      }.map(e => (e._1, e._2)).toSet
    val sym = top3 ++ top3.map { case (a, b) => (b, a) }
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      .withDefaultValue(Set.empty[Int])
    val nations = Tables.t(spark, sf, "nation").select("n_nationkey")
      .collect().map(_.getInt(0)).sorted
    val got = Graph.gr07Closeness(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    nations.foreach { src =>
      val lvl = scala.collection.mutable.Map(src -> 0)
      var frontier = Set(src)
      for (l <- 1 to 3) {
        frontier = frontier.flatMap(adj).filterNot(lvl.contains)
        frontier.foreach(n => lvl(n) = l)
      }
      val byL = (1 to 3).map(l => lvl.count(_._2 == l).toLong)
      val harm = lvl.toSeq.collect {
        case (_, 1) => 6L; case (_, 2) => 3L; case (_, 3) => 2L }.sum
      assert(got(src) == ((byL(0), byL(1), byL(2), harm)), s"src $src")
    }
    // the 3-hop horizon must bite somewhere: not every node reaches the
    // whole graph at level 1
    assert(got.values.map(_._1).toSet.size >= 1 &&
      got.values.exists(v => v._2 + v._3 > 0))
  }

  test("gr08 cheapest path equals a sequential bounded Bellman-Ford") {
    val es = edges().filter(e => e._1 != e._2)
    val nations = Tables.t(spark, sf, "nation").select("n_nationkey")
      .collect().map(_.getInt(0))
    var cost = Map(0 -> 0L)
    for (_ <- 1 to 4) {
      val relax = es.flatMap { case (s0, d0, w) =>
        cost.get(s0).map(c => d0 -> (c + w))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      cost = (cost.keySet ++ relax.keySet).map { k =>
        k -> math.min(cost.getOrElse(k, Long.MaxValue),
          relax.getOrElse(k, Long.MaxValue))
      }.toMap
    }
    val got = Graph.gr08CheapestPath(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    nations.foreach { nk =>
      assert(got(nk) == cost.getOrElse(nk, -1L), s"nation $nk")
    }
    // non-degenerate: costs vary, and the weighted ordering is not just
    // the hop ordering (some reachable costs differ between neighbors)
    val finite = got.values.filter(_ >= 0).toSeq
    assert(finite.distinct.size > 2, s"degenerate costs: $finite")
  }

  test("gr17: SCC ids are in-component minima and cores are closed") {
    val rows = operators.Graph.queries("gr17_scc")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // one row per nation, ids distinct
    assert(rows.map(_._1).distinct.length == rows.length)
    val byScc = rows.groupBy(_._2)
    rows.foreach { case (id, scc, size, core) =>
      assert(scc <= id, s"scc_id $scc > member $id") // rep = min member
      assert(size == byScc(scc).length.toLong, s"size mismatch at $id")
      assert(core == (size >= 2L))
    }
    // every representative is a member of its own component
    byScc.keys.foreach { rep =>
      assert(byScc(rep).exists(_._1 == rep), s"rep $rep not a member")
    }
  }

  test("gr18: FW-BW peeling reproduces gr17's closure labels on the " +
      "shared 3-NN nation graph") {
    import org.apache.spark.sql.expressions.Window
    // the exact 3-NN directed edge set gr17 condenses (Graph.scala)
    val wTop = Window.partitionBy("src").orderBy(col("w").desc, col("dst"))
    val dirE = Graph.tradeEdges(spark, sf)
      .filter(col("src") =!= col("dst"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select(col("src").cast("bigint").as("u"),
        col("dst").cast("bigint").as("v"))
    val nodes = Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").cast("bigint").as("id"))
    val fwbw = Graph.fwbwScc(nodes, dirE).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val closure = Graph.queries("gr17_scc")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fwbw.keySet == closure.keySet, "node coverage differs")
    fwbw.foreach { case (id, scc) =>
      assert(scc == closure(id), s"node $id: fwbw=$scc closure=${closure(id)}")
    }
    // non-degenerate: the fixture graph must have a multi-node core
    assert(closure.groupBy(_._2).exists(_._2.size >= 2))
  }

  test("gr18: hub-factored home edges reproduce the bipartite-clique " +
      "labels exactly, and no hub leaks into the output") {
    // the REJECTED clique formulation, rebuilt inline as the truth:
    // customer→supplier direct per nation (O(C·S/25) edges — fine at
    // fixture scale, the reason gr18 now factors through hubs)
    val cust = Tables.t(spark, sf, "customer")
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").cast("bigint").as("id"),
        col("c_nationkey").as("nk"))
    val sup = Tables.t(spark, sf, "supplier")
      .filter(col("s_suppkey") % 5 === 0)
      .select((col("s_suppkey") + lit(10000000L)).as("id"),
        col("s_nationkey").as("nk"), col("s_suppkey").as("sk"))
    val trade = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey")
      .filter(col("l_suppkey") % 5 === 0)
      .join(Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey")
          .filter(col("o_custkey") % 50 === 0),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + lit(10000000L)).cast("bigint").as("u"),
        col("o_custkey").cast("bigint").as("v"))
    val clique = cust.select(col("id").as("u"), col("nk"))
      .join(sup.select(col("id").as("v"), col("nk")), Seq("nk"))
      .select("u", "v")
    val nodes = cust.select("id").unionAll(sup.select("id"))
    val truth = Graph.fwbwScc(nodes, trade.unionAll(clique)).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Graph.queries("gr18_scc_fwbw")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == truth.keySet,
      "hub output covers a different real-node set than the clique")
    got.foreach { case (id, scc) =>
      assert(id < 20000000L, s"hub node $id leaked into the output")
      assert(scc == truth(id), s"node $id: hub=$scc clique=${truth(id)}")
    }
  }

  test("gr18: fwbwScc returns an empty typed frame on empty input") {
    val nodes = Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").cast("bigint").as("id")).limit(0)
    val out = Graph.fwbwScc(nodes,
      nodes.select(col("id").as("u"), col("id").as("v"))).labels
    assert(out.columns.toSeq == Seq("id", "scc_id"))
    assert(out.count() == 0L)
  }

  test("fwbwScc prepares raw edges itself: duplicates, self-loops and " +
      "int ids give the labels and edge count of the cleaned edge set") {
    import spark.implicits._
    // two 3-cycles joined one way, a feeder, an isolated node; every
    // edge duplicated, self-loops on 0, 4 and 7, ids typed INT
    val clean = Seq((0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5),
      (5, 3), (6, 0))
    val raw = (clean ++ clean ++ Seq((0, 0), (4, 4), (7, 7), (4, 4)))
      .toDF("u", "v")
    val nodes = (0 to 7).toDF("id")
    val got = Graph.fwbwScc(nodes, raw)
    val truth = Graph.fwbwScc(nodes.select(col("id").cast("bigint")),
      clean.map { case (u, v) => (u.toLong, v.toLong) }.toDF("u", "v"))
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(got.labels) == labels(truth.labels))
    assert(labels(got.labels) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L, 7L -> 7L))
    assert(got.edgeCount == clean.size.toLong)
    assert(got.edges.schema.map(f => f.name -> f.dataType.sql) ==
      Seq("u" -> "BIGINT", "v" -> "BIGINT"))
    assert(got.edges.as[(Long, Long)].collect().toSet ==
      clean.map { case (u, v) => (u.toLong, v.toLong) }.toSet)
  }

  test("gr19: unsampled audit counts match an in-JVM Tarjan SCC on " +
      "the collected entity graph") {
    val hubOff = 20000000L
    val cust = Tables.t(spark, sf, "customer")
      .select(col("c_custkey").cast("bigint"), col("c_nationkey"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val sup = Tables.t(spark, sf, "supplier")
      .select((col("s_suppkey") + lit(10000000L)).cast("bigint"),
        col("s_nationkey"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val trade = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey")
      .join(Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + lit(10000000L)).cast("bigint"),
        col("o_custkey").cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (trade ++
      cust.map { case (id, nk) => (id, hubOff + nk) } ++
      sup.map { case (id, nk) => (hubOff + nk, id) })
      .filter(e => e._1 != e._2).distinct
    val nodes = (cust.map(_._1) ++ sup.map(_._1) ++
      (0 until 25).map(n => hubOff + n)).distinct
    // iterative Tarjan (explicit stack — no recursion-depth dependence)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      .withDefaultValue(Array.empty[Long])
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.ArrayBuffer[Long]()
    var counter = 0
    val comp = scala.collection.mutable.Map[Long, Long]()
    def strongconnect(v0: Long): Unit = {
      val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((v0, 0))
      while (work.nonEmpty) {
        val (v, pi) = work.remove(work.length - 1)
        if (pi == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack += v; onStack += v
        }
        var i = pi
        var recursed = false
        val ws = adj(v)
        while (i < ws.length && !recursed) {
          val w = ws(i)
          if (!index.contains(w)) {
            work += ((v, i + 1)); work += ((w, 0)); recursed = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!recursed) {
          if (low(v) == index(v)) {
            var done = false
            val members = scala.collection.mutable.ArrayBuffer[Long]()
            while (!done) {
              val w = stack.remove(stack.length - 1)
              onStack -= w; members += w
              done = w == v
            }
            val rep = members.min
            members.foreach(m => comp(m) = rep)
          }
          if (work.nonEmpty) {
            val (p, _) = work(work.length - 1)
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
    val real = comp.filter(_._1 < hubOff)
    val sizes = real.groupBy(_._2).map(_._2.size)
    val got = Graph.queries("gr19_scc_audit")(spark, sf).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == real.size.toLong, "n_nodes")
    assert(r.getLong(1) == edges.length.toLong, "n_edges")
    assert(r.getLong(2) == real.values.toSet.size.toLong, "n_scc")
    assert(r.getLong(3) == sizes.max.toLong, "max_scc")
    assert(r.getLong(4) == sizes.max.toLong * 10000L / real.size, "share")
    // non-degenerate: the trade cycle must produce a real multi-node SCC
    assert(sizes.max >= 2, "fixture graph has no cycle — audit vacuous")
  }

  test("gr20: condensation levels/degrees/sizes match an in-JVM " +
      "Tarjan + DAG longest-path replay on the sampled graph") {
    val hubOff = 20000000L
    val cust = Tables.t(spark, sf, "customer")
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").cast("bigint"), col("c_nationkey"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val sup = Tables.t(spark, sf, "supplier")
      .filter(col("s_suppkey") % 5 === 0)
      .select((col("s_suppkey") + lit(10000000L)).cast("bigint"),
        col("s_nationkey"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val trade = Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey")
      .filter(col("l_suppkey") % 5 === 0)
      .join(Tables.t(spark, sf, "orders").select("o_orderkey", "o_custkey")
          .filter(col("o_custkey") % 50 === 0),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + lit(10000000L)).cast("bigint"),
        col("o_custkey").cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (trade ++
      cust.map { case (id, nk) => (id, hubOff + nk) } ++
      sup.map { case (id, nk) => (hubOff + nk, id) })
      .filter(e => e._1 != e._2).distinct
    val nodes = (cust.map(_._1) ++ sup.map(_._1) ++
      (0 until 25).map(n => hubOff + n)).distinct
    // Kosaraju-style SCC via two DFS passes (simple + iterative)
    val fwd = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      .withDefaultValue(Array.empty[Long])
    val rev = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      .withDefaultValue(Array.empty[Long])
    val seen = scala.collection.mutable.Set[Long]()
    val order = scala.collection.mutable.ArrayBuffer[Long]()
    nodes.foreach { s0 =>
      if (!seen(s0)) {
        val st = scala.collection.mutable.ArrayBuffer[(Long, Int)]((s0, 0))
        seen += s0
        while (st.nonEmpty) {
          val (v, i) = st.remove(st.length - 1)
          val ws = fwd(v)
          if (i < ws.length) {
            st += ((v, i + 1))
            if (!seen(ws(i))) { seen += ws(i); st += ((ws(i), 0)) }
          } else order += v
        }
      }
    }
    val comp = scala.collection.mutable.Map[Long, Long]()
    order.reverseIterator.foreach { s0 =>
      if (!comp.contains(s0)) {
        val members = scala.collection.mutable.ArrayBuffer[Long](s0)
        comp(s0) = -1L
        var i = 0
        while (i < members.length) {
          rev(members(i)).foreach { w =>
            if (!comp.contains(w)) { comp(w) = -1L; members += w }
          }
          i += 1
        }
        val rep = members.min
        members.foreach(m => comp(m) = rep)
      }
    }
    // condensation + longest-path levels (hubs participate, like gr20)
    val ce = edges.map(e => (comp(e._1), comp(e._2)))
      .filter(p => p._1 != p._2).distinct
    val dagNodes = comp.values.toSeq.distinct
    val lvl = scala.collection.mutable.Map(dagNodes.map(_ -> 0L): _*)
    var changed = true
    var rounds = 0
    while (changed) {
      changed = false; rounds += 1
      assert(rounds <= dagNodes.length + 1, "condensation not acyclic")
      ce.foreach { case (u, v) =>
        if (lvl(u) + 1 > lvl(v)) { lvl(v) = lvl(u) + 1; changed = true }
      }
    }
    val sizes = comp.toSeq.filter(_._1 < hubOff).groupBy(_._2)
      .view.mapValues(_.size.toLong).toMap
    val outD = ce.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val inD = ce.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = Graph.queries("gr20_condensation")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == sizes.keySet, "real-SCC set differs")
    got.foreach { case (scc, (size, level, ind, outd)) =>
      assert(size == sizes(scc), s"scc $scc: size")
      assert(level == lvl(scc), s"scc $scc: level")
      assert(ind == inD.getOrElse(scc, 0L), s"scc $scc: in_deg")
      assert(outd == outD.getOrElse(scc, 0L), s"scc $scc: out_deg")
    }
    // non-degenerate: the fixture DAG has real depth. (The level-0
    // sources are typically filtered HUB singletons — nations with
    // suppliers but no sampled customers — so real components start
    // at level ≥ 1; what must hold is that depth actually propagates.)
    assert(got.nonEmpty)
    assert(got.values.exists(_._2 >= 2L), "DAG depth < 2 — fixture flat")
  }

  test("Par.loopWidth keeps the loop widths: 1 partition per 50k rows, " +
      "capped at 32, and max(n, e / 2) is the edge-aware rule") {
    // the node rule gr20 applies to the condensation size: 1 partition
    // up to 50k components, then linear growth, capped at 32
    assert(Par.loopWidth(0L) == 1)
    assert(Par.loopWidth(1L) == 1)
    assert(Par.loopWidth(49999L) == 1)
    assert(Par.loopWidth(50000L) == 2)
    assert(Par.loopWidth(500000L) == 11)
    assert(Par.loopWidth(10000000L) == 32)
    // fwbwScc's edge-aware width was max(1, min(32, max(n / 50000,
    // e / 100000) + 1)); loopWidth(max(n, e / 2)) must equal it
    def oldNp(n: Long, e: Long): Int =
      math.max(1L, math.min(32L,
        math.max(n / 50000L, e / 100000L) + 1L)).toInt
    for ((n, e) <- Seq((0L, 0L), (16000L, 700000L), (49999L, 99999L),
        (49999L, 100000L), (50000L, 1L), (1L, 199999L), (120000L, 99999L),
        (3L, 3300001L), (10000000L, 5L), (1L, 1L << 40)))
      assert(Par.loopWidth(math.max(n, e / 2L)) == oldNp(n, e),
        s"n=$n e=$e")
  }

  test("gr20 loop frames: dagLevels carries exactly the width it is " +
      "given") {
    // dagLevels' loop-carried frame is coalesced to the requested
    // width — the r9 hardcoded coalesce(1) is gone (a chain DAG
    // 0→1→2→3→4 at npC=4 must come back 4-way AND correctly leveled)
    import spark.implicits._
    val ce = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("u", "v").repartition(4)
    val ids = (0L to 4L).toDF("n")
    val lvl = Graph.dagLevels(ce, ids, 4, 64L)
    assert(lvl.rdd.getNumPartitions == 4,
      s"frame width ${lvl.rdd.getNumPartitions}, expected the derived 4")
    val got = lvl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // and the acyclicity guard still fires, bounded by the given rounds
    val cyc = Seq((0L, 1L), (1L, 0L)).toDF("u", "v")
    val ex = intercept[RuntimeException] {
      Graph.dagLevels(cyc, Seq(0L, 1L).toDF("n"), 1, 8L)
    }
    assert(ex.getMessage.contains("8 rounds"))
  }

  test("gr18: entity-graph SCC output is structurally consistent") {
    val rows = Graph.queries("gr18_scc_fwbw")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._1).distinct.length == rows.length)
    val byScc = rows.groupBy(_._2)
    rows.foreach { case (id, scc, size, core) =>
      assert(scc <= id, s"scc_id $scc > member $id")
      assert(size == byScc(scc).length.toLong, s"size mismatch at $id")
      assert(core == (size >= 2L))
    }
    byScc.keys.foreach { rep =>
      assert(byScc(rep).exists(_._1 == rep), s"rep $rep not a member")
    }
  }
}
