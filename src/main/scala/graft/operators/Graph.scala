package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Graph analytics over relational data (no reference counterpart —
  * `/root/reference` has no graph surface; companions to the connected-
  * components operators in Dedup). The graph is derived relationally: the
  * NATION TRADE GRAPH, nodes = nations, directed edge src→dst weighted by
  * the number of lineitems a customer in `src` bought from a supplier in
  * `dst` — a 4-table join any warehouse has, condensed to a small weighted
  * digraph.
  *
  * Scale design: the edge derivation is the expensive part and it is pure
  * relational algebra (joins + groupBy — partial aggregates, broadcast
  * dims). The iterative stage runs on the CONDENSED graph (nodes × avg
  * degree), which is orders of magnitude smaller than the fact table; each
  * PageRank round is one join + one groupBy shuffle keyed by dst — the
  * Pregel message shape. For graphs that stay fact-sized (e.g. the dd10
  * dup graph), the same loop applies with localCheckpoint every round
  * (see Dedup.connectedComponents — the round-plan-nesting lesson).
  *
  * Numerics: ranks are FIXED-POINT BIGINTs (micro-units), not doubles —
  * iterated double sums would drift across engines/partitionings (CLAUDE
  * .md oracle rule), while integer sums are associative, so the DuckDB
  * oracle replays all three rounds bit-for-bit. At 100 TB fixed-point is
  * also what you want in production: deterministic results independent of
  * reducer order.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** The weighted nation→nation trade edge list. */
  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      // customer/supplier grow with SF — no forced broadcast; AQE
      // picks broadcast vs shuffle per its size threshold
      .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** The 3-NN sparsified trade graph: each nation's three heaviest
    * outgoing non-self edges (ties broken by `dst`), as `(src, dst)`.
    * The condensed trade graph is near-complete, so the graph queries run
    * on this support to get real degree spread.
    */
  private def tradeKnn3(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTop = Window.partitionBy("src").orderBy(col("w").desc, col("dst"))
    tradeEdges(s, d)
      .filter(col("src") =!= col("dst"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select("src", "dst")
  }

  /** `(src, dst)` edges ∪ their reverses, deduplicated. */
  private def symmetrize(e: DataFrame): DataFrame =
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** gr01: weighted PageRank, 3 power iterations, damping 0.85, in
    * micro-unit fixed point: r0 = 1,000,000 per node;
    * r_{k+1}(v) = 150,000 + Σ_{u→v} ((r_k(u)*850 div 1000) * w(u,v))
    * div outw(u). Dangling mass is dropped (no nation lacks out-trade
    * here; at scale you'd add the standard dangling-sum redistribution
    * as one extra scalar aggregate per round).
    */
  val gr01Pagerank: Q = (s, d) => {
    val edges = tradeEdges(s, d)
      .withColumn("outw", sum("w").over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .persist() // lazy-ok: condensed 25-node edge list; 3 rounds re-join
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    var ranks = nodes.select(col("id"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks.withColumnRenamed("id", "rid"), col("src") === col("rid"))
        .select(col("dst"),
          expr("((r * 850) div 1000) * w div outw").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = nodes.select("id")
        .join(contrib.withColumnRenamed("dst", "cid"),
          col("id") === col("cid"), "left")
        .select(col("id"),
          (lit(150000L) + coalesce(col("m"), lit(0L))).as("r"))
    }
    nodes.join(ranks, Seq("id"))
      .select(col("id").as("nationkey"), col("n_name"), col("r").as("pr"))
      .orderBy(col("pr").desc, col("nationkey"))
  }

  /** gr14: PERSONALIZED PAGERANK — gr01's power iteration with the
    * restart mass concentrated on a SEED SET (region-0 nations) instead
    * of uniform: the recommender/expansion primitive ("importance as
    * seen from these nodes") behind related-item and local-community
    * queries, a genuinely different answer from global PageRank — mass
    * decays with trade distance from the seeds. Same micro-unit integer
    * fixed point (sums associative → reducer-order-exact, the file's
    * numerics rule): r0 = 10⁶ DIV |S| on seeds, each round
    * r(v) = base(v) + Σ ((r(u)·850 div 1000)·w) div outw with
    * base = 150,000 DIV |S| on seeds and 0 elsewhere. Teleport always
    * returns to the seeds, so non-seed mass exists only by incoming
    * trade paths.
    *
    * Scale: identical plan to gr01 — condensed nations×nations graph,
    * one equi-join + groupBy per round; the seed-count scalar broadcasts
    * (nation is constant-size). For a fact-sized graph the same loop
    * runs with the localCheckpoint round discipline.
    */
  val gr14Ppr: Q = (s, d) => {
    val edges = tradeEdges(s, d)
      .withColumn("outw", sum("w").over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .persist() // lazy-ok: condensed 25-node edge list, loop-carried
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"),
        col("n_regionkey"))
    val base = nodes
      .crossJoin(broadcast(nodes.filter(col("n_regionkey") === 0)
        .agg(count(lit(1)).as("ns"))))
      .select(col("id"), col("n_name"),
        when(col("n_regionkey") === 0, expr("150000 div ns"))
          .otherwise(lit(0L)).as("base"),
        when(col("n_regionkey") === 0, expr("1000000 div ns"))
          .otherwise(lit(0L)).as("r0"),
        (col("n_regionkey") === 0).as("is_seed"))
    var ranks = base.select(col("id"), col("r0").as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks.withColumnRenamed("id", "rid"),
          col("src") === col("rid"))
        .select(col("dst"),
          expr("((r * 850) div 1000) * w div outw").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = base.select("id", "base")
        .join(contrib.withColumnRenamed("dst", "cid"),
          col("id") === col("cid"), "left")
        .select(col("id"),
          (col("base") + coalesce(col("m"), lit(0L))).as("r"))
    }
    base.join(ranks, Seq("id"))
      .select(col("id").as("nationkey"), col("n_name"), col("is_seed"),
        col("r").as("ppr"))
      .orderBy(col("ppr").desc, col("nationkey"))
  }

  /** gr15: TRADE-BALANCE MATRIX → NET POSITIONS — the weighted-flow
    * complement to gr13's HITS roles: nation-pair VALUE flows (supplier
    * nation exports to customer nation; lossless cents), rolled to per-
    * nation exports/imports/net and an export-balance share ×10⁴
    * (non-negative DIV), plus each nation's top export counterparty
    * (max flow, ties → lowest partner key). Intra-nation flows count on
    * both sides — a nation trading with itself is both exporter and
    * importer of that value, so world exports ≡ world imports (the
    * conservation check the spec pins).
    *
    * Scale: one fact aggregate keyed by the nation pair after the two
    * un-hinted dim joins (the gr01 rule: customer/supplier grow with
    * SF, AQE decides); everything after is a ≤625-row matrix.
    */
  val gr15TradeBalance: Q = (s, d) => {
    val flows = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)" +
          " AS BIGINT)").as("cents"))
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, d, "supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("exp_nation"),
        col("c_nationkey").as("imp_nation"))
      .agg(sum("cents").as("flow_cents"))
      .persist() // lazy-ok: condensed 25x25 flow matrix; 3 consumers
    val exports = flows.groupBy(col("exp_nation").as("nationkey"))
      .agg(sum("flow_cents").as("exports_cents"))
    val imports = flows.groupBy(col("imp_nation").as("nationkey"))
      .agg(sum("flow_cents").as("imports_cents"))
    val topPartner = flows
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("exp_nation")
          .orderBy(col("flow_cents").desc, col("imp_nation"))))
      .filter(col("rn") === 1)
      .select(col("exp_nation").as("nationkey"),
        col("imp_nation").as("top_export_partner"))
    t(s, d, "nation")
      .select(col("n_nationkey").as("nationkey"), col("n_name"))
      .join(exports, Seq("nationkey"), "left")
      .join(imports, Seq("nationkey"), "left")
      .join(topPartner, Seq("nationkey"), "left")
      .select(col("nationkey"), col("n_name"),
        coalesce(col("exports_cents"), lit(0L)).as("exports_cents"),
        coalesce(col("imports_cents"), lit(0L)).as("imports_cents"),
        (coalesce(col("exports_cents"), lit(0L)) -
          coalesce(col("imports_cents"), lit(0L))).as("net_cents"),
        expr("coalesce(exports_cents, CAST(0 AS BIGINT)) * 10000 DIV " +
          "greatest(1, coalesce(exports_cents, CAST(0 AS BIGINT)) + " +
          "coalesce(imports_cents, CAST(0 AS BIGINT)))")
          .as("balance_x10k"),
        col("top_export_partner"))
      .orderBy("nationkey")
  }

  /** gr16: RICH-CLUB COEFFICIENT — do the best-connected nodes trade
    * preferentially among THEMSELVES? φ(k) = 2·E_k / (N_k·(N_k−1))
    * over the subgraph of nodes with degree > k, emitted ×10⁴ for
    * every k where ≥2 nodes qualify (Colizza et al. '06). The
    * formulation is RANK-FREE and single-pass over the graph: an edge
    * belongs to every club below min(deg_a, deg_b), so E_k and N_k
    * fall out of θ-joins of the distinct-degree threshold set against
    * the degree/min-degree tables — both sides bounded by the degree
    * domain, never a per-k subgraph scan (the per-k rescan is the
    * quadratic trap at scale; this is O(E) + O(degree domain²) with
    * the second term on condensed, not corpus, cardinalities).
    *
    * Scale: degree/min-degree tables aggregate the condensed edge
    * list; the threshold joins run over ≤ max-degree rows.
    */
  /** gr17: STRONGLY CONNECTED COMPONENTS on the DIRECTED 3-NN trade
    * graph — the directional complement of gr03/dd10's undirected CC:
    * "who trades into a mutually-reachable bloc" is a different
    * question from "who touches whom" (an exporter feeding a bloc it
    * never imports from is NOT in the bloc). The undirected support is
    * near-complete, so — the gr16 rationale — SCC runs on the top-3
    * out-edges per nation, whose asymmetry produces a real condensation
    * (one-way feeders, multi-node cores, singletons).
    *
    * Algorithm: transitive closure by PATH DOUBLING (R ← R ∪ R∘R, a
    * fixed ⌈log₂ n⌉+1 = 6 rounds on ≤25 nodes — no convergence
    * actions), then SCC = mutual reachability, scc_id = min over
    * {self} ∪ mutual partners. Closure is the right move ON A
    * CONDENSED graph (≤ n² = 625 pairs, each round one self-join +
    * distinct); on a fact-sized graph you'd run forward-backward
    * min-label peeling instead — the closure pair set is the thing
    * that does NOT scale, and the scaladoc boundary is the contract.
    * Per-round localCheckpoint (the 2-refs-per-round plan-nesting
    * rule). Output per nation: scc_id, scc_size, is_core.
    */
  val gr17Scc: Q = (s, d) => {
    val dirE = tradeKnn3(s, d)
      .select(col("src").cast("bigint").as("u"),
        col("dst").cast("bigint").as("v"))
      .localCheckpoint() // referenced by the doubling loop's base
    var reach = dirE
    for (_ <- 1 to 6) {
      reach = reach.unionAll(
          reach.select(col("u"), col("v").as("m"))
            .join(reach.select(col("u").as("m"), col("v")), Seq("m"))
            .select("u", "v"))
        .distinct()
        .localCheckpoint() // 2 refs/round: lineage doubles otherwise
    }
    val mutual = reach
      .join(reach.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      .filter(col("u") =!= col("v"))
    // nationkey is INT in parquet; DuckDB windows/keys return BIGINT
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").cast("bigint").as("id"))
    val scc = nodes
      .join(mutual.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("id"), col("mn")), Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("mn"), col("id"))).as("scc_id"))
    withSccSize(scc)
  }

  /** Min-label FORWARD-BACKWARD SCC — the fact-scale algorithm gr17's
    * scaladoc pins as the alternative to transitive closure (the
    * coloring/FW-BW-peel family: Orzan '04, Slota et al. "MultiStep"
    * SC'14). No closure pair set is ever built:
    *
    *  1. FORWARD min-label fixpoint: color(v) = min id that reaches v
    *     (one join + one min-aggregate per round, O(diameter) rounds —
    *     the CC propagation shape).
    *  2. Each color class has exactly one root r (color(r) = r), and
    *     SCC(r) is wholly inside class r with every v→r path staying in
    *     the class — so a BACKWARD reachable-from-root sweep over
    *     class-consistent edges (b grows along reversed edges,
    *     O(diameter) rounds) marks exactly SCC(r), with scc_id = r =
    *     the min member.
    *  3. PEEL the assigned vertices and repeat; every round retires at
    *     least one SCC per color class, so rounds ≤ longest SCC chain
    *     in the condensation.
    *
    * State is O(V) labels + O(E) edges per round — linear shuffles,
    * never pairs² — which is why this shape survives a fact-sized graph
    * where gr17's path-doubling closure (deliberately scoped to the
    * condensed 25-node graph) cannot. Convergence checks are
    * constant-size driver counts over eagerly checkpointed rounds (the
    * plan-nesting rule: every loop-carried frame is referenced more
    * than once per round).
    *
    * Edges are prepared along ONE path, whatever the caller holds:
    * cast to bigint, self-loops dropped, `distinct`, checkpointed at the
    * width the shuffle lands on, counted once, and re-widthed to the
    * loop width only when that differs (one more checkpoint). A caller
    * therefore never de-duplicates, counts or checkpoints edges itself:
    * the returned [[Scc]] carries the labels (id, scc_id) together with
    * that prepared edge frame and its count.
    */
  private[graft] def fwbwScc(nodes0: DataFrame, edges0: DataFrame): Scc = {
    // (AQE stays ON: an A/B with it disabled ran 2.2× slower — the
    // tiny hop joins degrade from broadcast to sort-merge without
    // runtime stats. The per-stage AQE replan latency is paid down by
    // minimizing STAGE COUNT instead: raw 2-hop chaining keeps each
    // hop a broadcast join — no shuffle stage — so a whole fwd round
    // is ~2 stages.)
    var remNodes = nodes0.select(col("id").cast("bigint").as("id"))
      .localCheckpoint()
    var remaining = remNodes.count()
    val distinctEdges = edges0.select(col("u").cast("bigint").as("u"),
        col("v").cast("bigint").as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    val edgeCount = distinctEdges.count() // one constant-size sizing job
    // Loop-frame partition count DERIVED from the live graph size (the
    // ss31 discipline), from nodes AND edges: the iterative stages are
    // scheduling-latency-bound over few bytes, and AQE re-plans every
    // one of the ~30 tiny stages — single-task frames at this scale cut
    // per-stage cost ~5×, while the divisors keep parallelism growing
    // linearly with the graph. The edge term (an edge weighs half a
    // node) was added for the UNSAMPLED gr19 audit (16k nodes carrying
    // ~700k live edges at sf0.1 — node count alone coalesced the whole
    // loop to one partition); it is a constant upper bound from entry
    // (counting shrinking edges every round would add a job per peel
    // round for nothing — oversized late frames just schedule a few
    // empty tasks).
    def np(n: Long): Int = graft.Par.loopWidth(math.max(n, edgeCount / 2L))
    // the loop references the edge frame ~15× per round, so it must read
    // np cached partitions, not re-coalesce the distinct's width each time
    val parts = distinctEdges.rdd.getNumPartitions
    val edges =
      if (np(remaining) < parts)
        distinctEdges.coalesce(np(remaining)).localCheckpoint()
      else if (np(remaining) > parts)
        distinctEdges.repartition(np(remaining)).localCheckpoint()
      else distinctEdges
    var remEdges = edges
    def ck(df: DataFrame): DataFrame =
      df.coalesce(np(remaining)).localCheckpoint()
    // start from an EMPTY typed frame (not null): an empty node set
    // returns zero rows instead of NPE-ing the caller, and the trim /
    // peel unions never need a null branch
    var assigned: DataFrame =
      remNodes.select(col("id"), col("id").as("scc_id")).limit(0)
    // non-convergence guard derived from the live node count (every
    // round retires ≥1 node, so rounds ≤ n; 64 floor keeps the bound
    // meaningful on tiny fixtures)
    val maxPeel = math.max(64L, remaining)
    var peelGuard = 0L
    while (remaining > 0L && peelGuard < maxPeel) {
      peelGuard += 1
      // 0. TRIM (the MultiStep accelerator, Slota et al. SC'14): a node
      // with no remaining in-edge or no remaining out-edge cannot sit on
      // a cycle — assign it as its own singleton SCC without paying a
      // propagation fixpoint. Iterate: removing a feeder exposes the
      // next layer. This retires feeder chains and post-peel stragglers
      // at two cheap barriers per layer instead of a full FW-BW cycle.
      // (r9 A/B, REJECTED: fusing 3 trim layers into one lazy plan to
      // cut barriers re-references each layer's un-checkpointed frames
      // — the 4³ duplicated semi-join subtrees all EXECUTE (ReuseExchange
      // can't dedup broadcast semi-joins over checkpoint scans) and the
      // same-session sweep ran gr19 17.1 s vs 10.9, gr18 6.7 vs 4.2:
      // recompute beat the saved barriers. Per-layer checkpoints stay.)
      // Per-layer job budget (r14): ONE checkpoint (cyclic) + one count
      // + one edge-peel checkpoint. `trimmed` stays LAZY — it is a
      // broadcast anti-join of two checkpoint-backed frames, so each of
      // its three consumers (count, assigned union, edge peel) rebuilds
      // it for ~free; its former eager checkpoint and the per-layer
      // checkpoint of the growing `assigned` union were one barrier
      // each per layer for no recompute saved (assigned is a linear
      // union of checkpoint-backed legs — plan depth = #layers, no
      // nesting blowup; the multi-ref rule guards expensive builds).
      var trimmedN = 1L
      while (trimmedN > 0L && remaining > 0L) {
        val cyclic = ck(remNodes
          .join(remEdges.select(col("u").as("id")), Seq("id"), "left_semi")
          .join(remEdges.select(col("v").as("id")), Seq("id"), "left_semi")
          ) // 2 refs: trim anti-join + next remNodes
        val trimmed = remNodes.join(cyclic, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("scc_id"))
        trimmedN = trimmed.count()
        if (trimmedN > 0L) {
          assigned = assigned.unionAll(trimmed)
          remNodes = cyclic
          remEdges = ck(remEdges
            .join(trimmed.select(col("id").as("u")), Seq("u"), "left_anti")
            .join(trimmed.select(col("id").as("v")), Seq("v"), "left_anti"))
          remaining -= trimmedN
        }
      }
      if (remaining == 0L) return Scc(assigned, edges, edgeCount)
      // 1. forward min-label fixpoint, TWO raw hops per round:
      // both hop joins broadcast the checkpointed edge frame under AQE
      // (no shuffle stage), so a round costs ~2 stages while covering 2
      // hops. 2 hops also bounds the raw path fan-out at |V|·deg² rows
      // into the min-aggregate (4 raw hops — |V|·deg⁴ rows — and
      // per-hop min-aggregates — 2 extra shuffle stages/hop — BOTH
      // measured slower, r8). Convergence via the label-sum signature
      // (strictly decreasing until fixpoint): a one-aggregate job over
      // the checkpointed frame instead of a join-and-count.
      var color = ck(remNodes.select(col("id"), col("id").as("c")))
      var prevSig = Long.MaxValue
      var converged = false
      while (!converged) {
        val hop1 = color.join(remEdges, col("id") === col("u"))
          .select(col("v").as("id"), col("c"))
        val hop2 = hop1.join(remEdges, col("id") === col("u"))
          .select(col("v").as("id"), col("c"))
        val next = ck(color.unionAll(hop1).unionAll(hop2)
          .groupBy("id").agg(min("c").as("c"))
          ) // 2 refs: the signature job + next round
        val sig = next.agg(sum("c")).first().getLong(0)
        converged = sig == prevSig
        prevSig = sig
        color = next
      }
      // 2. backward reachable-from-root sweep on class-consistent edges
      val ce = remEdges
        .join(color.select(col("id").as("u"), col("c").as("cu")), Seq("u"))
        .join(color.select(col("id").as("v"), col("c").as("cv")), Seq("v"))
        .filter(col("cu") === col("cv"))
        .select("u", "v")
        .coalesce(np(remaining))
        .localCheckpoint() // re-joined every backward round
      var b = ck(color.filter(col("id") === col("c")).select("id"))
      var bSize = b.count()
      var grew = true
      while (grew) {
        // two raw hops per round (see the forward loop)
        val back1 = ce.join(b.select(col("id").as("v")), Seq("v"))
          .select(col("u").as("id"))
        val back2 = ce.join(back1.select(col("id").as("v")), Seq("v"))
          .select(col("u").as("id"))
        val nb = ck(b.unionAll(back1).unionAll(back2)
          .distinct()
          ) // 2 refs: the size count + next round
        val n2 = nb.count()
        grew = n2 > bSize
        bSize = n2
        b = nb
      }
      // 3. assign and peel. |b| counts exactly the vertices assigned
      // this round (b ⊆ color's ids), so the remaining total updates
      // without a node recount, and a round that empties the graph
      // skips the node/edge peel jobs entirely.
      val newly = ck(color.join(b, Seq("id"))
        .select(col("id"), col("c").as("scc_id"))
        ) // refs: assigned union + node/edge anti-joins
      assigned = assigned.unionAll(newly) // lazy: legs are checkpoints
      remaining -= bSize
      if (remaining > 0L) {
        remNodes = ck(remNodes.join(newly.select("id"), Seq("id"),
          "left_anti"))
        remEdges = ck(remEdges
          .join(newly.select(col("id").as("u")), Seq("u"), "left_anti")
          .join(newly.select(col("id").as("v")), Seq("v"), "left_anti"))
      }
    }
    // a partial assignment would otherwise surface only as an opaque
    // oracle hash diff — fail LOUDLY like connectedComponentsStar does
    if (remaining > 0L)
      sys.error(s"fwbwScc did not converge in $maxPeel peel rounds " +
        s"($remaining nodes unassigned)")
    Scc(assigned, edges, edgeCount)
  }

  /** [[fwbwScc]]'s result: the labels (id, scc_id), the prepared edge
    * frame the loop started from (bigint u, v; distinct, no self-loops,
    * checkpointed at loop width) and its row count. */
  private[graft] case class Scc(labels: DataFrame, edges: DataFrame,
      edgeCount: Long)

  /** The entity trade graph gr18, gr19 and gr20 share: (nodes, edges)
    * with hub-factored home edges — see [[gr18SccFwbw]]'s scaladoc for
    * the construction and the hub-vs-clique scale argument. `sampled`
    * keeps customers with c_custkey%50 = 0 and suppliers with
    * s_suppkey%5 = 0 (gr18, gr20: the DuckDB oracle's closure stays
    * tractable); unsampled is the whole fact graph (gr19). Edges are
    * raw: duplicates stay for [[fwbwScc]] to drop. */
  private def entityGraph(s: SparkSession, d: String, sampled: Boolean)
      : (DataFrame, DataFrame) = {
    def sample(df: DataFrame, key: String, m: Int): DataFrame =
      if (sampled) df.filter(col(key) % m === 0) else df
    val cust = sample(t(s, d, "customer"), "c_custkey", 50)
      .select(col("c_custkey").cast("bigint").as("id"),
        col("c_nationkey").as("nk"))
    val sup = sample(t(s, d, "supplier"), "s_suppkey", 5)
      .select((col("s_suppkey") + lit(10000000L)).as("id"),
        col("s_nationkey").as("nk"))
    // trade edges carry their node ids IN the fact columns, so the
    // mod-sampling applies at the scans (lineitem 1/5, orders 1/50 —
    // the pruned orders side broadcasts into the one fact join) and no
    // dimension join is needed at all
    val trade =
      sample(t(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
          "l_suppkey", 5)
        .join(sample(t(s, d, "orders").select("o_orderkey", "o_custkey"),
            "o_custkey", 50),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") + lit(10000000L)).cast("bigint").as("u"),
          col("o_custkey").cast("bigint").as("v"))
    // domestic recirculation through per-nation hubs: O(|C|+|S|)
    // edges, map-side projections only — no join, no 25-key
    // parallelism cap, no quadratic clique (see scaladoc)
    val hubOff = lit(20000000L)
    val home = cust
      .select(col("id").as("u"),
        (col("nk") + hubOff).cast("bigint").as("v"))
      .unionAll(sup.select((col("nk") + hubOff).cast("bigint").as("u"),
        col("id").as("v")))
    val hubs = t(s, d, "nation")
      .select((col("n_nationkey") + hubOff).cast("bigint").as("id"))
    val nodes = cust.select("id").unionAll(sup.select("id"))
      .unionAll(hubs)
    (nodes, trade.unionAll(home))
  }

  /** gr17's and gr18's output: per node (id, scc_id), the SCC's size and
    * whether it is a multi-node core, ordered by id. */
  private def withSccSize(scc: DataFrame): DataFrame =
    scc.join(scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size")),
        Seq("scc_id"))
      .select(col("id"), col("scc_id"), col("scc_size"),
        (col("scc_size") >= 2L).as("is_core"))
      .orderBy("id")

  /** gr18: SCC on the ENTITY-LEVEL directed trade graph via [[fwbwScc]]
    * — gr17's promised fact-scale algorithm, actually run at entity
    * granularity instead of the 25-nation condensation. Nodes are
    * customers and suppliers (supplier ids offset by 10⁷ to disjoin the
    * key spaces); edges: supplier→customer for every DISTINCT trade
    * pair (who supplies whom), and customer→same-nation supplier
    * (domestic capital recirculation) factored through a per-nation
    * HUB node (id = 2·10⁷ + nationkey): customer→hub_n and
    * hub_n→supplier. The naive formulation — a direct per-nation
    * customer×supplier bipartite CLIQUE — is O(|C_n|·|S_n|) edges on a
    * 25-key join (~10¹⁴ rows at 10⁹ customers); the hub carries the
    * identical reachability in O(|C|+|S|) edges with no keyed join at
    * all. SCC labels on real nodes are invariant: every home path u→v
    * factors as u→hub_n→v and vice versa, and hub ids sit above the
    * whole real-id range so they can never win the min-label that
    * names an SCC. Hubs are filtered before sizing/output (and
    * `GraphSpec` pins the hub formulation label-for-label against the
    * clique one on the sampled graph). Both node sets are MOD-SAMPLED
    * (c_custkey%50, s_suppkey%5) so the DuckDB oracle's recursive
    * closure stays tractable (≤ 500² reach pairs at sf0.1); the Spark
    * side never builds a closure and runs the identical plan shape
    * unsampled at fact scale. `GraphSpec` also pins fwbwScc ≡ gr17's
    * closure-derived labels on the shared 3-NN nation graph.
    */
  val gr18SccFwbw: Q = (s, d) => {
    val (nodes, edges) = entityGraph(s, d, sampled = true)
    // hubs are plumbing, not entities: drop them BEFORE sizing so
    // scc_size counts real nodes exactly as the clique formulation did
    withSccSize(fwbwScc(nodes, edges).labels.filter(col("id") < 20000000L))
  }

  /** gr20: CONDENSATION DAG LEVELS — the canonical consumer of an SCC
    * pass: contract every strongly-connected component of the sampled
    * entity graph (gr18's labels, hub-factored construction shared via
    * [[entityGraph]]) to one node; the contracted graph is
    * acyclic BY CONSTRUCTION, so a longest-path "level" is well-defined
    * and gives each component its position in the dependency order —
    * the number a curriculum/staging planner reads ("which trade
    * clusters are upstream of which"). Per component: real-member
    * size, topological level (longest path from any source), and
    * condensation in/out degrees. Hub components participate in the
    * DAG (a cust→hub→sup chain is a real 2-step path) but are filtered
    * from the output like gr18 filters them from sizing.
    *
    * Scale: the condensation map is two label joins + a distinct over
    * edges (linear shuffles); the level loop carries O(#SCC) rows with
    * the same 2-hop chaining + monotone-sum convergence + derived
    * loop-frame coalesce as [[fwbwScc]]; rounds = ⌈DAG depth / 2⌉. The
    * DuckDB oracle replays labels via gr18's recursive closure, then
    * the longest path as a recursive CTE over the (tiny) condensed DAG.
    */
  val gr20Condensation: Q = (s, d) => {
    val (nodes, edges) = entityGraph(s, d, sampled = true)
    val r = fwbwScc(nodes, edges)
    val scc = r.labels
      .localCheckpoint() // 4 refs: two condensation joins + sizing + ids
    val sccIds = scc.select(col("scc_id").as("n")).distinct()
      .localCheckpoint() // 2 refs: the width-sizing count + level seed
    // loop-frame width DERIVES from the live condensation size
    // (Par.loopWidth, fwbwScc's rule): a near-acyclic graph condenses to
    // ~|V| components and a hardcoded single-partition frame would run
    // the whole level loop serial; at graded SFs this resolves to 1
    val nScc = sccIds.count()
    val npC = graft.Par.loopWidth(nScc)
    // the condensation map reads fwbwScc's prepared (distinct, self-
    // loop-free, checkpointed) edge frame
    val ce0 = r.edges
      .join(scc.select(col("id").as("u"), col("scc_id").as("cu")),
        Seq("u"))
      .join(scc.select(col("id").as("v"), col("scc_id").as("cv")),
        Seq("v"))
      .filter(col("cu") =!= col("cv"))
      .select(col("cu").as("u"), col("cv").as("v")).distinct()
    val ce = (if (npC == 1) ce0.coalesce(1) else ce0.repartition(npC))
      .localCheckpoint() // loop-carried, re-joined every level round
    val lvl = dagLevels(ce, sccIds, npC, math.max(64L, nScc))
    val sizes = scc.filter(col("id") < 20000000L)
      .groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    val outDeg = ce.groupBy(col("u").as("scc_id"))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = ce.groupBy(col("v").as("scc_id"))
      .agg(count(lit(1)).as("in_deg"))
    sizes
      .join(lvl.select(col("n").as("scc_id"), col("lvl")), Seq("scc_id"))
      .join(inDeg, Seq("scc_id"), "left")
      .join(outDeg, Seq("scc_id"), "left")
      .select(col("scc_id"), col("scc_size"), col("lvl").as("level"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"))
      .orderBy("scc_id")
  }

  /** Longest-path levels over a condensed (acyclic) edge list `ce`
    * (columns u, v) starting every node in `sccIds` (column n) at
    * level 0 — gr20's loop body, extracted so GraphSpec can pin both
    * the levels and the DERIVED frame width. Two raw hops per round
    * (the fwbwScc discipline), monotone level-sum convergence, every
    * loop-carried frame coalesced to `npC` and eagerly checkpointed
    * (2 refs each: signature + next round). */
  private[graft] def dagLevels(ce: DataFrame, sccIds: DataFrame,
      npC: Int, maxRounds: Long): DataFrame = {
    // width > 1 needs a real repartition: the level frame is few BYTES
    // (two longs per SCC) so AQE byte-coalesces the aggregate to 1
    // task and a bare coalesce(npC) can never grow it back — the dd20
    // CPU-bound-over-few-bytes rule. npC == 1 keeps the shuffle-free
    // coalesce (the graded-SF path: plan and hash unchanged vs r9).
    def frame(df: DataFrame): DataFrame =
      (if (npC == 1) df.coalesce(1) else df.repartition(npC))
        .localCheckpoint() // 2 refs per round: signature + next round
    var lvl = frame(sccIds.withColumn("lvl", lit(0L)))
    var prevSig = -1L
    var guard = 0L
    var converged = false
    while (!converged) {
      guard += 1
      // bound derived from the live SCC count (rounds ≤ ⌈depth/2⌉ ≤ n)
      if (guard > maxRounds) sys.error("dagLevels did not converge " +
        s"in $maxRounds rounds — condensation not acyclic?")
      val p1 = ce.join(lvl.select(col("n").as("u"), col("lvl")), Seq("u"))
        .select(col("v").as("n"), (col("lvl") + 1L).as("lvl"))
      val p2 = ce.join(p1.select(col("n").as("u"), col("lvl")), Seq("u"))
        .select(col("v").as("n"), (col("lvl") + 1L).as("lvl"))
      val next = frame(lvl.unionAll(p1).unionAll(p2)
        .groupBy("n").agg(max("lvl").as("lvl")))
      val sig = next.agg(sum("lvl")).first().getLong(0)
      converged = sig == prevSig
      prevSig = sig
      lvl = next
    }
    lvl
  }

  /** gr19: UNSAMPLED fact-scale SCC audit — the direct evidence that
    * the [[fwbwScc]] loop survives the scale gr18's scaladoc promises.
    * gr18 mod-samples its node sets (c%50, s%5) only so the DuckDB
    * oracle's recursive closure stays tractable; this audit drops the
    * sampling entirely and runs the IDENTICAL construction — every
    * customer, every supplier, the full distinct trade edge set, hub-
    * factored home edges — emitting the counts-only summary
    * (n_nodes, n_edges, n_scc, max_scc, coverage). At sf0.1 that is
    * 16,000 real nodes and ~670k directed edges; measured end-to-end
    * runtime at sf0.1/local[32]: 12.0 s wall, Bench noop-sink
    * discipline (trim retires the acyclic fringe, one forward/backward
    * round captures the giant SCC, edge-aware loop frames keep the hop
    * joins parallel — see fwbwScc's np()). No SQL oracle CAN exist
    * at this scale (a closure
    * is exactly what the algorithm avoids — 15000² reach pairs);
    * instead `GraphSpec` pins the audit counts against an in-JVM
    * Tarjan SCC on the collected unsampled graph at fixture scale,
    * where the whole edge set fits on the driver.
    */
  val gr19SccAudit: Q = (s, d) => {
    val (nodes, edges) = entityGraph(s, d, sampled = false)
    val r = fwbwScc(nodes, edges)
    val scc = r.labels.filter(col("id") < 20000000L)
      .localCheckpoint() // 2 consumers: the count agg + the size agg
    val flat = scc.agg(count(lit(1)).as("n_nodes"),
      countDistinct(col("scc_id")).as("n_scc"))
    val big = scc.groupBy("scc_id").agg(count(lit(1)).as("sz"))
      .agg(max("sz").as("max_scc"))
    flat.crossJoin(broadcast(big)) // 1×1 frames
      .select(col("n_nodes"), lit(r.edgeCount).as("n_edges"),
        col("n_scc"), col("max_scc"))
      .withColumn("giant_share_x10k",
        expr("max_scc * 10000 DIV n_nodes")) // DIV: stays BIGINT
  }

  val gr16RichClub: Q = (s, d) => {
    // run on the 3-NN support gr03/gr05 use, whose asymmetric
    // symmetrization produces real degree spread
    val und = tradeKnn3(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .persist() // lazy-ok: condensed edge list; degree build + min-degree rejoin
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ks = deg.select(col("deg").as("k")).distinct()
    // N_k: nodes with deg > k — suffix count over the degree histogram
    val nk = ks.join(deg, col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    // E_k: edges with min endpoint degree > k
    val emin = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(least(col("da"), col("db")).as("md"))
    val ek = ks.join(emin, col("md") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    nk.join(ek, Seq("k"), "left")
      .filter(col("n_nodes") >= 2L)
      .select(col("k"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        expr("coalesce(n_edges, CAST(0 AS BIGINT)) * 2 * 10000 DIV " +
          "(n_nodes * (n_nodes - 1))").as("phi_x10k"))
      .orderBy("k")
  }

  /** gr02: TRIANGLE COUNT per nation on the undirected support of the
    * trade graph (an edge when either direction trades), via
    * DEGREE-ORDERED node iteration (Schank & Wagner '05 / the
    * vertex-ordering trick every distributed triangle counter uses):
    * orient each edge from its lower-(degree, id) endpoint to the
    * higher, generate wedges only at each edge's LOWEST-rank node, and
    * close them against the oriented edge set. Every wedge list is
    * bounded by out-degree ≤ O(√m) on any graph — a celebrity node with
    * 10⁸ undirected neighbors has tiny OUT-degree, so the quadratic
    * wedge blowup the naive a<b iterator suffers on skewed graphs never
    * happens. All stages are equi-joins on node ids (shuffle keys only).
    * The DuckDB oracle counts triangles NAIVELY — hash equality proves
    * the oriented enumeration finds exactly the same triangles.
    */
  val gr02Triangles: Q = (s, d) => {
    val und = tradeEdges(s, d)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient by (degree, id): src = lower-rank endpoint; carry the
    // dst rank so wedge pairs order without another join
    val oriented = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("ddst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"),
            col("da").as("ddst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.ddst").as("ddst"))
      .persist() // lazy-ok: condensed wedge edges
    val wedges = oriented.select(col("src"), col("dst").as("v"),
        col("ddst").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"),
        col("ddst").as("dw")), Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // closing edge is oriented v→w by construction (rank(v) < rank(w))
    val triangles = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    val perNode = triangles.select(col("x").as("id"))
      .unionAll(triangles.select(col("y").as("id")))
      .unionAll(triangles.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    nodes.join(perNode, Seq("id"), "left")
      .select(col("id").as("nationkey"), col("n_name"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("nationkey")
  }

  /** gr03: COMMUNITY DETECTION by synchronous label propagation (Raghavan
    * et al. 2007) on the k-NN SPARSIFICATION of the trade graph: each
    * nation keeps its 3 heaviest trade partners (deterministic — weight
    * desc, id tiebreak), edges symmetrize, and 3 sync rounds of "adopt
    * the most frequent label in the closed neighborhood (tie → smallest
    * label)" assign communities. Fixed round count + total tie order
    * make sync LPA fully deterministic — the classic async variant is
    * not, which is why distributed LPA (GraphX, Grappolo) runs sync
    * rounds too. Each round = one neighbor join + one count aggregate +
    * one argmax window, all keyed by node id; the k-NN sparsification
    * bounds degree, so a round's shuffle is O(k·nodes) regardless of how
    * dense the raw trade matrix is.
    */
  /** The symmetrized 3-NN trade graph + 3-round sync-LPA labels
    * (shared by gr03's community listing and gr11's modularity score).
    */
  private def lpaPartition(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // EAGER (the dd20/ss20 rule, single-job form): the 3 LPA rounds are
    // UNROLLED into one plan that references sym once per round — and
    // gr11 adds 3 more references (degrees, both internal sides, m) —
    // so a lazy persist re-ran the 4-table trade join per reference
    // before the cache filled
    val sym = symmetrize(tradeKnn3(s, d))
      .coalesce(1) // ≤75 condensed edges; broadcast rebuilds per round
      .localCheckpoint()
    var labels = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_nationkey").as("lbl"))
    for (_ <- 1 to 3) {
      val msgs = sym
        .join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .select(col("src").as("id"), col("lbl"))
        .unionAll(labels) // closed neighborhood: self vote included
      val wArg = Window.partitionBy("id")
        .orderBy(col("n").desc, col("lbl"))
      labels = msgs.groupBy("id", "lbl").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(wArg))
        .filter(col("rn") === 1)
        .select("id", "lbl")
    }
    (sym, labels)
  }

  val gr03LabelProp: Q = (s, d) => {
    val (_, labels) = lpaPartition(s, d)
    t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
      .join(labels, Seq("id"))
      .select(col("id").as("nationkey"), col("n_name"),
        col("lbl").as("community"))
      .orderBy("nationkey")
  }

  /** gr11: MODULARITY SCORING of gr03's partition — the quality gate
    * community detection ships with (Newman 2004): per community,
    * Q_c = e_c/m − (d_c/2m)², emitted EXACTLY as the integer pair
    * (q_num, q_den) = (4·e_c·m² − d_c²·m, 4m³) — no division at all,
    * so the score that decides "are these communities better than
    * random" is bit-reproducible (q_num may be negative; only
    * subtraction touches signed values — the q83 signed-division
    * hazard never arises). A partition is good when Σ q_num/q_den is
    * well above 0; per-community rows expose which communities carry
    * the structure.
    *
    * Scale: runs entirely on the condensed sparsified graph (≤75
    * undirected edges here; O(k·nodes) after any k-NN sparsification)
    * — two label joins + counter aggregates; m is a broadcast scalar.
    */
  val gr11Modularity: Q = (s, d) => {
    val (sym, labels0) = lpaPartition(s, d)
    // the 25-row label table feeds internal (×2 sides) + the rollup —
    // EAGER checkpoint, not lazy persist: the consumers race the cache
    // fill and each re-ran the whole 3-round LPA chain (the ss20/CC
    // round-0 lesson)
    val labels = labels0.localCheckpoint()
    val lab = labels.select(col("id"), col("lbl").as("community"))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val mDf = sym.agg(expr("count(1) div 2").as("m"))
    val internal = sym
      .join(lab.select(col("id").as("src"), col("community").as("ca")),
        Seq("src"))
      .join(lab.select(col("id").as("dst"), col("community").as("cb")),
        Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(expr("count(1) div 2").as("e_c"))
    val perC = lab.join(deg, Seq("id")).groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_c"))
    perC.join(internal, Seq("community"), "left")
      .crossJoin(broadcast(mDf))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("internal_edges"),
        col("d_c").as("degree_sum"), col("m"))
      .withColumn("q_num", expr(
        "4 * internal_edges * m * m - degree_sum * degree_sum * m"))
      .withColumn("q_den", expr("4 * m * m * m"))
      .orderBy("community")
  }

  /** gr04: K-CORE DECOMPOSITION (k=4) by iterative peeling (Matula &
    * Beck '83 distributed-style: drop every node whose degree in the
    * SURVIVING subgraph is < k, recompute, repeat) on the symmetrized
    * 3-NN sparsification of the trade graph — the standard "dense
    * sub-community vs periphery" split (a node is in the 4-core iff it
    * has ≥4 neighbors that themselves survive, recursively). Six peel
    * rounds are run UNCONDITIONALLY (fixed round count = deterministic
    * plan + oracle-replayable; `GraphSpec` proves the fixpoint lands by
    * round 5, so round 6 is an idempotence witness, not a guess).
    *
    * Scale: each round is one self-contained (edges ⋈ alive ⋈ alive →
    * count ≥ k) pass keyed by node id on the CONDENSED graph; the
    * iterated set is referenced twice per round (both endpoints), so the
    * loop localCheckpoints every round — the dd13 plan-nesting lesson
    * (2^rounds plan refs otherwise). Peeling is the O(m) per-round
    * kernel every distributed k-core/degeneracy system (e.g. GraphX,
    * Galois) builds on.
    */
  val gr04Kcore: Q = (s, d) => {
    val sym = symmetrize(tradeKnn3(s, d))
      .persist() // lazy-ok: loop-carried edges; re-joined every peel round
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    def survivors(alive: DataFrame): DataFrame = sym
      .join(alive.withColumnRenamed("id", "src"), Seq("src"))
      .join(alive.withColumnRenamed("id", "dst"), Seq("dst"))
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
    var alive = nodes.select("id")
    for (r <- 1 to 6) {
      alive = survivors(alive).filter(col("dg") >= 4).select("id")
      // two alive-refs per round → plan nests 2^rounds unchecked; a
      // checkpoint every OTHER round caps nesting at 4× while halving
      // the serial job count (the dd13 rule applied at 2 refs, not 16)
      if (r % 2 == 0) alive = alive.localCheckpoint(true)
    }
    val coreDeg = survivors(alive)
      .select(col("id"), col("dg").as("core_degree"))
    nodes
      .join(alive.withColumn("in_core", lit(1L)), Seq("id"), "left")
      .join(coreDeg, Seq("id"), "left")
      .select(col("id").as("nationkey"), col("n_name"),
        coalesce(col("in_core"), lit(0L)).as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
      .orderBy("nationkey")
  }

  /** gr05: BFS K-HOP LEVELS — single-source shortest hop distance
    * (≤ 4 hops, the "who is within k degrees" reachability query) from
    * nation 0 on the symmetrized 3-NN trade graph, by 4 rounds of
    * Pregel-style min-level propagation: every round each reached node
    * offers level+1 to its neighbors, and a node keeps the minimum
    * offer. Fixed round count = deterministic plan; level after round r
    * IS the true hop distance for every node within r hops, so the
    * recursive-CTE oracle (all paths ≤ 4, min per node) agrees exactly.
    *
    * Scale: one (edges ⋈ levels → min-groupBy) pass per round, keyed by
    * node id on the condensed graph; the levels set is referenced twice
    * per round (propagate + carry), so the loop localCheckpoints every
    * other round (the gr04 cadence).
    */
  val gr05BfsLevels: Q = (s, d) => {
    val sym = symmetrize(tradeKnn3(s, d))
      .persist() // lazy-ok: loop-carried edges; re-joined every propagation round
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    var levels = nodes.select(col("id"),
      when(col("id") === 0, 0L).otherwise(lit(null).cast("bigint"))
        .as("lvl"))
    for (r <- 1 to 4) {
      val offers = sym
        .join(levels.filter(col("lvl").isNotNull)
          .select(col("id").as("src"), col("lvl")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg((min("lvl") + 1L).as("offer"))
      levels = levels.join(offers, Seq("id"), "left")
        .select(col("id"), least(col("lvl"), col("offer")).as("lvl"))
      if (r % 2 == 0) levels = levels.localCheckpoint(true)
    }
    nodes.join(levels, Seq("id"))
      .select(col("id").as("nationkey"), col("n_name"),
        coalesce(col("lvl"), lit(-1L)).as("level"))
      .orderBy("nationkey")
  }

  /** gr07: K-HOP HARMONIC CLOSENESS — per-node centrality over the
    * gr05 graph, bounded to 3 hops (Boldi & Vigna's axiom-friendly
    * harmonic variant of closeness, truncated the way any 100 TB graph
    * run truncates it: beyond a few hops the contribution is noise and
    * the frontier is the whole graph). Every node is a source — the
    * multi-source generalization of gr05's single-source BFS: 3
    * synchronous min-level rounds over (src, node, lvl) triples, then
    * one rollup of per-level reach counts and the harmonic sum.
    * Harmonic mass is INTEGER fixed-point (×6: levels 1/2/3 contribute
    * 6/3/2) — order-independent sums, drift-free cross-engine (the
    * gr01 discipline).
    *
    * Scale: state is (n_nodes × reached) triples — the k-hop bound is
    * what keeps that from becoming all-pairs BFS; each round is one
    * join keyed by node id on the condensed graph. The levels set is
    * referenced twice per round (offers + min-merge) ⇒ localCheckpoint
    * on the gr05 cadence.
    */
  val gr07Closeness: Q = (s, d) => {
    val sym = symmetrize(tradeKnn3(s, d))
      .persist() // lazy-ok: loop-carried edges; re-joined every propagation round
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    var levels = nodes.select(col("id").as("s"), col("id"),
      lit(0L).as("lvl"))
    for (r <- 1 to 3) {
      val offers = sym
        .join(levels.select(col("s"), col("id").as("src"), col("lvl")),
          Seq("src"))
        .groupBy(col("s"), col("dst").as("id"))
        .agg((min("lvl") + 1L).as("lvl"))
      levels = levels.unionAll(offers)
        .groupBy("s", "id").agg(min("lvl").as("lvl"))
      if (r % 2 == 0) levels = levels.localCheckpoint(true)
    }
    val agg = levels.filter(col("lvl") >= 1L)
      .groupBy("s")
      .agg(sum(when(col("lvl") === 1L, 1L).otherwise(0L)).as("reach1"),
        sum(when(col("lvl") === 2L, 1L).otherwise(0L)).as("reach2"),
        sum(when(col("lvl") === 3L, 1L).otherwise(0L)).as("reach3"),
        sum(expr("CASE lvl WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END"))
          .as("harmonic6"))
    nodes.join(agg, col("id") === col("s"), "left")
      .select(col("id").as("nationkey"), col("n_name"),
        coalesce(col("reach1"), lit(0L)).as("reach1"),
        coalesce(col("reach2"), lit(0L)).as("reach2"),
        coalesce(col("reach3"), lit(0L)).as("reach3"),
        coalesce(col("harmonic6"), lit(0L)).as("harmonic6"))
      .orderBy("nationkey")
  }

  /** gr08: BOUNDED BELLMAN-FORD — cheapest ≤4-hop WEIGHTED path from
    * nation 0 on the full trade graph (gr05 answers "how many hops";
    * this answers "at what cost", the routing/attribution query). Edge
    * cost = the trade count w (all-integer ⇒ exact sums, no float path
    * arithmetic); 4 synchronous relaxation rounds — after round r the
    * cost IS the true cheapest cost among paths of ≤ r edges, so the
    * recursive-CTE oracle (all ≤4-edge paths, min cost per node)
    * agrees exactly. A negative-cycle check is structurally unneeded
    * (costs are positive counts).
    *
    * Scale: each round is one (edges ⋈ costs → min-groupBy) pass on
    * the condensed graph — the Pregel shape; the bounded hop count is
    * the termination contract (deterministic plan, no driver-side
    * convergence test). Costs referenced twice per round (relax +
    * carry) ⇒ localCheckpoint on the gr05 cadence.
    */
  val gr08CheapestPath: Q = (s, d) => {
    val edges = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .persist() // lazy-ok: loop-carried edges; re-joined every relaxation round
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    var costs = nodes.select(col("id"),
      when(col("id") === 0, 0L).otherwise(lit(null).cast("bigint"))
        .as("cost"))
    for (r <- 1 to 4) {
      val relax = edges
        .join(costs.filter(col("cost").isNotNull)
          .select(col("id").as("src"), col("cost")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("cost") + col("w")).as("offer"))
      costs = costs.join(relax, Seq("id"), "left")
        .select(col("id"), least(col("cost"), col("offer")).as("cost"))
      if (r % 2 == 0) costs = costs.localCheckpoint(true)
    }
    nodes.join(costs, Seq("id"))
      .select(col("id").as("nationkey"), col("n_name"),
        coalesce(col("cost"), lit(-1L)).as("cost4"))
      .orderBy("nationkey")
  }

  /** gr06: K-TRUSS (k=4) — the EDGE-level cohesion peel that pairs with
    * gr04's node-level k-core: keep only edges supported by ≥ k−2 = 2
    * triangles WITHIN the surviving subgraph, recursively (Cohen '08).
    * A 4-truss edge's endpoints share ≥2 surviving common neighbors, so
    * trusses isolate the triangle-dense community fabric that degree
    * alone (k-core keeps stars) cannot — the standard community-core
    * primitive in large-graph analytics. Four peel rounds run
    * UNCONDITIONALLY (deterministic plan, oracle-replayable;
    * `GraphSpec` pins the fixpoint landing earlier and round-4
    * idempotence), then one support pass on the fixpoint labels
    * survivors.
    *
    * Scale: per-round support is the adjacency-intersection join —
    * edge (u,v) ⋈ adj(u) ⋈ adj(v) matched on the common neighbor —
    * all equi-joins keyed on node ids (ids only on every exchange),
    * wedge fan-out bounded by the 3-NN sparsified degree; the
    * degree-ordered orientation (gr02) is the documented upgrade if
    * the condensed graph ever grows skewed. The iterated edge set is
    * referenced three times per round (edge + both adjacency sides),
    * so the loop localCheckpoints EVERY round (the dd13/gr04
    * plan-nesting rule at 3 refs).
    */
  val gr06Ktruss: Q = (s, d) => {
    val und = symmetrize(tradeKnn3(s, d))
      .filter(col("src") < col("dst"))
      .select(col("src").cast("bigint").as("a"),
        col("dst").cast("bigint").as("b"))
      .persist() // lazy-ok: loop-carried base edges; peeled per round + final report
    def support(alive: DataFrame): DataFrame = {
      val symA = alive.unionAll(
        alive.select(col("b").as("a"), col("a").as("b")))
      alive.select(col("a").as("u"), col("b").as("v"))
        .join(symA.select(col("a").as("u"), col("b").as("x")), Seq("u"))
        .join(symA.select(col("a").as("v"), col("b").as("x")),
          Seq("v", "x"))
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
    }
    var alive = und
    for (_ <- 1 to 4) {
      alive = support(alive).filter(col("sup") >= 2)
        .select(col("u").as("a"), col("v").as("b"))
        .localCheckpoint(true)
    }
    val fin = support(alive)
      .select(col("u").as("a"), col("v").as("b"), col("sup"))
    und.join(fin, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        when(col("sup").isNotNull, 1L).otherwise(0L).as("in_truss"),
        coalesce(col("sup"), lit(0L)).as("support"))
      .orderBy("a", "b")
  }

  /** gr09: CO-PURCHASE PROJECTION (bipartite → unipartite, the
    * market-basket graph): project the order×part bipartite incidence
    * onto parts — an edge between two parts weighted by how many
    * orders contain BOTH — and score each recurrent pair by LIFT
    * (observed co-occurrence vs independence), the association-rule
    * statistic, as an integer ×10⁴ rational: pair_n·N·10⁴ div
    * (na·nb). This is the "customers also bought" / co-cited-docs /
    * co-clicked graph every recommender derives from a fact table.
    *
    * Scale: the pair stage is the classic bipartite-projection hazard
    * — its fan-out is Σ_orders w² where w is basket width. Here (and
    * in any order-line schema) w is bounded (≤13), so the per-order
    * equi-join generate is linear in the fact table; a power-law
    * basket source (users×domains) needs a per-basket top-w cap first
    * — same plan, one extra windowed prune. Pair counting shuffles
    * (pa, pb) id pairs only; the per-part support table grows with SF,
    * so its two denominator joins are plain shuffle joins (AQE
    * broadcasts when it fits) — only the single-row total is a forced
    * broadcast.
    */
  val gr09CoPurchase: Q = (s, d) => {
    val basket = t(s, d, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val pairs = basket.select(col("o"), col("p").as("pa"))
      .join(basket.select(col("o"), col("p").as("pb")), Seq("o"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 3)
    val supp = basket.groupBy("p").agg(count(lit(1)).as("n_ord"))
    val tot = basket.agg(countDistinct("o").as("n_orders"))
    pairs
      // supp is one row PER PART (SF-growing) — plain shuffle joins;
      // only the single-row total keeps its broadcast
      .join(supp.select(col("p").as("pa"), col("n_ord").as("na")),
        Seq("pa"))
      .join(supp.select(col("p").as("pb"), col("n_ord").as("nb")),
        Seq("pb"))
      .crossJoin(broadcast(tot))
      .select(col("pa"), col("pb"), col("pair_n"), col("na"), col("nb"),
        expr("pair_n * n_orders * 10000 div (na * nb)").as("lift_x10k"))
      .orderBy(col("pair_n").desc, col("pa"), col("pb"))
  }

  /** gr10: LINK PREDICTION — score absent edges of the trade graph by
    * the three classic neighborhood indices: common-neighbor count,
    * Jaccard, and resource allocation (Zhou et al. 2009, the
    * degree-penalized variant of Adamic-Adar that needs no log — each
    * shared neighbor z contributes floor(10⁴/deg(z)), an exact integer
    * both engines agree on). The graph is sparsified SCALE-STABLY
    * first: self-loops out, directions summed, then the TOP-120 edges
    * by weight (w desc, endpoint tiebreak) — a fixed-size skeleton
    * whatever the fact-table volume (a mean-relative cutoff goes
    * degenerate as SF grows: at sf0.1 no edge clears 1.5× the mean
    * because volume flattens the distribution).
    *
    * Scale: ranking happens on the CONDENSED ≤625-row edge list (the
    * gr01 rule — derivation is the expensive relational part, scoring
    * runs on the skeleton); the wedge join is O(Σ deg²) on the
    * skeleton, which the top-k cap bounds by construction. On graphs
    * that stay fact-sized, the same plan takes gr02's degree-ordered
    * wedge cap first. All shuffles carry node-id pairs and counters.
    */
  val gr10LinkPredict: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val dir = tradeEdges(s, d).filter(col("src") =!= col("dst"))
    // bigint ids up front: DuckDB's least/greatest promote INT32 pairs
    // to BIGINT, so the engine side matches dtype at the source
    val und = dir.select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"), col("w"))
      .groupBy("u", "v").agg(sum("w").as("wu"))
      // global sort over the condensed edge list only (constant-size)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("wu").desc, col("u"), col("v"))))
      .filter(col("rk") <= 120)
      .select("u", "v")
      // the skeleton feeds adj (×2), the anti-join and two degree joins
      // — without this the 4-table fact derivation recomputes per
      // consumer (the dd07 lesson, measured 2.0 s → 0.7 s at sf0.1).
      // Eager checkpoint A/B'd (r7): no win here — the consumers
      // materialize in one job, the cache fills before they race
      .persist() // lazy-ok: eager A/B'd (r7) no win — one-job consumers, see comment above
    val adj = und.select(col("u").as("a"), col("v").as("z"))
      .unionAll(und.select(col("v").as("a"), col("u").as("z")))
    val deg = adj.groupBy("a").agg(count(lit(1)).as("deg"))
    val wedges = adj
      .join(adj.select(col("a").as("b"), col("z")), Seq("z"))
      .filter(col("a") < col("b"))
    val scored = wedges
      .join(broadcast(deg.select(col("a").as("z"), col("deg").as("dz"))),
        Seq("z"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"),
        sum(expr("10000 div dz")).as("ra_x10k"))
    scored
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti") // predict ABSENT links only
      .join(broadcast(deg.select(col("a"), col("deg").as("da"))), Seq("a"))
      .join(broadcast(deg.select(col("a").as("b"), col("deg").as("db"))),
        Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        expr("cn * 10000 div (da + db - cn)").as("jaccard_x10k"),
        col("ra_x10k"))
      .orderBy("a", "b")
  }

  /** gr12: DEGREE ASSORTATIVITY (Newman 2002) — do high-degree nodes
    * trade with each other (assortative, r > 0) or with the periphery
    * (disassortative, r < 0)? The one-number topology fingerprint that
    * distinguishes social-like from infrastructure-like graphs. Pearson
    * correlation over edge-endpoint degrees, emitted EXACTLY as the
    * integer pair (r_num, r_den) = (M·Σjk − (Σj)², M·Σj² − (Σj)²) over
    * the directed edge list (each undirected edge counted both ways —
    * Newman's M = 2m convention): r_num is signed, so no division ever
    * happens (the q83 hazard; gr11's q_num/q_den precedent).
    *
    * Scale: degrees and sums live on the condensed undirected support
    * (≤625 rows); the fact-table work is the same one aggregate every
    * gr operator shares.
    */
  val gr12Assortativity: Q = (s, d) => {
    val und = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).cast("bigint").as("u"),
        greatest(col("src"), col("dst")).cast("bigint").as("v"))
      .distinct()
    val dir = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    val deg = dir.groupBy("a").agg(count(lit(1)).as("deg"))
    dir
      .join(broadcast(deg.select(col("a"), col("deg").as("dj"))), Seq("a"))
      .join(broadcast(deg.select(col("a").as("b"), col("deg").as("dk"))),
        Seq("b"))
      .agg(count(lit(1)).as("m_dir"),
        sum(expr("dj * dk")).as("sum_jk"),
        sum("dj").as("sum_j"),
        sum(expr("dj * dj")).as("sum_j2"))
      .select(col("m_dir"), col("sum_j"), col("sum_jk"), col("sum_j2"),
        expr("m_dir * sum_jk - sum_j * sum_j").as("r_num"),
        expr("m_dir * sum_j2 - sum_j * sum_j").as("r_den"))
  }

  /** gr13: HITS hubs & authorities (Kleinberg '99) on the weighted trade
    * digraph — the directed complement of gr01's PageRank: a nation is a
    * strong HUB when it buys from strong authorities, a strong AUTHORITY
    * when strong hubs buy from it (importer/exporter roles that PageRank's
    * single score conflates). Two full mutual-reinforcement rounds with
    * L1 (sum) normalization to 10⁶ micro-units after every half-step —
    * the textbook L2 norm needs sqrt of a sum of squares (libm, not
    * oracle-exact); L1 keeps every step a BIGINT sum + one integer DIV,
    * so the DuckDB replay matches bit-for-bit and — as with gr01's
    * fixed point — the result is reducer-order-independent at any scale.
    *
    * Scale: runs on the CONDENSED nations×nations graph (the gr01 rule);
    * each half-step is one equi-join + one groupBy, the normalizer a
    * scalar aggregate broadcast back. For a fact-sized graph the same
    * loop applies with the localCheckpoint round discipline. Overflow
    * headroom: post-norm scores are ≤10⁶ by construction, so the raw
    * half-step sums are bounded by 10⁶·Σw — with edge weights past
    * ~10⁹ (≫ this condensed graph at any SF), drop the micro-unit to
    * 10³ or pre-scale w by a constant divisor; same plan either way.
    */
  val gr13Hits: Q = (s, d) => {
    // eager checkpoint, not lazy persist: 4 half-steps + the final join
    // consume this — a lazy persist races its consumers and re-runs the
    // 4-way fact join per consumer (the dd20 lesson)
    val edges = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .localCheckpoint()
    val nodes = t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_name"))
    def l1norm(x: DataFrame, c: String): DataFrame = {
      val tot = x.agg(sum(c).as("tot"))
      x.crossJoin(broadcast(tot))
        .select(col("id"), expr(s"$c * 1000000 div tot").as(c))
        // each l1norm references x TWICE (normalizer + carry) — without
        // a per-half-step cut the plan nests 2^halfsteps copies of the
        // upstream join (the dd13 plan-nesting rule); the table is
        // nation-sized, so the eager cut costs microseconds
        .localCheckpoint()
    }
    var hub = nodes.select(col("id"), lit(1000000L).as("h"))
    var auth = nodes.select(col("id"), lit(1000000L).as("a"))
    for (_ <- 1 to 2) {
      auth = l1norm(nodes.select("id")
        .join(edges.join(hub.withColumnRenamed("id", "hid"),
            col("src") === col("hid"))
            .groupBy(col("dst").as("aid"))
            .agg(sum(expr("h * w")).as("a")),
          col("id") === col("aid"), "left")
        .select(col("id"), coalesce(col("a"), lit(0L)).as("a")), "a")
      hub = l1norm(nodes.select("id")
        .join(edges.join(auth.withColumnRenamed("id", "aid"),
            col("dst") === col("aid"))
            .groupBy(col("src").as("hid"))
            .agg(sum(expr("a * w")).as("h")),
          col("id") === col("hid"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("h")), "h")
    }
    nodes.join(auth, Seq("id")).join(hub, Seq("id"))
      .select(col("id").as("nationkey"), col("n_name"),
        col("h").as("hub_x1m"), col("a").as("auth_x1m"))
      .orderBy(col("auth_x1m").desc, col("nationkey"))
  }

  val queries: Map[String, Q] = Map(
    "gr13_hits" -> gr13Hits,
    "gr12_assortativity" -> gr12Assortativity,
    "gr11_modularity" -> gr11Modularity,
    "gr10_link_predict" -> gr10LinkPredict,
    "gr09_copurchase" -> gr09CoPurchase,
    "gr06_ktruss" -> gr06Ktruss,
    "gr14_ppr_seeded" -> gr14Ppr,
    "gr15_trade_balance" -> gr15TradeBalance,
    "gr16_rich_club" -> gr16RichClub,
    "gr17_scc" -> gr17Scc,
    "gr18_scc_fwbw" -> gr18SccFwbw,
    "gr19_scc_audit" -> gr19SccAudit,
    "gr20_condensation" -> gr20Condensation,
    "gr01_pagerank" -> gr01Pagerank,
    "gr02_triangles" -> gr02Triangles,
    "gr03_label_prop" -> gr03LabelProp,
    "gr04_kcore" -> gr04Kcore,
    "gr05_bfs_levels" -> gr05BfsLevels,
    "gr07_closeness" -> gr07Closeness,
    "gr08_cheapest_path" -> gr08CheapestPath,
  )

  private val edgesCte: String =
    """edges AS (
      |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "gr10_link_predict" ->
      s"""WITH $edgesCte,
         |und0 AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
         |    sum(w) AS wu
         |  FROM edges WHERE src <> dst GROUP BY 1, 2),
         |undr AS (SELECT u, v FROM (
         |    SELECT u, v, row_number() OVER (ORDER BY wu DESC, u, v) AS rk
         |    FROM und0) WHERE rk <= 120),
         |adj AS (SELECT u AS a, v AS z FROM undr
         |  UNION ALL SELECT v, u FROM undr),
         |deg AS (SELECT a, count(*) AS deg FROM adj GROUP BY a),
         |wed AS (SELECT x.a, y.a AS b, x.z
         |  FROM adj x JOIN adj y ON x.z = y.z AND x.a < y.a),
         |sc AS (SELECT w.a, w.b, count(*) AS cn,
         |    CAST(sum(10000 // d.deg) AS BIGINT) AS ra_x10k
         |  FROM wed w JOIN deg d ON d.a = w.z GROUP BY 1, 2),
         |na AS (SELECT sc.* FROM sc LEFT JOIN undr
         |    ON undr.u = sc.a AND undr.v = sc.b
         |  WHERE undr.u IS NULL)
         |SELECT na.a, na.b, na.cn,
         |  na.cn * 10000 // (da.deg + db.deg - na.cn) AS jaccard_x10k,
         |  na.ra_x10k
         |FROM na JOIN deg da ON da.a = na.a JOIN deg db ON db.a = na.b
         |ORDER BY na.a, na.b""".stripMargin,
    // gr09: pure counts and integer products — no HUGEINT sums to cast
    "gr09_copurchase" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |pairs AS (SELECT a.p AS pa, c.p AS pb, count(*) AS pair_n
        |  FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |supp AS (SELECT p, count(*) AS n_ord FROM b GROUP BY p),
        |tot AS (SELECT count(DISTINCT o) AS n_orders FROM b)
        |SELECT pa, pb, pair_n, sa.n_ord AS na, sb.n_ord AS nb,
        |  pair_n * n_orders * 10000 // (sa.n_ord * sb.n_ord)
        |    AS lift_x10k
        |FROM pairs
        |JOIN supp sa ON sa.p = pa
        |JOIN supp sb ON sb.p = pb
        |CROSS JOIN tot
        |ORDER BY pair_n DESC, pa, pb""".stripMargin,
    "gr06_ktruss" -> {
      // MATERIALIZED on every iterated CTE: round r references a_{r-1}
      // three times (edge + both adjacency sides) — inlined, the
      // upstream pipeline would nest 3^rounds times (dd13/gr04 lesson)
      def symOf(p: String) =
        s"(SELECT a, b FROM $p UNION ALL SELECT b, a FROM $p)"
      def round(r: Int, prev: String): String =
        s"""t$r AS MATERIALIZED (SELECT e.a, e.b, count(*) AS sup
           |  FROM $prev e
           |  JOIN ${symOf(prev)} s1 ON s1.a = e.a
           |  JOIN ${symOf(prev)} s2 ON s2.a = e.b AND s2.b = s1.b
           |  GROUP BY e.a, e.b),
           |a$r AS MATERIALIZED (SELECT a, b FROM t$r WHERE sup >= 2)"""
          .stripMargin
      s"""WITH $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |a0 AS MATERIALIZED (SELECT DISTINCT
         |    CAST(least(src, dst) AS BIGINT) AS a,
         |    CAST(greatest(src, dst) AS BIGINT) AS b FROM (
         |    SELECT src, dst FROM knn
         |    UNION ALL SELECT dst, src FROM knn)),
         |${(1 to 4).map(r => round(r, s"a${r - 1}")).mkString(",\n")},
         |fin AS (SELECT e.a, e.b, count(*) AS sup
         |  FROM a4 e
         |  JOIN ${symOf("a4")} s1 ON s1.a = e.a
         |  JOIN ${symOf("a4")} s2 ON s2.a = e.b AND s2.b = s1.b
         |  GROUP BY e.a, e.b)
         |SELECT u.a, u.b,
         |  CAST(CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS in_truss,
         |  coalesce(f.sup, 0) AS support
         |FROM a0 u LEFT JOIN fin f ON f.a = u.a AND f.b = u.b
         |ORDER BY u.a, u.b""".stripMargin
    },
    // gr17: 3-NN directed edges + a RECURSIVE-CTE transitive closure
    // (materialized by definition), mutual-pair SCC ids replayed
    "gr17_scc" ->
      s"""WITH RECURSIVE $edgesCte,
         |knn AS (SELECT src AS u, dst AS v FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |reach AS (SELECT u, v FROM knn
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN knn e ON e.u = r.v),
         |mutual AS (SELECT r1.u AS id, min(r1.v) AS mn
         |  FROM reach r1 JOIN reach r2 ON r2.u = r1.v AND r2.v = r1.u
         |  WHERE r1.u <> r1.v GROUP BY 1),
         |scc AS (SELECT CAST(n.n_nationkey AS BIGINT) AS id,
         |    CAST(least(n.n_nationkey, coalesce(m.mn, n.n_nationkey))
         |      AS BIGINT) AS scc_id
         |  FROM nation n LEFT JOIN mutual m ON m.id = n.n_nationkey),
         |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
         |  FROM scc GROUP BY 1)
         |SELECT scc.id, scc.scc_id, sz.scc_size,
         |  sz.scc_size >= 2 AS is_core
         |FROM scc JOIN sz USING (scc_id)
         |ORDER BY scc.id""".stripMargin,
    // gr18: the sampled entity trade graph + a recursive-CTE mutual-
    // reachability closure (tractable BECAUSE of the mod-sampling; the
    // Spark side runs FW-BW peeling and never builds a closure — the
    // oracle certifies the OUTPUT, not the algorithm). The home edges
    // replay the Spark side's hub factoring (customer→hub_n→supplier,
    // hub id = 20000000 + nationkey); hubs join the closure as nodes
    // and are filtered before sizing, exactly like the Spark side.
    "gr18_scc_fwbw" ->
      """WITH RECURSIVE
        |cust AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    c_nationkey AS nk
        |  FROM customer WHERE c_custkey % 50 = 0),
        |sup AS (SELECT CAST(s_suppkey + 10000000 AS BIGINT) AS id,
        |    s_nationkey AS nk, s_suppkey AS sk
        |  FROM supplier WHERE s_suppkey % 5 = 0),
        |hub AS (SELECT CAST(n_nationkey + 20000000 AS BIGINT) AS id,
        |    n_nationkey AS nk
        |  FROM nation),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT s.id AS u, c.id AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cust c ON o_custkey = c.id
        |  JOIN sup s ON l_suppkey = s.sk
        |  UNION
        |  SELECT c.id AS u, h.id AS v FROM cust c JOIN hub h
        |  ON c.nk = h.nk
        |  UNION
        |  SELECT h.id AS u, s.id AS v FROM hub h JOIN sup s
        |  ON h.nk = s.nk),
        |nodes AS (SELECT id FROM cust UNION ALL SELECT id FROM sup
        |  UNION ALL SELECT id FROM hub),
        |reach AS (SELECT u, v FROM e WHERE u <> v
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |mutual AS (SELECT r1.u AS id, min(r1.v) AS mn
        |  FROM reach r1 JOIN reach r2 ON r2.u = r1.v AND r2.v = r1.u
        |  WHERE r1.u <> r1.v GROUP BY 1),
        |scc AS (SELECT n.id,
        |    CAST(least(n.id, coalesce(m.mn, n.id)) AS BIGINT) AS scc_id
        |  FROM nodes n LEFT JOIN mutual m ON m.id = n.id
        |  WHERE n.id < 20000000),
        |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
        |  FROM scc GROUP BY 1)
        |SELECT scc.id, scc.scc_id, sz.scc_size,
        |  sz.scc_size >= 2 AS is_core
        |FROM scc JOIN sz USING (scc_id)
        |ORDER BY scc.id""".stripMargin,
    // gr20: gr18's closure replayed for labels (hubs kept as DAG
    // nodes), condensation as two label joins + DISTINCT, longest path
    // as a recursive CTE over the tiny condensed DAG (acyclic ⇒ finite;
    // UNION dedups (node, depth) pairs). Multi-consumed CTEs
    // MATERIALIZED (scc ×4, ce ×3 — the gr11 lesson).
    "gr20_condensation" ->
      """WITH RECURSIVE
        |cust AS (SELECT CAST(c_custkey AS BIGINT) AS id,
        |    c_nationkey AS nk
        |  FROM customer WHERE c_custkey % 50 = 0),
        |sup AS (SELECT CAST(s_suppkey + 10000000 AS BIGINT) AS id,
        |    s_nationkey AS nk, s_suppkey AS sk
        |  FROM supplier WHERE s_suppkey % 5 = 0),
        |hub AS (SELECT CAST(n_nationkey + 20000000 AS BIGINT) AS id,
        |    n_nationkey AS nk
        |  FROM nation),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT s.id AS u, c.id AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cust c ON o_custkey = c.id
        |  JOIN sup s ON l_suppkey = s.sk
        |  UNION
        |  SELECT c.id AS u, h.id AS v FROM cust c JOIN hub h
        |  ON c.nk = h.nk
        |  UNION
        |  SELECT h.id AS u, s.id AS v FROM hub h JOIN sup s
        |  ON h.nk = s.nk),
        |nodes AS (SELECT id FROM cust UNION ALL SELECT id FROM sup
        |  UNION ALL SELECT id FROM hub),
        |reach AS (SELECT u, v FROM e WHERE u <> v
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
        |mutual AS (SELECT r1.u AS id, min(r1.v) AS mn
        |  FROM reach r1 JOIN reach r2 ON r2.u = r1.v AND r2.v = r1.u
        |  WHERE r1.u <> r1.v GROUP BY 1),
        |scc AS MATERIALIZED (SELECT n.id,
        |    CAST(least(n.id, coalesce(m.mn, n.id)) AS BIGINT) AS scc_id
        |  FROM nodes n LEFT JOIN mutual m ON m.id = n.id),
        |ce AS MATERIALIZED (SELECT DISTINCT a.scc_id AS u,
        |    b.scc_id AS v
        |  FROM e JOIN scc a ON a.id = e.u JOIN scc b ON b.id = e.v
        |  WHERE a.scc_id <> b.scc_id),
        |dagn AS (SELECT DISTINCT scc_id AS n FROM scc),
        |lvl AS (SELECT n, CAST(0 AS BIGINT) AS l FROM dagn
        |  UNION
        |  SELECT ce.v, lvl.l + 1 FROM lvl JOIN ce ON ce.u = lvl.n),
        |lev AS (SELECT n AS scc_id, max(l) AS level FROM lvl
        |  GROUP BY 1),
        |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
        |  FROM scc WHERE id < 20000000 GROUP BY 1),
        |ideg AS (SELECT v AS scc_id, CAST(count(*) AS BIGINT) AS in_deg
        |  FROM ce GROUP BY 1),
        |odeg AS (SELECT u AS scc_id, CAST(count(*) AS BIGINT)
        |    AS out_deg
        |  FROM ce GROUP BY 1)
        |SELECT sz.scc_id, sz.scc_size,
        |  CAST(lev.level AS BIGINT) AS level,
        |  CAST(coalesce(ideg.in_deg, 0) AS BIGINT) AS in_deg,
        |  CAST(coalesce(odeg.out_deg, 0) AS BIGINT) AS out_deg
        |FROM sz JOIN lev USING (scc_id)
        |LEFT JOIN ideg USING (scc_id)
        |LEFT JOIN odeg USING (scc_id)
        |ORDER BY sz.scc_id""".stripMargin,
    // gr16: undirected support, degree histograms and the threshold
    // theta-joins replayed; phi DIV operands non-negative
    "gr16_rich_club" ->
      s"""WITH $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |und AS (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b FROM knn),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT a AS id FROM und UNION ALL SELECT b FROM und)
         |  GROUP BY 1),
         |ks AS (SELECT DISTINCT deg AS k FROM deg),
         |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY 1),
         |emin AS (SELECT least(da.deg, db.deg) AS md
         |  FROM und JOIN deg da ON da.id = und.a
         |  JOIN deg db ON db.id = und.b),
         |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
         |  FROM ks JOIN emin ON emin.md > ks.k GROUP BY 1)
         |SELECT nk.k, nk.n_nodes,
         |  coalesce(ek.n_edges, 0) AS n_edges,
         |  coalesce(ek.n_edges, 0) * 2 * 10000 //
         |    (nk.n_nodes * (nk.n_nodes - 1)) AS phi_x10k
         |FROM nk LEFT JOIN ek ON ek.k = nk.k
         |WHERE nk.n_nodes >= 2
         |ORDER BY nk.k""".stripMargin,
    // gr15: pair-flow matrix, rollups and top-partner rank replayed;
    // balance DIV operands non-negative (greatest(1, ·) guards the
    // all-zero nation)
    "gr15_trade_balance" ->
      """WITH flows AS (SELECT s.s_nationkey AS exp_nation,
        |    c.c_nationkey AS imp_nation,
        |    CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
        |      * 100 + 0.5) AS BIGINT)) AS BIGINT) AS flow_cents
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  GROUP BY 1, 2),
        |ex AS (SELECT exp_nation AS nationkey,
        |    CAST(sum(flow_cents) AS BIGINT) AS exports_cents
        |  FROM flows GROUP BY 1),
        |im AS (SELECT imp_nation AS nationkey,
        |    CAST(sum(flow_cents) AS BIGINT) AS imports_cents
        |  FROM flows GROUP BY 1),
        |tp AS (SELECT exp_nation AS nationkey,
        |    imp_nation AS top_export_partner
        |  FROM (SELECT *, row_number() OVER (PARTITION BY exp_nation
        |      ORDER BY flow_cents DESC, imp_nation) AS rn FROM flows)
        |  WHERE rn = 1)
        |SELECT n.n_nationkey AS nationkey, n.n_name,
        |  coalesce(ex.exports_cents, 0) AS exports_cents,
        |  coalesce(im.imports_cents, 0) AS imports_cents,
        |  coalesce(ex.exports_cents, 0) - coalesce(im.imports_cents, 0)
        |    AS net_cents,
        |  coalesce(ex.exports_cents, 0) * 10000 //
        |    greatest(1, coalesce(ex.exports_cents, 0)
        |      + coalesce(im.imports_cents, 0)) AS balance_x10k,
        |  tp.top_export_partner
        |FROM nation n
        |LEFT JOIN ex ON ex.nationkey = n.n_nationkey
        |LEFT JOIN im ON im.nationkey = n.n_nationkey
        |LEFT JOIN tp ON tp.nationkey = n.n_nationkey
        |ORDER BY nationkey""".stripMargin,
    // gr14: all three seeded rounds replayed; b feeds every round + the
    // final join → MATERIALIZED (the multi-consumer CTE rule); all
    // operands non-negative so // ≡ Spark's div.
    "gr14_ppr_seeded" ->
      s"""WITH $edgesCte,
         |e AS MATERIALIZED (SELECT src, dst, w,
         |    sum(w) OVER (PARTITION BY src) AS outw FROM edges),
         |b AS MATERIALIZED (SELECT n_nationkey AS id, n_name,
         |    CASE WHEN n_regionkey = 0 THEN 150000 //
         |      (SELECT count(*) FROM nation WHERE n_regionkey = 0)
         |      ELSE 0 END AS base,
         |    CASE WHEN n_regionkey = 0 THEN 1000000 //
         |      (SELECT count(*) FROM nation WHERE n_regionkey = 0)
         |      ELSE 0 END AS r0,
         |    n_regionkey = 0 AS is_seed
         |  FROM nation),
         |r1 AS (SELECT b.id, b.base + coalesce(CAST(sum(
         |      ((r0t.r * 850 // 1000) * e.w) // e.outw) AS BIGINT), 0)
         |      AS r
         |  FROM b LEFT JOIN e ON e.dst = b.id
         |  LEFT JOIN (SELECT id, r0 AS r FROM b) r0t ON r0t.id = e.src
         |  GROUP BY b.id, b.base),
         |r2 AS (SELECT b.id, b.base + coalesce(CAST(sum(
         |      ((r1.r * 850 // 1000) * e.w) // e.outw) AS BIGINT), 0)
         |      AS r
         |  FROM b LEFT JOIN e ON e.dst = b.id
         |  LEFT JOIN r1 ON r1.id = e.src GROUP BY b.id, b.base),
         |r3 AS (SELECT b.id, b.base + coalesce(CAST(sum(
         |      ((r2.r * 850 // 1000) * e.w) // e.outw) AS BIGINT), 0)
         |      AS r
         |  FROM b LEFT JOIN e ON e.dst = b.id
         |  LEFT JOIN r2 ON r2.id = e.src GROUP BY b.id, b.base)
         |SELECT b.id AS nationkey, b.n_name, b.is_seed, r3.r AS ppr
         |FROM b JOIN r3 ON r3.id = b.id
         |ORDER BY ppr DESC, nationkey""".stripMargin,
    "gr01_pagerank" ->
      s"""WITH $edgesCte,
         |e AS (SELECT src, dst, w,
         |    sum(w) OVER (PARTITION BY src) AS outw FROM edges),
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n),
         |r1 AS (SELECT n.id, 150000 + coalesce(CAST(sum(
         |      ((r0.r * 850 // 1000) * e.w) // e.outw) AS BIGINT), 0) AS r
         |  FROM n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN r0 ON r0.id = e.src GROUP BY n.id),
         |r2 AS (SELECT n.id, 150000 + coalesce(CAST(sum(
         |      ((r1.r * 850 // 1000) * e.w) // e.outw) AS BIGINT), 0) AS r
         |  FROM n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN r1 ON r1.id = e.src GROUP BY n.id),
         |r3 AS (SELECT n.id, 150000 + coalesce(CAST(sum(
         |      ((r2.r * 850 // 1000) * e.w) // e.outw) AS BIGINT), 0) AS r
         |  FROM n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN r2 ON r2.id = e.src GROUP BY n.id)
         |SELECT n.id AS nationkey, n.n_name, r3.r AS pr
         |FROM n JOIN r3 ON r3.id = n.id
         |ORDER BY pr DESC, nationkey""".stripMargin,
    // gr13: all four half-steps replayed; every score CTE is referenced
    // twice (normalizer + next step) → AS MATERIALIZED (CLAUDE.md rule);
    // all operands non-negative so // ≡ Spark's div.
    "gr13_hits" ->
      s"""WITH $edgesCte,
         |e AS MATERIALIZED (SELECT src, dst, w FROM edges
         |  WHERE src <> dst),
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM n),
         |a1r AS MATERIALIZED (SELECT n.id,
         |    coalesce(CAST(sum(h0.h * e.w) AS BIGINT), 0) AS a
         |  FROM n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN h0 ON h0.id = e.src GROUP BY n.id),
         |a1 AS MATERIALIZED (SELECT id, CAST(a * 1000000 //
         |    (SELECT CAST(sum(a) AS BIGINT) FROM a1r) AS BIGINT)
         |    AS a FROM a1r),
         |h1r AS MATERIALIZED (SELECT n.id,
         |    coalesce(CAST(sum(a1.a * e.w) AS BIGINT), 0) AS h
         |  FROM n LEFT JOIN e ON e.src = n.id
         |  LEFT JOIN a1 ON a1.id = e.dst GROUP BY n.id),
         |h1 AS MATERIALIZED (SELECT id, CAST(h * 1000000 //
         |    (SELECT CAST(sum(h) AS BIGINT) FROM h1r) AS BIGINT)
         |    AS h FROM h1r),
         |a2r AS MATERIALIZED (SELECT n.id,
         |    coalesce(CAST(sum(h1.h * e.w) AS BIGINT), 0) AS a
         |  FROM n LEFT JOIN e ON e.dst = n.id
         |  LEFT JOIN h1 ON h1.id = e.src GROUP BY n.id),
         |a2 AS MATERIALIZED (SELECT id, CAST(a * 1000000 //
         |    (SELECT CAST(sum(a) AS BIGINT) FROM a2r) AS BIGINT)
         |    AS a FROM a2r),
         |h2r AS MATERIALIZED (SELECT n.id,
         |    coalesce(CAST(sum(a2.a * e.w) AS BIGINT), 0) AS h
         |  FROM n LEFT JOIN e ON e.src = n.id
         |  LEFT JOIN a2 ON a2.id = e.dst GROUP BY n.id),
         |h2 AS MATERIALIZED (SELECT id, CAST(h * 1000000 //
         |    (SELECT CAST(sum(h) AS BIGINT) FROM h2r) AS BIGINT)
         |    AS h FROM h2r)
         |SELECT n.id AS nationkey, n.n_name, h2.h AS hub_x1m,
         |  a2.a AS auth_x1m
         |FROM n JOIN a2 ON a2.id = n.id JOIN h2 ON h2.id = n.id
         |ORDER BY auth_x1m DESC, nationkey""".stripMargin,
    "gr12_assortativity" ->
      s"""WITH $edgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM edges WHERE src <> dst),
         |dir AS (SELECT u AS a, v AS b FROM und
         |  UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT a, count(*) AS deg FROM dir GROUP BY a),
         |j AS (SELECT CAST(count(*) AS BIGINT) AS m_dir,
         |    CAST(sum(dj.deg) AS BIGINT) AS sum_j,
         |    CAST(sum(dj.deg * dk.deg) AS BIGINT) AS sum_jk,
         |    CAST(sum(dj.deg * dj.deg) AS BIGINT) AS sum_j2
         |  FROM dir JOIN deg dj ON dj.a = dir.a
         |  JOIN deg dk ON dk.a = dir.b)
         |SELECT m_dir, sum_j, sum_jk, sum_j2,
         |  m_dir * sum_jk - sum_j * sum_j AS r_num,
         |  m_dir * sum_j2 - sum_j * sum_j AS r_den
         |FROM j""".stripMargin,
    "gr11_modularity" ->
      s"""WITH $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM knn
         |    UNION ALL SELECT dst, src FROM knn)),
         |l0 AS (SELECT n_nationkey AS id, n_nationkey AS lbl FROM nation),
         |m1 AS (SELECT s.src AS id, l.lbl FROM sym s
         |    JOIN l0 l ON l.id = s.dst
         |  UNION ALL SELECT id, lbl FROM l0),
         |l1 AS MATERIALIZED (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY count(*) DESC, lbl) AS rn
         |    FROM m1 GROUP BY id, lbl) WHERE rn = 1),
         |m2 AS (SELECT s.src AS id, l.lbl FROM sym s
         |    JOIN l1 l ON l.id = s.dst
         |  UNION ALL SELECT id, lbl FROM l1),
         |l2 AS MATERIALIZED (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY count(*) DESC, lbl) AS rn
         |    FROM m2 GROUP BY id, lbl) WHERE rn = 1),
         |m3 AS (SELECT s.src AS id, l.lbl FROM sym s
         |    JOIN l2 l ON l.id = s.dst
         |  UNION ALL SELECT id, lbl FROM l2),
         |l3 AS MATERIALIZED (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY count(*) DESC, lbl) AS rn
         |    FROM m3 GROUP BY id, lbl) WHERE rn = 1),
         |lab AS MATERIALIZED (SELECT id, lbl AS community FROM l3),
         |deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY 1),
         |mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM sym),
         |internal AS (SELECT a.community,
         |    CAST(count(*) // 2 AS BIGINT) AS e_c
         |  FROM sym s JOIN lab a ON a.id = s.src
         |  JOIN lab b ON b.id = s.dst
         |  WHERE a.community = b.community GROUP BY 1),
         |pc AS (SELECT community, count(*) AS n_nodes,
         |    CAST(sum(deg) AS BIGINT) AS d_c
         |  FROM lab JOIN deg USING (id) GROUP BY 1)
         |SELECT pc.community, pc.n_nodes,
         |  COALESCE(internal.e_c, 0) AS internal_edges,
         |  pc.d_c AS degree_sum, mm.m,
         |  4 * COALESCE(internal.e_c, 0) * mm.m * mm.m
         |    - pc.d_c * pc.d_c * mm.m AS q_num,
         |  4 * mm.m * mm.m * mm.m AS q_den
         |FROM pc LEFT JOIN internal ON internal.community = pc.community
         |CROSS JOIN mm ORDER BY pc.community""".stripMargin,
    "gr03_label_prop" ->
      s"""WITH $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |sym AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM knn
         |    UNION ALL SELECT dst, src FROM knn)),
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |l0 AS (SELECT id, id AS lbl FROM n),
         |m1 AS (SELECT s.src AS id, l.lbl FROM sym s
         |    JOIN l0 l ON l.id = s.dst
         |  UNION ALL SELECT id, lbl FROM l0),
         |l1 AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY count(*) DESC, lbl) AS rn
         |    FROM m1 GROUP BY id, lbl) WHERE rn = 1),
         |m2 AS (SELECT s.src AS id, l.lbl FROM sym s
         |    JOIN l1 l ON l.id = s.dst
         |  UNION ALL SELECT id, lbl FROM l1),
         |l2 AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY count(*) DESC, lbl) AS rn
         |    FROM m2 GROUP BY id, lbl) WHERE rn = 1),
         |m3 AS (SELECT s.src AS id, l.lbl FROM sym s
         |    JOIN l2 l ON l.id = s.dst
         |  UNION ALL SELECT id, lbl FROM l2),
         |l3 AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY count(*) DESC, lbl) AS rn
         |    FROM m3 GROUP BY id, lbl) WHERE rn = 1)
         |SELECT n.id AS nationkey, n.n_name, l3.lbl AS community
         |FROM n JOIN l3 ON l3.id = n.id
         |ORDER BY nationkey""".stripMargin,
    "gr05_bfs_levels" ->
      s"""WITH RECURSIVE $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |sym AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM knn
         |    UNION ALL SELECT dst, src FROM knn)),
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |r AS (SELECT 0 AS id, 0 AS lvl
         |  UNION
         |  SELECT s.dst AS id, r.lvl + 1 FROM r
         |  JOIN sym s ON s.src = r.id WHERE r.lvl < 4),
         |lv AS (SELECT id, CAST(min(lvl) AS BIGINT) AS lvl
         |  FROM r GROUP BY id)
         |SELECT n.id AS nationkey, n.n_name,
         |  coalesce(lv.lvl, -1) AS level
         |FROM n LEFT JOIN lv ON lv.id = n.id
         |ORDER BY nationkey""".stripMargin,
    // gr08: the recursive walk enumerates all ≤4-edge paths from node 0
    // with accumulated integer cost; min(cost) per node is the round-4
    // Bellman-Ford answer exactly
    "gr08_cheapest_path" ->
      s"""WITH RECURSIVE $edgesCte,
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |r AS (SELECT 0 AS id, CAST(0 AS BIGINT) AS cost, 0 AS hops
         |  UNION
         |  SELECT e.dst AS id, r.cost + e.w, r.hops + 1 FROM r
         |  JOIN edges e ON e.src = r.id AND e.src <> e.dst
         |  WHERE r.hops < 4),
         |lv AS (SELECT id, min(cost) AS cost FROM r GROUP BY id)
         |SELECT n.id AS nationkey, n.n_name,
         |  coalesce(lv.cost, -1) AS cost4
         |FROM n LEFT JOIN lv ON lv.id = n.id
         |ORDER BY nationkey""".stripMargin,
    // gr07: the recursive walk enumerates all ≤3-hop paths per source
    // (UNION-deduped per (s, id, lvl)); min(lvl) is the hop distance,
    // the rollup replays the integer harmonic weights exactly.
    "gr07_closeness" ->
      s"""WITH RECURSIVE $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |sym AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM knn
         |    UNION ALL SELECT dst, src FROM knn)),
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |r AS (SELECT id AS s, id, 0 AS lvl FROM n
         |  UNION
         |  SELECT r.s, sm.dst AS id, r.lvl + 1 FROM r
         |  JOIN sym sm ON sm.src = r.id WHERE r.lvl < 3),
         |lv AS (SELECT s, id, min(lvl) AS lvl FROM r GROUP BY 1, 2),
         |agg AS (SELECT s,
         |    CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS reach1,
         |    CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS reach2,
         |    CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS reach3,
         |    CAST(sum(CASE lvl WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END)
         |      AS BIGINT) AS harmonic6
         |  FROM lv WHERE lvl >= 1 GROUP BY s)
         |SELECT n.id AS nationkey, n.n_name,
         |  coalesce(reach1, 0) AS reach1,
         |  coalesce(reach2, 0) AS reach2,
         |  coalesce(reach3, 0) AS reach3,
         |  coalesce(harmonic6, 0) AS harmonic6
         |FROM n LEFT JOIN agg ON agg.s = n.id
         |ORDER BY nationkey""".stripMargin,
    "gr04_kcore" -> {
      // AS MATERIALIZED on every iterated CTE: each a_{r-1} is referenced
      // twice by round r, so DuckDB's default CTE INLINING nests the whole
      // upstream pipeline 2^rounds times (the dd13 plan-nesting lesson on
      // the oracle side — at sf0.1 the inlined plan spilled >70 GB)
      def round(r: Int, prev: String): String =
        s"""d$r AS MATERIALIZED (SELECT e.src AS id, count(*) AS dg
           |  FROM sym e
           |  JOIN $prev x ON x.id = e.src
           |  JOIN $prev y ON y.id = e.dst GROUP BY 1),
           |a$r AS MATERIALIZED (SELECT id FROM d$r WHERE dg >= 4)""".stripMargin
      s"""WITH $edgesCte,
         |knn AS (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY w DESC, dst) AS rn
         |    FROM edges WHERE src <> dst) WHERE rn <= 3),
         |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM knn
         |    UNION ALL SELECT dst, src FROM knn)),
         |n AS (SELECT n_nationkey AS id, n_name FROM nation),
         |a0 AS (SELECT id FROM n),
         |${(1 to 6).map(r => round(r, s"a${r - 1}")).mkString(",\n")},
         |df AS (SELECT e.src AS id, count(*) AS dg FROM sym e
         |  JOIN a6 x ON x.id = e.src
         |  JOIN a6 y ON y.id = e.dst GROUP BY 1)
         |SELECT n.id AS nationkey, n.n_name,
         |  CAST(CASE WHEN a6.id IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS in_core,
         |  coalesce(df.dg, 0) AS core_degree
         |FROM n LEFT JOIN a6 ON a6.id = n.id
         |LEFT JOIN df ON df.id = n.id
         |ORDER BY nationkey""".stripMargin
    },
    "gr02_triangles" ->
      s"""WITH $edgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.a, e1.b, e2.b AS c
         |  FROM und e1 JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
         |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pern AS (SELECT id, count(*) AS n_triangles FROM (
         |    SELECT a AS id FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY id)
         |SELECT n_nationkey AS nationkey, n_name,
         |  coalesce(pern.n_triangles, 0) AS n_triangles
         |FROM nation LEFT JOIN pern ON pern.id = n_nationkey
         |ORDER BY nationkey""".stripMargin,
  )
}
