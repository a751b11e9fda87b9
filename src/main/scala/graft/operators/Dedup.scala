package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.functions.GraftFunctions

/** Deduplication operators for large-scale training-data pipelines
  * (builder mandate + SURVEY §7.2 item 8). No reference counterpart
  * (`/root/reference` has no dedup surface) — these are the extensions a
  * 100 TB corpus pipeline needs.
  *
  * Scale design notes:
  *   - exact dedup = hash-aggregate on the text (or its fingerprint): one
  *     shuffle keyed by content hash; at 100 TB shuffle the 64-bit
  *     fingerprint, never the full text, and resolve collisions per-bucket;
  *   - MinHash-LSH = per-row signature computation (pure codegen'd
  *     expressions, no shuffle), then ONE shuffle on (band, band_hash) to
  *     bucket candidates — the standard way to avoid the O(n²) pairwise
  *     join. Candidate verification re-joins only the bucketed survivors;
  *   - SimHash = per-row 64-bit fingerprint (custom codegen Expression),
  *     near-dup candidates = equal fingerprint (or banded prefixes) —
  *     again one shuffle on a long key.
  *
  * To make near-dup behavior deterministic and non-vacuous on the driver's
  * synthetic corpus (all `documents.text` values are distinct), dedup
  * demos run over a "re-crawl" corpus: documents UNION ALL a mutated copy
  * (doc_id offset by 10^7; text with its first token dropped → a true
  * near-duplicate, exact duplicate when the text has one token).
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private val COPY_OFFSET = 10000000L

  /** documents ∪ near-duplicate mutated copy (simulated re-crawl). */
  def recrawl(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val mutated = docs.select(
      (col("doc_id") + COPY_OFFSET).as("doc_id"),
      // drop the first token; single-token texts stay identical
      when(instr(col("text"), " ") > 0,
        expr("substring(text, instr(text, ' ') + 1)"))
        .otherwise(col("text")).as("text"))
    docs.unionAll(mutated)
  }

  /** A two-step re-crawl of `docs(doc_id, text)`: docs ∪ first token
    * dropped (`doc_id + COPY_OFFSET`) ∪ first two tokens dropped
    * (`doc_id + 2·COPY_OFFSET`) — duplicate chains of up to 3 docs whose
    * pairwise Jaccards differ. Single-token texts stay identical.
    */
  private def recrawlChain(docs: DataFrame): DataFrame = {
    val m1 = docs.select((col("doc_id") + COPY_OFFSET).as("doc_id"),
      dropTok.as("text"))
    val m2 = m1.select((col("doc_id") + COPY_OFFSET).as("doc_id"),
      dropTok.as("text"))
    docs.unionAll(m1).unionAll(m2)
  }

  /** dd01: exact dedup on the raw corpus — group on the full text, keep the
    * smallest doc_id as representative. SQL-expressible → DuckDB oracle.
    */
  private val dd01Exact: Q = (s, d) =>
    t(s, d, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** dd02: exact dedup on the re-crawl corpus via content fingerprint
    * (md5 here so DuckDB can mirror it; at scale the shuffle key is the
    * 128-bit digest, not the text). Every single-token doc collides with
    * its mutated copy → n_copies exercises >1 paths.
    */
  private val dd02ExactHash: Q = (s, d) =>
    recrawl(s, d)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fp", "n_copies")
      .orderBy("doc_id")

  /** dd03: MinHash signatures via the single-pass custom codegen
    * expression (graft.functions.MinHashSig): one tokenize, shingle
    * hashes combined from token hashes, all 16 lanes in one loop —
    * O(shingles·k) cheap mixes instead of k full string re-hashes.
    * Pure per-row computation, zero shuffle.
    */
  private val dd03MinhashSig: Q = (s, d) =>
    recrawl(s, d)
      .withColumn("sig", GraftFunctions.minhash_sig(col("text"), 16))
      .select(col("doc_id"), col("sig")(0).as("sig0"),
        col("sig")(15).as("sig15"),
        size(GraftFunctions.shingle_hashes64(col("text"))).as("n_shingles"))
      .orderBy("doc_id")

  /** dd04: full MinHash-LSH near-dup pipeline: 64 minhash lanes → 16
    * bands × 4 rows → explode bands → ONE shuffle on (band, band_hash) →
    * candidate pairs → exact Jaccard verification → pairs ≥ 0.5. The
    * mutated copies guarantee true positives.
    */
  /** Sorted-distinct shingle-hash table: the SortedIntersectCard verify
    * kernel runs a single merge pass per candidate pair (vs per-pair
    * hash-set builds); sorting once per doc at build time is what makes
    * that possible. Jaccard on sets is unchanged by the dedup+sort.
    */
  private def shingleTable(s: SparkSession, d: String): DataFrame =
    recrawl(s, d)
      .withColumn("shingles", sort_array(array_distinct(
        GraftFunctions.shingle_hashes64(col("text")))))
      .select("doc_id", "shingles")

  private val dd04MinhashLsh: Q = (s, d) => {
    // EAGER (the dd20/ss20 rule): both verify joins reference this in
    // ONE plan — a lazy persist re-ran the shingle build per reference
    val shingled = shingleTable(s, d)
      .transform(graft.Par.spread)
      .localCheckpoint()
    // Banding: 64 lanes → 16 bands × 4 rows. The LSH S-curve threshold is
    // (1/b)^(1/r) = (1/16)^(1/4) = 0.5 — centered exactly on the verify
    // threshold below, so pairs well above it are recovered with
    // probability ~1 (4×4 banding centers at 0.71 and probabilistically
    // drops pairs near 0.9 — observed in DedupSpec before the retune).
    // Only (band, band_hash, doc_id) is shuffled — shingle arrays stay
    // out of the candidate join and re-enter via two key joins after
    // pair dedup; at 100 TB this keeps the wide payload off the hot
    // shuffle.
    val banded = recrawl(s, d)
      .transform(graft.Par.spread)
      .withColumn("sig", GraftFunctions.minhash_sig(col("text"), 64))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 15), b -> xxhash64(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3], b))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .localCheckpoint() // eager: both sides of the candidate self-join
    val pairs = banded.select(col("band"), col("band_hash"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("band_hash"),
        col("doc_id").as("doc_b")), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(pairs, shingled, 0.5)
  }

  /** Join shingle sets back onto candidate pairs and keep those with
    * exact Jaccard ≥ threshold (shared verify stage for dd04/dd06).
    * |A∩B| via the codegen'd merge kernel over the sorted-distinct
    * arrays; |A∪B| = |A|+|B|-|A∩B| — no per-pair set allocation at all
    * (array_intersect + array_union built two hash sets per pair and
    * measured ~40% slower on the sf0.1 verify stage).
    */
  private def verifyJaccard(pairs: DataFrame, shingled: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(shingled.select(col("doc_id").as("doc_a"),
        col("shingles").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"),
        col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", GraftFunctions
        .sorted_intersect_card(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** dd05: SimHash fingerprints via the custom codegen Expression
    * (graft.functions.SimHash64); candidates = identical fingerprint.
    */
  private val dd05Simhash: Q = (s, d) =>
    recrawl(s, d)
      .withColumn("simhash", GraftFunctions.simhash64(col("text")))
      .select("doc_id", "simhash")
      .orderBy("doc_id")

  /** dd06: n-gram Jaccard near-dup with single-minhash blocking: block key
    * = min shingle hash under four seeds (k=1 minhash, OR-amplified ×4).
    * Docs sharing most shingles almost surely share a min — high-recall,
    * and bucket sizes stay bounded by shingle popularity rather than
    * O(corpus). Exact 3-gram Jaccard ≥ 0.6 verifies candidates.
    */
  private val dd06NgramJaccard: Q = (s, d) => {
    // shingle-hash table feeds blocking + both verify joins → EAGER
    // materialization (the dd20/ss20 rule: a lazy persist re-ran the
    // shingle build per plan reference); longs only — the text never
    // leaves the first projection
    val shingled = shingleTable(s, d).transform(graft.Par.spread).localCheckpoint()
    // 4 blocking lanes: a near-dup is missed only if EVERY lane's min
    // shingle fell in the mutated region — P ≈ (2/n)^4, negligible
    // (2 lanes measurably missed one planted pair in DedupSpec).
    // Persisted: the candidate self-join otherwise re-derives the 4×
    // per-shingle lane hashes on BOTH sides (measured ~0.5 s each at
    // sf0.1); the cache is 3 longs per (doc, lane).
    val blocked = shingled
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, 3),
          |  k -> array_min(transform(shingles, h -> xxhash64(h, k))))"""
          .stripMargin)))
      .withColumnRenamed("pos", "seed")
      .withColumnRenamed("col", "block")
      .localCheckpoint() // eager: both sides of the candidate self-join
    val pairs = blocked.select(col("seed"), col("block"),
        col("doc_id").as("doc_a"))
      .join(blocked.select(col("seed"), col("block"),
        col("doc_id").as("doc_b")), Seq("seed", "block"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(pairs, shingled, 0.6)
  }

  /** dd07: embedding near-dup — cosine ≥ threshold over a re-ingested copy
    * of the embeddings table (vec_id offset), joined blockwise via a
    * sign-LSH bucket so the join is NOT all-pairs. Exact cosine verifies.
    */
  private val dd07EmbeddingNearDup: Q = (s, d) => {
    val base = t(s, d, "embeddings").select("vec_id", "embedding")
    // re-ingested copy with deterministic ~0.1% noise per dimension — a
    // realistic near-duplicate (cosine ≈ 0.9999), not a bitwise clone
    val dup = base.select((col("vec_id") + COPY_OFFSET).as("vec_id"),
      expr("""transform(embedding, (x, i) ->
             |  CAST(x + 0.001 * ((pmod(hash(vec_id, i), 1000) / 500.0) - 1.0)
             |       AS FLOAT))""".stripMargin).as("embedding"))
    // The signature table feeds four plan branches (band self-join sides
    // + two verify joins); without materialization Spark recomputes the
    // scan+signature per branch (measured: 14 scans, 8 signature
    // computations). It is tiny relative to the corpus (id + norm +
    // bucket + vector) — at 100 TB this is the table you checkpoint.
    val all = base.unionAll(dup)
      .withColumn("norm", Similarity.l2norm(col("embedding")))
      .withColumn("bucket", Similarity.signBucket(col("embedding")))
      .persist() // lazy-ok: cheap norm+bucket projection (the Similarity:138 category)
    // OR-amplified banding over the 32-bit signature (4 bands × 8 bits):
    // near-dups with a few flipped sign bits still collide on some band —
    // exact-signature equality would silently drop them — while 256-way
    // buckets keep candidate counts sub-quadratic at scale.
    val banded = all.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 3), b -> named_struct('band', b, 'nib', (bucket div shiftleft(1, 8*b)) % 256))")))
      .select(col("vec_id"), col("col.band").as("band"),
        col("col.nib").as("nib"))
    // Band join on ids only; embeddings rejoin for the cosine verify.
    val pairs = banded.select(col("band"), col("nib"),
        col("vec_id").as("id_a"))
      .join(banded.select(col("band"), col("nib"),
        col("vec_id").as("id_b")), Seq("band", "nib"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = all.select("vec_id", "embedding", "norm")
    pairs
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b")), Seq("id_b"))
      .withColumn("cosine", round(
        Similarity.dot(col("emb_a"), col("emb_b")) /
          (col("norm_a") * col("norm_b")), 4))
      .filter(col("cosine") >= 0.99)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }


  /** dd08: fully oracle-checkable MinHash signatures — lane hashes are
    * md5(shingle || '#' || lane) and the lane value is the lexicographic
    * MIN hex digest, every step expressible identically in DuckDB (the
    * production-path xxhash kernels in dd03/dd04 are faster but not
    * cross-engine checkable).
    */
  private val dd08MinhashOracle: Q = (s, d) => {
    // Fused codegen kernels (shingle construction + per-lane md5 minima
    // in one pass) — byte-identical to the HOF expression pipeline they
    // replaced (split/concat_ws + 4× array_min(transform(md5))), which
    // evaluated interpreted and dominated this query's bench time.
    val lanes = (0 until 4).map(k => col("sig")(k).as(s"sig$k"))
    t(s, d, "documents")
      .select(col("doc_id"), GraftFunctions.md5_min_lanes(
        GraftFunctions.shingle_strings(col("text")), 4).as("sig"))
      .select((col("doc_id") +: lanes): _*)
      .orderBy("doc_id")
  }


  /** dd09: cross-engine-verifiable n-gram Jaccard — the set-similarity
    * kernel itself, computed on string shingles for a fixed deterministic
    * pair set (consecutive doc ids), hash-matched against DuckDB
    * (list_intersect/list_distinct mirror array_intersect/array_union
    * set semantics).
    */
  private val dd09JaccardOracle: Q = (s, d) => {
    // array_distinct at build time → |A∪B| = |A|+|B|-|A∩B| (one set
    // build per pair instead of two); persist → the shingle construction
    // (fused codegen kernel) runs once, not once per join side.
    val sh = t(s, d, "documents")
      .select(col("doc_id"),
        array_distinct(GraftFunctions.shingle_strings(col("text")))
          .as("shingles"))
      .persist() // lazy-ok: eager A/B'd (r8) 1.38x SLOWER — checkpoint write beats the double kernel run on this one-join query
    sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")),
        col("doc_b") === col("doc_a") + 1)
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("doc_a"), col("doc_b"), round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4)
        .as("jaccard"))
      .orderBy("doc_a")
  }

  /** General connected-components by iterative min-label propagation to a
    * fixpoint: each round every node takes the min label in its closed
    * neighborhood — one shuffle per round, O(graph diameter) rounds.
    * That is the standard large-scale CC shape (GraphX/Pregel run the
    * same loop; at 100 TB you'd add large-star/small-star contraction to
    * cut the round count on high-diameter graphs — dup graphs are
    * shallow, so plain propagation is the right default).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // Loop-frame partition count DERIVED from the node count (the gr18/
    // ss31 discipline): propagation stages are scheduling-latency-bound
    // over few bytes — dd22's profile showed 96-task rounds of trivial
    // data at 400-700 ms each — while the divisor keeps parallelism
    // growing with |V| on a fact-sized graph
    val np = graft.Par.loopWidth(nodes.count())
    val sym = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      // NO pre-partition: A/B'd (r7) — a forced repartition(32, a) here
      // replaced AQE's broadcast of the (tiny) sym side with a shuffle
      // join and cost dd22 1.35×; on edge sets that outgrow the
      // broadcast threshold AQE flips to shuffle on its own
      .coalesce(np) // each round re-builds the broadcast from these partitions
      .persist() // lazy-ok: loop-carried edge list; round 1 materializes it once
    var labels = nodes.select(col("id"), col("id").as("label"))
      .coalesce(np)
      .persist() // lazy-ok: loop-carried labels; replaced next round
    // Convergence witness: labels only ever decrease (min-propagation),
    // so sum(label) is strictly monotone until the fixpoint — one cheap
    // aggregate per round instead of a change-counting join. (Batching
    // two lazy propagation rounds per materialization was measured
    // SLOWER — the doubled join+aggregate plan per job cost more than
    // the extra driver action it saved.)
    var prevSum = -1L
    var rounds = 0
    var converged = false
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      var prop = labels.join(sym, labels("id") === sym("a"))
        .select(col("b").as("id"), col("label"))
        .unionAll(labels)
        .groupBy("id").agg(min("label").as("label"))
        .coalesce(np)
      // Truncate lineage every few rounds: each round stacks a
      // join+agg on the previous plan, and past ~10 levels analysis/
      // optimization time dwarfs execution (a 50-round graph would carry
      // a 50-deep tree into every job). localCheckpoint cuts the plan at
      // the materialized RDD without the disk round-trip of a reliable
      // checkpoint — right for an iterative-refinement loop whose
      // restart story is "rerun the query".
      prop = if ((rounds + 1) % 8 == 0) prop.localCheckpoint()
             else prop.persist() // lazy-ok: single-ref LPA loop (CLAUDE.md: every-8 checkpoint covers plan growth)
      val s = prop.agg(sum("label")).first().getLong(0)
      labels.unpersist()
      labels = prop
      converged = s == prevSum
      prevSum = s
      rounds += 1
    }
    sym.unpersist()
    // Never hand back possibly-wrong groups silently: diameter > rounds
    // means labels are still propagating (min-label CC converges only at
    // the fixpoint witness, sum unchanged).
    if (!converged) sys.error(
      s"connectedComponents: no fixpoint after $maxRounds rounds — " +
        "graph diameter exceeds the round cap; raise it or add " +
        "star-contraction for this graph shape")
    labels
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (large-star /
    * small-star, Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the high-diameter complement to
    * [[connectedComponents]]'s min-label propagation: O(log n) rounds on
    * ANY graph shape instead of O(diameter), at the cost of two grouped
    * shuffles per round instead of one.
    *
    *  - large-star: every node u emits (v, m) for each strictly-larger
    *    neighbor v, where m = min of u's closed neighborhood — larger
    *    neighbors re-point at u's best-known minimum.
    *  - small-star: edges directed at their larger endpoint u; u and all
    *    its (smaller) neighbors re-point at the neighborhood minimum.
    *
    * Convergence witness: the canonical (min, max) edge SET is compared
    * across rounds via (count, xor of per-edge hashes) — a set fixpoint
    * is the paper's termination condition, sound regardless of label
    * dynamics. At the fixpoint edges form stars rooted at component
    * minima, so labels read off as min(self, neighbors). Edges shuffle
    * as bare id pairs; per-round lineage is truncated exactly like the
    * propagation loop.
    */
  def connectedComponentsStar(nodes: DataFrame,
      edges0: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    def sig(e: DataFrame): (Long, Long) = {
      // count + XOR of per-edge hashes: an order-independent, overflow-free
      // signature that equals iff the DISTINCT edge sets are equal (up to
      // 64-bit hash collisions); edges are canonical-distinct by `canon`.
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    // localCheckpoint, NOT persist: round 0's plan references this ~16
    // times; a lazily-cached InMemoryRelation re-ran the canon build per
    // reference before the cache filled (the dd20 racing-lazy-persist
    // pattern, intra-job form) — measured 3.2 s vs 0.4 s for round 0 on
    // mm14's 7 k-edge graph. Eager checkpoint = one materialization and
    // every round reads an RDD scan, same as rounds 1+.
    var edges = canon(edges0.select(col("a"), col("b"))).localCheckpoint()
    // loop-frame partitions derived from the live edge count (the gr18/
    // ss31 discipline — contraction stages are scheduling-bound over few
    // bytes); the count job reads the just-checkpointed blocks, and each
    // round reuses its sig count for free
    var np = graft.Par.loopWidth(edges.count())
    var prevSig = (-1L, -1L)
    var rounds = 0
    var converged = false
    val maxRounds = 40 // log2-ish bound; a 2^40-node component exceeds any corpus
    while (!converged && rounds < maxRounds) {
      val sym = edges.unionAll(
        edges.select(col("b").as("a"), col("a").as("b")))
      val minL = sym.groupBy("a")
        .agg(min("b").as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      val large = sym.join(minL, Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
      // small-star over the large-star output: direct each edge at its
      // larger endpoint, re-point that endpoint and all its smaller
      // neighbors at the neighborhood minimum. large-star rows are
      // already strictly directed (a = v > u ≥ m = b), so no canon/
      // distinct is needed here — duplicate (v, m) emissions from
      // different u-groups are harmless under the min aggregate and
      // collapse in the round-final canon; skipping the mid-round
      // distinct saves one full shuffle per round.
      val dir = large.select(col("a").as("u"), col("b").as("v"))
      val minS = dir.groupBy("u").agg(min("v").as("m"))
      val small = dir.join(minS, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(minS.select(col("u").as("a"), col("m").as("b")))
      // Lineage MUST truncate every round here (unlike the propagation
      // loop's every-8): the round's plan references `edges` ~16 times
      // (sym twice, its min-join twice, the dir/min-join pair twice
      // more), so un-truncated lineage grows 16^rounds — the plan tree
      // itself becomes the memory bound long before execution does.
      // EAGER checkpoint + separate sig job: the lazy-checkpoint fold
      // (sig as the materializing action) was A/B'd and measured ~3 s
      // SLOWER on mm14 — the sig aggregate re-planned the whole round
      // pipeline instead of reading materialized blocks. The sig job on
      // checkpointed blocks costs ~0.1 s/round; the loop's real latency
      // was the round-0 input cache (see above).
      val next = canon(small).coalesce(np).localCheckpoint()
      val s = sig(next)
      edges.unpersist()
      edges = next
      converged = s == prevSig
      prevSig = s
      np = graft.Par.loopWidth(s._1)
      rounds += 1
    }
    if (!converged) sys.error(
      s"connectedComponentsStar: edge-set fixpoint not reached after " +
        s"$maxRounds rounds — components need > 2^$maxRounds nodes?")
    // star edges point children at the component min; minima keep only
    // larger neighbors, so min(self, neighbors) is the component label
    val lab = edges.unionAll(
        edges.select(col("b").as("a"), col("a").as("b")))
      .groupBy("a").agg(min("b").as("mn"))
      .select(col("a").as("id"), least(col("a"), col("mn")).as("label"))
    nodes.select(col("id"))
      .join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** dd10: near-dup GROUPING — the step after pair generation that every
    * dedup pipeline needs to pick one canonical doc per duplicate
    * cluster. Corpus = documents ∪ two mutated re-crawls (first token
    * dropped; first two tokens dropped) → duplicate chains of up to 3
    * docs whose pairwise Jaccards differ; exact Jaccard ≥ 0.5 between
    * the three candidate pairs per base doc forms the edge set, and
    * connectedComponents picks min-doc_id representatives. Oracle: the
    * same edges + a recursive-CTE label propagation in DuckDB.
    */
  /** The dd10 corpus (documents ∪ two mutated re-crawls) and its
    * verified near-dup edge set — factored out so split/leakage
    * operators (pp25) can reuse the exact graph the dup-grouping ran
    * on. Returns (corpus(doc_id, text), edges(a, b)).
    */
  private[operators] def nearDupGraph(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val corpus = recrawlChain(docs)
    // Edge verify runs on HASHED shingle sets (one-pass codegen kernel +
    // sorted-merge intersect) while the oracle uses string shingle sets:
    // Jaccard over the two is identical up to 64-bit hash collisions
    // (P ≈ 1e-11 across the corpus), and only edge membership — never an
    // output value — depends on it. This is the 100 TB shape: shingle
    // strings never leave the first projection.
    // EAGER (the dd20/ss20 rule): downstream plans reference this
    // shingle-hash table on both join sides — a lazy persist re-ran
    // the kernel per reference before the cache filled.
    val sh = corpus.select(col("doc_id"), sort_array(array_distinct(
        GraftFunctions.shingle_hashes64(col("text")))).as("sh"))
      .transform(graft.Par.spread)
      .localCheckpoint()
    val base = docs.select(col("doc_id").as("i"))
    val cand = base.select(col("i").as("a"), (col("i") + COPY_OFFSET).as("b"))
      .unionAll(base.select(col("i").as("a"),
        (col("i") + 2 * COPY_OFFSET).as("b")))
      .unionAll(base.select((col("i") + COPY_OFFSET).as("a"),
        (col("i") + 2 * COPY_OFFSET).as("b")))
    val edges = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("inter", GraftFunctions
        .sorted_intersect_card(col("sh_a"), col("sh_b")).cast("double"))
      .filter(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.5)
      .select("a", "b")
    (corpus, edges)
  }

  private def dedupGroupsVia(
      cc: (DataFrame, DataFrame) => DataFrame): Q = (s, d) => {
    val (corpus, edges) = nearDupGraph(s, d)
    val labels = cc(corpus.select(col("doc_id").as("id")), edges)
    labels.groupBy("label").agg(count(lit(1)).as("group_size"),
        collect_list("id").as("ids"))
      .select(explode(col("ids")).as("doc_id"), col("label").as("group_rep"),
        col("group_size"))
      .orderBy("doc_id")
  }

  private val dd10DedupGroups: Q = dedupGroupsVia(connectedComponents)

  /** dd28: TRANSITIVE-CHAINING AUDIT — the risk every union-find dedup
    * silently carries: A~B and B~C certify edges, but the component
    * {A,B,C} also merges A with C, which may sit BELOW the edge
    * threshold (here: base → drop-1 → drop-2 chains, where the 2-hop
    * pair loses two leading tokens). Per multi-member cluster: each
    * member's exact STRING-shingle Jaccard to the cluster rep, rolled
    * up as min/mean ×10⁴ with a `chained` flag (min below the 0.5 edge
    * threshold = the cluster contains a member similar to its rep only
    * transitively). This is the report that decides whether to ship
    * components as-is or re-verify pairs against the canonical (the
    * dd17/dd22 policy input).
    *
    * Output values use STRING shingles (the dd09 oracle rule) — edge
    * MEMBERSHIP still rides the hashed kernel per the nearDupGraph
    * contract (hash collisions can flip membership with P≈1e-11, never
    * an emitted value).
    *
    * Scale: member-vs-rep is LINEAR in cluster size (never the
    * quadratic within-cluster pair stage); shingle payloads join once
    * per member.
    */
  private val dd28ChainAudit: Q = (s, d) => {
    val (corpus, edges) = nearDupGraph(s, d)
    val labels = connectedComponents(
      corpus.select(col("doc_id").as("id")), edges)
    val shs = corpus.select(col("doc_id"), array_distinct(
        GraftFunctions.shingle_strings(col("text"))).as("shs"))
      // lazy persist: eager checkpoint A/B'd (r7) at no win — the
      // member/rep sides materialize within one job after the CC cost
      // dominates, so the cache fills before any race
      .persist() // lazy-ok: eager A/B'd (r7) no win — CC cost dominates, cache fills first
    val mem = labels.select(col("id").as("doc_id"),
      col("label").as("group_rep"))
    val multi = mem.groupBy("group_rep")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2L)
    mem.join(multi, Seq("group_rep"))
      .filter(col("doc_id") =!= col("group_rep"))
      .join(shs.select(col("doc_id"), col("shs").as("sh_m")), Seq("doc_id"))
      .join(shs.select(col("doc_id").as("group_rep"),
        col("shs").as("sh_r")), Seq("group_rep"))
      .withColumn("inter",
        size(array_intersect(col("sh_m"), col("sh_r"))).cast("bigint"))
      .withColumn("uni",
        (size(col("sh_m")) + size(col("sh_r"))).cast("bigint") -
          col("inter"))
      .withColumn("jx", expr("inter * 10000 DIV uni"))
      .groupBy("group_rep")
      .agg(max("n_members").as("n_members"),
        min("jx").as("min_j_to_rep_x10k"),
        expr("sum(jx) DIV count(1)").as("mean_j_to_rep_x10k"))
      .withColumn("chained", col("min_j_to_rep_x10k") < 5000L)
      .orderBy("group_rep")
  }

  /** dd29: INCREMENTAL ADMISSION AGAINST A FROZEN INDEX — the
    * daily-ingest half of the dedup lifecycle (ss23 is the same move
    * for IVF): a new batch (every 10th doc, re-encoded by dropping its
    * first token — the dd22 perturbation) is admitted against the
    * EXISTING corpus's minhash band index. The index side is the
    * dd20/dd22 signature (8 md5 lanes → 4 two-lane bands) computed
    * once and frozen — in production it is READ, not recomputed; only
    * the batch hashes fresh text. Candidates come from band equality
    * (new ⋈ frozen, never batch×corpus), are verified by exact trigram
    * Jaccard, and a new doc is admitted iff no verified match reaches
    * 0.5. Output per new doc: best verified base (−1 when none), the
    * Jaccard ×10⁴, and the admit bit — the keep/drop feed a nightly
    * ingest job writes.
    *
    * Scale: the batch side band-joins the frozen index on band keys
    * (ids + 64-char keys on the exchange); shingle payloads rejoin for
    * verified-candidate pairs only. Short docs (<3 tokens shingle to
    * the whole text, which the perturbation changes) admit — the
    * honest boundary of trigram fuzzing.
    */
  // ——— the dd29/dd35 admission machinery, ONE set of definitions so
  //     the in-plan and persisted-index formulations cannot drift ———

  /** The re-encode perturbation (drop the first token; single-token
    * texts stay identical) — each step of `recrawlChain` and the
    * near-dup half of every admission batch. */
  private val dropTok: Column = expr(
    """CASE WHEN instr(text, ' ') > 0
      |     THEN substring(text, instr(text, ' ') + 1)
      |     ELSE text END""".stripMargin)

  /** The ingest batch: near-dups (first-token drop, the dd22
    * perturbation) + genuinely novel docs (token-reversed — every
    * trigram changes), so BOTH admission outcomes are live. */
  private def admissionBatch(docs: DataFrame): DataFrame = {
    docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 20000000L).as("doc_id"), dropTok.as("text"))
      .unionAll(docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 30000000L).as("doc_id"),
          array_join(reverse(split(col("text"), " ")), " ").as("text")))
  }

  /** Signatures (8 md5 lanes over distinct trigram shingles) — spread +
    * EAGER checkpoint (the dd22/ss20 rule): each signature table feeds
    * the band join AND a shingle rejoin. */
  private[graft] def admissionSig(dfIn: DataFrame): DataFrame = dfIn
    .transform(graft.Par.spread)
    .withColumn("shingles",
      array_distinct(GraftFunctions.shingle_strings(col("text"))))
    .withColumn("sig", GraftFunctions.md5_min_lanes(col("shingles"), 8))
    .select("doc_id", "shingles", "sig")
    .localCheckpoint()

  /** 4 two-lane bands per doc → (id, band, bkey) postings. */
  private def admissionBands(df: DataFrame, idc: String): DataFrame = df
    .select(col("doc_id").as(idc), posexplode(expr(
      "transform(sequence(0, 3), b -> concat(sig[2*b], sig[2*b+1]))")))
    .withColumnRenamed("pos", "band")
    .withColumnRenamed("col", "bkey")

  /** Exact trigram-Jaccard verify of band candidates against ONE
    * shingle store → the qualifying (new_id, base_id, j_x10k) pairs.
    * Kept per-store so segmented indexes (dd36) verify each segment
    * bucket-aligned instead of shuffling a union. */
  private def admissionVerify(batch: DataFrame, cand: DataFrame,
      baseSh: DataFrame): DataFrame = cand
    .join(batch.select(col("doc_id").as("new_id"),
      col("shingles").as("sh_n")), Seq("new_id"))
    .join(baseSh, Seq("base_id"))
    .withColumn("inter",
      size(array_intersect(col("sh_n"), col("sh_b"))).cast("bigint"))
    .withColumn("uni",
      (size(col("sh_n")) + size(col("sh_b"))).cast("bigint") -
        col("inter"))
    .withColumn("j_x10k", expr("inter * 10000 DIV uni"))
    .filter(col("j_x10k") >= 5000L)
    .select("new_id", "base_id", "j_x10k")

  /** Per-new-doc best-match window over the verified pairs → the
    * admission table. */
  private def admissionDecision(newBatch: DataFrame,
      verified: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wBest = Window.partitionBy("new_id")
      .orderBy(col("j_x10k").desc, col("base_id"))
    val best = verified
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("base_id").as("matched_base"),
        col("j_x10k").as("best_j_x10k"))
    newBatch.select(col("doc_id"))
      .join(best.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("matched_base"), lit(-1L)).as("matched_base"),
        coalesce(col("best_j_x10k"), lit(0L)).as("best_j_x10k"),
        (col("matched_base").isNull).as("admitted"))
      .orderBy("doc_id")
  }

  private val dd29IncrementalAdmission: Q = (s, d) => {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val newBatch = admissionBatch(docs)
    val index = admissionSig(docs) // the frozen side
    val batch = admissionSig(newBatch)
    val cand = admissionBands(batch, "new_id")
      .join(admissionBands(index, "base_id"), Seq("band", "bkey"))
      .select("new_id", "base_id").distinct()
    admissionDecision(newBatch, admissionVerify(batch, cand,
      index.select(col("doc_id").as("base_id"),
        col("shingles").as("sh_b"))))
  }

  /** dd35: PERSISTED BAND INDEX — dd29's admission run against an index
    * that lives in STORAGE, not in the plan (the ss33 move for the
    * dedup family): the base corpus's band postings and shingle store
    * are written as BUCKETED tables (postings by a single concatenated
    * band key — bucket alignment wants one join key — shingles by base
    * id), reloaded from the catalog, and probed by the identical
    * candidate→verify→verdict path. The deliverable is dd29's EXACT
    * result (same oracle hash) off a persisted index — plus the plan
    * property that makes nightly ingest cheap at 100 TB: the
    * corpus-sized postings and shingle tables are read pre-bucketed on
    * their join keys, so each probe join shuffles only the (small)
    * batch side, NEVER the index. PlanAudit asserts both bucketed
    * scans and, with auto-broadcast closed, zero Exchange on the index
    * side of both joins.
    *
    * Scale: the write is one-time index construction (amortized over
    * every nightly batch in production; rebuilt per run here — the
    * honest benchmark cost, the ss33 note). Buckets = 8 at fixture
    * scale; production sizes them from the corpus (the pp37 rule).
    */
  private val dd35PersistedBands: Q = (s, d) => {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val newBatch = admissionBatch(docs)
    val tbls = Bucketing.publish(s, "dd35", bandSegment(
      "graft_dedup_bands", "graft_dedup_shingles", admissionSig(docs)))
    val batch = admissionSig(newBatch)
    admissionDecision(newBatch, bandServe(s, tbls, batch,
      bandPostings(batch, "new_id"), "graft_dedup_bands",
      "graft_dedup_shingles"))
  }

  /** dd36: DELTA-SEGMENT BAND INDEX — the ss34 move for the dedup
    * family, closing the index lifecycle dd35 opened: day-1's ADMITTED
    * (novel) docs are APPENDED as their own bucketed segment — base
    * postings are never rewritten, ingest cost is O(admitted) — and
    * day-2 probes base ∪ delta per-segment. The payoff this operator
    * exists to demonstrate: a day-2 re-encode of a day-1 novel doc is
    * caught ONLY because day-1's admissions joined the index
    * (matched_seg = 'delta'), while re-encodes of base docs still
    * resolve against the base segment — dedup against a frozen-only
    * index silently re-admits every near-dup of recent ingest.
    *
    * Day 1 = token-reversed docs (novel, the dd29 convention, ids
    * +30000000). Day 2 = first-token-drop re-encodes of base docs
    * (+20000000) AND of the day-1 docs (+10000000 on top). Output per
    * day-2 doc: the dd29 verdict columns + matched_seg
    * ('base'/'delta'/'none', derived from the matched id range).
    *
    * Scale: both probe joins are bucket-aligned on the persisted
    * segments (only the day-2 band postings shuffle — the dd35
    * property, per segment); the delta write reuses day-1's already-
    * checkpointed signatures filtered to the admitted set. Segment
    * count stays bounded by compaction (the ss36 policy — here one
    * delta, the minimal live case).
    */
  /** The band postings of `sig` in single-key (bandkey, idc) form —
    * the persisted-segment layout. */
  private[graft] def bandPostings(sig: DataFrame, idc: String): DataFrame =
    admissionBands(sig, idc)
      .select(concat_ws(":", col("band"), col("bkey")).as("bandkey"),
        col(idc))

  /** The band index's segment writer: the band postings of `sigs`
    * bucketed by `bandkey` (part `bands`) plus their shingle store
    * bucketed by `base_id` (part `sh`) — the parts every band build,
    * append, compaction and purge publishes. */
  private[graft] def bandSegment(bands: String, sh: String,
      sigs: DataFrame): Seq[Bucketing.Part] = Seq(
    Bucketing.Part(bands, bandPostings(sigs, "base_id"), Some("bandkey")),
    Bucketing.Part(sh, sigs.select(col("doc_id").as("base_id"),
      col("shingles").as("sh_b")), Some("base_id")))

  /** The verified (new_id, base_id, j_x10k) pairs of a probe batch
    * (`sigs` + its band postings `bands`) over EVERY segment of one
    * published map: each postings part named `bandPart*` pairs with
    * the shingle part of the same suffix under `shPart`. Per segment
    * the probe joins its postings bucket-aligned, takes distinct
    * candidates and verifies against that segment's shingles; the
    * segments merge only at the verified-pair stream. */
  private def bandServe(s: SparkSession, tbls: Map[String, String],
      sigs: DataFrame, bands: DataFrame, bandPart: String, shPart: String)
      : DataFrame =
    tbls.keys.filter(_.startsWith(bandPart)).toSeq.sorted.map { p =>
      admissionVerify(sigs,
        bands.join(s.table(tbls(p)), Seq("bandkey"))
          .select("new_id", "base_id").distinct(),
        s.table(tbls(shPart + p.stripPrefix(bandPart))))
    }.reduce(_.unionAll(_))

  /** dd36/dd37 shared scaffold: writes the base segment, runs day-1's
    * novel ingest and its admission against it, builds day-2's batch
    * and band postings. Returns (base sigs, day-1 ADMITTED sigs
    * [checkpointed — feeds two writes], day-2 batch, day-2 sigs,
    * day-2 postings [checkpointed — probes ≥2 segment tables]). */
  private def deltaScaffold(s: SparkSession, d: String, family: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val base = admissionSig(docs)
    // generation 1 of the caller's family: the base segment
    val tbls = Bucketing.publish(s, family,
      bandSegment("graft_band_base", "graft_sh_base", base))
    // day 1: novel ingest, admitted against the base segment only
    val day1 = docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 30000000L).as("doc_id"),
        array_join(reverse(split(col("text"), " ")), " ").as("text"))
    val sig1 = admissionSig(day1)
    val admitted1 = admissionDecision(day1, bandServe(s, tbls, sig1,
        bandPostings(sig1, "new_id"), "graft_band_", "graft_sh_"))
      .filter(col("admitted")).select("doc_id")
    val sig1adm = sig1.join(admitted1, Seq("doc_id")).localCheckpoint()
    // day 2: re-encodes of base docs AND of the day-1 novel docs
    val day2 = docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        dropTok.as("text"))
      .unionAll(day1.select((col("doc_id") + 10000000L).as("doc_id"),
        dropTok.as("text")))
    val sig2 = admissionSig(day2)
    val bands2 = bandPostings(sig2, "new_id").localCheckpoint()
    (base, sig1adm, day2, sig2, bands2)
  }

  /** The matched-segment tag, derived from the matched id range (the
    * compacted index carries no segment column — attribution must not
    * depend on physical layout). */
  private val matchedSeg: Column = expr(
    """CASE WHEN matched_base < 0 THEN 'none'
      |     WHEN matched_base >= 30000000 THEN 'delta'
      |     ELSE 'base' END""".stripMargin)

  private val dd36DeltaBandIndex: Q = (s, d) => {
    val (_, sig1adm, day2, sig2, bands2) = deltaScaffold(s, d, "dd36")
    // the admitted docs BECOME the delta segment, appended
    // (carry-forward) beside the untouched base
    val tbls = Bucketing.publish(s, "dd36",
      bandSegment("graft_band_delta", "graft_sh_delta", sig1adm),
      carryForward = true)
    admissionDecision(day2,
        bandServe(s, tbls, sig2, bands2, "graft_band_", "graft_sh_"))
      .withColumn("matched_seg", matchedSeg)
      .orderBy("doc_id")
  }

  /** dd37: BAND-INDEX COMPACTION — the ss36 move closing the dd35/dd36
    * lifecycle: base ∪ delta rewritten as ONE compacted bucketed
    * segment pair (segment count back to 1 — the policy that bounds
    * dd36's per-segment probe fan-out as deltas accumulate), probed by
    * the identical single-segment path. The contract is dd36's EXACT
    * bytes: band candidates over a union-of-postings table equal the
    * union of per-segment candidates, and the verify is pair-local, so
    * compaction provably changes no verdict (unlike ss36, where
    * retraining the quantizer may move candidates — band keys are
    * content hashes, layout-free). matched_seg derives from the id
    * range, so even the attribution column survives the physical merge.
    *
    * Scale: the compaction pays one full rewrite of both tables (the
    * honest cost ss37 prices); every nightly probe thereafter touches
    * one segment instead of k. Same bucket keys and count as the
    * segments it replaces.
    */
  private val dd37CompactedBands: Q = (s, d) => {
    val (base, sig1adm, day2, sig2, bands2) = deltaScaffold(s, d, "dd37")
    val tbls = Bucketing.publish(s, "dd37", bandSegment(
      "graft_band_compact", "graft_sh_compact", base.unionByName(sig1adm)))
    admissionDecision(day2,
        bandServe(s, tbls, sig2, bands2, "graft_band_", "graft_sh_"))
      .withColumn("matched_seg", matchedSeg)
      .orderBy("doc_id")
  }

  /** dd38: ERASURE PURGE OF THE BAND INDEX — the dd-family ss38,
    * closing the lifecycle symmetry gap the r11 verdict named: st25's
    * erasure ledger (users who filed a request on the event stream)
    * drives a rebuild of the dd35/dd36 persisted band index over LIVE
    * documents only, so an erased user's shingle postings are
    * PHYSICALLY ABSENT from storage (GDPR reclamation as a storage
    * property — the spec proves zero erased ids in the written
    * tables), not filtered at query time. Ownership maps doc → user by
    * doc_id % 1000; every planted id offset (1e7/2e7/3e7) is a
    * multiple of 1000, so re-encodes and delta copies inherit their
    * original's owner and an erasure wipes the whole family.
    *
    * The purged verdict comes from PROBING the purged tables (the
    * production path — PlanAudit holds both scans bucketed and
    * exchange-free). The pre-purge verdict is reconstructed PROVABLY
    * rather than re-probed: band keys are content hashes and the
    * Jaccard verify is pair-local, so the unpurged pair stream is
    * exactly (purged pairs) ∪ (erased-base pairs) — the dd37
    * layout-free-equality trick applied to erasure. Per day-2 doc the
    * output carries both verdicts plus `match_was_erased` (the old
    * best match belonged to an erased user) and `flipped` (the purge
    * changed admission) — a flip is structurally admit-only (purging
    * removes pairs, it cannot create them; the spec pins flipped ⟹
    * match_was_erased ∧ ¬old_admitted ∧ admitted).
    *
    * Scale: the purge pays one rewrite of both tables over live docs
    * (the honest cost, as ss38/ss37 price it — at 100 TB the live
    * filter is a broadcast anti-join against the per-user ledger);
    * probes stay bucket-aligned per dd35, and only band postings /
    * id pairs ever shuffle.
    */
  /** dd38's purge + probe builder, PRE-checkpoint: writes the purged
    * tables and returns the probe-verify frame unmaterialized so
    * `PlanAuditSpec` can audit the probe's own plan (eager checkpoints
    * hide builds from plan strings — the dd18Sigs rule). Also returns
    * the pieces the operator body needs downstream. */
  private[graft] def dd38PurgedVerify(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
         DataFrame) = {
    val (base, sig1adm, day2, sig2, bands2) = deltaScaffold(s, d, "dd38")
    // st25's ledger rule: an event with id % 97 = 0 is an erasure
    // request by its user
    val erased = graft.streaming.EventsStreaming.erasureCorpus(s, d)
      .filter(col("event_id") % 97 === 0)
      .select(col("user_id").as("owner")).distinct()
      .localCheckpoint() // 2 refs: the liveness tag + match_was_erased
    val tagged = base.unionByName(sig1adm)
      .withColumn("owner", pmod(col("doc_id"), lit(1000L)))
      .join(erased.withColumn("is_erased", lit(true)), Seq("owner"),
        "left")
      .withColumn("is_erased", coalesce(col("is_erased"), lit(false)))
      .drop("owner")
      .localCheckpoint() // 4 refs: two purged writes + erased verify pair
    val liveSigs = tagged.filter(!col("is_erased")).drop("is_erased")
    // the purge IS the rewrite: a full publish of the live-only
    // segment — the pointer swap is the moment the erased postings
    // stop being servable
    val tbls = Bucketing.publish(s, "dd38",
      bandSegment("graft_band_purged", "graft_sh_purged", liveSigs))
    // purged verdict: probe the WRITTEN tables (the production path)
    val verLive = bandServe(s, tbls, sig2, bands2, "graft_band_",
      "graft_sh_")
    (day2, sig2, bands2, erased, tagged, verLive)
  }

  private val dd38ErasurePurge: Q = (s, d) => {
    val (day2, sig2, bands2, erased, tagged, verLiveRaw) =
      dd38PurgedVerify(s, d)
    val verLive = verLiveRaw
      .localCheckpoint() // 2 refs: purged decision + the unpurged union
    val erasedSigs = tagged.filter(col("is_erased")).drop("is_erased")
    // erased-base pairs, in-plan (never written anywhere)
    val verErased = admissionVerify(sig2,
      bands2.join(bandPostings(erasedSigs, "base_id"), Seq("bandkey"))
        .select("new_id", "base_id").distinct(),
      erasedSigs.select(col("doc_id").as("base_id"),
        col("shingles").as("sh_b")))
    val purged = admissionDecision(day2, verLive)
      .withColumn("matched_seg", matchedSeg)
    val old = admissionDecision(day2, verLive.unionAll(verErased))
      .select(col("doc_id"),
        col("matched_base").as("old_matched_base"),
        col("admitted").as("old_admitted"))
    purged.join(old, Seq("doc_id"))
      .join(erased.withColumn("was_erased", lit(true)),
        pmod(col("old_matched_base"), lit(1000L)) === col("owner") &&
          col("old_matched_base") >= 0L, "left")
      .withColumn("match_was_erased",
        coalesce(col("was_erased"), lit(false)))
      .withColumn("flipped", col("admitted") =!= col("old_admitted"))
      .select(col("doc_id"), col("matched_base"), col("best_j_x10k"),
        col("admitted"), col("matched_seg"), col("old_matched_base"),
        col("match_was_erased"), col("flipped"))
      .orderBy("doc_id")
  }

  /** dd17: QUALITY-AWARE CANONICAL SELECTION — dd10's clusters, but the
    * kept representative is the BEST document (here: most tokens — the
    * re-crawl copies are truncations, so the original wins), not the
    * smallest id. Min-id canonicalization silently keeps whatever
    * crawled first; real pipelines keep the longest/cleanest member and
    * drop the rest. One extra token-count projection + an argmax window
    * per cluster on top of the CC labels; ids and counters on every
    * shuffle, text never.
    */
  private val dd17QualityCanonical: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val groups = dedupGroupsVia(connectedComponents)(s, d)
      .select("doc_id", "group_rep", "group_size")
    val docs = t(s, d, "documents").select("doc_id", "text")
    val toks = recrawlChain(docs)
      .select(col("doc_id"),
        (size(split(col("text"), " "))).cast("bigint").as("n_tokens"))
    val w = Window.partitionBy("group_rep")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    groups.join(toks, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("group_rep"), col("group_size"),
        col("n_tokens"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** dd13: dd10's dup grouping with the STAR-CONTRACTION components —
    * same graph, same oracle, O(log n)-round algorithm. Output is pinned
    * identical to dd10 (both label components by their min doc_id).
    */
  private val dd13DedupGroupsStar: Q = dedupGroupsVia(connectedComponentsStar)

  /** dd11: incremental ingest dedup — admit only new-batch docs whose
    * content fingerprint is absent from the existing corpus (the per-batch
    * gate of a continuously-fed training pipeline). LeftAnti join on the
    * md5 key: the corpus side reduces to its fingerprint column, so at
    * 100 TB the anti join shuffles 16-byte keys, never text.
    */
  private val dd11IncrementalDedup: Q = (s, d) => {
    val corpus = t(s, d, "documents")
    val newBatch = recrawl(s, d).filter(col("doc_id") >= COPY_OFFSET)
    newBatch
      .withColumn("fp", md5(col("text")))
      .join(corpus.select(md5(col("text")).as("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** dd14: corpus-level exact LINE dedup — the C4/RefinedWeb step that
    * strips boilerplate by keeping only the CANONICAL occurrence of each
    * repeated line across the whole corpus, then reassembling documents.
    * "Lines" are non-overlapping 8-token segments (the synthetic corpus
    * has no newlines; the operator shape is identical for real \n lines).
    *
    * Scale design: the canonical occurrence per fingerprint is an
    * ids-only min-struct aggregate (map-side partial, no sort, no window)
    * and the keep-flag join shuffles (fp, doc_id, pos) — 16-byte keys +
    * ids, NEVER text, so a viral boilerplate line cannot skew a text
    * shuffle. Line text is re-derived from the scan for the flag join +
    * reassembly (recompute-over-reshuffle, the dd04/dd07 payload rule);
    * reassembly itself shuffles each kept line once, keyed by doc_id —
    * unavoidable and skew-free.
    */
  val dd14LineDedup: Q = (s, d) => {
    def lines = t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, CAST((size(toks) - 1) div 8 AS INT)),
          |          i -> array_join(slice(toks, i * 8 + 1, 8), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"),
        col("col").as("line"))
    val keyed = lines.select(md5(col("line")).as("fp"),
      col("doc_id"), col("pos"))
    val canon = keyed.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
    val flags = keyed.join(canon, Seq("fp"))
      .select(col("doc_id"), col("pos"),
        (col("c.doc_id") === col("doc_id") &&
          col("c.pos") === col("pos")).as("keep"))
    lines.join(flags, Seq("doc_id", "pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        md5(expr(
          """array_join(transform(sort_array(
            |  collect_list(CASE WHEN keep THEN struct(pos, line) END)),
            |  x -> x.line), ' ')""".stripMargin)).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** dd15: ORACLE-ANCHORED LSH RECALL — the cross-engine quality gate for
    * the banded-MinHash path (companion to ss11, which anchors IVF ANN).
    * dd04's production kernels (xxhash64 lanes) are not DuckDB-expressible,
    * so this runs the SAME algorithm — shingle → MinHash → band → candidate
    * join → exact-Jaccard verify — on the portable md5 lane hashes of dd08
    * (8 lanes → 4 bands × 2 rows, S-curve center (1/4)^(1/2) = 0.5), and
    * measures recall per Jaccard decile against the PLANTED truth pairs
    * (doc, mutated re-crawl copy). Every step is relational, so DuckDB
    * replays banding, candidate generation AND the recall arithmetic
    * bit-for-bit. Truth generation is an equijoin on the planted offset
    * (never all-pairs); the band join shuffles (band, bkey, id) only —
    * at 100 TB you'd hash bkey to 8 bytes (as dd04 does), the shape is
    * identical.
    */
  private val dd15LshRecall: Q = (s, d) => {
    val sh = recrawl(s, d)
      // spread + EAGER materialization (the dd20 rule): the banding
      // branch and both truth sides race a lazy persist at the 2-way
      // input parallelism; the 8-lane signature rides the same pass so
      // the two band-join sides don't recompute it
      .transform(graft.Par.spread)
      .withColumn("shingles",
        array_distinct(GraftFunctions.shingle_strings(col("text"))))
      .withColumn("sig", GraftFunctions.md5_min_lanes(col("shingles"), 8))
      .select("doc_id", "shingles", "sig")
      .localCheckpoint()
    val banded = sh
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), b -> concat(sig[2*b], sig[2*b+1]))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    val cand = banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_b")), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val truth = sh.filter(col("doc_id") < COPY_OFFSET)
      .select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
      .join(sh.select((col("doc_id") - COPY_OFFSET).as("doc_a"),
        col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_a"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jac", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jac") >= 0.5)
      .select("doc_a", "doc_b", "jac")
    truth.join(cand.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .withColumn("decile",
        least(floor(col("jac") * 10).cast("bigint"), lit(9L)))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_true"), 2))
      .orderBy("decile")
  }

  /** dd22: END-TO-END FUZZY-DEDUP KEEP-SET — the production deliverable
    * the dd-family pieces exist for (what a SlimPajama/RefinedWeb release
    * actually ships): candidate DISCOVERY by banded MinHash (dd15's
    * portable 8-md5-lane → 4×2-band pipeline — no planted pair list,
    * the bands find the pairs), exact string-shingle Jaccard ≥ 0.5
    * verify on the candidates only, connected components over the
    * verified edges (dd10's min-label propagation), and one keep flag
    * per doc (cluster representative = min doc_id). One operator in,
    * keep-set out.
    *
    * Scale: the only corpus-sized shuffles carry (band, bkey, id) and
    * the id-pair distinct; shingle payloads rejoin per VERIFIED
    * candidate (the dd02/tx16 payload rule); CC runs on the
    * edge-induced subgraph with per-round localCheckpoint. DuckDB
    * replays discovery, verification AND the label fixpoint (recursive
    * CTE), so the keep-set is pinned cross-engine end-to-end.
    *
    * Measured stage breakdown (r8, sf0.1, per-stage listener):
    * shingle build+checkpoint ~0.26 s; band self-join + array verify
    * ~0.4 + 0.44 s on the pinned 32-task stages (CPU-bound kernel work
    * — the intended cost); the former bottleneck was the CC loop at
    * 3-4 rounds × ~0.43 s of 96-task stages over trivial bytes —
    * scheduling, not compute. Deriving the loop-frame partition count
    * from the node count (connectedComponents, the gr18/ss31
    * discipline) took the query 5.1 → 3.4 s; what remains is the
    * one-pass kernel work plus ~4 irreducible propagation barriers.
    */
  private val dd22FuzzyKeepset: Q = (s, d) => {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val corpus = recrawlChain(docs)
    // two shingle encodings from one pass over the corpus: md5-laned
    // STRING shingles feed the (portable) banding; sorted 64-bit HASHED
    // shingles feed the verify via the SortedIntersectCard merge kernel
    // — the dd10 rule: Jaccard over hashes equals Jaccard over strings
    // up to a 64-bit in-pair collision (P ≈ 1e-11 corpus-wide), only
    // edge MEMBERSHIP ever depends on it, and the hashed arrays are
    // ~2.5× smaller on the pair join (same wall-clock at sf0.1 within
    // host noise; the byte win is what matters at 100 TB pair volumes).
    val sh = corpus
      // spread FIRST (the ss20 rule): the parquet corpus is 1 input
      // split × 3 union branches, so the shingle kernels below would
      // run at parallelism 3 on a 32-core session — measured ~650 ms
      // per pass vs ~60 ms spread. An EXPLICIT partition count: the
      // kernels' cost is per-row CPU, and AQE's byte-based advisory
      // coalesced a bare repartition() of the ~15 MB text back to 2.
      .transform(graft.Par.spread)
      .withColumn("shingles",
        array_distinct(GraftFunctions.shingle_strings(col("text"))))
      .withColumn("hsh", sort_array(array_distinct(
        GraftFunctions.shingle_hashes64(col("text")))))
      // the 8-lane md5 signature rides the SAME pass: computed after
      // the checkpoint it would run once per band-join side (two
      // racing map stages, ~1 s each at the coalesced parallelism)
      .withColumn("sig", GraftFunctions.md5_min_lanes(col("shingles"), 8))
      .select("doc_id", "shingles", "hsh", "sig")
      // EAGER materialization, not lazy persist (the ss20 lesson): the
      // band self-join's two map stages race before a lazy cache fills,
      // and each re-ran every kernel — the profile showed FOUR ~650 ms
      // corpus passes where one suffices.
      .localCheckpoint()
    val banded = sh
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), b -> concat(sig[2*b], sig[2*b+1]))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    val cand = banded.select(col("band"), col("bkey"),
        col("doc_id").as("a"))
      .join(banded.select(col("band"), col("bkey"),
        col("doc_id").as("b")), Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val edges = cand
      // explicit fan-out for the payload + verify stages (the dd20
      // rule): the candidate set is ids-only and byte-small, so AQE's
      // byte-based advisory coalesces both stages; the merge-intersect
      // is CPU-bound and the a-join serializes the hash arrays. User
      // repartitions are non-coalescible and each equi-join reuses its
      // exchange — same exchange count, full parallelism.
      .transform(graft.Par.spreadBy(col("a")))
      .join(sh.select(col("doc_id").as("a"), col("hsh").as("sh_a")),
        Seq("a"))
      .transform(graft.Par.spreadBy(col("b")))
      .join(sh.select(col("doc_id").as("b"), col("hsh").as("sh_b")),
        Seq("b"))
      .withColumn("inter", GraftFunctions
        .sorted_intersect_card(col("sh_a"), col("sh_b")).cast("double"))
      .filter(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.5)
      .select("a", "b")
    // nodes from the SPREAD shingle table, not the 3-partition raw
    // union (same ids by construction): every CC round's label scan
    // inherits the parallelism
    // checkpoint the verified edge list: the CC loop's sym is a 2-branch
    // union over it, so an un-materialized edges would run the whole
    // band+verify pipeline twice inside round 0 (ReuseExchange only
    // dedups the shared exchanges, not the tails)
    val edgesCk = edges.localCheckpoint()
    val labels = connectedComponents(
      sh.select(col("doc_id").as("id")), edgesCk)
    labels.groupBy("label").agg(count(lit(1)).as("group_size"),
        collect_list("id").as("ids"))
      .select(explode(col("ids")).as("doc_id"),
        col("label").as("group_rep"), col("group_size"))
      .withColumn("kept", col("doc_id") === col("group_rep"))
      .orderBy("doc_id")
  }

  /** dd16: REPEATED-SUBSTRING detection (the ExactSubstr signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): fingerprint every SLIDING 8-token span (stride 1, vs
    * dd14's disjoint lines) and flag spans whose fingerprint recurs
    * anywhere in the corpus — within OR across documents. Per doc:
    * span count, repeated-span count, repeated fraction (the signal a
    * pipeline thresholds to cut or rewrite memorized boilerplate).
    *
    * Scale: the span table is (doc_id, pos, 16-byte fp) — stride-1
    * windows multiply rows by ~tokens-per-doc, but only fingerprints
    * ride the shuffle (partial+final count on fp, then an fp-keyed
    * rejoin); span text never leaves the map side. A full suffix-array
    * ExactSubstr finds MAXIMAL repeats; fixed-width spans are the
    * bounded-state approximation that parallelizes as two hash shuffles.
    */
  /** dd32: REPEATED-SPAN REMOVAL — the cut dd16 only flags (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * the ExactSubstr deliverable): every corpus-recurring ≥8-token span
    * keeps its CANONICAL occurrence (first in (doc_id, pos) order) and
    * every later occurrence is cut — per doc this emits the cleaned
    * text's fingerprint plus the removal accounting. Canonicality
    * needs no counts join: rank occurrences per fingerprint by
    * (doc_id, pos); rank ≥ 2 IS "redundant" (a rank-2 row exists only
    * when the span recurs), the dd14 keep-one contract at span
    * granularity. A token is removed when ANY redundant 8-window in
    * its doc covers it (union of windows, dd31's positional
    * arithmetic) — so a canonical occurrence's tokens can still fall
    * to a DIFFERENT overlapping redundant span, exactly as in the
    * reference algorithm. Self-repeats within one doc cut too.
    *
    * Scale: the span table is one stride-1 fingerprint pass (doc, pos,
    * md5) — linear; one fp-keyed window ranks occurrences (fingerprints
    * shuffle, never text); covered positions collapse to a per-doc
    * sorted int array that rejoins the doc-keyed token table (removed
    * arrays are ≤ doc length — no token-level shuffle anywhere); the
    * rebuild is the linear remove_tokens_at codegen kernel (two-pointer
    * merge of toks × sorted rem — the HOF filter's per-token
    * array_contains was O(len × removed) per doc, quadratic on a
    * boilerplate-heavy web doc). `OperatorInvariantSpec` pins
    * cleaned fingerprints + conservation against an in-JVM replay; the
    * DuckDB oracle replays the whole pipeline (explode formulation —
    * same bytes, dd18's twin rule).
    */
  /** Positional 8-gram fingerprints of a (doc_id, toks) frame —
    * (doc_id, pos, fp), the dd16/dd32/dd33 census primitive. */
  private def posSpans(toks: DataFrame): DataFrame = toks
    .filter(size(col("toks")) >= 8)
    .select(col("doc_id"), posexplode(expr(
      """transform(sequence(0, CAST(size(toks) - 8 AS INT)),
        |          i -> array_join(slice(toks, i + 1, 8), ' '))"""
        .stripMargin)))
    .select(col("doc_id"), col("pos"), md5(col("col")).as("fp"))

  /** Canonical-occurrence rank per fingerprint (the dd32 order). */
  private def rankSpans(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spans.withColumn("rn", row_number().over(
      Window.partitionBy("fp").orderBy("doc_id", "pos")))
  }

  /** (doc_id, toks, rem) from an already-RANKED span table. */
  private def removalFromRanked(toks: DataFrame, ranked: DataFrame)
      : DataFrame = {
    val remArr = ranked
      .filter(col("rn") >= 2)
      .select(col("doc_id"),
        explode(expr("sequence(pos, pos + 7)")).as("p"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("rem"))
    toks.join(remArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("rem"), expr("CAST(array() AS array<int>)"))
          .as("rem"))
  }

  private def docToks(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .transform(graft.Par.spread)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint() // 2 refs: span build + cleaned-text rebuild

  /** dd32's removal frame — (doc_id, toks, rem sorted positions). */
  private def spanRemovalFrame(s: SparkSession, d: String): DataFrame = {
    val toks = docToks(s, d)
    removalFromRanked(toks, rankSpans(posSpans(toks)))
  }

  private val dd32SpanRemoval: Q = (s, d) => {
    spanRemovalFrame(s, d)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("rem")).cast("long").as("n_removed"),
        // linear two-pointer rebuild (byte-identical to the HOF
        // concat_ws+filter formulation the oracle replays, but
        // O(len + removed) instead of O(len × removed) per doc)
        md5(GraftFunctions.remove_tokens_at(col("toks"), col("rem")))
          .as("fp_clean"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        (col("n_tokens") - col("n_removed")).as("n_kept"),
        expr("n_removed * 10000 DIV n_tokens").as("removed_x10k"),
        col("fp_clean"))
      .orderBy("doc_id")
  }

  /** dd33: REMOVAL-EFFECTIVENESS AUDIT — the measurement that closes
    * the dd32 loop: re-run the recurrence census on the CLEANED corpus
    * and put it beside the original. Removal does NOT trivially
    * extinguish recurrence — cutting a span joins its neighbors, so
    * NEW 8-grams form across cut boundaries and can themselves recur —
    * and this is the table that says whether one pass sufficed or the
    * pipeline needs iteration (Lee et al. run ExactSubstr to a
    * fixpoint for exactly this reason). Two rows (before/after), all
    * integer: span positions, redundant positions (rank ≥ 2 under the
    * dd32 canonical order), distinct and recurring fingerprints.
    *
    * Scale: dd32's linear machinery twice; the census is one fp-keyed
    * window + one constant-size aggregate per phase.
    */
  private val dd33RemovalAudit: Q = (s, d) => {
    def census(ranked: DataFrame, phase: String): DataFrame = ranked
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("rn") >= 2, 1L).otherwise(0L)).as("n_redundant"),
        countDistinct(col("fp")).as("distinct_fps"),
        countDistinct(when(col("rn") === 2, col("fp")))
          .as("recurring_fps"))
      .select(lit(phase).as("phase"), col("n_positions"),
        col("n_redundant"),
        expr("n_redundant * 10000 DIV n_positions")
          .as("redundant_x10k"),
        col("distinct_fps"), col("recurring_fps"))
    // ONE ranked span table serves both the before-census and the
    // removal itself (dd32 rebuilt it per consumer before r10)
    val toks = docToks(s, d)
    val ranked = rankSpans(posSpans(toks))
      .localCheckpoint() // 2 refs: before-census + removal positions
    val cleaned = removalFromRanked(toks, ranked)
      .select(col("doc_id"),
        GraftFunctions.remove_tokens_at(col("toks"), col("rem"))
          .as("text"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    census(ranked, "before")
      .unionAll(census(rankSpans(posSpans(cleaned)), "after"))
      .orderBy("phase")
  }

  /** dd34: EXACTSUBSTR FIXPOINT — iterate the dd32 cut until the dd33
    * recurrence census reaches zero. One pass does NOT suffice in
    * general: cutting a span splices its neighbors, and the spliced
    * 8-grams can themselves recur across docs (Lee et al. run
    * ExactSubstr to a fixpoint for exactly this reason — dd33 only
    * MEASURES whether one pass sufficed; this operator closes the
    * loop). Output: one census row per round — round 0 is the raw
    * corpus, the final row always has n_redundant = 0.
    *
    * Convergence: every round with a positive census removes at least
    * one full 8-token window, so n_positions (= Σ max(0, len−7))
    * strictly decreases — the loop terminates. The round GUARD derives
    * from the live round-0 census (the gr18 shape): recurrence decays
    * geometrically in practice (the planted boundary-chimera spec
    * converges in 2 cuts; the fixture corpus in 1), so a corpus still
    * recurring after max(8, ⌈log2(p0)⌉) cuts is a data anomaly the
    * operator refuses to silently grind through — loud
    * IllegalStateException with the census trajectory.
    *
    * Scale: per round, exactly dd32's linear machinery (fingerprints
    * shuffle, never text; the rebuild is the remove_tokens_at kernel);
    * the per-round census is a constant-size (1-row) driver read — the
    * documented convergence-signature pattern; every loop-carried
    * frame is eagerly checkpointed (2 refs each: census+removal /
    * spans+removal).
    */
  private val dd34ExactSubstrFixpoint: Q = (s, d) =>
    exactSubstrFixpoint(s, docToks(s, d))

  /** The dd34 loop over an arbitrary (doc_id, toks) frame — exposed so
    * the spec can drive it on a planted boundary-chimera corpus where
    * pass 1 provably leaves spliced recurrences (both loop branches
    * live).
    */
  private[graft] def exactSubstrFixpoint(s: SparkSession,
      toks0: DataFrame): DataFrame = {
    var toks = toks0
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    var round = 0L
    var maxRounds = -1L
    var done = false
    while (!done) {
      val ranked = rankSpans(posSpans(toks))
        .localCheckpoint() // 2 refs: census read + removal positions
      val c = ranked.agg(
        count(lit(1)).as("n_positions"),
        coalesce(sum(when(col("rn") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("n_redundant"),
        countDistinct(col("fp")).as("distinct_fps"),
        countDistinct(when(col("rn") === 2, col("fp")))
          .as("recurring_fps")).head() // constant-size: one census row
      val (pos, red, dfp, rfp) =
        (c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3))
      rows += ((round, pos, red,
        if (pos == 0) 0L else red * 10000L / pos, dfp, rfp))
      if (maxRounds < 0) // derive the guard from the LIVE round-0 state
        maxRounds = math.max(8L,
          (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, pos))).toLong)
      if (red == 0L) done = true
      else {
        if (round >= maxRounds) throw new IllegalStateException(
          s"dd34_exactsubstr_fixpoint: census still positive after " +
            s"$round cuts (guard $maxRounds); trajectory = " +
            rows.map(r => s"${r._1}:${r._3}").mkString(", "))
        toks = removalFromRanked(toks, ranked)
          .select(col("doc_id"),
            GraftFunctions.remove_tokens_at(col("toks"), col("rem"))
              .as("text"))
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .localCheckpoint() // 2 refs next round: spans + removal
        round += 1L
      }
    }
    import s.implicits._
    rows.toSeq
      .toDF("round", "n_positions", "n_redundant", "redundant_x10k",
        "distinct_fps", "recurring_fps")
      .orderBy("round")
  }

  private val dd16SubstringDedup: Q = (s, d) => {
    val spans = t(s, d, "documents")
      // spread + EAGER materialization (the dd20 rule): the count and
      // rejoin consumers each re-ran the stride-1 span fingerprinting
      // at the 1-split input parallelism (~600 ms per pass)
      .transform(graft.Par.spread)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, CAST(size(toks) - 8 AS INT)),
          |          i -> array_join(slice(toks, i + 1, 8), ' '))""".stripMargin)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("fp"))
      .localCheckpoint()
    val counts = spans.groupBy("fp").agg(count(lit(1)).as("cnt"))
    spans.join(counts, Seq("fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("repeat_frac",
        round(col("n_repeated").cast("double") / col("n_spans"), 4))
      .orderBy("doc_id")
  }

  /** dd18: ORACLE-ANCHORED SIMHASH — the cross-engine twin for dd05
    * (whose production kernel, the codegen SimHash64 Expression, folds
    * xxhash64 token hashes and is not DuckDB-expressible). Same
    * algorithm on portable arithmetic: per-token 64-bit signature = the
    * first 16 hex chars of md5(token); simhash bit j = majority vote of
    * the tokens' bit j. Measured as HAMMING-THRESHOLD PAIR RECALL over
    * the planted re-crawl truth (pattern: dd15): every (doc, mutated
    * copy) twin pair plus a (doc, NEXT doc's copy) control pair, with
    * the per-pair hamming distance and the ≤12 near-dup verdict — twins
    * sit ≤ ~11 bits (one dropped token barely moves 64 majority votes),
    * controls near the random-pair center of 32, so the threshold
    * separates and BOTH branches replay bit-for-bit in DuckDB.
    *
    * Scale: signatures are one fused map-side codegen pass
    * (GraftHashes.md5SimHashBits — the dd08 pattern: portable md5
    * arithmetic, production-speed kernel), and pairing is an equijoin
    * on the planted offset — never all-pairs.
    */
  /** dd18's signature table PRE-checkpoint — extracted (the ss20Corpus
    * pattern) so `PlanAuditSpec` can audit the kernel build's own plan:
    * the eager checkpoint below hides it from the final query's plan
    * string. */
  private[graft] def dd18Sigs(s: SparkSession, d: String): DataFrame =
    // fused codegen kernel (GraftHashes.md5SimHashBits): the HOF
    // formulation (64 interpreted filter() passes over the token sigs
    // per doc) measured 12.3 s at sf0.1; the kernel hashes each token
    // once and majority-votes in a tight loop — same bytes, ~40× less
    recrawl(s, d)
      .transform(graft.Par.spread)
      .withColumn("simhash", GraftFunctions.md5_simhash_bits(col("text")))
      .select("doc_id", "simhash")

  private val dd18SimhashOracle: Q = (s, d) => {
    val sigs = dd18Sigs(s, d)
      // eager (the dd20/ss20 rule): twin AND control joins consume
      // both sides — 4 plan refs re-ran the kernel under lazy persist
      .localCheckpoint()
    val a = sigs.filter(col("doc_id") < COPY_OFFSET)
      .select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sigs.filter(col("doc_id") >= COPY_OFFSET)
      .select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val twin = a.join(b, col("doc_b") === col("doc_a") + lit(COPY_OFFSET))
      .withColumn("pair_type", lit("twin"))
    val ctrl = a.join(b, col("doc_b") === col("doc_a") + lit(COPY_OFFSET + 1))
      .withColumn("pair_type", lit("control"))
    twin.unionAll(ctrl)
      .withColumn("hamming", expr(
        """CAST(size(filter(sequence(1, 64),
          |  i -> substring(sh_a, i, 1) <> substring(sh_b, i, 1))) AS BIGINT)"""
          .stripMargin))
      .withColumn("is_dup", col("hamming") <= lit(12))
      .select("doc_a", "doc_b", "pair_type", "hamming", "is_dup")
      .orderBy("doc_a", "doc_b")
  }

  /** dd19: ORACLE-ANCHORED EMBEDDING NEAR-DUP RECALL — the cross-engine
    * twin for dd07 (whose re-ingested copy uses Spark's engine-specific
    * `hash`). Planted twins use ss07's portable integer-LCG noise
    * (cosine ≈ 0.9999); the SAME sign-LSH 4×8-bit banding generates
    * candidate pairs (ids only on the shuffle), and each planted twin
    * pair (plus a next-vector control pair) reports its exact cosine and
    * whether banding surfaced it. DuckDB replays planting, signatures,
    * banding, the candidate join and both join branches — the
    * hash-compare certifies dd07's whole candidate-generation shape.
    */
  /** dd19's signed/normed corpus PRE-checkpoint — extracted (the
    * ss20Corpus pattern) so `PlanAuditSpec` can audit the sign-LSH
    * kernel build's own plan. */
  private[graft] def dd19Signed(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "embeddings").select("vec_id", "embedding")
    base.unionAll(Similarity.plantTwins(base, "0.001"))
      .withColumn("norm", Similarity.l2norm(col("embedding")))
      .withColumn("sig", Similarity.signBucket(col("embedding")))
  }

  private val dd19NeardupRecall: Q = (s, d) => {
    val all = dd19Signed(s, d)
      // eager (the dd20/ss20 rule): banding + two payload joins — a
      // lazy persist re-ran the norm/sig build per plan reference
      .localCheckpoint()
    val banded = all.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 3), b -> (sig div shiftleft(1, 8*b)) % 256)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    val cand = banded.select(col("band"), col("bval"),
        col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("bval"),
        col("vec_id").as("vec_b")), Seq("band", "bval"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val aSide = all.filter(col("vec_id") < COPY_OFFSET)
      .select(col("vec_id").as("vec_a"), col("embedding").as("e_a"),
        col("norm").as("n_a"))
    val bSide = all.filter(col("vec_id") >= COPY_OFFSET)
      .select(col("vec_id").as("vec_b"), col("embedding").as("e_b"),
        col("norm").as("n_b"))
    val twin = aSide.join(bSide, col("vec_b") === col("vec_a") + lit(COPY_OFFSET))
      .withColumn("pair_type", lit("twin"))
    val ctrl = aSide.join(bSide,
        col("vec_b") === col("vec_a") + lit(COPY_OFFSET + 1))
      .withColumn("pair_type", lit("control"))
    twin.unionAll(ctrl)
      .withColumn("cosine", round(
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 4))
      .join(cand.withColumn("lsh_hit", lit(1L)), Seq("vec_a", "vec_b"), "left")
      .select(col("vec_a"), col("vec_b"), col("pair_type"), col("cosine"),
        coalesce(col("lsh_hit"), lit(0L)).as("lsh_hit"))
      .orderBy("vec_a", "vec_b")
  }

  /** dd20: LSH OPERATING-POINT SWEEP — the tuning table every MinHash
    * deployment needs before choosing (bands × rows-per-band): the same
    * 8 portable md5 lanes banded four ways (8×1, 4×2, 2×4, 1×8), each
    * config measured for candidate volume, recall against the planted
    * truth (exact Jaccard ≥ 0.5) and precision (exact-verified
    * candidates / all candidates). On this corpus the table shows the
    * whole S-curve — 8×1: recall 1.0 / precision 0.15; 1×8: recall 0.80
    * / precision 1.0 — and pins 4×2 (recall 1.0, precision 0.96), the
    * config dd04/dd15 actually run, as the knee. DuckDB replays lanes,
    * slicing, candidate joins, verification and both ratios.
    *
    * Scale: one signature table feeds all four configs; candidate joins
    * shuffle (band, bkey, id) only, shingles rejoin per-candidate for
    * the exact verify (the payload rule); truth is the planted equijoin,
    * never all-pairs. The runtime concentrates in exactly the config the
    * table exists to warn about — 8×1's candidate explosion (~150
    * pairs/doc at sf0.1) pays one exact verify per candidate, which is
    * the measurement, not overhead; this is a run-once-per-corpus
    * tuning step, not an ingest-path operator.
    */
  private val dd20LshTuning: Q = (s, d) => {
    val sh = recrawl(s, d)
      // spread + EAGER materialization (the dd22/ss20 rule): six
      // consumers (truth ×2, banding ×2, verify ×2) race a lazy
      // persist and each re-ran the shingle+md5 kernels at the
      // 2-split input parallelism — measured six ~600 ms map stages
      // for a pipeline that costs ~100 ms once, spread
      .transform(graft.Par.spread)
      .withColumn("shingles",
        array_distinct(GraftFunctions.shingle_strings(col("text"))))
      .withColumn("sig", GraftFunctions.md5_min_lanes(col("shingles"), 8))
      .select("doc_id", "shingles", "sig")
      .localCheckpoint()
    val jaccardTrue = (col("inter") /
      (size(col("sh_a")) + size(col("sh_b")) - col("inter"))) >= 0.5
    val truth = sh.filter(col("doc_id") < COPY_OFFSET)
      .select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
      .join(sh.select((col("doc_id") - COPY_OFFSET).as("doc_a"),
        col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_a"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(jaccardTrue)
      .select("doc_a", "doc_b")
      .localCheckpoint() // eager: joined against every config's candidates
    // The four configs' candidate sets are NESTED: a b-lane band key is
    // the concat of FIXED-LENGTH (32-hex) lane minima, so a wider-band
    // collision implies every contained single-lane collision —
    // cand(1×8) ⊆ cand(2×4) ⊆ cand(4×2) ⊆ cand(8×1). One band join on
    // the widest config (8×1 — each lane its own band, so posexplode of
    // the signature IS the banding) + per-pair lane-equality flags
    // replaces four joins and four exact-Jaccard verifies (measured
    // 5.9 s → one shared verify); the oracle keeps the direct
    // four-config formulation and the results are identical.
    val banded = sh.select(col("doc_id"), posexplode(col("sig")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
    val cand8 = banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bkey"),
        col("doc_id").as("doc_b")), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val verified = cand8
      // explicit fan-out for the payload + verify stages: the 8×1
      // candidate set is ids-only and byte-small, so AQE's byte-based
      // advisory coalesced the payload join to 2 tasks — which then
      // serialized ~10⁵ pairs × both shingle arrays on 2 cores (the
      // measured 1.9 s + 3 s of the query). User repartitions are
      // non-coalescible and each equi-join reuses its exchange
      // directly — same exchange count, full parallelism.
      .transform(graft.Par.spreadBy(col("doc_a")))
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("sig").as("sig_a")), Seq("doc_a"))
      .transform(graft.Par.spreadBy(col("doc_b")))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("istrue", jaccardTrue)
      .withColumn("m", expr("zip_with(sig_a, sig_b, (x, y) -> x = y)"))
      .withColumn("c4", expr("exists(sequence(0, 3), b -> m[2*b] AND m[2*b+1])"))
      .withColumn("c2", expr(
        "exists(sequence(0, 1), b -> m[4*b] AND m[4*b+1] AND m[4*b+2] AND m[4*b+3])"))
      .withColumn("c1", expr("forall(m, x -> x)"))
      .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .withColumn("ht", coalesce(col("hit"), lit(0L)))
    import Similarity.cnt
    val wide = verified.agg(
      count(lit(1)).as("nc8"), cnt(col("c4")).as("nc4"),
      cnt(col("c2")).as("nc2"), cnt(col("c1")).as("nc1"),
      sum(col("ht")).as("nh8"),
      cnt(col("c4") && col("ht") === 1L).as("nh4"),
      cnt(col("c2") && col("ht") === 1L).as("nh2"),
      cnt(col("c1") && col("ht") === 1L).as("nh1"),
      cnt(col("istrue")).as("nt8"),
      cnt(col("c4") && col("istrue")).as("nt4"),
      cnt(col("c2") && col("istrue")).as("nt2"),
      cnt(col("c1") && col("istrue")).as("nt1"))
    val perConfig = wide.selectExpr(
      """stack(4,
        |  8L, 1L, nc8, nh8, nt8,
        |  4L, 2L, nc4, nh4, nt4,
        |  2L, 4L, nc2, nh2, nt2,
        |  1L, 8L, nc1, nh1, nt1)
        |AS (bands, rows_per_band, n_cand, n_hit, n_cand_true)"""
        .stripMargin)
    perConfig
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("bands"), col("rows_per_band"), col("n_cand"),
        col("n_true"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_true"), 4).as("recall"),
        col("n_cand_true"),
        round(col("n_cand_true").cast("double") / col("n_cand"), 4)
          .as("precision"))
      .orderBy(col("bands").desc)
  }

  /** dd21: EXACT CONTAINMENT JOIN via prefix filtering — the directional
    * dedup Jaccard misses. A short document quoted whole inside a longer
    * one has containment C(A,B) = |A∩B|/|A| ≈ 1 while J(A,B) =
    * |A∩B|/|A∪B| stays low, so symmetric near-dup ops (dd04/dd06) never
    * pair them; curation wants the quote-wrapped copy found and the
    * longer doc kept. The all-pairs formulation is quadratic; the exact
    * scale path is the PPJoin-family PREFIX FILTER: order every doc's
    * shingles by global rarity (df asc, digest tiebreak — deterministic)
    * and probe with only the first ⌊|A|/5⌋+1 of them. Any pair with
    * C ≥ 0.8 MUST share a probe-prefix shingle (missing all k prefix
    * shingles caps the intersection at |A|−k < 0.8|A|), so candidates ⊇
    * qualifying pairs and the exact verify loses nothing. Shuffles carry
    * (id, digest) only until the verify, which rejoins each candidate
    * pair to two per-doc sorted hash ARRAYS and merge-intersects them
    * in one kernel pass (the dd22 verify shape) — paid only on
    * candidates, never on the corpus square. Threshold compares
    * cross-multiplied (5·inter ≥ 4·|A|) — all-integer, oracle-exact
    * against DuckDB's all-pairs replay.
    *
    * Measured stage breakdown (r8, sf0.1): prefix table + checkpoint
    * ~0.5 s; prefix-probe join 2.15 s on 3 AQE-coalesced tasks → pinned
    * to 32 (the dd20 rule); postings-expansion verify 1.3-1.7 s even
    * fully spread (real work: ~|A| rows per pair through a ~1M-row hash
    * join + count-groupBy) → replaced by the array-merge verify above.
    * Net 5.0 → 2.3 s, oracle hash unchanged at sf0.01 and sf0.1.
    */
  private val dd21ContainmentJoin: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val sh = t(s, d, "documents")
      .select(col("doc_id"), explode(array_distinct(
        GraftFunctions.shingle_strings(col("text")))).as("shs"))
      // 8-byte join key, not the md5 hex string: counts are identical as
      // long as shingle→hash is injective on the corpus (oracle-twin rule)
      .select(col("doc_id"), xxhash64(col("shs")).as("sh"))
      // EAGER checkpoint (the ss20/CC round-0 lesson): the prefix table
      // self-joins downstream, and the two racing map stages each re-ran
      // the shingle explode before a lazy cache filled
      .localCheckpoint()
    // df and n_sh as window counts (tx16 lesson: no groupBy+rejoin of the
    // corpus-sized set); rk rides the same doc_id exchange as n_sh
    val wdoc = Window.partitionBy("doc_id")
    // the contained-side size rides the SAME wdoc window exchange the
    // prefix rank needs — carried through, never rejoined (docsz is one
    // row PER DOCUMENT: broadcasting it is corpus-sized at 100 TB)
    val prefix = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
      .withColumn("rk", row_number().over(wdoc.orderBy("df", "sh")))
      .withColumn("n_sh", count(lit(1)).over(wdoc))
      .filter(col("rk") <= expr("n_sh DIV 5 + 1"))
      .select(col("doc_id").as("a"), col("sh"),
        col("n_sh").as("n_contained"))
    // length filter (PPJoin): C ≥ 0.8 needs |B| ≥ 0.8|A|, pruned BEFORE
    // the pair-expansion verify; the container side is a plain shuffle
    // join on the per-doc size table (AQE may still broadcast it at
    // small SF — but we never FORCE a corpus-sized broadcast)
    // per-doc sorted shingle-hash arrays: the verify intersects TWO
    // ARRAYS per candidate pair with the SortedIntersectCard merge
    // kernel (the dd22 verify shape) instead of expanding the contained
    // side's postings through a join + count-groupBy — the r8 profile
    // showed that expansion verify at 1.3-1.7 s even fully spread (the
    // work was real: ~|A| rows per pair through a 1M-row hash join);
    // the array rejoin carries ~0.8 KB per pair instead. 5.0 → 2.6 s.
    val docArr = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("arr"),
        count(lit(1)).as("n_sh"))
      .localCheckpoint() // both verify sides + the length filter
    // the prefix-probe join stays postings-shaped (that IS the filter);
    // pinned at 32 on the shingle key — AQE coalesced it to 3 tasks
    // (ids-only bytes, CPU-bound; the dd20 rule) — and the pin's
    // exchange is reused by the equi-join
    val cand = prefix
      .transform(graft.Par.spreadBy(col("sh")))
      .join(sh.select(col("doc_id").as("b"), col("sh")), "sh")
      .filter(col("a") =!= col("b"))
      .select("a", "b", "n_contained").distinct()
      .join(docArr.select(col("doc_id").as("b"),
        col("n_sh").as("n_container")), "b")
      .filter(col("n_container") * 5 >= col("n_contained") * 4)
    cand
      .join(docArr.select(col("doc_id").as("a"), col("arr").as("arr_a")),
        "a")
      .join(docArr.select(col("doc_id").as("b"), col("arr").as("arr_b")),
        "b")
      .withColumn("n_shared",
        GraftFunctions.sorted_intersect_card(col("arr_a"), col("arr_b"))
          .cast("bigint"))
      .filter(col("n_shared") * 5 >= col("n_contained") * 4)
      .select(col("a").as("contained_id"), col("b").as("container_id"),
        col("n_shared"), col("n_contained"), col("n_container"))
      .orderBy("contained_id", "container_id")
  }

  /** dd30: DEDUP-POLICY IMPACT REPORT — the number the whole dd family
    * exists to produce for a data-curation review: per policy, how many
    * documents and tokens does it actually remove from the SAME corpus?
    * Policies compared on the dd10 re-crawl corpus (docs ∪ two mutated
    * crawls): `exact` (md5 text identity — catches only the short docs
    * whose mutation is a no-op), `jaccard_50` and `jaccard_80` (shingle
    * Jaccard edges at both thresholds → connected components → keep the
    * min-id representative). The two threshold policies share ONE
    * candidate+verify pass (the dd20 nested-config rule: j computed
    * once, two cutoff filters); cluster keep-sets come from the same CC
    * machinery the production keep-set (dd22) uses.
    *
    * Scale: candidate pairs are the planted chain set here (the graph
    * is the subject under test, not discovery — dd04/dd22 own
    * discovery); verify shuffles ids + hashed shingle arrays once;
    * rollups are per-policy single aggregates. Edge MEMBERSHIP rides
    * hashed shingles (the dd10 rule: equals string-shingle Jaccard up
    * to 64-bit collisions, P ≈ 1e-11 corpus-wide).
    */
  private val dd30PolicyImpact: Q = (s, d) => {
    val docs = t(s, d, "documents").select("doc_id", "text")
    // planting that SEPARATES the policies (a first cut reused the dd10
    // drop-one-token chain and produced a degenerate report — J ≈ 0.97
    // everywhere, both thresholds identical, exact zero):
    //  m1 = exact copy for doc_id%5=0 (exact catches those), else
    //       drop-1-token (J ≈ 0.97 — both thresholds merge);
    //  m2 = drop the first ⌊n/3⌋ tokens (J ≈ 0.66 — inside (0.5, 0.8):
    //       only the loose threshold merges it).
    val m1 = docs.select((col("doc_id") + COPY_OFFSET).as("doc_id"),
      when(col("doc_id") % 5 === 0, col("text"))
        .otherwise(dropTok).as("text"))
    val m2 = docs.select((col("doc_id") + 2 * COPY_OFFSET).as("doc_id"),
      expr("""concat_ws(' ', slice(split(text, ' '),
             |  size(split(text, ' ')) div 3 + 1,
             |  size(split(text, ' '))
             |    - size(split(text, ' ')) div 3))""".stripMargin)
        .as("text"))
    val corpus = docs.unionAll(m1).unionAll(m2)
      .withColumn("ntok", size(split(col("text"), " ")).cast("long"))
      .withColumn("fp", md5(col("text")))
      .transform(graft.Par.spread)
      .localCheckpoint() // shingle build + exact rollup + 3 token joins
    val sh = corpus.select(col("doc_id"), sort_array(array_distinct(
        GraftFunctions.shingle_hashes64(col("text")))).as("sh"))
      .localCheckpoint() // both sides of the verify join
    val base = docs.select(col("doc_id").as("i"))
    val cand = base.select(col("i").as("a"), (col("i") + COPY_OFFSET).as("b"))
      .unionAll(base.select(col("i").as("a"),
        (col("i") + 2 * COPY_OFFSET).as("b")))
      .unionAll(base.select((col("i") + COPY_OFFSET).as("a"),
        (col("i") + 2 * COPY_OFFSET).as("b")))
    val jac = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("inter", GraftFunctions
        .sorted_intersect_card(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("j", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .select("a", "b", "j")
      .localCheckpoint() // one verify pass, two threshold cutoffs
    val ids = corpus.select(col("doc_id").as("id"))
    val toks = corpus.select(col("doc_id").as("id"), col("ntok"))
    def rollup(policy: String, labels: DataFrame): DataFrame =
      labels.join(toks, Seq("id"))
        .agg(count(lit(1)).as("docs_in"),
          countDistinct(col("label")).as("docs_kept"),
          sum(when(col("id") =!= col("label"), col("ntok"))
            .otherwise(0L)).as("tokens_removed"))
        .select(lit(policy).as("policy"), col("docs_in"),
          col("docs_kept"),
          (col("docs_in") - col("docs_kept")).as("docs_removed"),
          col("tokens_removed"))
    val exact = corpus.groupBy("fp").agg(min("doc_id").as("label"),
        collect_list("doc_id").as("members"))
      .select(explode(col("members")).as("id"), col("label"))
    // sequential CC loops: running the two threshold loops as
    // concurrent Futures was A/B'd (r8) at 3.8 s vs 3.6 s sequential —
    // the overlapped barriers gained nothing over the scheduler
    // contention they added
    val j50 = connectedComponents(ids,
      jac.filter(col("j") >= 0.5).select("a", "b"))
      .select(col("id"), col("label"))
    val j80 = connectedComponents(ids,
      jac.filter(col("j") >= 0.8).select("a", "b"))
      .select(col("id"), col("label"))
    rollup("exact", exact)
      .unionAll(rollup("jaccard_50", j50))
      .unionAll(rollup("jaccard_80", j80))
      .orderBy("policy")
  }

  /** dd31: LONGEST SHARED TOKEN SPAN — the contamination metric
    * Jaccard structurally cannot report: two docs can share a LONG
    * verbatim run yet sit below any Jaccard threshold (a 30-token
    * quote inside two otherwise-different 500-token docs is J ≈ 0.03),
    * and eval-leak policy is usually written in span terms ("flag any
    * ≥ N-token overlap"), not set-overlap terms. Per candidate pair
    * this emits the exact length of the longest common token SUBSTRING
    * (≥ 4 tokens; 0 below that floor).
    *
    * Algorithm — no suffix structures, pure relational: join the two
    * docs' positional 4-grams on the gram's 8-byte xxhash64 (gram text
    * stays out of the shuffle; the DuckDB oracle joins the strings —
    * order- and collision-free at fixture scale, spec-pinned vs an
    * in-JVM DP on the raw tokens), group matches by the
    * DIAGONAL (i − j): a shared span of length L is exactly a run of
    * L−3 consecutive matched positions on one diagonal, so
    * gaps-and-islands (pos − row_number) over each (pair, diagonal)
    * turns the longest-common-substring problem into one window + one
    * max — both engines replay it operator-for-operator.
    *
    * Plants are CHIMERAS (first half of doc i ‖ second half of its
    * id-successor j), the planted-subject discipline of dd30:
    * pair (i, chim_i) must recover i's prefix half, pair (j, chim_i)
    * j's suffix half — discovery of UNKNOWN pairs belongs to
    * dd04/dd22's banded machinery. Scale: pair list is ids-only; the
    * positional-gram join is per-pair work keyed by (pair, gram);
    * windows shuffle on (pair, diagonal) — linear in matches, never
    * all-pairs. `OperatorInvariantSpec` pins every span against an
    * in-JVM dynamic-programming LCS on the raw token arrays.
    */
  private val dd31LongestSpan: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents").select("source", "doc_id", "text")
    val wAll = Window.partitionBy("source").orderBy("doc_id")
    // chimera corpus: one plant per base doc, partner = the doc's
    // id-successor WITHIN its source (wrapping to the source's first
    // doc) — source-partitioned so the plant build parallelizes by
    // stream instead of riding one global-order window
    val chim = docs
      .withColumn("ptext", coalesce(lead("text", 1).over(wAll),
        first("text").over(wAll.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))))
      .withColumn("pid", coalesce(lead("doc_id", 1).over(wAll),
        first("doc_id").over(wAll.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))))
      .select((col("doc_id") + 3 * COPY_OFFSET).as("doc_id"),
        col("doc_id").as("src_a"), col("pid").as("src_b"),
        expr("""concat_ws(' ',
               |  concat_ws(' ', slice(split(text, ' '), 1,
               |    (size(split(text, ' ')) + 1) div 2)),
               |  concat_ws(' ', slice(split(ptext, ' '),
               |    size(split(ptext, ' ')) div 2 + 1,
               |    size(split(ptext, ' '))
               |      - size(split(ptext, ' ')) div 2)))"""
          .stripMargin).as("text"))
      .transform(graft.Par.spread).localCheckpoint() // 3 refs: pair build + grams + token counts
    val pairs = chim.select(col("src_a").as("a"), col("doc_id").as("b"))
      .unionAll(chim.select(col("src_b").as("a"), col("doc_id").as("b")))
      .distinct()
      .localCheckpoint() // 2 refs: the match join + the zero-span left join
    // the match join keys on an 8-byte xxhash64 of the gram (the dd21
    // shuffle-key discipline) so gram TEXT never rides the shuffle —
    // a hash collision could only LENGTHEN a run, and both the in-JVM
    // DP spec and the planted-chimera oracle would catch the artifact
    def grams(df: DataFrame, idAs: String, posAs: String): DataFrame = df
      .select(col("doc_id").as(idAs), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(col(idAs), posexplode(expr(
        """transform(sequence(0, size(toks) - 4),
          |  p -> concat_ws(' ', toks[p], toks[p+1], toks[p+2],
          |    toks[p+3]))""".stripMargin)))
      .withColumnRenamed("pos", posAs)
      .select(col(idAs), col(posAs), xxhash64(col("col")).as("gh"))
    val ga = grams(docs, "a", "i")
    val gb = grams(chim.select("doc_id", "text"), "b", "j")
    val matched = pairs.join(ga, Seq("a")).join(gb, Seq("b", "gh"))
      .select(col("a"), col("b"), col("i"), col("j"),
        (col("i") - col("j")).as("diag"))
    val wDiag = Window.partitionBy("a", "b", "diag").orderBy("i")
    val spans = matched
      // pin the islands window's exchange at 32 (the dd20 rule: the
      // matched-position stream is CPU-bound over few bytes and AQE
      // byte-coalesces it to 1 task — A/B'd 3.99 → 3.56 s at sf0.1,
      // the coalesced stage was the 0.6 s single-task one); the
      // window's ClusteredDistribution reuses this exact partitioning
      .transform(graft.Par.spreadBy(col("a"), col("b"), col("diag")))
      .withColumn("grp", col("i") - row_number().over(wDiag))
      .groupBy("a", "b", "diag", "grp").agg(count(lit(1)).as("run"))
      .groupBy("a", "b").agg((max("run") + 3L).as("span"))
    val ntok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val ntokAll = ntok.unionAll(chim.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n")))
    pairs
      .join(spans, Seq("a", "b"), "left")
      .join(ntokAll.select(col("doc_id").as("a"), col("n").as("n_a")),
        Seq("a"))
      .join(ntokAll.select(col("doc_id").as("b"), col("n").as("n_b")),
        Seq("b"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"),
        coalesce(col("span"), lit(0L)).as("span_tokens"))
      .withColumn("span_share_x10k",
        expr("span_tokens * 10000 DIV least(n_a, n_b)"))
      .orderBy("a", "b")
  }

  /** dd23: FUZZY benchmark decontamination — the paraphrase-leak gate
    * exact decontamination (pp03/pp07/pp10) structurally cannot close:
    * those flag a train doc only when a full 3-gram SHINGLE survives
    * verbatim, so a token-level paraphrase (here: every 3rd token
    * rewritten, which kills EVERY 3-gram window) sails through with
    * zero shared shingles while still ~1/3 of its BIGRAMS survive.
    * This operator runs the dd15 portable-MinHash machinery on bigram
    * sets: 16 md5 lanes, 16 bands × 1 lane (the high-recall corner of
    * dd20's S-curve — right for a contamination screen, where a missed
    * leak costs an inflated benchmark and a false candidate costs one
    * verify), bench×train candidates by band equality, then an exact
    * integer bigram-Jaccard verify (inter·10⁴ div union ≥ 1500) on
    * candidates only. Bigrams, not unigrams, are the right granularity
    * here: this synthetic corpus draws from a small shared vocabulary,
    * so unigram Jaccard between ARBITRARY docs sits at 0.5-0.8 (no
    * separation), while bigram Jaccard separates cleanly — planted
    * paraphrases >= 0.205, natural background <= 0.117 at sf0.01.
    *
    * The corpus plants 5 paraphrased bench leaks (ids +10⁶); the
    * documents table also carries NATURAL near-copies of bench items —
    * both kinds surface, with `caught_exact` separating the verbatim
    * leaks (exact + fuzzy agree) from the paraphrases (fuzzy only,
    * caught_exact = false: the rows this operator exists for).
    *
    * Scale: band join shuffles (band, bkey, id); token arrays rejoin
    * only for the candidate-bounded verify (the payload rule); the
    * bench side is tiny and broadcast by AQE. At 100 TB bkeys hash to
    * 8 bytes (dd04) — identical shape.
    */
  private val dd23FuzzyDecon: Q = (s, d) => {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 5)
    val planted = bench.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("""array_join(transform(split(text, ' '),
             |  (t, i) -> CASE WHEN i % 3 = 0 THEN 'zz' ELSE t END), ' ')"""
        .stripMargin).as("text"))
    val train = docs.filter(col("doc_id") >= 5).unionAll(planted)
    val benchSh = bench.select(explode(array_distinct(
        GraftFunctions.shingle_strings(col("text")))).as("shingle"))
      .select(md5(col("shingle")).as("fp")).distinct()
    val trainSh = train.select(col("doc_id"), explode(array_distinct(
        GraftFunctions.shingle_strings(col("text")))).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("fp"))
    val exactFlag = trainSh.join(benchSh, Seq("fp"), "left_semi")
      .select("doc_id").distinct()
      .select(col("doc_id").as("train_id"), lit(true).as("caught_exact"))
    def uni(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), array_distinct(expr(
        """transform(sequence(0, CAST(size(tk) - 2 AS INT)),
          |          i -> concat(tk[i], ' ', tk[i + 1]))""".stripMargin))
        .as("toks"))
      .withColumn("sig", GraftFunctions.md5_min_lanes(col("toks"), 16))
    val bu = uni(bench).persist() // lazy-ok: 5-row bench set
    // spread + EAGER materialization (the dd20 rule): the banding and
    // verify consumers race a lazy persist and each re-ran the bigram
    // + 16-lane md5 pass at the 2-way input parallelism
    val tu = uni(train.transform(graft.Par.spread)).localCheckpoint()
    def bandify(df: DataFrame, idAs: String): DataFrame =
      df.select(col("doc_id").as(idAs), posexplode(col("sig")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val cand = bandify(tu, "train_id")
      .join(bandify(bu, "bench_id"), Seq("band", "bkey"))
      .select("train_id", "bench_id").distinct()
    val verify = cand
      .join(tu.select(col("doc_id").as("train_id"),
        col("toks").as("t_toks")), Seq("train_id"))
      .join(bu.select(col("doc_id").as("bench_id"),
        col("toks").as("b_toks")), Seq("bench_id"))
      .withColumn("inter", size(array_intersect(col("t_toks"),
        col("b_toks"))).cast("bigint"))
      .withColumn("un",
        (size(col("t_toks")) + size(col("b_toks"))).cast("bigint")
          - col("inter"))
      .withColumn("jac_x10000", expr("inter * 10000 div un"))
      .filter(col("jac_x10000") >= 1500)
    val fuzzy = verify.groupBy("train_id")
      .agg(count(lit(1)).as("n_bench_pairs"),
        max(col("jac_x10000")).as("best_jac_x10000"))
    exactFlag.join(fuzzy, Seq("train_id"), "full_outer")
      .select(col("train_id"),
        coalesce(col("caught_exact"), lit(false)).as("caught_exact"),
        (coalesce(col("n_bench_pairs"), lit(0L)) > 0).as("caught_fuzzy"),
        coalesce(col("n_bench_pairs"), lit(0L)).as("n_bench_pairs"),
        coalesce(col("best_jac_x10000"), lit(0L)).as("best_jac_x10000"))
      .orderBy("train_id")
  }

  /** dd24: SemDeDup KEEP POLICY + per-cluster audit (Abbas et al.
    * 2023 §3) — the DECISION face of semantic dedup: dd12 finds the
    * within-cluster near-dup pairs (id-order keep, norm-band
    * prefilter); this applies the paper's actual keep rule — of two
    * τ-duplicates, KEEP THE ONE FARTHEST FROM ITS CENTROID (the
    * diversity-preserving choice: the representative least typical of
    * the cluster carries the most information) — and ships the
    * per-cluster audit a curation run logs: totals, drops, how often
    * the re-ingested copy rather than the original lost the diversity
    * contest, and the integer ×10⁴ drop rate. Corpus = embeddings ∪
    * dd19's planted LCG twins (cosine ≈ 0.9999 vs a measured 0.60 max
    * between genuine vectors); centroids come from the BASE partition
    * (frozen-quantizer rule) so copies can't shift them.
    *
    * Scale: clustering bounds the quadratic — the pair stage is
    * Σ_c |c|², and production sizes k ∝ n so |c| is a constant (the
    * paper runs k=100k on LAION); one cluster-keyed shuffle co-locates
    * each cluster and everything downstream aggregates counter rows.
    * The keep decision is pairwise-local (no group CC needed: the τ
    * threshold sits far above any genuine cosine, so dup groups are
    * exactly the planted pairs); centroid set is a constant-size
    * broadcast.
    */
  private val dd24SemDedup: Q = (s, d) => {
    val base = t(s, d, "embeddings").select("vec_id", "embedding")
    val all = base.unionAll(Similarity.plantTwins(base, "0.001"))
      .withColumn("norm", Similarity.l2norm(col("embedding")))
      .persist() // lazy-ok: cheap norm projection; centroid sample + assignment (the dd07 lesson)
    val assigned = Similarity
      .coarseRanked(all, all.filter(col("vec_id") < COPY_OFFSET))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"),
        col("embedding"), col("norm"), col("ccos"))
    val pairs = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
        col("embedding").as("e_a"), col("norm").as("n_a"),
        col("ccos").as("cc_a"))
      .join(assigned.select(col("cluster"), col("vec_id").as("vec_b"),
        col("embedding").as("e_b"), col("norm").as("n_b"),
        col("ccos").as("cc_b")), Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= 0.9)
    // the paper's rule: the member CLOSER to its centroid loses (ccos
    // desc, id tiebreak — a total order, so the drop is deterministic)
    val dropped = pairs.select(col("cluster"),
        when(col("cc_a") > col("cc_b") ||
          (col("cc_a") === col("cc_b") && col("vec_a") > col("vec_b")),
          col("vec_a")).otherwise(col("vec_b")).as("vec_id"))
      .distinct()
    val stats = assigned.groupBy("cluster").agg(
      count(lit(1)).as("n_total"),
      sum(when(col("vec_id") >= COPY_OFFSET, 1L).otherwise(0L))
        .as("n_twin"))
    val dstats = dropped.groupBy("cluster").agg(
      count(lit(1)).as("nd"),
      sum(when(col("vec_id") >= COPY_OFFSET, 1L).otherwise(0L)).as("ntd"))
    stats.join(dstats, Seq("cluster"), "left")
      .select(col("cluster"), col("n_total"), col("n_twin"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"),
        coalesce(col("ntd"), lit(0L)).as("n_twin_dropped"))
      .withColumn("drop_x10k", expr("n_dropped * 10000 div n_total"))
      .orderBy("cluster")
  }

  /** dd25: b-BIT MINHASH estimator accuracy (Li & König, "b-Bit Minwise
    * Hashing", WWW'10) — the storage knob every planetary-scale MinHash
    * deployment turns: store only the lowest b bits of each lane minimum
    * (64× smaller at b=1 vs a 64-bit lane) and correct the inflated
    * collision rate analytically. For a b-bit lane the collision
    * probability is c_b ≈ J + (1−J)·2⁻ᵇ (non-matching minima still agree
    * on b bits by chance), so the unbiased estimate is
    * Ĵ = (c_b − 2⁻ᵇ)/(1 − 2⁻ᵇ). This operator pins the whole accuracy
    * story on one corpus: the SAME 10 portable md5 lanes read three ways
    * — full 128-bit minima, their last hex digit (b=4), its parity
    * (b=1) — against exact shingle Jaccard on a deterministic pair set
    * (recrawl twins J≈0.9 + consecutive-id background pairs), bucketed
    * by exact-Jaccard decile. Everything is integer arithmetic
    * (estimates ×10⁴ via cross-multiplied DIV, errors as integer sums),
    * so DuckDB replays lanes, bit extraction, correction formulas and
    * the error rollup hash-exact. The measured table shows the Li-König
    * trade: MAE grows as b shrinks at FIXED lane count — the paper's
    * point is that the freed bits buy 64× more lanes than the accuracy
    * they cost, which the equal-LANE columns here quantify.
    *
    * Scale: signatures are 10 strings/doc computed in one spread,
    * checkpointed pass (the dd20/dd22 rule); pairs are id equijoins
    * (planted offset + consecutive), never all-pairs; shingle payloads
    * rejoin per pair for the exact denominator only.
    */
  private val dd25BbitMinhash: Q = (s, d) => {
    val sh = recrawl(s, d)
      .transform(graft.Par.spread)
      .withColumn("shingles",
        array_distinct(GraftFunctions.shingle_strings(col("text"))))
      // 10 lanes, not 16: the kernel's lane suffix is the single byte
      // '0'+k, so k ≤ 9 is the exactly-portable range (dd23's 16-lane
      // use never outputs lane VALUES; this operator does)
      .withColumn("sig", GraftFunctions.md5_min_lanes(col("shingles"), 10))
      .select("doc_id", "shingles", "sig")
      .localCheckpoint()
    val base = t(s, d, "documents").select(col("doc_id").as("i"))
    val pairs = base
      .select(col("i").as("a"), (col("i") + lit(COPY_OFFSET)).as("b"))
      .unionAll(base.select(col("i").as("a"), (col("i") + 1).as("b")))
    val par = "x -> substring(x, 32, 1) IN " +
      "('1', '3', '5', '7', '9', 'b', 'd', 'f')"
    val scored = pairs
      .join(sh.select(col("doc_id").as("a"), col("shingles").as("sh_a"),
        col("sig").as("sig_a")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("shingles").as("sh_b"),
        col("sig").as("sig_b")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("bigint") - col("inter"))
      .withColumn("jq", expr("inter * 10000 DIV uni"))
      .withColumn("eqf", expr(
        "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y)," +
          " v -> v)) AS BIGINT)"))
      .withColumn("eq4", expr(
        "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> " +
          "substring(x, 32, 1) = substring(y, 32, 1)), v -> v)) AS BIGINT)"))
      .withColumn("eq1", expr(
        s"CAST(size(filter(zip_with(transform(sig_a, $par), " +
          s"transform(sig_b, $par), (x, y) -> x = y), v -> v)) AS BIGINT)"))
    scored
      .selectExpr("least(jq DIV 1000, 9) AS decile", "jq",
        // estimates ×10⁴, all-integer: full = eqf/10; b=4 corrected
        // (c−1/16)·16/15 with c = eq4/10 → (16·eq4−10)·10⁴/150; b=1
        // corrected 2c−1 with c = eq1/10 → (2·eq1−10)·10³
        """stack(3,
          |  CAST(128 AS BIGINT), eqf * 1000,
          |  CAST(4 AS BIGINT),
          |  greatest(16 * eq4 - 10, CAST(0 AS BIGINT)) * 10000 DIV 150,
          |  CAST(1 AS BIGINT),
          |  greatest(2 * eq1 - 10, CAST(0 AS BIGINT)) * 1000
          |) AS (bits, est)""".stripMargin)
      .groupBy("bits", "decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("abs(est - jq)")).as("sum_abs_err"),
        sum(expr("est - jq")).as("sum_err"))
      .withColumn("mae_x10k", expr("sum_abs_err DIV n_pairs"))
      .orderBy(col("bits").desc, col("decile"))
  }

  /** dd26: LSH BAND-CONFIG PLANNER — the DESIGN-TIME complement to
    * dd20's empirical sweep: pick (bands b × rows r) analytically from
    * the S-curve p(s) = 1 − (1 − sʳ)ᵇ weighted by the corpus's OWN
    * similarity histogram, estimated from a constant-size deterministic
    * sample (64 docs by md5 order plus their recrawl twins → 8128
    * exact-Jaccard pairs, the standard bounded-sample histogram
    * estimate — the histogram shape, not the corpus, is what the
    * planner needs, so the sample stays constant-size at any corpus
    * size). Per 16-lane config (16×1, 8×2, 4×4, 2×8)
    * it reports the capture-probability crossover bucket and the
    * expected false-positive candidates (pairs below the 0.7 target
    * captured anyway) vs expected misses (pairs above it dropped) —
    * the two quantities whose trade the (b, r) choice IS.
    *
    * Cross-engine exactness without libm: bucket midpoints are
    * (2m+1)/32 (exact binary doubles), sʳ and (1−sʳ)ᵇ are evaluated by
    * REPEATED SQUARING written identically on both sides (r, b ∈ powers
    * of two ⇒ every step is one IEEE multiply of identical operands),
    * and the only cross-row sums are 16-term double sums rounded to 4
    * dp (drift bound ~1e-12, margin 1e8).
    *
    * Scale: sample selection is a TakeOrdered over ids only; shingles
    * are built AFTER the 64-row limit and the all-pairs stage is 64×64
    * regardless of corpus size. Nothing here touches the full corpus
    * beyond one id scan.
    */
  private val dd26BandPlanner: Q = (s, d) => {
    val ids = t(s, d, "documents").select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(64)
    // include the sampled docs' recrawl twins (J≈0.9 mutated copies) so
    // the histogram carries high-similarity mass — without it every
    // sampled pair sits below the target and the FN side of the trade
    // is invisible (a real corpus's near-dup mass plays this role)
    val sample = ids.unionAll(ids.select(col("doc_id") + COPY_OFFSET))
      .join(recrawl(s, d), Seq("doc_id"))
    // eager checkpoint: the 128-row sample feeds BOTH sides of the
    // pair histogram (the multi-consumer rule), and it bounds the
    // broadcast hint below to a materialized constant-size frame
      .select(col("doc_id"), array_distinct(
        GraftFunctions.shingle_strings(col("text"))).as("sh"))
      .localCheckpoint()
    // broadcast the (bounded-by-construction) right side: the pair
    // histogram is a BroadcastNestedLoopJoin, never a CartesianProduct
    // (the ContractSpec whole-surface hygiene gate)
    val hist = sample.select(col("doc_id").as("a"), col("sh").as("sh_a"))
      .join(broadcast(sample.select(col("doc_id").as("b"),
        col("sh").as("sh_b"))), col("a") < col("b"))
      .selectExpr(
        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) /" +
          " (size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))" +
          " AS j")
      .selectExpr("least(CAST(floor(j * 16.0) AS INT), 15) AS m")
      .groupBy("m").agg(count(lit(1)).as("cnt"))
    val grid = s.sql(
      "SELECT b, r FROM VALUES (16, 1), (8, 2), (4, 4), (2, 8) AS c(b, r)")
      .crossJoin(s.sql("SELECT explode(sequence(0, 15)) AS m"))
    grid.join(hist, Seq("m"), "left")
      .selectExpr("b", "r", "m", "coalesce(cnt, CAST(0 AS BIGINT)) AS cnt",
        "CAST(2 * m + 1 AS DOUBLE) / 32.0 AS st")
      .selectExpr("*", "st * st AS st2")
      .selectExpr("*", "st2 * st2 AS st4")
      .selectExpr("*", "st4 * st4 AS st8")
      .selectExpr("b", "r", "m", "cnt",
        "CASE r WHEN 1 THEN st WHEN 2 THEN st2 WHEN 4 THEN st4" +
          " ELSE st8 END AS sr")
      .selectExpr("*", "1.0 - sr AS q")
      .selectExpr("*", "q * q AS q2")
      .selectExpr("*", "q2 * q2 AS q4")
      .selectExpr("*", "q4 * q4 AS q8")
      .selectExpr("*", "q8 * q8 AS q16")
      .selectExpr("b", "r", "m", "cnt",
        "1.0 - (CASE b WHEN 2 THEN q2 WHEN 4 THEN q4 WHEN 8 THEN q8" +
          " ELSE q16 END) AS p")
      .groupBy("b", "r")
      .agg(
        expr("min(CASE WHEN p >= 0.5 THEN m END)").as("crossover_m"),
        expr("sum(CASE WHEN m <= 10 THEN cnt ELSE CAST(0 AS BIGINT) END)")
          .as("n_lo"),
        expr("sum(CASE WHEN m >= 11 THEN cnt ELSE CAST(0 AS BIGINT) END)")
          .as("n_hi"),
        expr("round(sum(CASE WHEN m <= 10 THEN CAST(cnt AS DOUBLE) * p" +
          " ELSE 0.0 END), 4)").as("exp_fp"),
        expr("round(sum(CASE WHEN m >= 11 THEN CAST(cnt AS DOUBLE) *" +
          " (1.0 - p) ELSE 0.0 END), 4)").as("exp_fn"))
      .orderBy(col("b").desc)
  }

  /** dd27: SHINGLE-GRANULARITY SENSITIVITY — the third knob of the
    * dedup-parameter trilogy (dd25: bits per lane, dd26: band shape,
    * here: shingle SIZE): Jaccard under k-token shingles for
    * k ∈ {1, 2, 3, 5} on the dd25 pair protocol (recrawl twins J≈0.9
    * vs consecutive-id background), rolled up per (k, pair_type) as
    * ×10⁴ integer means and threshold crossings. The table shows WHY
    * dd04/dd06 fixed k=3: unigram sets blur background pairs upward
    * (shared vocabulary ≠ shared text), long shingles punish the
    * twins' single-token edit — the separation column peaks at the
    * production setting.
    *
    * Scale: per-row shingle construction (4 bounded passes over the
    * token array), id-equijoin pairs (planted offset + consecutive,
    * never all-pairs), counter-only rollup.
    */
  private val dd27ShingleSweep: Q = (s, d) => {
    val ks = Seq(1, 2, 3, 5)
    val shCols = ks.map { k =>
      expr(s"""array_distinct(CASE WHEN size(tk) < $k THEN array(text)
              |  ELSE transform(sequence(1, size(tk) - $k + 1),
              |    i -> concat_ws(' ', slice(tk, i, $k))) END)"""
        .stripMargin).as(s"sh$k")
    }
    val sh = recrawl(s, d)
      .transform(graft.Par.spread)
      .withColumn("tk", split(col("text"), " "))
      .select((col("doc_id") +: shCols): _*)
      .localCheckpoint() // one shingle pass, two pair-join consumers
    val base = t(s, d, "documents").select(col("doc_id").as("i"))
    val pairs = base
      .select(col("i").as("a"), (col("i") + lit(COPY_OFFSET)).as("b"),
        lit("twin").as("pair_type"))
      .unionAll(base.select(col("i").as("a"), (col("i") + 1).as("b"),
        lit("background").as("pair_type")))
    val joined = pairs
      .join(sh.select(Seq(col("doc_id").as("a")) ++
        ks.map(k => col(s"sh$k").as(s"a$k")): _*), Seq("a"))
      .join(sh.select(Seq(col("doc_id").as("b")) ++
        ks.map(k => col(s"sh$k").as(s"b$k")): _*), Seq("b"))
    val long = joined.selectExpr("pair_type",
      "stack(" + ks.length + ", " + ks.map(k =>
        s"CAST($k AS BIGINT), " +
          s"CAST(size(array_intersect(a$k, b$k)) AS BIGINT) * 10000 DIV " +
          s"(size(a$k) + size(b$k) " +
          s"- size(array_intersect(a$k, b$k)))").mkString(", ") +
        ") AS (k, jq)")
    long.groupBy("k", "pair_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(jq) DIV count(1)").as("mean_jq_x10k"),
        sum(when(col("jq") >= 5000L, 1L).otherwise(0L)).as("n_ge50"),
        sum(when(col("jq") >= 7000L, 1L).otherwise(0L)).as("n_ge70"),
        sum(when(col("jq") >= 8000L, 1L).otherwise(0L)).as("n_ge80"))
      .orderBy("k", "pair_type")
  }

  val queries: Map[String, Q] = Map(
    "dd27_shingle_sweep" -> dd27ShingleSweep,
    "dd28_chain_audit" -> dd28ChainAudit,
    "dd29_incremental_admission" -> dd29IncrementalAdmission,
    "dd35_persisted_bands" -> dd35PersistedBands,
    "dd36_delta_band_index" -> dd36DeltaBandIndex,
    "dd37_compacted_bands" -> dd37CompactedBands,
    "dd38_erasure_purge" -> dd38ErasurePurge,
    "dd30_policy_impact" -> dd30PolicyImpact,
    "dd31_longest_span" -> dd31LongestSpan,
    "dd26_band_planner" -> dd26BandPlanner,
    "dd25_bbit_minhash" -> dd25BbitMinhash,
    "dd24_semantic_dedup" -> dd24SemDedup,
    "dd23_fuzzy_decontaminate" -> dd23FuzzyDecon,
    "dd21_containment_join" -> dd21ContainmentJoin,
    "dd14_line_dedup" -> dd14LineDedup,
    "dd15_lsh_recall" -> dd15LshRecall,
    "dd16_substring_dedup" -> dd16SubstringDedup,
    "dd32_span_removal" -> dd32SpanRemoval,
    "dd33_removal_audit" -> dd33RemovalAudit,
    "dd34_exactsubstr_fixpoint" -> dd34ExactSubstrFixpoint,
    "dd22_fuzzy_keepset" -> dd22FuzzyKeepset,
    "dd01_dedup_exact" -> dd01Exact,
    "dd02_dedup_exact_hash" -> dd02ExactHash,
    "dd03_minhash_signatures" -> dd03MinhashSig,
    "dd04_minhash_lsh_pairs" -> dd04MinhashLsh,
    "dd05_simhash" -> dd05Simhash,
    "dd06_ngram_jaccard_pairs" -> dd06NgramJaccard,
    "dd07_embedding_neardup" -> dd07EmbeddingNearDup,
    "dd08_minhash_oracle" -> dd08MinhashOracle,
    "dd09_jaccard_oracle" -> dd09JaccardOracle,
    "dd10_dedup_groups" -> dd10DedupGroups,
    "dd11_incremental_dedup" -> dd11IncrementalDedup,
    "dd13_dedup_groups_star" -> dd13DedupGroupsStar,
    "dd17_quality_canonical" -> dd17QualityCanonical,
    "dd18_simhash_oracle" -> dd18SimhashOracle,
    "dd19_neardup_recall" -> dd19NeardupRecall,
    "dd20_lsh_tuning" -> dd20LshTuning,
  )

  /** The re-crawl corpus in DuckDB terms, for oracle-expressible entries. */
  private val recrawlSql: String =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 10000000 AS doc_id,
      |        CASE WHEN instr(text, ' ') > 0
      |             THEN substring(text, instr(text, ' ') + 1)
      |             ELSE text END AS text
      | FROM documents) recrawl""".stripMargin

  private[operators] val dd10Sql: String =
    """WITH RECURSIVE
        |m1 AS (SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |m2 AS (SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM m1),
        |corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM corpus),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |cand AS (SELECT doc_id AS a, doc_id + 10000000 AS b FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 20000000 FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id + 20000000 FROM documents),
        |edges AS MATERIALIZED (SELECT a, b FROM cand
        |  JOIN sh sa ON sa.doc_id = cand.a
        |  JOIN sh sb ON sb.doc_id = cand.b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        |    >= 0.5),
        |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |r AS (SELECT doc_id AS id, doc_id AS label FROM corpus
        |  UNION
        |  SELECT s.b AS id, r.label FROM r JOIN sym s ON s.a = r.id),
        |lab AS MATERIALIZED (SELECT id, min(label) AS group_rep FROM r GROUP BY id)""".stripMargin

  private val dd10SqlSelect: String =
    """
      |SELECT l.id AS doc_id, l.group_rep, g.cnt AS group_size
      |FROM lab l JOIN (SELECT group_rep, count(*) AS cnt FROM lab
      |                 GROUP BY group_rep) g USING (group_rep)
      |ORDER BY doc_id""".stripMargin

  private val dd17Sql: String = dd10Sql +
    """,
      |toks AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM corpus),
      |sel AS (SELECT l.id, l.group_rep, g.cnt, t.n_tokens,
      |    row_number() OVER (PARTITION BY l.group_rep
      |      ORDER BY t.n_tokens DESC, l.id) AS rn
      |  FROM lab l
      |  JOIN (SELECT group_rep, count(*) AS cnt FROM lab
      |        GROUP BY group_rep) g USING (group_rep)
      |  JOIN toks t ON t.doc_id = l.id),
      |canon AS (SELECT group_rep, id AS canonical_id FROM sel
      |  WHERE rn = 1)
      |SELECT s.id AS doc_id, s.group_rep, s.cnt AS group_size,
      |  s.n_tokens, c.canonical_id,
      |  (s.id = c.canonical_id) AS is_canonical
      |FROM sel s JOIN canon c USING (group_rep)
      |ORDER BY doc_id""".stripMargin

  /** The dd29/dd35 admission replay (shared: dd35's persisted-index
    * formulation must produce dd29's exact bytes). */
  private val dd29AdmissionSql: String =
      """WITH nb AS (SELECT doc_id + 20000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id + 30000000,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE doc_id % 10 = 3),
        |btk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM documents),
        |ntk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM nb),
        |shb AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM btk),
        |shn AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM ntk),
        |sigb AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM shb),
        |sign AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM shn),
        |bandb AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sigb
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sigb
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sigb
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sigb),
        |bandn AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sign
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sign
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sign
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sign),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id
        |  FROM bandn n JOIN bandb b
        |    ON n.band = b.band AND n.bkey = b.bkey),
        |ver AS (SELECT cand.new_id, cand.base_id,
        |    CAST(len(list_intersect(sn.sh, sb.sh)) AS BIGINT) * 10000
        |      // (len(sn.sh) + len(sb.sh)
        |         - len(list_intersect(sn.sh, sb.sh))) AS j_x10k
        |  FROM cand JOIN shn sn ON sn.doc_id = cand.new_id
        |  JOIN shb sb ON sb.doc_id = cand.base_id),
        |hit AS (SELECT new_id, base_id AS matched_base,
        |    j_x10k AS best_j_x10k
        |  FROM (SELECT *, row_number() OVER (PARTITION BY new_id
        |      ORDER BY j_x10k DESC, base_id) AS rn
        |    FROM ver WHERE j_x10k >= 5000) WHERE rn = 1)
        |SELECT n.doc_id,
        |  CAST(coalesce(h.matched_base, -1) AS BIGINT) AS matched_base,
        |  CAST(coalesce(h.best_j_x10k, 0) AS BIGINT) AS best_j_x10k,
        |  h.matched_base IS NULL AS admitted
        |FROM nb n LEFT JOIN hit h ON h.new_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin

  /** The dd36/dd37/dd38 two-day replay BODY, through the unpurged
    * best-match CTE `hit2` (shared prefix: dd37's compacted index and
    * dd38's purge reconstruction must both produce dd36-consistent
    * bytes — the hybridPoolSql factoring pattern). */
  private val dd36DeltaBodySql: String =
      """WITH btk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM documents),
        |shb AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM btk),
        |d1 AS MATERIALIZED (SELECT doc_id + 30000000 AS doc_id,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |      AS text
        |  FROM documents WHERE doc_id % 10 = 3),
        |d1tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM d1),
        |sh1 AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM d1tk),
        |sigb AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM shb),
        |sig1 AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM sh1),
        |bandb AS MATERIALIZED (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sigb
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sigb
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sigb
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sigb),
        |band1 AS MATERIALIZED (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sig1
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sig1
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sig1
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sig1),
        |cand1 AS (SELECT DISTINCT n.doc_id AS new_id, b.doc_id AS base_id
        |  FROM band1 n JOIN bandb b
        |    ON n.band = b.band AND n.bkey = b.bkey),
        |ver1 AS (SELECT cand1.new_id, cand1.base_id,
        |    CAST(len(list_intersect(sn.sh, sb.sh)) AS BIGINT) * 10000
        |      // (len(sn.sh) + len(sb.sh)
        |         - len(list_intersect(sn.sh, sb.sh))) AS j_x10k
        |  FROM cand1 JOIN sh1 sn ON sn.doc_id = cand1.new_id
        |  JOIN shb sb ON sb.doc_id = cand1.base_id),
        |adm1 AS MATERIALIZED (SELECT doc_id FROM d1
        |  WHERE doc_id NOT IN
        |    (SELECT new_id FROM ver1 WHERE j_x10k >= 5000)),
        |shd AS MATERIALIZED (SELECT * FROM sh1
        |  WHERE doc_id IN (SELECT doc_id FROM adm1)),
        |bandd AS MATERIALIZED (SELECT * FROM band1
        |  WHERE doc_id IN (SELECT doc_id FROM adm1)),
        |d2 AS (SELECT doc_id + 20000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END
        |  FROM d1),
        |d2tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM d2),
        |sh2 AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM d2tk),
        |sig2 AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM sh2),
        |band2 AS MATERIALIZED (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sig2
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sig2
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sig2
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sig2),
        |cand2 AS (
        |  SELECT n.doc_id AS new_id, b.doc_id AS base_id
        |    FROM band2 n JOIN bandb b
        |      ON n.band = b.band AND n.bkey = b.bkey
        |  UNION
        |  SELECT n.doc_id, b.doc_id
        |    FROM band2 n JOIN bandd b
        |      ON n.band = b.band AND n.bkey = b.bkey),
        |shu AS (SELECT * FROM shb UNION ALL SELECT * FROM shd),
        |ver2 AS (SELECT cand2.new_id, cand2.base_id,
        |    CAST(len(list_intersect(sn.sh, sb.sh)) AS BIGINT) * 10000
        |      // (len(sn.sh) + len(sb.sh)
        |         - len(list_intersect(sn.sh, sb.sh))) AS j_x10k
        |  FROM cand2 JOIN sh2 sn ON sn.doc_id = cand2.new_id
        |  JOIN shu sb ON sb.doc_id = cand2.base_id),
        |hit2 AS (SELECT new_id, base_id AS matched_base,
        |    j_x10k AS best_j_x10k
        |  FROM (SELECT *, row_number() OVER (PARTITION BY new_id
        |      ORDER BY j_x10k DESC, base_id) AS rn
        |    FROM ver2 WHERE j_x10k >= 5000) WHERE rn = 1)""".stripMargin

  /** dd36/dd37 tail: the unpurged verdicts. */
  private val dd36DeltaSql: String = dd36DeltaBodySql + """
        |SELECT n.doc_id,
        |  CAST(coalesce(h.matched_base, -1) AS BIGINT) AS matched_base,
        |  CAST(coalesce(h.best_j_x10k, 0) AS BIGINT) AS best_j_x10k,
        |  h.matched_base IS NULL AS admitted,
        |  CASE WHEN h.matched_base IS NULL THEN 'none'
        |       WHEN h.matched_base >= 30000000 THEN 'delta'
        |       ELSE 'base' END AS matched_seg
        |FROM d2 n LEFT JOIN hit2 h ON h.new_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin

  /** dd38 tail: the purge replayed as the provable pair-stream filter
    * — the purged index's verdicts are ver2 restricted to live bases
    * (content-hash band keys + pair-local verify make probing the
    * physically purged tables and filtering the pair stream the same
    * operation; the Spark side PROBES, this replay FILTERS, and the
    * hash match certifies the equivalence on every corpus). Erasure =
    * st25's ledger rule; ownership = id % 1000 (offsets are multiples
    * of 1000). */
  private val dd38PurgeSql: String = dd36DeltaBodySql + """,
        |era AS MATERIALIZED (SELECT DISTINCT user_id FROM events
        |  WHERE event_id % 97 = 0),
        |hitp AS (SELECT new_id, base_id AS matched_base,
        |    j_x10k AS best_j_x10k
        |  FROM (SELECT *, row_number() OVER (PARTITION BY new_id
        |      ORDER BY j_x10k DESC, base_id) AS rn
        |    FROM ver2 WHERE j_x10k >= 5000
        |      AND base_id % 1000 NOT IN (SELECT user_id FROM era))
        |  WHERE rn = 1)
        |SELECT n.doc_id,
        |  CAST(coalesce(p.matched_base, -1) AS BIGINT) AS matched_base,
        |  CAST(coalesce(p.best_j_x10k, 0) AS BIGINT) AS best_j_x10k,
        |  p.matched_base IS NULL AS admitted,
        |  CASE WHEN p.matched_base IS NULL THEN 'none'
        |       WHEN p.matched_base >= 30000000 THEN 'delta'
        |       ELSE 'base' END AS matched_seg,
        |  CAST(coalesce(h.matched_base, -1) AS BIGINT)
        |    AS old_matched_base,
        |  coalesce(h.matched_base % 1000 IN (SELECT user_id FROM era),
        |    false) AS match_was_erased,
        |  ((p.matched_base IS NULL) <> (h.matched_base IS NULL))
        |    AS flipped
        |FROM d2 n LEFT JOIN hitp p ON p.new_id = n.doc_id
        |LEFT JOIN hit2 h ON h.new_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // dd28: dd10's recursive-CC machinery + member-vs-rep string-shingle
    // Jaccard and the chained rollup; DIV operands non-negative
    "dd28_chain_audit" -> (dd10Sql + """,
      |multi AS (SELECT group_rep, CAST(count(*) AS BIGINT) AS n_members
      |  FROM lab GROUP BY 1 HAVING count(*) >= 2),
      |sc AS (SELECT l.group_rep, m.n_members,
      |    CAST(len(list_intersect(sm.sh, sr.sh)) AS BIGINT) * 10000
      |      // (len(sm.sh) + len(sr.sh)
      |          - len(list_intersect(sm.sh, sr.sh))) AS jx
      |  FROM lab l JOIN multi m USING (group_rep)
      |  JOIN sh sm ON sm.doc_id = l.id
      |  JOIN sh sr ON sr.doc_id = l.group_rep
      |  WHERE l.id <> l.group_rep)
      |SELECT group_rep, max(n_members) AS n_members,
      |  min(jx) AS min_j_to_rep_x10k,
      |  CAST(sum(jx) // count(*) AS BIGINT) AS mean_j_to_rep_x10k,
      |  (min(jx) < 5000) AS chained
      |FROM sc GROUP BY group_rep ORDER BY group_rep""".stripMargin),
    // dd27: per-k shingle comprehensions, the dd25 pair protocol
    // and the integer rollup all replayed; DIV operands non-negative
    "dd27_shingle_sweep" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |tkt AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM corpus),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 1 THEN [text]
        |        ELSE [tk[i] for i in generate_series(1, len(tk))] END) AS sh1,
        |    list_distinct(CASE WHEN len(tk) < 2 THEN [text]
        |        ELSE [tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1)] END) AS sh2,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |        ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] for i in generate_series(1, len(tk) - 2)] END) AS sh3,
        |    list_distinct(CASE WHEN len(tk) < 5 THEN [text]
        |        ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] for i in generate_series(1, len(tk) - 4)] END) AS sh5
        |  FROM tkt),
        |pairs AS (SELECT doc_id AS a, doc_id + 10000000 AS b,
        |    'twin' AS pair_type FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 1, 'background' FROM documents),
        |pj AS MATERIALIZED (SELECT p.pair_type, sa.sh1 AS a1, sb.sh1 AS b1, sa.sh2 AS a2, sb.sh2 AS b2, sa.sh3 AS a3, sb.sh3 AS b3, sa.sh5 AS a5, sb.sh5 AS b5
        |  FROM pairs p JOIN sh sa ON sa.doc_id = p.a
        |  JOIN sh sb ON sb.doc_id = p.b),
        |l AS (SELECT pair_type, CAST(1 AS BIGINT) AS k,
        |    CAST(len(list_intersect(a1, b1)) AS BIGINT) * 10000
        |      // (len(a1) + len(b1) - len(list_intersect(a1, b1))) AS jq FROM pj
        |  UNION ALL SELECT pair_type, CAST(2 AS BIGINT) AS k,
        |    CAST(len(list_intersect(a2, b2)) AS BIGINT) * 10000
        |      // (len(a2) + len(b2) - len(list_intersect(a2, b2))) AS jq FROM pj
        |  UNION ALL SELECT pair_type, CAST(3 AS BIGINT) AS k,
        |    CAST(len(list_intersect(a3, b3)) AS BIGINT) * 10000
        |      // (len(a3) + len(b3) - len(list_intersect(a3, b3))) AS jq FROM pj
        |  UNION ALL SELECT pair_type, CAST(5 AS BIGINT) AS k,
        |    CAST(len(list_intersect(a5, b5)) AS BIGINT) * 10000
        |      // (len(a5) + len(b5) - len(list_intersect(a5, b5))) AS jq FROM pj)
        |SELECT k, pair_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(jq) // count(*) AS BIGINT) AS mean_jq_x10k,
        |  CAST(count(*) FILTER (jq >= 5000) AS BIGINT) AS n_ge50,
        |  CAST(count(*) FILTER (jq >= 7000) AS BIGINT) AS n_ge70,
        |  CAST(count(*) FILTER (jq >= 8000) AS BIGINT) AS n_ge80
        |FROM l GROUP BY 1, 2 ORDER BY k, pair_type""".stripMargin,
    // dd26: full replay — md5-ordered 64-doc sample, exact-Jaccard
    // 16-bucket histogram, and the S-curve by the SAME repeated-squaring
    // multiplication chain the Spark side runs (identical IEEE ops on
    // identical operands; the only cross-row float sums are 16-term,
    // rounded to 4 dp). sum(BIGINT) is HUGEINT in DuckDB → cast back.
    "dd26_band_planner" ->
      """WITH ids AS (SELECT doc_id FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
        |ids2 AS (SELECT doc_id FROM ids
        |  UNION ALL SELECT doc_id + 10000000 FROM ids),
        |corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT d.doc_id, d.text, string_split(d.text, ' ') AS tk
        |  FROM corpus d JOIN ids2 ON ids2.doc_id = d.doc_id),
        |shd AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |pr AS (SELECT
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        |      AS j
        |  FROM shd a JOIN shd b ON a.doc_id < b.doc_id),
        |hist AS (SELECT least(CAST(floor(j * 16.0) AS INT), 15) AS m,
        |    count(*) AS cnt FROM pr GROUP BY 1),
        |grid AS (SELECT c.b, c.r, CAST(g.m AS INT) AS m
        |  FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8)) c(b, r),
        |       generate_series(0, 15) g(m)),
        |base AS (SELECT grid.b, grid.r, grid.m,
        |    coalesce(hist.cnt, CAST(0 AS BIGINT)) AS cnt,
        |    CAST(2 * grid.m + 1 AS DOUBLE) / 32.0 AS st
        |  FROM grid LEFT JOIN hist USING (m)),
        |e2 AS (SELECT *, st * st AS st2 FROM base),
        |e4 AS (SELECT *, st2 * st2 AS st4 FROM e2),
        |e8 AS (SELECT *, st4 * st4 AS st8 FROM e4),
        |er AS (SELECT b, r, m, cnt,
        |    CASE r WHEN 1 THEN st WHEN 2 THEN st2 WHEN 4 THEN st4
        |      ELSE st8 END AS sr FROM e8),
        |f0 AS (SELECT *, 1.0 - sr AS q FROM er),
        |f2 AS (SELECT *, q * q AS q2 FROM f0),
        |f4 AS (SELECT *, q2 * q2 AS q4 FROM f2),
        |f8 AS (SELECT *, q4 * q4 AS q8 FROM f4),
        |f16 AS (SELECT *, q8 * q8 AS q16 FROM f8),
        |curve AS (SELECT b, r, m, cnt,
        |    1.0 - (CASE b WHEN 2 THEN q2 WHEN 4 THEN q4 WHEN 8 THEN q8
        |      ELSE q16 END) AS p FROM f16)
        |SELECT b, r,
        |  min(CASE WHEN p >= 0.5 THEN m END) AS crossover_m,
        |  CAST(sum(CASE WHEN m <= 10 THEN cnt ELSE CAST(0 AS BIGINT) END)
        |    AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN m >= 11 THEN cnt ELSE CAST(0 AS BIGINT) END)
        |    AS BIGINT) AS n_hi,
        |  round(sum(CASE WHEN m <= 10 THEN CAST(cnt AS DOUBLE) * p
        |    ELSE 0.0 END), 4) AS exp_fp,
        |  round(sum(CASE WHEN m >= 11 THEN CAST(cnt AS DOUBLE) * (1.0 - p)
        |    ELSE 0.0 END), 4) AS exp_fn
        |FROM curve GROUP BY b, r ORDER BY b DESC""".stripMargin,
    // dd25: full replay — lanes, last-hex-digit (b=4) and parity (b=1)
    // collision counts, the Li-König correction formulas in integer
    // cross-multiplied form, and the per-decile error rollup
    "dd25_bbit_minhash" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM corpus),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |sig AS MATERIALIZED (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7,
        |    list_min([md5(s || '#8') for s in sh]) AS s8,
        |    list_min([md5(s || '#9') for s in sh]) AS s9
        |  FROM sh),
        |pairs AS (SELECT doc_id AS a, doc_id + 10000000 AS b
        |    FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents),
        |scored AS (SELECT
        |    CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) * 10000
        |      // (len(ha.sh) + len(hb.sh)
        |          - len(list_intersect(ha.sh, hb.sh))) AS jq,
        |    (CASE WHEN ga.s0 = gb.s0 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s1 = gb.s1 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s2 = gb.s2 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s3 = gb.s3 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s4 = gb.s4 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s5 = gb.s5 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s6 = gb.s6 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s7 = gb.s7 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s8 = gb.s8 THEN 1 ELSE 0 END
        |     + CASE WHEN ga.s9 = gb.s9 THEN 1 ELSE 0 END) AS eqf,
        |    (CASE WHEN substring(ga.s0, 32, 1) = substring(gb.s0, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s1, 32, 1) = substring(gb.s1, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s2, 32, 1) = substring(gb.s2, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s3, 32, 1) = substring(gb.s3, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s4, 32, 1) = substring(gb.s4, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s5, 32, 1) = substring(gb.s5, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s6, 32, 1) = substring(gb.s6, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s7, 32, 1) = substring(gb.s7, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s8, 32, 1) = substring(gb.s8, 32, 1)
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN substring(ga.s9, 32, 1) = substring(gb.s9, 32, 1)
        |          THEN 1 ELSE 0 END) AS eq4,
        |    (CASE WHEN (substring(ga.s0, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s0, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s1, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s1, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s2, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s2, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s3, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s3, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s4, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s4, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s5, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s5, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s6, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s6, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s7, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s7, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s8, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s8, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END
        |     + CASE WHEN (substring(ga.s9, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          = (substring(gb.s9, 32, 1) IN
        |            ('1','3','5','7','9','b','d','f'))
        |          THEN 1 ELSE 0 END) AS eq1
        |  FROM pairs p
        |  JOIN sh ha ON ha.doc_id = p.a
        |  JOIN sh hb ON hb.doc_id = p.b
        |  JOIN sig ga ON ga.doc_id = p.a
        |  JOIN sig gb ON gb.doc_id = p.b),
        |est AS (
        |  SELECT CAST(128 AS BIGINT) AS bits, jq,
        |      CAST(eqf AS BIGINT) * 1000 AS est FROM scored
        |  UNION ALL
        |  SELECT CAST(4 AS BIGINT), jq,
        |      greatest(16 * CAST(eq4 AS BIGINT) - 10, 0) * 10000 // 150
        |    FROM scored
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), jq,
        |      greatest(2 * CAST(eq1 AS BIGINT) - 10, 0) * 1000
        |    FROM scored)
        |SELECT bits, CAST(least(jq // 1000, 9) AS BIGINT) AS decile,
        |  count(*) AS n_pairs,
        |  CAST(sum(abs(est - jq)) AS BIGINT) AS sum_abs_err,
        |  CAST(sum(est - jq) AS BIGINT) AS sum_err,
        |  CAST(sum(abs(est - jq)) AS BIGINT) // count(*) AS mae_x10k
        |FROM est GROUP BY 1, 2
        |ORDER BY bits DESC, decile""".stripMargin,
    "dd20_lsh_tuning" ->
      s"""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
         |  FROM $recrawlSql),
         |sh AS (SELECT doc_id,
         |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
         |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
         |            for i in generate_series(1, len(tk) - 2)] END) AS sh
         |  FROM tk),
         |sig AS (SELECT doc_id,
         |    [list_min([md5(s || '#' || k) for s in sh])
         |     for k in generate_series(0, 7)] AS sig, sh FROM sh),
         |cfg AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4), (1, 8))
         |  c(bands, rpb)),
         |banded AS (SELECT cfg.bands, cfg.rpb, s.doc_id, b.b AS band,
         |    array_to_string(
         |      sig[b.b * cfg.rpb + 1 : (b.b + 1) * cfg.rpb], '') AS bkey
         |  FROM sig s CROSS JOIN cfg,
         |    LATERAL (SELECT unnest(generate_series(0, cfg.bands - 1))
         |             AS b) b),
         |cand AS (SELECT DISTINCT a.bands, a.rpb,
         |    a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b ON a.bands = b.bands
         |    AND a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id),
         |jac AS (SELECT c.bands, c.rpb, c.doc_a, c.doc_b,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |      AS j
         |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
         |    JOIN sig sb ON sb.doc_id = c.doc_b),
         |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 10000000
         |  WHERE a.doc_id < 10000000
         |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |      >= 0.5)
         |SELECT c.bands::BIGINT AS bands, c.rpb::BIGINT AS rows_per_band,
         |  count(*) AS n_cand,
         |  (SELECT count(*) FROM truth) AS n_true,
         |  CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1.0 / (SELECT count(*) FROM truth), 4) AS recall,
         |  CAST(sum(CASE WHEN c.j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cand_true,
         |  round(sum(CASE WHEN c.j >= 0.5 THEN 1 ELSE 0 END) * 1.0
         |    / count(*), 4) AS precision
         |FROM jac c LEFT JOIN truth t
         |  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         |GROUP BY c.bands, c.rpb ORDER BY bands DESC""".stripMargin,
    "dd18_simhash_oracle" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM $recrawlSql),
         |sg AS (SELECT doc_id,
         |    [substr(md5(t), 1, 16) for t in toks] AS sigs FROM tk),
         |sh AS (SELECT doc_id, array_to_string([
         |    CASE WHEN 2 * len([s for s in sigs if
         |        ((instr('0123456789abcdef', substr(s, (j // 4) + 1, 1)) - 1)
         |          // (1 << (3 - (j % 4)))) % 2 = 1]) >= len(sigs)
         |    THEN '1' ELSE '0' END
         |    for j in generate_series(0, 63)], '') AS simhash
         |  FROM sg),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 'twin' AS pair_type,
         |    a.simhash AS sa, b.simhash AS sb
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 10000000
         |  WHERE a.doc_id < 10000000
         |  UNION ALL
         |  SELECT a.doc_id, b.doc_id, 'control', a.simhash, b.simhash
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 10000001
         |  WHERE a.doc_id < 10000000),
         |h AS (SELECT doc_a, doc_b, pair_type,
         |    CAST(len([i for i in generate_series(1, 64)
         |              if substr(sa, i, 1) <> substr(sb, i, 1)]) AS BIGINT)
         |      AS hamming
         |  FROM p)
         |SELECT doc_a, doc_b, pair_type, hamming, (hamming <= 12) AS is_dup
         |FROM h ORDER BY doc_a, doc_b""".stripMargin,
    "dd19_neardup_recall" ->
      s"""WITH src AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000,
         |    [CAST(embedding[i] + 0.001 *
         |       ((((vec_id * 131071) + ((i - 1) * 524287)) % 1000)
         |        / 500.0 - 1.0) AS REAL)
         |     for i in generate_series(1, len(embedding))]
         |  FROM embeddings),
         |v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM src),
         |n AS (SELECT vec_id, e,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM v),
         |${Similarity.planesCte},
         |sigs AS (SELECT v.vec_id,
         |    sum(CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        [v.e[i] * pl.w[i]
         |         for i in generate_series(1, least(len(v.e), 64))]),
         |        (a, b) -> a + b) >= 0
         |      THEN (1::BIGINT << pl.p) ELSE 0 END) AS sig
         |  FROM v, planes pl GROUP BY v.vec_id),
         |bands AS (SELECT vec_id, b.band,
         |    (sig // (1::BIGINT << (8 * b.band))) % 256 AS bval
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
         |  WHERE a.vec_id < b.vec_id),
         |pp AS (
         |  SELECT c.vec_id AS vec_a, q.vec_id AS vec_b, 'twin' AS pair_type,
         |    round(${Similarity.dotSql} / (c.nrm * q.nrm), 4) AS cosine
         |  FROM n c JOIN n q ON q.vec_id = c.vec_id + 10000000
         |  WHERE c.vec_id < 10000000
         |  UNION ALL
         |  SELECT c.vec_id, q.vec_id, 'control',
         |    round(${Similarity.dotSql} / (c.nrm * q.nrm), 4)
         |  FROM n c JOIN n q ON q.vec_id = c.vec_id + 10000001
         |  WHERE c.vec_id < 10000000)
         |SELECT pp.vec_a, pp.vec_b, pp.pair_type, pp.cosine,
         |  CAST(CASE WHEN cd.vec_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS lsh_hit
         |FROM pp LEFT JOIN cand cd
         |  ON cd.vec_a = pp.vec_a AND cd.vec_b = pp.vec_b
         |ORDER BY pp.vec_a, pp.vec_b""".stripMargin,
    "dd24_semantic_dedup" ->
      s"""WITH src AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000000,
         |    [CAST(embedding[i] + 0.001 *
         |       ((((vec_id * 131071) + ((i - 1) * 524287)) % 1000)
         |        / 500.0 - 1.0) AS REAL)
         |     for i in generate_series(1, len(embedding))]
         |  FROM embeddings),
         |v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM src),
         |n AS (SELECT vec_id, e,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM v),
         |cents AS (SELECT vec_id AS cid, e, nrm FROM n
         |  WHERE vec_id < 10000000 AND vec_id % 97 = 0
         |  ORDER BY vec_id LIMIT 16),
         |ascored AS (SELECT c.vec_id, c.e, c.nrm, q.cid,
         |    ${Similarity.dotSql} / (c.nrm * q.nrm) AS ccos
         |  FROM n c CROSS JOIN cents q),
         |assigned AS (SELECT vec_id, e, nrm, cid AS cluster, ccos FROM (
         |    SELECT vec_id, e, nrm, cid, ccos,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY ccos DESC, cid) AS crn
         |    FROM ascored) WHERE crn = 1),
         |pairs AS (SELECT c.cluster, c.vec_id AS vec_a, q.vec_id AS vec_b,
         |    c.ccos AS cc_a, q.ccos AS cc_b,
         |    ${Similarity.dotSql} / (c.nrm * q.nrm) AS cos
         |  FROM assigned c JOIN assigned q
         |    ON c.cluster = q.cluster AND c.vec_id < q.vec_id),
         |dropped AS (SELECT DISTINCT cluster,
         |    CASE WHEN cc_a > cc_b OR (cc_a = cc_b AND vec_a > vec_b)
         |         THEN vec_a ELSE vec_b END AS vec_id
         |  FROM pairs WHERE cos >= 0.9),
         |stats AS (SELECT cluster, count(*) AS n_total,
         |    count(*) FILTER (vec_id >= 10000000) AS n_twin
         |  FROM assigned GROUP BY cluster),
         |dstats AS (SELECT cluster, count(*) AS nd,
         |    count(*) FILTER (vec_id >= 10000000) AS ntd
         |  FROM dropped GROUP BY cluster)
         |SELECT s.cluster, s.n_total, s.n_twin,
         |  COALESCE(d.nd, 0) AS n_dropped,
         |  COALESCE(d.ntd, 0) AS n_twin_dropped,
         |  COALESCE(d.nd, 0) * 10000 // s.n_total AS drop_x10k
         |FROM stats s LEFT JOIN dstats d ON s.cluster = d.cluster
         |ORDER BY s.cluster""".stripMargin,
    // dd31: chimera plant + positional 4-gram diagonal islands, both
    // replayed (1-based positions vs Spark's 0-based — diagonals and
    // run lengths are shift-invariant); chim/pairs MATERIALIZED
    // (multi-consumed)
    "dd31_longest_span" ->
      """WITH ord AS (SELECT doc_id, text,
        |    coalesce(lead(text) OVER (PARTITION BY source
        |        ORDER BY doc_id),
        |      first_value(text) OVER (PARTITION BY source
        |        ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND UNBOUNDED FOLLOWING)) AS ptext,
        |    coalesce(lead(doc_id) OVER (PARTITION BY source
        |        ORDER BY doc_id),
        |      first_value(doc_id) OVER (PARTITION BY source
        |        ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND UNBOUNDED FOLLOWING)) AS pid
        |  FROM documents),
        |chim AS MATERIALIZED (SELECT doc_id + 30000000 AS doc_id,
        |    doc_id AS src_a, pid AS src_b,
        |    array_to_string(string_split(text, ' ')[1 :
        |      (len(string_split(text, ' ')) + 1) // 2], ' ')
        |    || ' ' ||
        |    array_to_string(string_split(ptext, ' ')[
        |      len(string_split(ptext, ' ')) // 2 + 1 :
        |      len(string_split(ptext, ' '))], ' ') AS text
        |  FROM ord),
        |pairs AS MATERIALIZED (
        |  SELECT src_a AS a, doc_id AS b FROM chim
        |  UNION
        |  SELECT src_b AS a, doc_id AS b FROM chim),
        |ga AS (SELECT doc_id AS a, p AS i,
        |    toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] || ' ' ||
        |      toks[p+3] AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents WHERE len(string_split(text, ' ')) >= 4),
        |  LATERAL (SELECT unnest(generate_series(1, len(toks) - 3))
        |           AS p)),
        |gb AS (SELECT doc_id AS b, p AS j,
        |    toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] || ' ' ||
        |      toks[p+3] AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM chim WHERE len(string_split(text, ' ')) >= 4),
        |  LATERAL (SELECT unnest(generate_series(1, len(toks) - 3))
        |           AS p)),
        |m AS (SELECT pr.a, pr.b, ga.i, gb.j
        |  FROM pairs pr JOIN ga ON ga.a = pr.a
        |  JOIN gb ON gb.b = pr.b AND gb.g = ga.g),
        |runs AS (SELECT a, b, i - j AS diag,
        |    i - row_number() OVER (PARTITION BY a, b, i - j
        |      ORDER BY i) AS grp
        |  FROM m),
        |spans AS (SELECT a, b, max(run) + 3 AS span FROM (
        |    SELECT a, b, diag, grp, count(*) AS run
        |    FROM runs GROUP BY 1, 2, 3, 4) GROUP BY 1, 2),
        |nt AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM chim)
        |SELECT pr.a, pr.b,
        |  na.n AS n_a, nb.n AS n_b,
        |  CAST(coalesce(spans.span, 0) AS BIGINT) AS span_tokens,
        |  CAST(coalesce(spans.span, 0) * 10000 // least(na.n, nb.n)
        |    AS BIGINT) AS span_share_x10k
        |FROM pairs pr
        |LEFT JOIN spans ON spans.a = pr.a AND spans.b = pr.b
        |JOIN nt na ON na.doc_id = pr.a
        |JOIN nt nb ON nb.doc_id = pr.b
        |ORDER BY pr.a, pr.b""".stripMargin,
    // dd32: the full removal pipeline replayed — same md5 span
    // fingerprints, same (doc_id, pos) canonical rank, same covered-
    // position union, cleaned text rebuilt token-by-token (1-based
    // positions; ranks and windows are shift-invariant)
    "dd32_span_removal" ->
      """WITH tk AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS toks FROM documents),
        |spans AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |red AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (
        |      PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans)
        |  WHERE rn >= 2),
        |rem AS MATERIALIZED (SELECT DISTINCT doc_id, p
        |  FROM red, LATERAL (SELECT
        |    unnest(generate_series(pos, pos + 7)) AS p)),
        |tokpos AS (SELECT doc_id, i AS p, toks[i] AS tok FROM tk,
        |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |agg AS (SELECT t.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(rem.p) AS BIGINT) AS n_removed,
        |    md5(coalesce(array_to_string(
        |      list(t.tok ORDER BY t.p) FILTER (WHERE rem.p IS NULL),
        |      ' '), '')) AS fp_clean
        |  FROM tokpos t LEFT JOIN rem
        |    ON rem.doc_id = t.doc_id AND rem.p = t.p
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, n_removed,
        |  n_tokens - n_removed AS n_kept,
        |  n_removed * 10000 // n_tokens AS removed_x10k, fp_clean
        |FROM agg ORDER BY doc_id""".stripMargin,
    // dd33: the dd32 chain + cleaned text, then the SAME census over
    // both corpora (rank ≥ 2 under the canonical order)
    "dd33_removal_audit" ->
      """WITH tk AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS toks FROM documents),
        |spans AS MATERIALIZED (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |red AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (
        |      PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans)
        |  WHERE rn >= 2),
        |rem AS MATERIALIZED (SELECT DISTINCT doc_id, p
        |  FROM red, LATERAL (SELECT
        |    unnest(generate_series(pos, pos + 7)) AS p)),
        |tokpos AS (SELECT doc_id, i AS p, toks[i] AS tok FROM tk,
        |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |ct AS MATERIALIZED (SELECT t.doc_id,
        |    coalesce(array_to_string(
        |      list(t.tok ORDER BY t.p) FILTER (WHERE rem.p IS NULL),
        |      ' '), '') AS text
        |  FROM tokpos t LEFT JOIN rem
        |    ON rem.doc_id = t.doc_id AND rem.p = t.p
        |  GROUP BY t.doc_id),
        |r1 AS (SELECT fp, row_number() OVER (
        |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans),
        |tk2 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ct),
        |spans2 AS (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk2, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |r2 AS (SELECT fp, row_number() OVER (
        |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans2),
        |st AS (
        |  SELECT 'before' AS phase,
        |    CAST(count(*) AS BIGINT) AS n_positions,
        |    CAST(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_redundant,
        |    CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fps,
        |    CAST(count(DISTINCT CASE WHEN rn = 2 THEN fp END)
        |      AS BIGINT) AS recurring_fps
        |  FROM r1
        |  UNION ALL
        |  SELECT 'after',
        |    CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT fp) AS BIGINT),
        |    CAST(count(DISTINCT CASE WHEN rn = 2 THEN fp END)
        |      AS BIGINT)
        |  FROM r2)
        |SELECT phase, n_positions, n_redundant,
        |  n_redundant * 10000 // n_positions AS redundant_x10k,
        |  distinct_fps, recurring_fps
        |FROM st ORDER BY phase""".stripMargin,
    // dd34: the fixpoint unrolled to 2 cuts / 3 censuses (ample at
    // fixture scale — the corpus converges after 1 cut; a corpus
    // needing more rounds produces extra Spark rows and fails the
    // hash LOUDLY). Census rows emit only while the previous round
    // was still recurring, so both engines stop at the same round.
    // Every chained CTE is MATERIALIZED (the dd13/gr04 inlining rule:
    // DuckDB re-expands multi-referenced CTEs per consumer).
    "dd34_exactsubstr_fixpoint" ->
      """WITH tk0 AS MATERIALIZED (SELECT doc_id,
        |    string_split(text, ' ') AS toks FROM documents),
        |spans0 AS MATERIALIZED (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk0, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |r0 AS MATERIALIZED (SELECT doc_id, pos, fp, row_number() OVER (
        |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans0),
        |c0 AS MATERIALIZED (SELECT
        |    CAST(count(*) AS BIGINT) AS n_positions,
        |    CAST(coalesce(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_redundant,
        |    CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fps,
        |    CAST(count(DISTINCT CASE WHEN rn = 2 THEN fp END)
        |      AS BIGINT) AS recurring_fps
        |  FROM r0),
        |rem0 AS MATERIALIZED (SELECT DISTINCT doc_id, p
        |  FROM r0, LATERAL (SELECT
        |    unnest(generate_series(pos, pos + 7)) AS p)
        |  WHERE rn >= 2),
        |tokpos0 AS (SELECT doc_id, i AS p, toks[i] AS tok FROM tk0,
        |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |tk1 AS MATERIALIZED (SELECT t.doc_id, string_split(
        |    coalesce(array_to_string(
        |      list(t.tok ORDER BY t.p) FILTER (WHERE rem0.p IS NULL),
        |      ' '), ''), ' ') AS toks
        |  FROM tokpos0 t LEFT JOIN rem0
        |    ON rem0.doc_id = t.doc_id AND rem0.p = t.p
        |  GROUP BY t.doc_id),
        |spans1 AS MATERIALIZED (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk1, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |r1 AS MATERIALIZED (SELECT doc_id, pos, fp, row_number() OVER (
        |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans1),
        |c1 AS MATERIALIZED (SELECT
        |    CAST(count(*) AS BIGINT) AS n_positions,
        |    CAST(coalesce(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_redundant,
        |    CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fps,
        |    CAST(count(DISTINCT CASE WHEN rn = 2 THEN fp END)
        |      AS BIGINT) AS recurring_fps
        |  FROM r1),
        |rem1 AS MATERIALIZED (SELECT DISTINCT doc_id, p
        |  FROM r1, LATERAL (SELECT
        |    unnest(generate_series(pos, pos + 7)) AS p)
        |  WHERE rn >= 2),
        |tokpos1 AS (SELECT doc_id, i AS p, toks[i] AS tok FROM tk1,
        |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |tk2 AS MATERIALIZED (SELECT t.doc_id, string_split(
        |    coalesce(array_to_string(
        |      list(t.tok ORDER BY t.p) FILTER (WHERE rem1.p IS NULL),
        |      ' '), ''), ' ') AS toks
        |  FROM tokpos1 t LEFT JOIN rem1
        |    ON rem1.doc_id = t.doc_id AND rem1.p = t.p
        |  GROUP BY t.doc_id),
        |spans2 AS MATERIALIZED (SELECT doc_id, i AS pos,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk2, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks) - 7)) AS i)
        |  WHERE len(toks) >= 8),
        |r2 AS (SELECT fp, row_number() OVER (
        |    PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM spans2),
        |c2 AS MATERIALIZED (SELECT
        |    CAST(count(*) AS BIGINT) AS n_positions,
        |    CAST(coalesce(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END), 0)
        |      AS BIGINT) AS n_redundant,
        |    CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fps,
        |    CAST(count(DISTINCT CASE WHEN rn = 2 THEN fp END)
        |      AS BIGINT) AS recurring_fps
        |  FROM r2),
        |allr AS (
        |  SELECT CAST(0 AS BIGINT) AS round, * FROM c0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), * FROM c1
        |  WHERE (SELECT n_redundant FROM c0) > 0
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), * FROM c2
        |  WHERE (SELECT n_redundant FROM c0) > 0
        |    AND (SELECT n_redundant FROM c1) > 0)
        |SELECT round, n_positions, n_redundant,
        |  CASE WHEN n_positions = 0 THEN CAST(0 AS BIGINT)
        |    ELSE n_redundant * 10000 // n_positions END
        |    AS redundant_x10k,
        |  distinct_fps, recurring_fps
        |FROM allr ORDER BY round""".stripMargin,
    "dd16_substring_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
        |spans AS (SELECT doc_id,
        |    md5(array_to_string(toks[i : i + 7], ' ')) AS fp
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7))
        |                    AS i)),
        |cnts AS (SELECT fp, count(*) AS cnt FROM spans GROUP BY fp)
        |SELECT s.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repeated,
        |  round(CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS repeat_frac
        |FROM spans s JOIN cnts c USING (fp)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // dd22: discovery (md5-lane banding) + verify + recursive-CTE label
    // fixpoint, replayed end-to-end — hash equality pins the KEEP-SET.
    // dd30: corpus planting, the shared Jaccard verify, BOTH threshold
    // CCs (recursive, materialized) and the exact-identity labels all
    // replayed; rollups integer
    "dd30_policy_impact" ->
      """WITH RECURSIVE
        |m1 AS (SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text
        |         WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |m2 AS (SELECT doc_id + 20000000 AS doc_id,
        |    array_to_string(string_split(text, ' ')[
        |      (len(string_split(text, ' ')) // 3 + 1):], ' ') AS text
        |  FROM documents),
        |corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2),
        |nt AS MATERIALIZED (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    md5(text) AS fp
        |  FROM corpus),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM corpus),
        |sh AS MATERIALIZED (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |cand AS (SELECT doc_id AS a, doc_id + 10000000 AS b FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 20000000 FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id + 20000000 FROM documents),
        |jac AS MATERIALIZED (SELECT a, b,
        |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / (len(sa.sh) + len(sb.sh)
        |         - len(list_intersect(sa.sh, sb.sh))) AS j
        |  FROM cand
        |  JOIN sh sa ON sa.doc_id = cand.a
        |  JOIN sh sb ON sb.doc_id = cand.b),
        |sym50 AS (SELECT a, b FROM jac WHERE j >= 0.5
        |  UNION ALL SELECT b, a FROM jac WHERE j >= 0.5),
        |r50 AS (SELECT doc_id AS id, doc_id AS label FROM corpus
        |  UNION SELECT s.b AS id, r.label FROM r50 r
        |    JOIN sym50 s ON s.a = r.id),
        |lab50 AS MATERIALIZED (SELECT id, min(label) AS label
        |  FROM r50 GROUP BY id),
        |sym80 AS (SELECT a, b FROM jac WHERE j >= 0.8
        |  UNION ALL SELECT b, a FROM jac WHERE j >= 0.8),
        |r80 AS (SELECT doc_id AS id, doc_id AS label FROM corpus
        |  UNION SELECT s.b AS id, r.label FROM r80 r
        |    JOIN sym80 s ON s.a = r.id),
        |lab80 AS MATERIALIZED (SELECT id, min(label) AS label
        |  FROM r80 GROUP BY id),
        |labx AS (SELECT doc_id AS id,
        |    min(doc_id) OVER (PARTITION BY fp) AS label
        |  FROM nt)
        |SELECT 'exact' AS policy, CAST(count(*) AS BIGINT) AS docs_in,
        |  CAST(count(DISTINCT label) AS BIGINT) AS docs_kept,
        |  CAST(count(*) - count(DISTINCT label) AS BIGINT)
        |    AS docs_removed,
        |  CAST(sum(CASE WHEN id <> label THEN ntok ELSE 0 END)
        |    AS BIGINT) AS tokens_removed
        |FROM labx JOIN nt ON nt.doc_id = labx.id
        |UNION ALL
        |SELECT 'jaccard_50', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT label) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT label) AS BIGINT),
        |  CAST(sum(CASE WHEN id <> label THEN ntok ELSE 0 END)
        |    AS BIGINT)
        |FROM lab50 JOIN nt ON nt.doc_id = lab50.id
        |UNION ALL
        |SELECT 'jaccard_80', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT label) AS BIGINT),
        |  CAST(count(*) - count(DISTINCT label) AS BIGINT),
        |  CAST(sum(CASE WHEN id <> label THEN ntok ELSE 0 END)
        |    AS BIGINT)
        |FROM lab80 JOIN nt ON nt.doc_id = lab80.id
        |ORDER BY policy""".stripMargin,
    // dd29: batch perturbation, both signature builds, the band join,
    // the Jaccard verify and the best-match window all replayed; the
    // nullable best-match coalesces to -1 so no column is nullable
    "dd29_incremental_admission" -> dd29AdmissionSql,
    // dd35 = dd29 off the PERSISTED index — byte-identical result is
    // the contract, so the oracle is the same replay
    "dd35_persisted_bands" -> dd29AdmissionSql,
    // dd36: both ingest days replayed end-to-end — day-1 admission
    // against base, the admitted set becoming the delta, day-2's
    // union-of-segments candidates, verify and verdict. Multi-
    // referenced CTEs MATERIALIZED (the gr04/gr11 inlining hazard)
    "dd36_delta_band_index" -> dd36DeltaSql,
    // dd37 = dd36 off the COMPACTED single segment — byte-identical
    // verdicts are the contract, so the oracle is the same replay
    "dd37_compacted_bands" -> dd36DeltaSql,
    "dd38_erasure_purge" -> dd38PurgeSql,
    "dd22_fuzzy_keepset" ->
      """WITH RECURSIVE
        |m1 AS (SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |m2 AS (SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM m1),
        |corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT * FROM m1 UNION ALL SELECT * FROM m2),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |  FROM corpus),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |sig AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM sh),
        |banded AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sig
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sig
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sig
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id),
        |edges AS (SELECT a, b FROM cand
        |  JOIN sh sa ON sa.doc_id = cand.a
        |  JOIN sh sb ON sb.doc_id = cand.b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
        |    >= 0.5),
        |sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        |r AS (SELECT doc_id AS id, doc_id AS label FROM corpus
        |  UNION
        |  SELECT s.b AS id, r.label FROM r JOIN sym s ON s.a = r.id),
        |lab AS (SELECT id, min(label) AS group_rep FROM r GROUP BY id)
        |SELECT l.id AS doc_id, l.group_rep, g.cnt AS group_size,
        |  l.id = l.group_rep AS kept
        |FROM lab l JOIN (SELECT group_rep, count(*) AS cnt FROM lab
        |                 GROUP BY group_rep) g USING (group_rep)
        |ORDER BY doc_id""".stripMargin,
    "dd23_fuzzy_decontaminate" ->
      """WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
        |planted AS (SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string([CASE WHEN i % 3 = 1 THEN 'zz' ELSE tk[i] END
        |      for i in generate_series(1, len(tk))], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM bench)),
        |train AS (SELECT doc_id, text FROM documents WHERE doc_id >= 5
        |  UNION ALL SELECT * FROM planted),
        |bsh AS (SELECT DISTINCT md5(u.s) AS fp FROM (
        |    SELECT text, string_split(text, ' ') AS tk FROM bench) b,
        |  unnest(list_distinct(CASE WHEN len(b.tk) < 3 THEN [b.text]
        |    ELSE [b.tk[i] || ' ' || b.tk[i+1] || ' ' || b.tk[i+2]
        |          for i in generate_series(1, len(b.tk) - 2)] END)) AS u(s)),
        |tsh AS (SELECT t.doc_id, md5(u.s) AS fp FROM (
        |    SELECT doc_id, text, string_split(text, ' ') AS tk FROM train) t,
        |  unnest(list_distinct(CASE WHEN len(t.tk) < 3 THEN [t.text]
        |    ELSE [t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2]
        |          for i in generate_series(1, len(t.tk) - 2)] END)) AS u(s)),
        |ex AS MATERIALIZED (SELECT DISTINCT doc_id AS train_id FROM tsh
        |  WHERE fp IN (SELECT fp FROM bsh)),
        |but AS MATERIALIZED (SELECT doc_id,
        |    list_distinct([tk[i] || ' ' || tk[i+1]
        |      for i in generate_series(1, len(tk) - 1)]) AS toks
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM bench)
        |  WHERE len(tk) >= 2),
        |tut AS MATERIALIZED (SELECT doc_id,
        |    list_distinct([tk[i] || ' ' || tk[i+1]
        |      for i in generate_series(1, len(tk) - 1)]) AS toks
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM train)
        |  WHERE len(tk) >= 2),
        |bsig AS (SELECT doc_id,
        |    list_min([md5(t || '#0') for t in toks]) AS s0,
        |    list_min([md5(t || '#1') for t in toks]) AS s1,
        |    list_min([md5(t || '#2') for t in toks]) AS s2,
        |    list_min([md5(t || '#3') for t in toks]) AS s3,
        |    list_min([md5(t || '#4') for t in toks]) AS s4,
        |    list_min([md5(t || '#5') for t in toks]) AS s5,
        |    list_min([md5(t || '#6') for t in toks]) AS s6,
        |    list_min([md5(t || '#7') for t in toks]) AS s7,
        |    list_min([md5(t || '#8') for t in toks]) AS s8,
        |    list_min([md5(t || '#9') for t in toks]) AS s9,
        |    list_min([md5(t || '#10') for t in toks]) AS s10,
        |    list_min([md5(t || '#11') for t in toks]) AS s11,
        |    list_min([md5(t || '#12') for t in toks]) AS s12,
        |    list_min([md5(t || '#13') for t in toks]) AS s13,
        |    list_min([md5(t || '#14') for t in toks]) AS s14,
        |    list_min([md5(t || '#15') for t in toks]) AS s15
        |  FROM but),
        |tsig AS (SELECT doc_id,
        |    list_min([md5(t || '#0') for t in toks]) AS s0,
        |    list_min([md5(t || '#1') for t in toks]) AS s1,
        |    list_min([md5(t || '#2') for t in toks]) AS s2,
        |    list_min([md5(t || '#3') for t in toks]) AS s3,
        |    list_min([md5(t || '#4') for t in toks]) AS s4,
        |    list_min([md5(t || '#5') for t in toks]) AS s5,
        |    list_min([md5(t || '#6') for t in toks]) AS s6,
        |    list_min([md5(t || '#7') for t in toks]) AS s7,
        |    list_min([md5(t || '#8') for t in toks]) AS s8,
        |    list_min([md5(t || '#9') for t in toks]) AS s9,
        |    list_min([md5(t || '#10') for t in toks]) AS s10,
        |    list_min([md5(t || '#11') for t in toks]) AS s11,
        |    list_min([md5(t || '#12') for t in toks]) AS s12,
        |    list_min([md5(t || '#13') for t in toks]) AS s13,
        |    list_min([md5(t || '#14') for t in toks]) AS s14,
        |    list_min([md5(t || '#15') for t in toks]) AS s15
        |  FROM tut),
        |bband AS (SELECT doc_id, 0 AS band, s0 AS bkey FROM bsig
        |  UNION ALL SELECT doc_id, 1, s1 FROM bsig
        |  UNION ALL SELECT doc_id, 2, s2 FROM bsig
        |  UNION ALL SELECT doc_id, 3, s3 FROM bsig
        |  UNION ALL SELECT doc_id, 4, s4 FROM bsig
        |  UNION ALL SELECT doc_id, 5, s5 FROM bsig
        |  UNION ALL SELECT doc_id, 6, s6 FROM bsig
        |  UNION ALL SELECT doc_id, 7, s7 FROM bsig
        |  UNION ALL SELECT doc_id, 8, s8 FROM bsig
        |  UNION ALL SELECT doc_id, 9, s9 FROM bsig
        |  UNION ALL SELECT doc_id, 10, s10 FROM bsig
        |  UNION ALL SELECT doc_id, 11, s11 FROM bsig
        |  UNION ALL SELECT doc_id, 12, s12 FROM bsig
        |  UNION ALL SELECT doc_id, 13, s13 FROM bsig
        |  UNION ALL SELECT doc_id, 14, s14 FROM bsig
        |  UNION ALL SELECT doc_id, 15, s15 FROM bsig),
        |tband AS (SELECT doc_id, 0 AS band, s0 AS bkey FROM tsig
        |  UNION ALL SELECT doc_id, 1, s1 FROM tsig
        |  UNION ALL SELECT doc_id, 2, s2 FROM tsig
        |  UNION ALL SELECT doc_id, 3, s3 FROM tsig
        |  UNION ALL SELECT doc_id, 4, s4 FROM tsig
        |  UNION ALL SELECT doc_id, 5, s5 FROM tsig
        |  UNION ALL SELECT doc_id, 6, s6 FROM tsig
        |  UNION ALL SELECT doc_id, 7, s7 FROM tsig
        |  UNION ALL SELECT doc_id, 8, s8 FROM tsig
        |  UNION ALL SELECT doc_id, 9, s9 FROM tsig
        |  UNION ALL SELECT doc_id, 10, s10 FROM tsig
        |  UNION ALL SELECT doc_id, 11, s11 FROM tsig
        |  UNION ALL SELECT doc_id, 12, s12 FROM tsig
        |  UNION ALL SELECT doc_id, 13, s13 FROM tsig
        |  UNION ALL SELECT doc_id, 14, s14 FROM tsig
        |  UNION ALL SELECT doc_id, 15, s15 FROM tsig),
        |cand AS MATERIALIZED (SELECT DISTINCT t.doc_id AS train_id,
        |    b.doc_id AS bench_id
        |  FROM tband t JOIN bband b
        |    ON t.band = b.band AND t.bkey = b.bkey),
        |verify AS (SELECT c.train_id, c.bench_id,
        |    CAST(len(list_intersect(tt.toks, bb.toks)) AS BIGINT) * 10000
        |      // (CAST(len(tt.toks) + len(bb.toks) AS BIGINT)
        |          - len(list_intersect(tt.toks, bb.toks))) AS jac_x10000
        |  FROM cand c JOIN tut tt ON tt.doc_id = c.train_id
        |  JOIN but bb ON bb.doc_id = c.bench_id),
        |fz AS (SELECT train_id, CAST(count(*) AS BIGINT) AS n_bench_pairs,
        |    CAST(max(jac_x10000) AS BIGINT) AS best_jac_x10000
        |  FROM verify WHERE jac_x10000 >= 1500 GROUP BY train_id)
        |SELECT coalesce(e.train_id, f.train_id) AS train_id,
        |  (e.train_id IS NOT NULL) AS caught_exact,
        |  (coalesce(f.n_bench_pairs, 0) > 0) AS caught_fuzzy,
        |  coalesce(f.n_bench_pairs, 0) AS n_bench_pairs,
        |  coalesce(f.best_jac_x10000, 0) AS best_jac_x10000
        |FROM ex e FULL OUTER JOIN fz f ON f.train_id = e.train_id
        |ORDER BY train_id""".stripMargin,
    "dd15_lsh_recall" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM corpus),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |sig AS (SELECT doc_id,
        |    list_min([md5(s || '#0') for s in sh]) AS s0,
        |    list_min([md5(s || '#1') for s in sh]) AS s1,
        |    list_min([md5(s || '#2') for s in sh]) AS s2,
        |    list_min([md5(s || '#3') for s in sh]) AS s3,
        |    list_min([md5(s || '#4') for s in sh]) AS s4,
        |    list_min([md5(s || '#5') for s in sh]) AS s5,
        |    list_min([md5(s || '#6') for s in sh]) AS s6,
        |    list_min([md5(s || '#7') for s in sh]) AS s7
        |  FROM sh),
        |banded AS (
        |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM sig
        |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM sig
        |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM sig
        |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id),
        |truth AS (SELECT * FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        |        AS jac
        |    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 10000000
        |    WHERE a.doc_id < 10000000)
        |  WHERE jac >= 0.5),
        |flagged AS (SELECT t.jac,
        |    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM truth t LEFT JOIN cand c
        |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
        |SELECT CAST(least(floor(jac * 10), 9) AS BIGINT) AS decile,
        |  count(*) AS n_true,
        |  CAST(sum(hit) AS BIGINT) AS n_found,
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 2) AS recall
        |FROM flagged GROUP BY 1 ORDER BY decile""".stripMargin,
    "dd14_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ') AS line
        |  FROM base, LATERAL (SELECT unnest(range(1, (len(toks)-1)//8 + 2)) AS i)),
        |marked AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1 AS keep
        |  FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(line, ' ' ORDER BY pos)
        |        FILTER (WHERE keep), '')) AS clean_fp
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // dd21: the oracle replays ALL pairs (affordable at oracle SF) — hash
    // equality certifies that the prefix filter lost no qualifying pair.
    // r6: the oracle replays the Spark side's OWN prefix-filter
    // formulation instead of the all-pairs shared-shingle self-join
    // (quadratic; spilled ~75 GB at sf0.1 and had to be hand-stripped
    // from large-SF selfchecks). The prefix-filter guarantee is
    // ORDER-FREE — a pair with containment >= 0.8 must share one of ANY
    // floor(|A|/5)+1 probe shingles — so the md5-hex rarity order here
    // and the xxhash64 order on the Spark side generate (possibly
    // different) candidate SUPERSETS that the exact verify reduces to
    // the identical qualifying set. Hash unchanged; runs at sf0.1.
    "dd21_containment_join" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |           FROM documents),
        |shl AS (SELECT doc_id,
        |  CASE WHEN len(tk) < 3 THEN [text]
        |       ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |             for i in generate_series(1, len(tk) - 2)] END AS shingles
        |  FROM t),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, md5(sh0) AS sh
        |       FROM (SELECT doc_id, unnest(shingles) AS sh0 FROM shl)),
        |dfx AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |rk AS (SELECT s.doc_id, s.sh,
        |         row_number() OVER (PARTITION BY s.doc_id
        |           ORDER BY d.df, s.sh) AS rk,
        |         count(*) OVER (PARTITION BY s.doc_id) AS n_sh
        |       FROM sh s JOIN dfx d ON d.sh = s.sh),
        |prefix AS (SELECT doc_id AS a, sh, n_sh AS n_contained
        |           FROM rk WHERE rk <= n_sh // 5 + 1),
        |cand AS (SELECT DISTINCT p.a, s.doc_id AS b, p.n_contained
        |         FROM prefix p JOIN sh s ON s.sh = p.sh
        |           AND s.doc_id <> p.a),
        |cand2 AS (SELECT c.a, c.b, c.n_contained, z.n_sh AS n_container
        |          FROM cand c
        |          JOIN (SELECT doc_id, count(*) AS n_sh FROM sh
        |                GROUP BY 1) z ON z.doc_id = c.b
        |          WHERE z.n_sh * 5 >= c.n_contained * 4),
        |ver AS (SELECT c.a, c.b, c.n_contained, c.n_container,
        |          count(*) AS n_shared
        |        FROM cand2 c
        |        JOIN sh sa ON sa.doc_id = c.a
        |        JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
        |        GROUP BY 1, 2, 3, 4)
        |SELECT a AS contained_id, b AS container_id, n_shared,
        |  n_contained, n_container
        |FROM ver WHERE n_shared * 5 >= n_contained * 4
        |ORDER BY contained_id, container_id""".stripMargin,

    "dd09_jaccard_oracle" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(tk) < 3 THEN [text]
        |       ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |             for i in generate_series(1, len(tk) - 2)] END AS shingles
        |  FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_distinct(list_intersect(a.shingles, b.shingles))) AS DOUBLE)
        |        / len(list_distinct(a.shingles || b.shingles)), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,

    "dd08_minhash_oracle" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(tk) < 3 THEN [text]
        |       ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |             for i in generate_series(1, len(tk) - 2)] END AS shingles
        |  FROM t)
        |SELECT doc_id,
        |  list_min([md5(s || '#0') for s in shingles]) AS sig0,
        |  list_min([md5(s || '#1') for s in shingles]) AS sig1,
        |  list_min([md5(s || '#2') for s in shingles]) AS sig2,
        |  list_min([md5(s || '#3') for s in shingles]) AS sig3
        |FROM sh ORDER BY doc_id""".stripMargin,

    "dd01_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "dd02_dedup_exact_hash" ->
      s"""SELECT min(doc_id) AS doc_id, md5(text) AS fp, count(*) AS n_copies
         |FROM $recrawlSql GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    // dd10/dd13: identical edge construction, then transitive min-label
    // propagation as a recursive CTE (UNION dedup terminates the
    // recursion) — the declarative mirror of BOTH Spark fixpoint loops
    // (propagation and star contraction label components identically).
    "dd10_dedup_groups" -> (dd10Sql + dd10SqlSelect),
    
    "dd13_dedup_groups_star" -> (dd10Sql + dd10SqlSelect),
    "dd17_quality_canonical" -> dd17Sql,
    "dd11_incremental_dedup" ->
      """WITH nb AS (SELECT doc_id + 10000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, md5(text) AS fp FROM nb
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // dd03-dd07 use xxhash64 / custom expressions — not DuckDB-expressible;
    // the driver records rows-only checks for them. Each now has an
    // oracle-anchored twin running the same algorithm on portable
    // arithmetic: dd08/dd15 (dd03/dd04/dd06), dd18 (dd05), dd19 (dd07).
  )
}
