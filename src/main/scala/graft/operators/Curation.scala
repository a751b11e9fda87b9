package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Corpus-curation operators: the document- and embedding-level gates a
  * large-scale training-data pipeline runs between raw crawl and shard
  * packing (builder mandate; no reference counterpart — the reference
  * treats values as opaque strings, SURVEY §1.3). Published-heuristic
  * flavor: Gopher's document rules (Rae et al. 2021, arXiv:2112.11446
  * §A1.1), C4's cleaning filters (Raffel et al. 2020, arXiv:1910.10683
  * §2.2), and SemDeDup's cluster-then-dedup shape (Abbas et al. 2023,
  * arXiv:2303.09540).
  *
  * Scale design: the text gates (pp05/tx15) are per-row projections —
  * zero shuffle; the frequency operators (tx14/tx16) shuffle token-keyed
  * counters, never text; the embedding operators (dd12/ss08) bound their
  * quadratic/aggregation work by cluster — the SemDeDup trick that makes
  * 100 TB semantic dedup tractable.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** pp05: Gopher/C4-style document QUALITY GATE — four deterministic
    * rules per doc (token-count bounds, mean-word-length bounds,
    * duplicate-token fraction, symbol ratio), each surfaced as its own
    * flag so downstream mixing can weight rather than drop. Pure per-row
    * projection: no shuffle, whole-stage codegen, linear at 100 TB.
    */
  val pp05QualityFilter: Q = (s, d) => {
    val tk = split(col("text"), " ")
    val nTok = size(tk).cast("bigint")
    val nDistinct = size(array_distinct(tk)).cast("bigint")
    // chars excluding the n-1 separators, over tokens = mean word length
    val meanLen = (col("n_chars") - (nTok - lit(1))).cast("double") / nTok
    val symFrac = (col("n_chars") - length(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))).cast("double") /
      col("n_chars")
    val dupFrac = lit(1.0) - nDistinct.cast("double") / nTok
    t(s, d, "documents")
      .select(col("doc_id"), nTok.as("n_tokens"),
        round(meanLen, 4).as("mean_word_len"),
        round(dupFrac, 4).as("dup_token_frac"),
        round(symFrac, 4).as("symbol_frac"),
        (nTok >= 10 && nTok <= 1000).as("ok_len"),
        (meanLen >= 2.0 && meanLen <= 12.0).as("ok_word_len"),
        (dupFrac <= 0.6).as("ok_repetition"),
        (symFrac <= 0.1).as("ok_symbols"))
      .withColumn("keep",
        col("ok_len") && col("ok_word_len") &&
          col("ok_repetition") && col("ok_symbols"))
      .orderBy("doc_id")
  }

  /** pp26: LINE-level quality CLEANING — the C4/justext step between
    * pp05's document-level gate and dd14's corpus-wide line dedup:
    * classify each LINE of a document against deterministic quality
    * rules, emit the cleaned document fingerprint plus per-rule removal
    * counters (the audit a curation run logs per shard). The real-web
    * rules are C4's "ends in terminal punctuation / ≥5 words / no
    * boilerplate phrase" (Raffel et al. 2020 §2.2); this corpus has no
    * punctuation, so the trio is corpus-appropriate — short tail lines
    * (<4 tokens), stopword-dominated lines (≥25% {a, the}), and
    * low-diversity lines (<75% distinct tokens) — with every threshold
    * an integer cross-multiplication so both engines compare exactly.
    * "Lines" are dd14's non-overlapping 8-token segments (the corpus
    * has no newlines; the shape is identical for real \n lines).
    *
    * Shape discipline: a per-document statistic must not shuffle
    * (tx14's lesson) — lines, rule flags, counters and the cleaned-text
    * fingerprint all come from higher-order functions over the
    * token-array-of-arrays in ONE projection, so pp26 adds zero
    * exchanges beyond the scan and stays linear at 100 TB. The token
    * arrays are materialized once per row (`lt`) before any lambda
    * touches them — never re-split inside a per-element lambda.
    */
  val pp26LineClean: Q = (s, d) => {
    val keptPred = """l -> size(l) >= 4
      | AND 4 * size(filter(l, t -> t = 'a' OR t = 'the')) < size(l)
      | AND 4 * size(array_distinct(l)) >= 3 * size(l)""".stripMargin
    t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("lt", expr(
        """transform(sequence(0, CAST((size(toks) - 1) div 8 AS INT)),
          |          i -> slice(toks, i * 8 + 1, 8))""".stripMargin))
      .select(col("doc_id"),
        expr("CAST(size(lt) AS BIGINT)").as("n_lines"),
        expr("CAST(size(filter(lt, l -> size(l) < 4)) AS BIGINT)")
          .as("rm_short"),
        expr("""CAST(size(filter(lt, l ->
               |  4 * size(filter(l, t -> t = 'a' OR t = 'the'))
               |    >= size(l))) AS BIGINT)""".stripMargin).as("rm_stop"),
        expr("""CAST(size(filter(lt, l ->
               |  4 * size(array_distinct(l)) < 3 * size(l))) AS BIGINT)""".stripMargin)
          .as("rm_lowdiv"),
        expr(s"CAST(size(filter(lt, $keptPred)) AS BIGINT)").as("n_kept"),
        md5(expr(
          s"""array_join(transform(filter(lt, $keptPred),
             |           l -> array_join(l, ' ')), ' ')""".stripMargin))
          .as("clean_fp"))
      .orderBy("doc_id")
  }

  /** pp17: TEMPERATURE-WEIGHTED MIXTURE (the multilingual-sampling
    * trick: target share ∝ (token share)^(1/T), here T=2 so the exponent
    * is a SQRT — IEEE-exact, no transcendental pow): low-resource sources
    * are upweighted relative to their raw mass, high-resource ones
    * damped. Shares convert to integer keep-1-in-r rates (r =
    * floor(actual/target mass ratio), floored at 1) applied
    * systematically by per-source row_number — reproducible, rand()-free
    * (pp04/pp06's discipline). Output is the per-source plan + achieved
    * counts, the audit a mixture pipeline logs. One token aggregate +
    * one broadcast of the 10-row rate table; the corpus-side pass is a
    * filter.
    */
  val pp17TemperatureMix: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), toks.as("n_tokens"))
    val mass = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"), sum("n_tokens").as("m"))
    val tot = mass.agg(sum(col("m")).as("tot"),
      sum(sqrt(col("m").cast("double"))).as("sq_tot"))
    val rates = mass.crossJoin(broadcast(tot))
      // target share ∝ sqrt(mass); keep rate r ≈ actual/target (≥ 1)
      .withColumn("target_share",
        sqrt(col("m").cast("double")) / col("sq_tot"))
      .withColumn("keep_1_in", greatest(lit(1L),
        floor((col("m").cast("double") / col("tot")) /
          col("target_share")).cast("bigint")))
      .select(col("source"), col("n_docs"), col("m").as("n_tokens"),
        col("keep_1_in"))
    val wSrc = Window.partitionBy("source").orderBy("doc_id")
    val kept = docs
      .withColumn("rn", row_number().over(wSrc))
      .join(broadcast(rates.select(col("source"), col("keep_1_in"))),
        Seq("source"))
      .filter((col("rn") - 1) % col("keep_1_in") === 0)
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum("n_tokens").as("kept_tokens"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("keep_1_in"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** tx21: VOCABULARY GROWTH (Heaps-law measurement) — cumulative
    * distinct terms as the corpus grows source by source, via the
    * first-touch rewrite (q70's trick at term level): each term
    * collapses to the FIRST source (in source order) that introduces
    * it — one hash aggregate on term fingerprints — then sources
    * aggregate to new-term counts and one tiny window accumulates. The
    * naive alternative (distinct count over an ever-growing prefix per
    * checkpoint) rescans the corpus per checkpoint; this is one pass.
    * (The driver's synthetic corpus has a ~30-word vocabulary, so the
    * measured curve saturates in the first batch — data-limited, not
    * operator-limited; the oracle pins the rewrite either way.)
    */
  val tx21VocabGrowth: Q = (s, d) => {
    // checkpoints = 5-doc ingestion batches (doc_id order), so the
    // curve has one point per batch regardless of how sources overlap.
    // The batch COUNT grows with the corpus (doc_id div 5), so the
    // accumulation is Ranks.globalRunningSum — a range-partitioned
    // parallel prefix, not an unpartitioned window (the pp16 funnel)
    val firstTouch = t(s, d, "documents")
      .select(expr("doc_id div 5").as("batch"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(min(col("batch")).as("first_batch"))
    val counts = firstTouch.groupBy("first_batch")
      .agg(count(lit(1)).as("n_new_terms"))
    graft.operators.Ranks.globalRunningSum(
        counts, col("n_new_terms"), "cum_vocab", col("first_batch"))
      .select(col("first_batch").as("batch"), col("n_new_terms"),
        col("cum_vocab"))
      .orderBy("batch")
  }

  /** pp14: CURRICULUM ORDERING — stage assignment for curriculum
    * learning: documents ranked by a composite integer quality score
    * (each pp05 gate contributes a weighted point; integer so the rank
    * is engine-exact) and cut into 4 stages by NTILE — stage 1 = the
    * cleanest quartile trains first. Deterministic end to end: the
    * ORDER BY carries the doc_id tiebreak, so stage boundaries are
    * reproducible across engines and cluster sizes. Scale: a per-row
    * score projection + Ranks.globalNtile — NTILE computed in closed
    * form from the range-partitioned exact global rank and a 1-row
    * broadcast count, so the sort is np-way parallel (an unpartitioned
    * ntile window would plan a SinglePartition Exchange: the
    * one-reducer funnel the r11 verdict flagged).
    */
  val pp14Curriculum: Q = (s, d) => {
    val tk = split(col("text"), " ")
    val nTok = size(tk).cast("bigint")
    val nDistinct = size(array_distinct(tk)).cast("bigint")
    val meanLen = (col("n_chars") - (nTok - lit(1))).cast("double") / nTok
    val symFrac = (col("n_chars") - length(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))).cast("double") /
      col("n_chars")
    val dupFrac = lit(1.0) - nDistinct.cast("double") / nTok
    val score =
      when(nTok >= 10 && nTok <= 1000, 4L).otherwise(0L) +
        when(meanLen >= 2.0 && meanLen <= 12.0, 2L).otherwise(0L) +
        when(dupFrac <= 0.6, 1L).otherwise(0L) +
        when(symFrac <= 0.1, 1L).otherwise(0L)
    val scored = t(s, d, "documents")
      .select(col("doc_id"), score.as("score"))
    // boundary-broadcast ntile (r12 verdict item 2): the score has ≤9
    // distinct values, so the metric search converges in one histogram
    // round and the per-boundary doc_id tie search in one more — all
    // counter-only aggregates over one checkpointed projection, then a
    // map-side stage assignment. Same-session A/B at sf0.1 (r12
    // worktree vs this): globalNtile 1.49 s → 1.02 s (0.69×; quiet-
    // session r12 recorded 0.97 s). Oracle bytes unchanged at all SFs.
    Ranks.ntileBoundary(scored, 4, Seq(
        Ranks.NtileSpec("stage", -col("score"), col("doc_id"))))
      .select(col("doc_id"), col("score"), col("stage").cast("bigint")
        .as("stage"))
      .orderBy("doc_id")
  }

  /** tx14: REPETITION detection (the Gopher §A1.1 "fraction of
    * characters in most common n-gram" family, on bigrams) — the strong
    * signal for boilerplate/generated text that per-token stats miss.
    *
    * A per-DOCUMENT statistic must not shuffle: the one-pass codegen
    * kernel (graft.functions.RepetitionStats — token/bigram hashes,
    * sort + longest-run) computes token count, distinct count, and the
    * most-common-bigram count per row, so tx14 is a pure projection.
    * (The first cut exploded bigrams through two (doc, bigram)
    * aggregations — 1.9 s and two shuffles at sf0.1 vs 0.3 s and none;
    * an even earlier transform-over-sequence lambda re-evaluated the
    * collapsed split() per element for 5.8 s. The kernel is the
    * correct altitude: per-doc work stays in the row.)
    */
  val tx14Repetition: Q = (s, d) => {
    val r = graft.functions.GraftFunctions.repetition_stats(col("text"))
    t(s, d, "documents")
      .select(col("doc_id"), r.as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").as("n_tokens"),
        round(lit(1.0) - col("r.n_distinct").cast("double") /
          col("r.n_tokens"), 4).as("dup_token_frac"),
        col("r.top_bigram_cnt").as("top_bigram_cnt"),
        round(when(col("r.n_bigrams") === 0, 0.0)
          .otherwise(col("r.top_bigram_cnt").cast("double") /
            col("r.n_bigrams")), 4).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** pp06: mixture REBALANCE to a per-source token budget — the data-
    * mixing step after pp04's fixed rates: measure each source's token
    * mass, derive an integer keep-1-in-r rate that thins over-budget
    * sources toward the uniform share, apply it systematically (by
    * doc_id order — reproducible, no rand()), and report the post-
    * sample mixture. Pure integer arithmetic end to end so both
    * engines derive identical rates. Shape: one per-source aggregate,
    * a broadcast rates join, one per-source window — no corpus-sized
    * exchange beyond the window's source partitioning.
    */
  val pp06MixtureRebalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val nTokens = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), nTokens.as("n_tokens"))
    val per = docs.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val tot = per.agg(sum("src_tokens").as("total"),
      count(lit(1)).as("n_src"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("source"), greatest(lit(1L),
        expr("src_tokens div (total div n_src)")).as("keep_1_in"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs
      .join(broadcast(rates), Seq("source"))
      .withColumn("rn", row_number().over(w))
      .filter((col("rn") - 1) % col("keep_1_in") === 0)
      .groupBy("source", "keep_1_in")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum("n_tokens").as("tokens_kept"))
      .select(col("source"), col("keep_1_in"), col("n_docs_kept"),
        col("tokens_kept"))
      .orderBy("source")
  }

  /** tx15: PII detection + REDACTION — count and mask emails / IPv4s /
    * phone-shaped tokens. The corpus is synthetic word salad, so the
    * operator plants deterministic PII per doc (both engines replay the
    * construction) and then proves the redaction by fingerprinting the
    * masked text. Patterns stick to plain character classes so Java
    * regex (Spark) and RE2 (DuckDB) agree. Per-row projection — zero
    * shuffle, the 100 TB shape for a scrubbing pass.
    */
  val tx15PiiRedact: Q = (s, d) => {
    val email = "[a-z0-9]+@[a-z0-9.]+[a-z0-9]"
    val ip = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
    val phone = "555-[0-9]+"
    val planted = format_string(
      "%s contact user%d@mail.example.com from 10.%d.0.7 call 555-%d",
      col("text"), col("doc_id"), col("doc_id") % 256,
      col("doc_id") % 9000 + 1000)
    val red = regexp_replace(regexp_replace(regexp_replace(planted,
      email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>")
    t(s, d, "documents")
      .select(col("doc_id"),
        regexp_count(planted, lit(email)).cast("bigint").as("n_emails"),
        regexp_count(planted, lit(ip)).cast("bigint").as("n_ips"),
        regexp_count(planted, lit(phone)).cast("bigint").as("n_phones"),
        md5(red).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** tx16: per-source TF-IDF TOP TERMS — the corpus-characterization
    * step of source weighting (what vocabulary distinguishes a source
    * before you decide its mixture rate). idf is kept as the exact
    * rational n_docs/df (no log: transcendental libm drift would break
    * the cross-engine hash; ranking is invariant to the monotone
    * transform). Shuffles: one explode→(source,token) count, one
    * (token) doc-frequency agg, a broadcast-sized scalar join, one
    * window per source — every exchange carries counters, never text
    * bodies.
    */
  val tx16TfidfTopTerms: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("token"))
    // Tokenize ONCE, by construction: a doc belongs to exactly one
    // source, so df(token) = Σ_source (docs containing token in that
    // source) — a window sum over the (source, token) aggregate, not a
    // second tokenization branch. r3's plan exploded the corpus twice
    // (tf and df branches re-derived from raw text, and column pruning
    // defeats ReuseExchange by specializing each branch's aggregate);
    // the linear lineage here cannot duplicate the scan. Shuffles carry
    // counters only, never text — the 100 TB shape.
    val st = toks.groupBy("source", "doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("source", "token")
      .agg(sum("c").as("tf"), count(lit(1)).as("nd"))
    val withDf = st.withColumn("df",
      sum("nd").over(Window.partitionBy("token")))
    // n_docs needs no tokenization — a doc_id-only scan, broadcast as a scalar
    val nDocs = docs.select(countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("source")
      .orderBy(col("score_raw").desc, col("token"))
    withDf
      .crossJoin(broadcast(nDocs))
      .withColumn("score_raw",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("token"), col("tf"),
        col("df"), round(col("score_raw"), 4).as("tfidf"))
      .orderBy("source", "rank")
  }

  /** dd12: SEMANTIC dedup, the SemDeDup shape — cluster embeddings
    * (16 sampled centroids, exact-cosine assignment = the oracle-checked
    * ss05 semantics), then find near-duplicate pairs ONLY within a
    * cluster, with a norm-band prefilter before the exact cosine. The
    * cluster key bounds the pairwise blowup (n²/k per cluster, one
    * shuffle on `cluster`), and the norm band cuts surviving candidate
    * pairs ~10× for free since norms are precomputed — near-identical
    * vectors have near-identical norms. Corpus = embeddings ∪ planted
    * near-twins (ss07's deterministic integer-noise construction), so
    * recall is measurable and the oracle replays everything.
    */
  val dd12SemanticDedup: Q = (s, d) => {
    val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val corpus = base.unionAll(Similarity.plantTwins(base, "0.001"))
      .withColumn("norm", Similarity.l2norm(col("embedding")))
      // lazy persist: A/B'd vs eager checkpoint (r7) — consumers here
      // materialize sequentially, and the extra eager job measured
      // +0.15 s; the ss20/CC round-0 race does not bite
      .persist() // lazy-ok: eager A/B'd (r7) +0.15 s — sequential consumers, see comment above
    val assigned = Similarity
      .coarseRanked(corpus, corpus.filter(col("vec_id") < 10000000L))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("cid").as("cluster"))
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("norm").as("a_norm"))
    val b = assigned.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("norm").as("b_norm"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(abs(col("a_norm") - col("b_norm")) <= lit(0.01) * col("a_norm"))
      .withColumn("cos_raw", Similarity.dot(col("a_emb"), col("b_emb")) /
        (col("a_norm") * col("b_norm")))
      .filter(col("cos_raw") >= 0.99)
      .select(col("b_id").as("dup_id"), col("a_id").as("dup_of"),
        col("cluster"), round(col("cos_raw"), 4).as("cosine"))
      .orderBy("dup_id")
  }

  /** ss08: one distributed Lloyd (k-means) ITERATION — exact-cosine
    * assignment to the 16 sampled centroids (ss05 semantics), then the
    * refined centroid as the per-dimension mean of each cluster's
    * members. Spelled as posexplode → groupBy(cluster, dim) so the
    * oracle can replay it; at 100 TB the explode (rows × dim) gives way
    * to a fixed-width vector-sum Aggregator with the same results —
    * the partial/final merge pattern is identical, only row width
    * changes. Output: refined centroid coordinates + member counts.
    */
  val ss08KmeansIter: Q = (s, d) => {
    val corpus = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      .withColumn("norm", Similarity.l2norm(col("embedding")))
    val assigned = Similarity.coarseRanked(corpus, corpus)
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid").as("cluster"))
    assigned
      .select(col("cluster"), posexplode(col("embedding")))
      .select(col("cluster"), (col("pos") + 1).cast("bigint").as("dim"),
        col("col").cast("double").as("x"))
      .groupBy("cluster", "dim")
      .agg(count(lit(1)).as("n_members"), round(avg("x"), 4).as("centroid"))
      .orderBy("cluster", "dim")
  }

  /** ss09: k-means to (bounded) CONVERGENCE — three full Lloyd rounds,
    * each: exact-cosine assignment → centroid refinement through the
    * custom fixed-width [[graft.functions.VectorAvg]]
    * TypedImperativeAggregate (ss08's posexplode row-blowup replaced by
    * one dim+1-double buffer per group: partial/final merge like any
    * hash aggregate — THE shuffle shape for 100 TB centroid updates).
    *
    * Cross-engine determinism: refined centroids are rounded to 6
    * decimals each round, so both engines enter the next assignment
    * with bit-identical doubles — double summation-order drift (~1e-15)
    * cannot compound across iterations. The dot/norm folds are the
    * sequential left folds DuckDB replays exactly (Similarity's oracle
    * notes).
    */
  val ss09KmeansConverged: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // double_dot: bit-identical to the aggregate(zip_with(...)) fold (and
    // to the oracle's list_reduce) but codegen'd — the HOF pipeline is
    // CodegenFallback and was the query's hot spot (1.8 s -> ~0.8 s)
    import graft.functions.GraftFunctions.double_dot
    val corpus = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("nrm", sqrt(double_dot(col("e"), col("e"))))
      // lazy persist: A/B'd vs eager checkpoint (r7) — round 1
      // materializes it once, later rounds hit the cache; the eager job
      // measured +0.3 s
      .persist() // lazy-ok: eager A/B'd (r7) +0.3 s — round 1 materializes once, see comment above
    var cents = Similarity.coarseSeeds(corpus)
      .select(col("vec_id").as("cluster"), col("e").as("c"),
        col("nrm").as("cnrm"), lit(0L).as("n_members"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_raw").desc, col("cluster"))
    for (_ <- 1 to 3) {
      val assigned = corpus.crossJoin(broadcast(cents.drop("n_members")))
        .withColumn("cos_raw",
          double_dot(col("e"), col("c")) / (col("nrm") * col("cnrm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("embedding"), col("cluster"))
      cents = assigned.groupBy("cluster")
        .agg(graft.functions.VectorAgg.vector_avg(col("embedding")).as("avg"),
          count(lit(1)).as("n_members"))
        .withColumn("c", expr("transform(avg, x -> round(x, 6))"))
        .withColumn("cnrm", sqrt(double_dot(col("c"), col("c"))))
        .select(col("cluster"), col("c"), col("cnrm"), col("n_members"))
    }
    cents
      .select(col("cluster"), col("n_members"), posexplode(col("c")))
      .select(col("cluster"), col("n_members"),
        (col("pos") + 1).cast("bigint").as("dim"), col("col").as("centroid"))
      .orderBy("cluster", "dim")
  }

  /** tx18: INVERTED INDEX — the retrieval-side primitive (term → df, cf,
    * posting list). One tokenize pass, one shuffle keyed by (token,
    * doc_id) for the per-doc tf, then token-partitioned windows compute
    * df/cf/top-posting rank without another aggregate branch (same
    * single-lineage rule tx16 follows). Postings are capped at the top-3
    * docs by tf — at 100 TB a full posting list per term is a skewed
    * monster row; the capped form is the index header you'd actually
    * materialize, with the tail sharded elsewhere.
    */
  val tx18InvertedIndex: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perDoc = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    val wTok = Window.partitionBy("token")
    val wRank = Window.partitionBy("token")
      .orderBy(col("tf").desc, col("doc_id"))
    perDoc
      .withColumn("df", count(lit(1)).over(wTok))
      .withColumn("cf", sum("tf").over(wTok))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 3)
      .groupBy("token", "df", "cf")
      .agg(expr("array_join(transform(sort_array(collect_list(struct(rn, doc_id))), x -> CAST(x.doc_id AS STRING)), ',')")
        .as("postings"))
      .orderBy("token")
  }

  /** tx19: BM25 SCORING — per-(term, doc) Okapi BM25 with k1=1.2,
    * b=0.75, top-5 docs per query term. The idf keeps its exact rational
    * odds form (N-df+0.5)/(df+0.5) WITHOUT the log: log is transcendental
    * (libm ulp drift across engines would break the oracle hash) and the
    * per-term ranking is invariant under the monotone transform. Scores
    * stay per-term — summing across terms would make the result depend
    * on float summation order, which no engine pins down. Every factor
    * is a fixed parenthesization of IEEE ops over exact integers, so the
    * scores cross the engine boundary bit-for-bit. Scale: tf shuffle
    * carries (token, doc_id, dl) counters; df and the corpus stats are
    * broadcast — no text past the scan.
    */
  val tx19Bm25: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("bigint").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .filter(col("token").isin("query", "table", "stream"))
      .groupBy("token", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("token")
      .orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(dfx), Seq("token"))
      .crossJoin(broadcast(stats))
      // EXACT same expression text as the oracle — same parse tree,
      // same IEEE evaluation order
      .withColumn("score", expr(
        "round(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 4)"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 5)
      .select("token", "rnk", "doc_id", "tf", "dl", "score")
      .orderBy("token", "rnk")
  }

  /** The (token, doc_id, dl, tf) posting rows of a corpus — the full
    * inverted-index payload tx37/tx38 persist. Text shuffles exactly
    * ONCE, in the spread exchange below (a measured r13 win — the
    * whole-corpus tokenize otherwise ran in one task); grouped
    * counters remain the only downstream shuffle (ADVICE r13). */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame = docs
    // spread the 1-partition documents scan before tokenize+explode
    // (r13 stage profile of ss43: the whole corpus tokenized in ONE task —
    // the dd20 explicit-count rule)
    .transform(graft.Par.spread)
    .withColumn("toks", split(col("text"), " "))
    .select(col("doc_id"), size(col("toks")).cast("bigint").as("dl"),
      explode(col("toks")).as("token"))
    .groupBy("token", "doc_id", "dl").agg(count(lit(1)).as("tf"))

  /** 1-row per-segment corpus stats, MERGEABLE across segments:
    * (n_docs, sum_dl) — avgdl = Σsum_dl / Σn_docs reproduces
    * avg(dl) exactly (integer sums, one double division — the same
    * arithmetic Spark's Average and DuckDB's avg run). */
  private[graft] def bm25Stats(docs: DataFrame): DataFrame = docs
    .select(size(split(col("text"), " ")).cast("bigint").as("dl"))
    .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))

  /** BM25 top-5 per query term over a (probed) posting stream + merged
    * stats — the serve-side tail shared by tx19/tx37/tx38. The score
    * expression TEXT is identical to the oracle's (same parse tree,
    * same IEEE evaluation order). */
  private[graft] def bm25Serve(postings: DataFrame, stats: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfx = postings.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("token")
      .orderBy(col("score").desc, col("doc_id"))
    postings.join(dfx, Seq("token"))
      .crossJoin(broadcast(stats.select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))))
      .withColumn("score", expr(
        "round(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 4)"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 5)
      .select("token", "rnk", "doc_id", "tf", "dl", "score")
      .orderBy("token", "rnk")
  }

  private[graft] val bm25Terms = Seq("query", "table", "stream")

  /** The text index's segment writer: token-bucketed postings `post`
    * plus the 1-row (n_docs, sum_dl) sidecar `stats` of `docs` — the
    * parts every text build, append, compaction and purge publishes. */
  private[graft] def textSegment(post: String, stats: String,
      docs: DataFrame): Seq[Bucketing.Part] = Seq(
    Bucketing.Part(post, bm25Postings(docs), Some("token")),
    Bucketing.Part(stats, bm25Stats(docs)))

  /** BM25 served over EVERY segment of one published map: the postings
    * parts named `post*` are each probed with the term filter (pushed
    * into its bucketed scan) and unioned, the `stats*` sidecars are
    * summed, and [[bm25Serve]] scores — merge at scoring, exact because
    * a doc lives in one segment (df = Σ per-segment df; avgdl =
    * Σsum_dl / Σn_docs in integers). A single segment's sidecar is
    * read as is, so the one-segment serve plans no stats aggregate. */
  private[graft] def textServe(s: SparkSession, tbls: Map[String, String],
      post: String, stats: String): DataFrame = {
    def arm(prefix: String): Seq[DataFrame] = tbls.toSeq.collect {
      case (p, t) if p.startsWith(prefix) => t
    }.sorted.map(s.table)
    val probed = arm(post)
      .map(_.filter(col("token").isin(bm25Terms: _*)))
      .reduce(_.unionAll(_))
    val sidecars = arm(stats)
    val merged =
      if (sidecars.size == 1) sidecars.head
      else sidecars.reduce(_.unionAll(_))
        .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    bm25Serve(probed, merged)
  }

  /** tx19's in-plan formulation over an arbitrary (doc_id, text)
    * frame — the truth side of tx38's segment-merge spec and tx40's
    * unpurged ranks. */
  private[graft] def bm25InPlan(docs: DataFrame): DataFrame =
    bm25Serve(
      bm25Postings(docs).filter(col("token").isin(bm25Terms: _*)),
      bm25Stats(docs))

  /** tx37: PERSISTED TEXT INDEX, BM25-SERVED — the ss33/dd35 move for
    * the text-retrieval family, closing the r11 gap that tx18/tx19
    * rebuilt their index in-plan every run: the FULL inverted index
    * (every (token, doc, dl, tf) posting) is written as a bucketed
    * table keyed by token, corpus stats (n_docs, Σdl) as a 1-row
    * sidecar, and BM25 for a query-term set is served ENTIRELY from
    * storage. df derives from the probed postings themselves (per-term
    * count), so serving touches nothing but the filtered index rows.
    *
    * The plan property this exists for (PlanAudit): the term predicate
    * PUSHES into the bucketed scan (In(token, …) in PushedFilters) and
    * the df aggregate + rank window both ride the bucket layout —
    * with auto-broadcast closed the serve side plans ZERO Exchange on
    * the index table. Contract: tx19's exact bytes (the oracle is
    * tx19's own replay — byte-identity IS the gate, the dd35 rule).
    *
    * Scale: the write is one-time index construction (amortized over
    * every query in production, rebuilt per run here — the honest
    * benchmark cost); a query-term probe reads only its buckets'
    * matching rows. Buckets = 8 at fixture scale (the pp37 sizing
    * rule).
    */
  val tx37PersistedTextIndex: Q = (s, d) => {
    val tbls = Bucketing.publish(s, "tx37", textSegment(
      "graft_text_postings", "graft_text_stats", t(s, d, "documents")))
    textServe(s, tbls, "graft_text_postings", "graft_text_stats")
  }

  /** tx38: DELTA-SEGMENT TEXT INDEX — the dd36 move for the text
    * index, closing tx37's lifecycle: a new ingest batch (re-encodes
    * of every doc_id % 10 = 7 doc, first token dropped — the
    * established +2·10⁷ convention) appends as its OWN bucketed
    * segment pair (base postings never rewritten — ingest is
    * O(batch)), and BM25 is served per segment and MERGED AT SCORING:
    * each segment's postings are probed bucket-aligned, the streams
    * union, and df / n_docs / avgdl recombine from the per-segment
    * sidecars (df = Σ per-segment df since a doc lives in exactly one
    * segment; avgdl = Σsum_dl / Σn_docs — integer sums, exact). The
    * spec pins the serve byte-identical to ONE index over the union
    * corpus, and the oracle replays exactly that union — so the hash
    * certifies that segment-merged scoring loses nothing.
    *
    * Scale: the delta write is O(batch); every query probes k segment
    * tables bucket-aligned and shuffles only the probed rows (3 terms
    * × top postings), never an index. Segment count stays bounded by
    * compaction (the dd37 policy; tx37's single segment is the
    * compacted form).
    */
  val tx38DeltaTextIndex: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Bucketing.publish(s, "tx38",
      textSegment("graft_tpost_base", "graft_tstats_base", docs))
    val tbls = Bucketing.publish(s, "tx38", textSegment(
        "graft_tpost_delta", "graft_tstats_delta", textDelta(docs)),
      carryForward = true)
    textServe(s, tbls, "graft_tpost_", "graft_tstats_")
  }

  /** pp41: END-TO-END RAG CURATION FLAGSHIP — the r11 verdict's
    * stretch item: the one composed report a 100 TB curation run
    * ships, chaining the proven stages over the raw corpus into a
    * funnel of exact integers:
    *
    *   0_raw        → corpus census (docs, tokens)
    *   1_fuzzy_dedup→ dd22's machinery on the raw table (md5-lane
    *                  bands → trigram-Jaccard verify at the 2·∩ ≥ ∪
    *                  integer threshold → connected components; keep
    *                  = min-id representative)
    *   2_quality    → pp05's four gates on the survivors
    *   3_chunks     → pp08's stride-180/width-200 chunking of the
    *                  surviving documents (count + char mass)
    *   4_embeddings → ss27's per-dimension variance audit restricted
    *                  to surviving vectors (count + max share ×10⁴)
    *   5_retrieval  → ss39's hybrid RRF over the SURVIVING embedded
    *                  corpus (queries = the 10 smallest surviving
    *                  embedded ids, collected at plan build — a
    *                  constant-k driver read, the documented pattern),
    *                  reported as fused-slot provenance counts
    *
    * Every value is a BIGINT (no float crosses the engine boundary),
    * and the whole funnel — recursive CC included — replays as ONE
    * DuckDB statement, so the hash certifies the composition, not just
    * the stages. Scale: each stage is its proven operator's shape
    * (banded candidates, ids-only shuffles, broadcast query frames,
    * derived CC loop width); the funnel metrics are 14 rows.
    */
  val pp41RagFlagship: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
    val nTokRaw = size(split(col("text"), " ")).cast("bigint")
    // ---- stage 1: fuzzy dedup keep-set (dd22 machinery, portable
    // verify: trigram STRING shingles both for banding and Jaccard)
    val sh = docs.transform(graft.Par.spread)
      .withColumn("shingles", array_distinct(
        graft.functions.GraftFunctions.shingle_strings(col("text"))))
      .withColumn("sig", graft.functions.GraftFunctions
        .md5_min_lanes(col("shingles"), 8))
      .select("doc_id", "shingles", "sig")
      .localCheckpoint() // multi-ref: band sides, verify payloads, nodes
    val banded = sh.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), b -> concat(sig[2*b], sig[2*b+1]))")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bkey"))
    val cand = banded.select(col("band"), col("bkey"), col("doc_id").as("a"))
      .join(banded.select(col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val edges = cand
      .transform(graft.Par.spreadBy(col("a")))
      .join(sh.select(col("doc_id").as("a"), col("shingles").as("sh_a")),
        Seq("a"))
      .transform(graft.Par.spreadBy(col("b")))
      .join(sh.select(col("doc_id").as("b"), col("shingles").as("sh_b")),
        Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .withColumn("uni",
        size(col("sh_a")).cast("bigint") + size(col("sh_b")) - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select("a", "b")
      .localCheckpoint() // the CC loop's sym is a 2-branch union over it
    val labels = Dedup.connectedComponents(
        sh.select(col("doc_id").as("id")), edges)
      .localCheckpoint() // 2 refs: keep-set + the kept census
    val reps = labels.filter(col("id") === col("label"))
      .select(col("id").as("doc_id"))
    // ---- stage 2: quality gate (pp05's exact flags)
    val tk = split(col("text"), " ")
    val nTok = size(tk).cast("bigint")
    val nDistinct = size(array_distinct(tk)).cast("bigint")
    val meanLen = (col("n_chars") - (nTok - lit(1))).cast("double") / nTok
    val symFrac = (col("n_chars") - length(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""))).cast("double") /
      col("n_chars")
    val dupFrac = lit(1.0) - nDistinct.cast("double") / nTok
    val qual = docs.select(col("doc_id"), nTok.as("n_tokens"),
      (nTok >= 10 && nTok <= 1000 &&
        meanLen >= 2.0 && meanLen <= 12.0 &&
        dupFrac <= 0.6 && symFrac <= 0.1).as("keep_q"))
    val surv = reps
      .join(qual.filter(col("keep_q")).select("doc_id", "n_tokens"),
        Seq("doc_id"))
      .localCheckpoint() // refs: census, chunks, embed join, items
    // ---- stage 3: pp08 chunking of the survivors
    val chunkM = surv.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
      .select(col("n_chars"), explode(expr(
        "sequence(0, CAST((n_chars - 1) div 180 AS INT))")).as("ci"))
      .select(least(lit(200L), col("n_chars") - col("ci") * 180L)
        .as("clen"))
      .agg(count(lit(1)).as("n_chunks"), sum("clen").as("n_chunk_chars"))
    // ---- stage 4: ss27 embedding health over surviving vectors
    val sEmb = t(s, d, "embeddings")
      .join(surv.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val perDim = sEmb
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)")
          .as("q"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("q").as("s1"),
        sum(expr("q * q")).as("s2"))
      .withColumn("varn2", expr("n * s2 - s1 * s1"))
    val embM = perDim.agg(
      max(col("n")).as("n_vecs"),
      expr("max(varn2) * 10000 div sum(varn2)").as("var_share_max_x10k"))
    // ---- stage 5: hybrid RRF over the surviving embedded corpus;
    // queries = the 10 smallest surviving embedded ids, read at plan
    // build (constant-k driver read) so the query frames are literal
    val items = sEmb.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .withColumn("nrm", Similarity.l2norm(col("embedding")))
      .transform(graft.Par.spread)
      .localCheckpoint() // refs: grams, vec corpus side, both q frames
    val qIds: Array[Long] = items.select("doc_id").orderBy("doc_id")
      .limit(10).collect().map(_.getLong(0))
    val nItems = items.agg(count(lit(1)).cast("bigint").as("n_items"))
    val grams = items.select(col("doc_id"), explode(array_distinct(
        graft.functions.GraftFunctions.shingle_strings(col("text"))))
        .as("g"))
      .select(col("doc_id"), md5(col("g")).as("g"))
    val withDf = grams
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("g")).cast("bigint"))
      .localCheckpoint() // 2 refs: query side + candidate side
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("lex_score").desc, col("cand_id"))
    val lexTop = broadcast(withDf
        .filter(col("doc_id").isin(qIds: _*))
        .select(col("doc_id").as("query_id"), col("g")))
      .join(withDf.select(col("doc_id").as("cand_id"), col("g"),
        col("df")), Seq("g"))
      .filter(col("query_id") =!= col("cand_id"))
      .crossJoin(broadcast(nItems))
      .groupBy("query_id", "cand_id")
      .agg(sum(expr("n_items * 100 DIV df")).as("lex_score"))
      .withColumn("lex_rank", row_number().over(wLex).cast("bigint"))
      .filter(col("lex_rank") <= 20)
      .select("query_id", "cand_id", "lex_rank")
    val qv = items.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wVec = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("cand_id"))
    val vecTop = items.select(col("doc_id").as("cand_id"),
        col("embedding"), col("nrm"))
      .crossJoin(broadcast(qv))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos_raw", Similarity.dot(col("embedding"), col("q_emb")) /
        (col("nrm") * col("q_nrm")))
      .withColumn("vec_rank", row_number().over(wVec).cast("bigint"))
      .filter(col("vec_rank") <= 20)
      .select("query_id", "cand_id", "vec_rank")
    val fused = rrfFuse(
      lexTop.join(vecTop, Seq("query_id", "cand_id"), "outer")
        .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
        .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L))))
    val retM = fused.agg(
      count(lit(1)).as("n_slots"),
      sum(when(col("lex_rank") > 0 && col("vec_rank") > 0, 1L)
        .otherwise(0L)).as("n_dual"),
      sum(when(col("lex_rank") > 0 && col("vec_rank") === 0, 1L)
        .otherwise(0L)).as("n_lex_only"),
      sum(when(col("vec_rank") > 0 && col("lex_rank") === 0, 1L)
        .otherwise(0L)).as("n_vec_only"))
    // ---- the funnel report
    val rawM = docs.agg(count(lit(1)).as("n_docs"),
      sum(nTokRaw).as("n_tokens"))
    val dedupM = labels.agg(
      sum(when(col("id") === col("label"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("id") =!= col("label"), 1L).otherwise(0L))
        .as("n_dropped"))
    val qualM = surv.agg(count(lit(1)).as("q_docs"),
      sum("n_tokens").as("q_tokens"))
    rawM.crossJoin(broadcast(dedupM)).crossJoin(broadcast(qualM))
      .crossJoin(broadcast(chunkM)).crossJoin(broadcast(embM))
      .crossJoin(broadcast(retM))
      .select(expr(
        """stack(14,
          |  '0_raw', 'n_docs', n_docs,
          |  '0_raw', 'n_tokens', n_tokens,
          |  '1_fuzzy_dedup', 'n_kept', n_kept,
          |  '1_fuzzy_dedup', 'n_dropped', n_dropped,
          |  '2_quality', 'n_docs', q_docs,
          |  '2_quality', 'n_tokens', q_tokens,
          |  '3_chunks', 'n_chunks', n_chunks,
          |  '3_chunks', 'n_chunk_chars', n_chunk_chars,
          |  '4_embeddings', 'n_vecs', n_vecs,
          |  '4_embeddings', 'var_share_max_x10k', var_share_max_x10k,
          |  '5_retrieval', 'n_slots', n_slots,
          |  '5_retrieval', 'n_dual', n_dual,
          |  '5_retrieval', 'n_lex_only', n_lex_only,
          |  '5_retrieval', 'n_vec_only', n_vec_only)
          |  AS (stage, metric, value)""".stripMargin))
      .orderBy("stage", "metric")
  }

  /** tx38's ingest-day scaffold: the base corpus and its re-encode
    * delta batch (the +2·10⁷ convention) — shared by tx38/tx39/tx40. */
  private def textDelta(docs: DataFrame): DataFrame = {
    val dropTok = expr(
      """CASE WHEN instr(text, ' ') > 0
        |     THEN substring(text, instr(text, ' ') + 1)
        |     ELSE text END""".stripMargin)
    docs.filter(col("doc_id") % 10 === 7)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        dropTok.as("text"))
  }

  /** tx39: TEXT-INDEX COMPACTION — the dd37 move completing tx37/tx38's
    * lifecycle: base ∪ delta rewritten as ONE compacted segment pair
    * (segment count back to 1 — the policy bounding tx38's per-segment
    * probe fan-out), served by tx37's single-segment path. Unlike the
    * vector compaction (ss36, where retraining may move candidates),
    * BM25 compaction is PROVABLY score-neutral: a doc lives in exactly
    * one segment, so union postings give df = Σ per-segment df, and the
    * stats sidecar merge (Σn, Σdl) is exact integer arithmetic — the
    * compacted serve is byte-identical to tx38's segment-merged serve,
    * and the oracle (tx38's own union replay) certifies it.
    *
    * Scale: compaction pays one full rewrite of postings + sidecar (the
    * honest cost, as dd37/ss36 price it); every query thereafter probes
    * one segment instead of k.
    */
  val tx39CompactedTextIndex: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val tbls = Bucketing.publish(s, "tx39", textSegment(
      "graft_tpost_compact", "graft_tstats_compact",
      docs.select("doc_id", "text").unionAll(textDelta(docs))))
    textServe(s, tbls, "graft_tpost_compact", "graft_tstats_compact")
  }

  /** pp42: THE PUBLICATION LIFECYCLE, ORACLE-GATED — r13's atomic
    * versioned index publication (Bucketing.publish) demonstrated as a
    * first-class operator: from a reset family, three generations
    * publish in sequence — (1) FULL build of the base segment pair,
    * (2) carry-forward APPEND of the tx38-convention delta (the
    * manifest now lists base UNTOUCHED + delta — the LSM ingest), (3)
    * FULL compaction flip (the manifest drops to the compacted pair).
    * The output is each generation's manifest census (gen, part,
    * n_rows), read back from the just-published tables and eagerly
    * materialized (≤4 rows per census) BEFORE the next publish — so
    * the query itself witnesses that generation 1's tables were
    * readable while generation 3's GC later collects them (grace
    * window = one generation). The DuckDB oracle replays every census
    * from the raw corpus: the carry-forward row for `post_base` at gen
    * 2 must equal gen 1's byte-for-byte — the append-without-rewrite
    * contract as a hash.
    *
    * Scale: three index writes (the honest lifecycle cost, as
    * tx37/38/39 price it) + three bounded census aggregates; the
    * manifest swap is one atomic rename per generation.
    */
  val pp42PublishLifecycle: Q = (s, d) => {
    val B = Bucketing
    B.resetFamily(s, "pp42") // deterministic generations for the oracle
    val docs = t(s, d, "documents").select("doc_id", "text")
    val delta = textDelta(docs)
    def census(gen: Long, names: Map[String, String]): DataFrame =
      names.toSeq.sortBy(_._1).map { case (p, tbl) =>
        s.table(tbl).agg(count(lit(1)).as("n_rows"))
          .select(lit(gen).as("gen"), lit(p).as("part"), col("n_rows"))
      }.reduce(_.unionAll(_))
        // eager: gen-1 tables leave the grace window when gen 3
        // publishes — the census must hold its bytes (≤4 rows)
        .localCheckpoint()
    val g1 = B.publish(s, "pp42", textSegment("post_base", "stats_base", docs))
    val c1 = census(1L, g1)
    val g2 = B.publish(s, "pp42",
      textSegment("post_delta", "stats_delta", delta), carryForward = true)
    val c2 = census(2L, g2)
    val g3 = B.publish(s, "pp42",
      textSegment("post_compact", "stats_compact", docs.unionAll(delta)))
    val c3 = census(3L, g3)
    c1.unionAll(c2).unionAll(c3).orderBy("gen", "part")
  }

  /** tx40: ERASURE PURGE OF THE TEXT INDEX — the dd38/ss38 move for
    * the third index family, completing the GDPR story across all
    * three (vectors: ss38; dedup bands: dd38; text postings: this).
    * st25's erasure ledger (event_id % 97 requests; ownership doc_id %
    * 1000 — offsets are multiples of 1000, so the delta re-encodes
    * inherit their original's owner) drives a rebuild of the tx38
    * base∪delta index over LIVE docs only: an erased user's postings
    * are PHYSICALLY ABSENT from the written tables.
    *
    * Unlike dd38 (content-hash band keys ⇒ verdict-neutral on
    * survivors), a BM25 purge is NOT score-neutral: df, n_docs and
    * avgdl are corpus-relative, so every surviving score shifts — the
    * honest contract is therefore FROM-SCRATCH EQUIVALENCE (the purged
    * serve is byte-identical to an index built over the live corpus;
    * the oracle replays exactly that) plus an explicit rank diff: each
    * purged top-5 row carries the doc's rank in the UNPURGED top-5 (0
    * when the purge promoted it from below) and, per term, how many
    * erased docs sat in the unpurged top-5.
    *
    * Scale: the purge pays one live-only rewrite (the dd38 cost
    * story); the ledger is a per-user broadcast anti-join; serving is
    * tx37's pushed-filter bucketed probe.
    */
  val tx40TextPurge: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val union = docs.select("doc_id", "text")
      .unionAll(textDelta(docs))
    val erased = graft.streaming.EventsStreaming.erasureCorpus(s, d)
      .filter(col("event_id") % 97 === 0)
      .select(col("user_id").as("owner")).distinct()
      .localCheckpoint() // 2 refs: the live filter + the erased-above count
    val live = union
      .withColumn("owner", pmod(col("doc_id"), lit(1000L)))
      .join(erased, Seq("owner"), "left_anti")
      .drop("owner")
    val tbls = Bucketing.publish(s, "tx40",
      textSegment("graft_tpost_live", "graft_tstats_live", live))
    val purged = textServe(s, tbls, "graft_tpost_live", "graft_tstats_live")
    // the unpurged top-5 (tx38's union corpus, in-plan) — consumed
    // twice (old-rank join + erased-in-old-top5 census)
    val oldRanked = bm25InPlan(union)
      .select(col("token"), col("doc_id"), col("rnk").as("old_rnk"))
      .localCheckpoint()
    val erasedAbove = oldRanked
      .withColumn("owner", pmod(col("doc_id"), lit(1000L)))
      .join(erased.withColumn("e", lit(true)), Seq("owner"), "left")
      .withColumn("is_erased", coalesce(col("e"), lit(false)))
      .groupBy("token")
      .agg(sum(when(col("is_erased"), 1L).otherwise(0L))
        .as("n_erased_in_old_top5"))
    purged
      .join(oldRanked, Seq("token", "doc_id"), "left")
      .join(erasedAbove, Seq("token"), "left")
      .select(col("token"), col("rnk"), col("doc_id"), col("tf"),
        col("dl"), col("score"),
        coalesce(col("old_rnk"), lit(0L)).as("old_rnk"),
        coalesce(col("n_erased_in_old_top5"), lit(0L))
          .as("n_erased_in_old_top5"))
      .orderBy("token", "rnk")
  }

  /** tx20: BIGRAM NOVELTY — the memorization/boilerplate signal: for each
    * doc, the fraction of its DISTINCT token bigrams that occur in no
    * other document. Low novelty ⇒ templated/duplicated prose (candidate
    * for downweighting); high novelty ⇒ unique content. The bigram df is
    * a WINDOW count over the distinct (doc_id, fp) set — the tx16 lesson
    * (commit 5e0e956) reapplied: partitioning the window by fp computes
    * df in the same fp-keyed exchange that feeds the per-doc rollup,
    * where a groupBy(fp) + rejoin costs an extra corpus-sized shuffle.
    * Only md5 fingerprints cross the wire, never the bigram text (the
    * tx16/dd02 payload rule).
    */
  val tx20BigramNovelty: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val grams = t(s, d, "documents")
      // spread FIRST (the dd20 rule): the bigram explode + per-gram md5
      // otherwise runs single-task over the 1-split parquet
      .transform(graft.Par.spread)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST(size(toks) - 2 AS INT)),
          |          i -> concat(toks[i], ' ', toks[i + 1]))""".stripMargin))
        .as("bigram"))
      .select(col("doc_id"), md5(col("bigram")).as("fp"))
      .distinct()
    grams.withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_bigrams"), 4))
      .orderBy("doc_id")
  }

  /** tx25: BIGRAM SURPRISAL — an LM-free perplexity proxy for quality
    * filtering: train a bigram transition model on the corpus itself
    * (c2 = count of each bigram instance, c1 = count of instances with
    * the same LEFT word, so P(w2|w1) = c2/c1), then score every doc by
    * its mean INVERSE transition probability, scaled ×10⁴ and kept in
    * exact integer arithmetic end to end (c1·10⁴ div c2 per instance;
    * no log/float — the oracle-portability rule). Typical prose rides
    * common transitions (low score); gibberish, shuffled text, and
    * OOD content take rare transitions (high score) — the cheap
    * first-pass stand-in for model-based perplexity filtering.
    *
    * Scale shape: bigram instances shuffle once on the bigram md5 to
    * build the VOCAB-SIZED (w1fp, bfp, c2) model table; c1 is a window
    * sum over that small table (the tx16/tx20 lesson — no second
    * corpus-sized exchange); instances then rejoin the model on bfp
    * (same key as the count shuffle — Catalyst reuses the partitioning)
    * and roll up per doc. Only md5 fingerprints and counters cross the
    * wire, never token text.
    */
  val tx25BigramSurprisal: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val inst = t(s, d, "documents")
      // spread + EAGER materialization (the dd20 rule): the model and
      // scoring consumers each re-ran the bigram explode + two md5s
      // per instance single-task over the 1-split parquet
      .transform(graft.Par.spread)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST(size(toks) - 2 AS INT)),
          |          i -> struct(toks[i] AS w1,
          |                      concat(toks[i], ' ', toks[i + 1]) AS bg))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), md5(col("p.w1")).as("w1fp"),
        md5(col("p.bg")).as("bfp"))
      .localCheckpoint()
    val model = inst.groupBy("w1fp", "bfp")
      .agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(Window.partitionBy("w1fp")))
      .select("bfp", "c1", "c2")
    inst.select("doc_id", "bfp").join(model, Seq("bfp"))
      .select(col("doc_id"), expr("c1 * 10000 div c2").as("invp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("invp")).as("sum_invp"))
      .withColumn("avg_invp", expr("sum_invp div n_bigrams"))
      .orderBy("doc_id")
  }

  /** tx26: RAKE KEYWORD EXTRACTION (Rose et al. 2010) — the unsupervised
    * keyword surface for a corpus card / topic drill-down: text splits
    * into candidate PHRASES at stopword delimiters ({a, the} — the
    * corpus's actual function words, same set pp26's stopword rule
    * uses), and each content word scores degree/frequency, where
    * freq = occurrences and degree = Σ over its phrases of the phrase
    * length (words in long multi-word phrases score high — they name
    * multi-word concepts; words that only appear alone score 1.0).
    * Emitted per source as the top-5 keyword table with the score as
    * an integer ×100 rational (degree·100 div freq — the engine-exact
    * ratio discipline).
    *
    * Scale: phrase segmentation is a per-doc running sum over the
    * token stream (doc-keyed window — documents are the parallelism
    * unit, no global order); phrase lengths a (doc, phrase) window on
    * the same partitioning; the word rollup shuffles (source, word)
    * counters only. The top-5 cut is a window over the per-source
    * vocab (Zipf-bounded), never the token stream.
    */
  val tx26RakeKeywords: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("is_stop",
        when(col("tok").isin("a", "the"), 1).otherwise(0))
    val phrased = toks
      .withColumn("phrase_id",
        sum("is_stop").over(
          Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("is_stop") === 0)
      .withColumn("phrase_len",
        count(lit(1)).over(Window.partitionBy("doc_id", "phrase_id")))
    val words = phrased.groupBy("source", "tok")
      .agg(count(lit(1)).as("freq"), sum("phrase_len").as("degree"))
      .withColumn("score_x100", expr("degree * 100 div freq"))
    val wTop = Window.partitionBy("source")
      .orderBy(col("score_x100").desc, col("freq").desc, col("tok"))
    words.withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("tok").as("keyword"),
        col("freq"), col("degree"), col("score_x100"))
      .orderBy("source", "rank")
  }

  /** tx27: PER-SOURCE BOILERPLATE AUDIT — the measurement face of
    * dd14's line dedup: a line type (8-token segment, md5 fingerprint)
    * is BOILERPLATE when it recurs in ≥3 distinct documents corpus-wide
    * (nav bars, ToS footers, cookie banners — the C4-era spam signal);
    * each source reports its boilerplate line-type share and how many
    * of its documents carry any — the table that decides which crawl
    * sources need template stripping before mixing (dd14 then removes
    * what this measures).
    *
    * Scale: fingerprints only on the wire; document frequency is a
    * window count over the distinct (doc, fp) set (the tx16 lesson —
    * no groupBy+rejoin of the corpus-sized set); rollups are
    * counter-only on doc then source keys.
    */
  val tx27BoilerplateAudit: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val pairs = t(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, CAST((size(toks) - 1) div 8 AS INT)),
          |          i -> array_join(slice(toks, i * 8 + 1, 8), ' '))"""
          .stripMargin)).as("line"))
      .select(col("doc_id"), col("source"), md5(col("line")).as("fp"))
      .distinct() // (doc, line-type) granularity
    val dfd = pairs.withColumn("df",
      count(lit(1)).over(Window.partitionBy("fp")))
    val perDoc = dfd.groupBy("doc_id", "source").agg(
      count(lit(1)).as("n_types"),
      sum(when(col("df") >= 3L, 1L).otherwise(0L)).as("n_bp"))
    perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_types").as("n_line_types"),
        sum("n_bp").as("n_bp_types"),
        sum(when(col("n_bp") > 0L, 1L).otherwise(0L)).as("n_affected_docs"))
      .withColumn("bp_share_x10k",
        expr("n_bp_types * 10000 div n_line_types"))
      .withColumn("affected_x10k",
        expr("n_affected_docs * 10000 div n_docs"))
      .orderBy("source")
  }

  /** ss39: HYBRID RETRIEVAL — Reciprocal Rank Fusion of a LEXICAL and a
    * VECTOR ranked list over the same item universe (the embedded
    * documents, `vec_id ⋈ doc_id`), the production RAG retrieval shape
    * (Cormack, Clarke & Büttcher SIGIR'09: RRF(d) = Σ_lists 1/(k +
    * rank_l(d)), k = 60). Each modality produces its top-20 per query
    * (10 query items, `doc_id < 10`, excluded from their own candidate
    * sets): the lexical list scores candidates by IDF-weighted distinct-
    * trigram overlap (Σ over shared gram types of n_items·100 DIV df —
    * integer-exact, no log), the vector list is the ss01 exact-cosine
    * ranking on the item's embedding. Fusion is over RANKS, never raw
    * scores — the whole point of RRF is that the two score scales are
    * incomparable — with contributions as exact integers (10⁸ DIV
    * (60 + rank), 0 when absent from a list). Output: top-5 fused per
    * query with both source ranks, so a reader sees WHICH modality won
    * each slot.
    *
    * Scale: the lexical candidate join carries (gram-md5, id) only —
    * the inverted-index shape (tx18) with the 10-query side broadcast;
    * df is a window count over the distinct (doc, gram) set (the tx16
    * lesson). The vector side is the broadcast-brute baseline over the
    * embedded subset; in production ANY list source plugs in (ss18's
    * IVFPQ, tx19's BM25) because the fusion layer consumes ranks only.
    * The fused frame is queries×40 rows — driver-trivial at any corpus
    * size.
    */
  /** The dual-modality candidate POOL ss39/ss41 fuse: per-query lexical
    * and vector top-20 lists over the embedded-document item universe,
    * outer-joined on (query, cand) with absent-list ranks coalesced to
    * 0. One definition so the flagship fusion and the k-sweep share the
    * identical pool (the dd20 shared-candidate rule).
    */
  private def hybridPool(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // item universe: documents that HAVE an embedding — both modalities
    // of the same item (consumed by grams, the vector scan and stats →
    // spread + eager checkpoint, the dd20 rule)
    val items = t(s, d, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .withColumn("nrm", Similarity.l2norm(col("embedding")))
      .join(t(s, d, "documents").select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .transform(graft.Par.spread)
      .localCheckpoint()
    val stats = items.agg(count(lit(1)).cast("bigint").as("n_items"))
    // lexical list: IDF-weighted distinct-trigram overlap, ranked
    val grams = items
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.GraftFunctions.shingle_strings(col("text"))))
          .as("g"))
      .select(col("doc_id"), md5(col("g")).as("g"))
    val withDf = grams // feeds the query side AND the candidate side
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("g")).cast("bigint"))
      .localCheckpoint()
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("lex_score").desc, col("cand_id"))
    val lexTop = broadcast(withDf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("g")))
      .join(withDf.select(col("doc_id").as("cand_id"), col("g"),
        col("df")), Seq("g"))
      .filter(col("query_id") =!= col("cand_id"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "cand_id")
      .agg(sum(expr("n_items * 100 DIV df")).as("lex_score"))
      .withColumn("lex_rank", row_number().over(wLex).cast("bigint"))
      .filter(col("lex_rank") <= 20)
      .select("query_id", "cand_id", "lex_rank")
    // vector list: exact cosine (FloatDot fold — bit-equal to the
    // oracle's sequential list_reduce), ranked
    val qv = items.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wVec = Window.partitionBy("query_id")
      .orderBy(col("cos_raw").desc, col("cand_id"))
    val vecTop = items.select(col("doc_id").as("cand_id"), col("embedding"),
        col("nrm"))
      .crossJoin(broadcast(qv))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos_raw", Similarity.dot(col("embedding"), col("q_emb")) /
        (col("nrm") * col("q_nrm")))
      .withColumn("vec_rank", row_number().over(wVec).cast("bigint"))
      .filter(col("vec_rank") <= 20)
      .select("query_id", "cand_id", "vec_rank")
    lexTop.join(vecTop, Seq("query_id", "cand_id"), "outer")
      .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
      .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L)))
  }

  /** One integer RRF contribution column: 10⁸ DIV (k + rank), 0 when
    * the item is absent from that list. */
  private def rrfContrib(rankCol: String, k: Int): Column = expr(
    s"""CASE WHEN $rankCol > 0 THEN 100000000 DIV ($k + $rankCol)
       |     ELSE CAST(0 AS BIGINT) END""".stripMargin)

  /** The RRF fusion tail — consumes a (query_id, cand_id, lex_rank,
    * vec_rank) pool and nothing else, which IS the "any list source
    * plugs in" contract: ss39 feeds it in-plan lists, ss43 feeds it
    * the persisted-index lists, and the rank layer is the same code
    * path (the spec's invariance argument is structural). */
  private[graft] def rrfFuse(pool: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wFuse = Window.partitionBy("query_id")
      .orderBy(col("rrf_x").desc, col("cand_id"))
    pool
      .withColumn("rrf_x",
        rrfContrib("lex_rank", 60) + rrfContrib("vec_rank", 60))
      .withColumn("rank", row_number().over(wFuse).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("cand_id"),
        col("lex_rank"), col("vec_rank"), col("rrf_x"))
      .orderBy("query_id", "rank")
  }

  val ss39HybridRrf: Q = (s, d) => rrfFuse(hybridPool(s, d))

  /** ss43: HYBRID RETRIEVAL SERVED FROM THE PERSISTED INDEXES — the
    * production serving shape the r11 verdict asked ss39 to prove:
    * the lexical arm is full doc-query BM25 off tx37's persisted
    * inverted index (query = the query doc's distinct tokens probed
    * against the token-bucketed postings; per-term scores quantized to
    * exact integers ×10⁴ BEFORE summation so the cross-term
    * accumulation is order-free — the oracle-portability rule), the
    * vector arm is ss33's persisted IVFPQ path verbatim (bucketed
    * lists + codes, candidate→ADC→refine top-3), and the fusion layer
    * is ss39's own [[rrfFuse]] — the rank contract means swapping both
    * list sources touches zero fusion code.
    *
    * Scale: the postings probe is a broadcast of ~10 query-token sets
    * against the bucketed index (df + the probe join ride the bucket
    * layout; the synthetic ~31-word vocabulary makes the probe touch
    * most postings here — real vocabularies make it selective); the
    * IVFPQ arm shuffles candidate ids only (the ss33 plan, PlanAudit-
    * held). Index writes are the honest per-run construction cost, as
    * everywhere in the persisted family.
    */
  val ss43ServedHybrid: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // lexical arm: rebuild + probe the persisted text index. Own table
    // names (ADVICE r12): tx37 writes byte-identical content under
    // graft_text_*, but sharing the catalog names would turn any future
    // divergence of either side's postings definition — or a runner
    // interleaving one query's plan-build write with the other's
    // deferred collection — into silent cross-contamination.
    val docs = t(s, d, "documents")
    val tbls = Bucketing.publish(s, "ss43",
      textSegment("graft_s43_postings", "graft_s43_stats", docs))
    val embIds = t(s, d, "embeddings").select(col("vec_id"))
    val qtok = docs.filter(col("doc_id") < 10)
      .join(embIds.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
    val post = s.table(tbls("graft_s43_postings"))
    val dfx = post.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = s.table(tbls("graft_s43_stats"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("lex_score").desc, col("cand_id"))
    // no broadcast() hint on qtok: its semi-join reaches the
    // SF-growing embeddings scan, which the surface-wide forced-
    // broadcast audit rightly bans — AQE broadcasts the 10-doc token
    // frame at runtime on its own, and with auto-broadcast closed the
    // SMJ still leaves the bucketed postings side exchange-free
    val lex = post.join(qtok, Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dfx, Seq("token"))
      .crossJoin(broadcast(stats))
      // integer per-term contribution — EXACT same expression text as
      // the oracle; floor(x*1e4 + 0.5) quantizes the deterministic
      // per-(term, doc) double so the cross-term SUM is order-free
      .withColumn("c", expr(
        "CAST(floor(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("query_id"), col("doc_id").as("cand_id"))
      .agg(sum("c").as("lex_score"))
      // universe filter on the AGGREGATED pair frame, not the posting
      // stream: a pre-aggregate semi-join on doc_id pushes below the
      // token join and forces a doc_id shuffle of the token-bucketed
      // index (the audit caught it); per-candidate filtering commutes
      // with the per-pair sum, so the bytes are identical
      .join(embIds.withColumnRenamed("vec_id", "cand_id"),
        Seq("cand_id"), "left_semi")
      .withColumn("lex_rank", row_number().over(wLex).cast("bigint"))
      .filter(col("lex_rank") <= 20)
      .select("query_id", "cand_id", "lex_rank")
    // vector arm: the persisted IVFPQ path, verbatim
    val vec = Similarity.ss33PersistedIndex(s, d)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rank").as("vec_rank"))
    rrfFuse(
      lex.join(vec, Seq("query_id", "cand_id"), "outer")
        .withColumn("lex_rank", coalesce(col("lex_rank"), lit(0L)))
        .withColumn("vec_rank", coalesce(col("vec_rank"), lit(0L))))
  }

  /** ss41: RRF DISCOUNT SWEEP — the one free parameter ss39 fixes at
    * the published k = 60, swept over {10, 60, 240} on the IDENTICAL
    * candidate pool (one outer-joined frame feeds all three configs —
    * the dd20 shared-pool rule). Small k is winner-take-all (a single
    * list's rank-1 outscores any deep dual membership: 10⁸/11 >
    * 2·10⁸/30); large k is consensus (two rank-20 memberships beat a
    * lone rank-1: 2·10⁸/260 > 10⁸/241) — the sweep measures where
    * this corpus's fused top-5 flips between those regimes. Per k:
    * how many fused top-1s are the vector list's #1, the lexical
    * list's #1, and how many of the 50 fused top-5 slots hold
    * dual-list items — the three numbers a retrieval stack reads
    * before pinning k.
    *
    * Scale: the pool is queries×≤40 rows; the three rank windows and
    * the rollup are driver-trivial at any corpus size — the expensive
    * stages (the two ranked lists) are computed ONCE upstream.
    */
  val ss41RrfKSweep: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ks = Seq(10, 60, 240)
    val pool = ks.foldLeft(hybridPool(s, d)) { (acc, k) =>
      acc.withColumn(s"rrf$k",
        rrfContrib("lex_rank", k) + rrfContrib("vec_rank", k))
    }
    val ranked = ks.foldLeft(pool) { (acc, k) =>
      acc.withColumn(s"rk$k", row_number().over(Window
        .partitionBy("query_id")
        .orderBy(col(s"rrf$k").desc, col("cand_id"))))
    }
    def top1IsVec(k: Int) = sum(when(
      col(s"rk$k") === 1 && col("vec_rank") === 1L, 1L).otherwise(0L))
      .as(s"v$k")
    def top1IsLex(k: Int) = sum(when(
      col(s"rk$k") === 1 && col("lex_rank") === 1L, 1L).otherwise(0L))
      .as(s"l$k")
    def top5Dual(k: Int) = sum(when(
      col(s"rk$k") <= 5 && col("lex_rank") > 0L && col("vec_rank") > 0L,
      1L).otherwise(0L)).as(s"d$k")
    ranked.agg(top1IsVec(10), top1IsLex(10), top5Dual(10),
        top1IsVec(60), top1IsLex(60), top5Dual(60),
        top1IsVec(240), top1IsLex(240), top5Dual(240))
      .selectExpr(
        """stack(3, CAST(10 AS BIGINT), v10, l10, d10,
          |         CAST(60 AS BIGINT), v60, l60, d60,
          |         CAST(240 AS BIGINT), v240, l240, d240)
          |  AS (k, top1_is_vec1, top1_is_lex1, top5_dual)"""
          .stripMargin)
      .orderBy("k")
  }

  val queries: Map[String, Q] = Map(
    "ss39_hybrid_rrf" -> ss39HybridRrf,
    "ss43_served_hybrid" -> ss43ServedHybrid,
    "ss41_rrf_k_sweep" -> ss41RrfKSweep,
    "tx27_boilerplate" -> tx27BoilerplateAudit,
    "tx26_rake_keywords" -> tx26RakeKeywords,
    "tx25_bigram_surprisal" -> tx25BigramSurprisal,
    "tx18_inverted_index" -> tx18InvertedIndex,
    "tx19_bm25" -> tx19Bm25,
    "tx37_persisted_text_index" -> tx37PersistedTextIndex,
    "tx38_delta_text_index" -> tx38DeltaTextIndex,
    "tx39_compacted_text_index" -> ((s, d) => tx39CompactedTextIndex(s, d)),
    "tx40_text_purge" -> ((s, d) => tx40TextPurge(s, d)),
    "tx20_bigram_novelty" -> tx20BigramNovelty,
    "pp05_quality_filter" -> pp05QualityFilter,
    "pp41_rag_flagship" -> ((s, d) => pp41RagFlagship(s, d)),
    "pp42_publish_lifecycle" -> ((s, d) => pp42PublishLifecycle(s, d)),
    "pp26_line_clean" -> pp26LineClean,
    "pp06_mixture_rebalance" -> pp06MixtureRebalance,
    "pp14_curriculum" -> pp14Curriculum,
    "pp17_temperature_mix" -> pp17TemperatureMix,
    "tx21_vocab_growth" -> tx21VocabGrowth,
    "tx14_repetition" -> tx14Repetition,
    "tx15_pii_redact" -> tx15PiiRedact,
    "tx16_tfidf_topterms" -> tx16TfidfTopTerms,
    "dd12_semantic_dedup" -> dd12SemanticDedup,
    "ss08_kmeans_iter" -> ss08KmeansIter,
    "ss09_kmeans_converged" -> ss09KmeansConverged)

  // DuckDB norm/dot helpers (the exact sequential-fold formulation that
  // bit-matches Spark's FloatDot kernel — see Similarity's oracle notes).
  private def foldDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [$a.e[i] * $b.e[i] for i in generate_series(1, len($a.e))]),
       |      (a, b) -> a + b)""".stripMargin

  /** DuckDB replay of one ss09 Lloyd round: assignment against `prev`'s
    * (cluster, c, cnrm), then per-dimension avg rounded to 6 — the same
    * rounding the Spark side applies, which is what keeps the two
    * engines bit-identical ACROSS iterations.
    */
  private def kmeansRound(i: Int, prev: String): String =
    s"""a$i AS (SELECT vec_id, e, cluster FROM (
       |    SELECT x.vec_id, x.e, y.cluster,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          [x.e[i] * y.c[i] for i in generate_series(1, len(x.e))]),
       |          (a, b) -> a + b) / (x.nrm * y.cnrm) DESC, y.cluster) AS rn
       |    FROM n x CROSS JOIN $prev y) WHERE rn = 1),
       |u$i AS (SELECT cluster, unnest(generate_series(1, len(e))) AS dim,
       |    unnest(e) AS x
       |  FROM a$i),
       |m$i AS (SELECT cluster, count(*) AS n_members FROM a$i GROUP BY cluster),
       |g$i AS (SELECT cluster, dim, round(avg(x), 6) AS cx
       |  FROM u$i GROUP BY cluster, dim),
       |c$i AS (SELECT cluster, c,
       |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(c, x -> x * x)), (a, b) -> a + b)) AS cnrm,
       |    n_members
       |  FROM (SELECT g.cluster, list(g.cx ORDER BY g.dim) AS c
       |        FROM g$i g GROUP BY g.cluster) t
       |  JOIN m$i USING (cluster))""".stripMargin

  /** ss39/ss41 shared oracle prefix: item universe, trigram df,
    * IDF-weighted lexical ranks, exact-cosine vector ranks (the
    * Similarity fold discipline) and the outer-joined pool `fu`.
    * `//` ≡ DIV on the non-negative operands; explicit ON + coalesce
    * on the outer join (USING-coalescing across engines is not relied
    * on). */
  private val hybridPoolSql: String =
      s"""WITH it AS (SELECT e.vec_id AS doc_id, d.text,
         |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         |n AS (SELECT doc_id, emb AS e,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(emb, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM it),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM it),
         |tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
         |  FROM it),
         |sh AS (SELECT doc_id,
         |    CASE WHEN len(tk) < 3 THEN [text]
         |         ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
         |               for i in generate_series(1, len(tk) - 2)] END
         |      AS sh
         |  FROM tk),
         |gr AS (SELECT DISTINCT doc_id, md5(g) AS g
         |  FROM sh, LATERAL (SELECT unnest(sh) AS g)),
         |gdf AS (SELECT doc_id, g,
         |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS df
         |  FROM gr),
         |lex AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
         |    sum(st.n_items * 100 // c.df) AS lex_score
         |  FROM gdf q JOIN gdf c USING (g) CROSS JOIN st
         |  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
         |  GROUP BY 1, 2),
         |lt AS (SELECT query_id, cand_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY lex_score DESC, cand_id) AS BIGINT) AS lex_rank
         |  FROM lex QUALIFY lex_rank <= 20),
         |vec AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
         |    ${Similarity.dotSql} / (c.nrm * q.nrm) AS cos_raw
         |  FROM n c JOIN n q ON q.doc_id < 10 AND c.doc_id <> q.doc_id),
         |vt AS (SELECT query_id, cand_id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_raw DESC, cand_id) AS BIGINT) AS vec_rank
         |  FROM vec QUALIFY vec_rank <= 20),
         |fu AS (SELECT
         |    coalesce(lt.query_id, vt.query_id) AS query_id,
         |    coalesce(lt.cand_id, vt.cand_id) AS cand_id,
         |    CAST(coalesce(lt.lex_rank, 0) AS BIGINT) AS lex_rank,
         |    CAST(coalesce(vt.vec_rank, 0) AS BIGINT) AS vec_rank
         |  FROM lt FULL OUTER JOIN vt
         |    ON lt.query_id = vt.query_id AND lt.cand_id = vt.cand_id)"""
        .stripMargin

  /** One DuckDB RRF contribution term (mirrors [[rrfContrib]]). */
  private def rrfSql(rankCol: String, k: Int): String =
    s"""CASE WHEN $rankCol > 0 THEN 100000000 // ($k + $rankCol)
       |              ELSE 0 END""".stripMargin

    /** tx19's replay — shared verbatim by tx37 (persisted index must
    * serve tx19's exact bytes) and, with the union-corpus substitution,
    * by tx38. */
  private val tx19Bm25Sql: String =
      """WITH d2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 avg(dl) AS avgdl FROM d2),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM d2),
        |tf AS (SELECT token, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE token IN ('query', 'table', 'stream')
        |       GROUP BY token, doc_id, dl),
        |dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY token),
        |scored AS (
        |  SELECT token, doc_id, tf, dl,
        |    round(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 4) AS score
        |  FROM tf JOIN dfx USING (token) CROSS JOIN stats),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY token
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS rnk FROM scored)
        |SELECT token, rnk, doc_id, tf, dl, score
        |FROM ranked WHERE rnk <= 5 ORDER BY token, rnk""".stripMargin

val oracleSql: Map[String, String] = Map(
        // ss43: the ivfpq replay (ss33's own chain, ending in `fin`) is
    // the vector arm; the lexical arm replays full doc-query BM25 with
    // per-term integer quantization BEFORE the cross-term sum (order-
    // free); fusion is the exact-integer RRF — all composed in one
    // statement with s43-prefixed CTEs (no collisions with the ivfpq
    // chain's names)
    "ss43_served_hybrid" -> (Similarity.ivfpqPipelineSql + """,
      |s43d AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |s43stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                    avg(dl) AS avgdl FROM s43d),
      |s43tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM s43d),
      |s43tf AS MATERIALIZED (SELECT token, doc_id, dl,
      |    CAST(count(*) AS BIGINT) AS tf
      |  FROM s43tok GROUP BY token, doc_id, dl),
      |s43df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
      |  FROM s43tf GROUP BY token),
      |s43qt AS (SELECT DISTINCT doc_id AS query_id,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE doc_id < 10
      |    AND doc_id IN (SELECT vec_id FROM embeddings)),
      |s43sc AS (SELECT q.query_id, f.doc_id AS cand_id,
      |    SUM(CAST(floor(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) * 10000 + 0.5) AS BIGINT)) AS lex_score
      |  FROM s43qt q JOIN s43tf f USING (token)
      |  JOIN s43df USING (token) CROSS JOIN s43stats
      |  WHERE f.doc_id <> q.query_id
      |    AND f.doc_id IN (SELECT vec_id FROM embeddings)
      |  GROUP BY q.query_id, f.doc_id),
      |s43lex AS (SELECT query_id, cand_id, lex_rank FROM (
      |    SELECT query_id, cand_id,
      |      CAST(row_number() OVER (PARTITION BY query_id
      |        ORDER BY lex_score DESC, cand_id) AS BIGINT) AS lex_rank
      |    FROM s43sc) WHERE lex_rank <= 20),
      |s43vec AS (SELECT query_id, neighbor_id AS cand_id,
      |    CAST("rank" AS BIGINT) AS vec_rank FROM fin WHERE "rank" <= 3),
      |s43pool AS (SELECT
      |    coalesce(l.query_id, v.query_id) AS query_id,
      |    coalesce(l.cand_id, v.cand_id) AS cand_id,
      |    coalesce(l.lex_rank, 0) AS lex_rank,
      |    coalesce(v.vec_rank, 0) AS vec_rank
      |  FROM s43lex l FULL OUTER JOIN s43vec v
      |    ON v.query_id = l.query_id AND v.cand_id = l.cand_id),
      |s43sco AS (SELECT query_id, cand_id, lex_rank, vec_rank,
      |    (CASE WHEN lex_rank > 0 THEN 100000000 // (60 + lex_rank)
      |          ELSE CAST(0 AS BIGINT) END)
      |    + (CASE WHEN vec_rank > 0 THEN 100000000 // (60 + vec_rank)
      |            ELSE CAST(0 AS BIGINT) END) AS rrf_x
      |  FROM s43pool)
      |SELECT query_id, "rank", cand_id, lex_rank, vec_rank, rrf_x
      |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf_x DESC, cand_id) AS BIGINT) AS "rank" FROM s43sco)
      |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin),
"ss39_hybrid_rrf" ->
      s"""$hybridPoolSql,
         |rr AS (SELECT query_id, cand_id, lex_rank, vec_rank,
         |    CAST(${rrfSql("lex_rank", 60)}
         |       + ${rrfSql("vec_rank", 60)} AS BIGINT) AS rrf_x
         |  FROM fu)
         |SELECT query_id, "rank", cand_id, lex_rank, vec_rank, rrf_x
         |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_x DESC, cand_id) AS BIGINT) AS "rank" FROM rr)
         |WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // ss41: the same pool, three discount configs, the rollup —
    // row_number windows + counters all replayed
    "ss41_rrf_k_sweep" ->
      s"""$hybridPoolSql,
         |rr AS (SELECT query_id, cand_id, lex_rank, vec_rank,
         |    CAST(${rrfSql("lex_rank", 10)}
         |       + ${rrfSql("vec_rank", 10)} AS BIGINT) AS rrf10,
         |    CAST(${rrfSql("lex_rank", 60)}
         |       + ${rrfSql("vec_rank", 60)} AS BIGINT) AS rrf60,
         |    CAST(${rrfSql("lex_rank", 240)}
         |       + ${rrfSql("vec_rank", 240)} AS BIGINT) AS rrf240
         |  FROM fu),
         |rk AS (SELECT query_id, cand_id, lex_rank, vec_rank,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf10 DESC, cand_id) AS rk10,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf60 DESC, cand_id) AS rk60,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf240 DESC, cand_id) AS rk240
         |  FROM rr),
         |a AS (SELECT
         |    CAST(count(*) FILTER (rk10 = 1 AND vec_rank = 1)
         |      AS BIGINT) AS v10,
         |    CAST(count(*) FILTER (rk10 = 1 AND lex_rank = 1)
         |      AS BIGINT) AS l10,
         |    CAST(count(*) FILTER (rk10 <= 5 AND lex_rank > 0
         |      AND vec_rank > 0) AS BIGINT) AS d10,
         |    CAST(count(*) FILTER (rk60 = 1 AND vec_rank = 1)
         |      AS BIGINT) AS v60,
         |    CAST(count(*) FILTER (rk60 = 1 AND lex_rank = 1)
         |      AS BIGINT) AS l60,
         |    CAST(count(*) FILTER (rk60 <= 5 AND lex_rank > 0
         |      AND vec_rank > 0) AS BIGINT) AS d60,
         |    CAST(count(*) FILTER (rk240 = 1 AND vec_rank = 1)
         |      AS BIGINT) AS v240,
         |    CAST(count(*) FILTER (rk240 = 1 AND lex_rank = 1)
         |      AS BIGINT) AS l240,
         |    CAST(count(*) FILTER (rk240 <= 5 AND lex_rank > 0
         |      AND vec_rank > 0) AS BIGINT) AS d240
         |  FROM rk)
         |SELECT CAST(10 AS BIGINT) AS k, v10 AS top1_is_vec1,
         |  l10 AS top1_is_lex1, d10 AS top5_dual FROM a
         |UNION ALL SELECT CAST(60 AS BIGINT), v60, l60, d60 FROM a
         |UNION ALL SELECT CAST(240 AS BIGINT), v240, l240, d240 FROM a
         |ORDER BY k""".stripMargin,
    "tx27_boilerplate" ->
      """WITH base AS (SELECT doc_id, source,
        |    string_split(text, ' ') AS toks FROM documents),
        |pairs AS (SELECT DISTINCT doc_id, source,
        |    md5(array_to_string(toks[(i-1)*8+1 : (i-1)*8+8], ' ')) AS fp
        |  FROM base, LATERAL (SELECT
        |    unnest(range(1, (len(toks)-1)//8 + 2)) AS i)),
        |dfd AS (SELECT doc_id, source,
        |    CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS df
        |  FROM pairs),
        |pd AS (SELECT doc_id, source, count(*) AS n_types,
        |    count(*) FILTER (df >= 3) AS n_bp
        |  FROM dfd GROUP BY 1, 2),
        |src AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_types) AS BIGINT) AS n_line_types,
        |    CAST(sum(n_bp) AS BIGINT) AS n_bp_types,
        |    CAST(count(*) FILTER (n_bp > 0) AS BIGINT)
        |      AS n_affected_docs
        |  FROM pd GROUP BY 1)
        |SELECT source, n_docs, n_line_types, n_bp_types, n_affected_docs,
        |  n_bp_types * 10000 // n_line_types AS bp_share_x10k,
        |  n_affected_docs * 10000 // n_docs AS affected_x10k
        |FROM src ORDER BY source""".stripMargin,
    // tx26: 1-based vs 0-based positions don't matter — pos only orders
    // the stopword running sum; window sums cast from HUGEINT
    "tx26_rake_keywords" ->
      """WITH tk AS (SELECT doc_id, source,
        |    string_split(text, ' ') AS toks FROM documents),
        |pos AS (SELECT doc_id, source, toks[i] AS tok, i AS pos,
        |    CASE WHEN toks[i] IN ('a', 'the') THEN 1 ELSE 0 END
        |      AS is_stop
        |  FROM tk, LATERAL (SELECT
        |    unnest(generate_series(1, len(toks))) AS i)),
        |ph AS (SELECT doc_id, source, tok, is_stop,
        |    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS phrase_id
        |  FROM pos),
        |pl AS (SELECT doc_id, source, tok, phrase_id,
        |    count(*) OVER (PARTITION BY doc_id, phrase_id)
        |      AS phrase_len
        |  FROM ph WHERE is_stop = 0),
        |w AS (SELECT source, tok, count(*) AS freq,
        |    CAST(sum(phrase_len) AS BIGINT) AS degree
        |  FROM pl GROUP BY 1, 2),
        |r AS (SELECT source, tok, freq, degree,
        |    degree * 100 // freq AS score_x100,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY degree * 100 // freq DESC, freq DESC, tok)
        |      AS "rank"
        |  FROM w)
        |SELECT source, "rank", tok AS keyword, freq, degree, score_x100
        |FROM r WHERE "rank" <= 5 ORDER BY source, "rank"""".stripMargin,
    "tx25_bigram_surprisal" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |inst AS (SELECT doc_id, md5(toks[i]) AS w1fp,
        |    md5(toks[i] || ' ' || toks[i + 1]) AS bfp
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
        |                    AS i)),
        |cnt AS (SELECT w1fp, bfp, CAST(count(*) AS BIGINT) AS c2
        |  FROM inst GROUP BY w1fp, bfp),
        |model AS (SELECT bfp, c2,
        |    CAST(sum(c2) OVER (PARTITION BY w1fp) AS BIGINT) AS c1
        |  FROM cnt),
        |scored AS (SELECT i.doc_id, m.c1 * 10000 // m.c2 AS invp
        |  FROM inst i JOIN model m USING (bfp))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(invp) AS BIGINT) AS sum_invp,
        |  CAST(sum(invp) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_invp
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pp17_temperature_mix" ->
      """WITH docs AS (SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |mass AS (SELECT source, count(*) AS n_docs, sum(n_tokens) AS m
        |  FROM docs GROUP BY source),
        |tot AS (SELECT sum(m) AS tot, sum(sqrt(CAST(m AS DOUBLE))) AS sq_tot
        |  FROM mass),
        |rates AS (SELECT source, n_docs, m AS n_tokens,
        |    greatest(1, CAST(floor((CAST(m AS DOUBLE) / tot) /
        |      (sqrt(CAST(m AS DOUBLE)) / sq_tot)) AS BIGINT)) AS keep_1_in
        |  FROM mass, tot),
        |rn AS (SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM docs),
        |kept AS (SELECT r.source, count(*) AS kept_docs,
        |    CAST(sum(rn.n_tokens) AS BIGINT) AS kept_tokens
        |  FROM rn JOIN rates r ON rn.source = r.source
        |  WHERE (rn.rn - 1) % r.keep_1_in = 0
        |  GROUP BY r.source)
        |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs,
        |  CAST(r.n_tokens AS BIGINT) AS n_tokens, r.keep_1_in,
        |  coalesce(k.kept_docs, 0) AS kept_docs,
        |  coalesce(k.kept_tokens, 0) AS kept_tokens
        |FROM rates r LEFT JOIN kept k ON k.source = r.source
        |ORDER BY r.source""".stripMargin,
    "tx21_vocab_growth" ->
      """WITH ft AS (SELECT t.term, min(d.doc_id // 5) AS first_batch
        |  FROM documents d,
        |    LATERAL (SELECT unnest(string_split(d.text, ' ')) AS term) t
        |  GROUP BY t.term)
        |SELECT first_batch AS batch, count(*) AS n_new_terms,
        |  CAST(sum(count(*)) OVER (ORDER BY first_batch
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        |FROM ft GROUP BY first_batch ORDER BY batch""".stripMargin,
    "pp14_curriculum" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      AS n_dist,
        |    n_chars,
        |    CAST(n_chars - length(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / n_chars AS sym_frac
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |    (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 4 ELSE 0 END
        |     + CASE WHEN CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok
        |              BETWEEN 2.0 AND 12.0 THEN 2 ELSE 0 END
        |     + CASE WHEN 1.0 - CAST(n_dist AS DOUBLE) / n_tok <= 0.6
        |            THEN 1 ELSE 0 END
        |     + CASE WHEN sym_frac <= 0.1 THEN 1 ELSE 0 END) AS score
        |  FROM q)
        |SELECT doc_id, CAST(score AS BIGINT) AS score,
        |  CAST(ntile(4) OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |    AS stage
        |FROM sc ORDER BY doc_id""".stripMargin,
    "tx20_bigram_novelty" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |grams AS (SELECT DISTINCT doc_id,
        |    md5(toks[i] || ' ' || toks[i + 1]) AS fp
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
        |                    AS i)),
        |dfx AS (SELECT fp, count(*) AS df FROM grams GROUP BY fp)
        |SELECT g.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN dfx.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(sum(CASE WHEN dfx.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS novelty
        |FROM grams g JOIN dfx USING (fp)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "tx18_inverted_index" ->
      """WITH perdoc AS (
        |  SELECT token, doc_id, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY token, doc_id),
        |ranked AS (
        |  SELECT token, doc_id, tf,
        |    CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df,
        |    CAST(sum(tf) OVER (PARTITION BY token) AS BIGINT) AS cf,
        |    row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
        |  FROM perdoc)
        |SELECT token, df, cf,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS postings
        |FROM ranked WHERE rn <= 3
        |GROUP BY token, df, cf ORDER BY token""".stripMargin,
    "tx19_bm25" -> tx19Bm25Sql,
    // tx37: byte-identity to tx19 IS the gate (the dd35 rule) — the
    // oracle is tx19's own replay
    "tx37_persisted_text_index" -> tx19Bm25Sql,
    // tx39: compaction is provably score-neutral (df/stats merges are
    // exact), so the gate IS tx38's union replay byte-for-byte
    "tx39_compacted_text_index" -> tx19Bm25Sql.replace(
      "FROM documents)",
      """FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    string_split(CASE WHEN instr(text, ' ') > 0
        |      THEN substring(text, instr(text, ' ') + 1)
        |      ELSE text END, ' '),
        |    CAST(len(string_split(CASE WHEN instr(text, ' ') > 0
        |      THEN substring(text, instr(text, ' ') + 1)
        |      ELSE text END, ' ')) AS BIGINT)
        |  FROM documents WHERE doc_id % 10 = 7)""".stripMargin),
    // tx40: the purged serve replayed from scratch over the LIVE
    // corpus (the from-scratch-equivalence contract), the unpurged
    // top-5 over the full union, and the rank-diff join
    "tx40_text_purge" ->
      """WITH uni AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    CASE WHEN instr(text, ' ') > 0
        |      THEN substring(text, instr(text, ' ') + 1)
        |      ELSE text END
        |  FROM documents WHERE doc_id % 10 = 7),
        |era AS MATERIALIZED (SELECT DISTINCT user_id FROM events
        |  WHERE event_id % 97 = 0),
        |liv AS (SELECT * FROM uni
        |  WHERE doc_id % 1000 NOT IN (SELECT user_id FROM era)),
        |pd2 AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM liv),
        |pst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    avg(dl) AS avgdl FROM pd2),
        |ptf AS (SELECT token, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM pd2)
        |  WHERE token IN ('query', 'table', 'stream')
        |  GROUP BY token, doc_id, dl),
        |pdf AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM ptf GROUP BY token),
        |psc AS (SELECT token, doc_id, tf, dl,
        |    round(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 4) AS score
        |  FROM ptf JOIN pdf USING (token) CROSS JOIN pst),
        |prk AS (SELECT *, CAST(row_number() OVER (PARTITION BY token
        |    ORDER BY score DESC, doc_id) AS BIGINT) AS rnk FROM psc),
        |od2 AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM uni),
        |ost AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    avg(dl) AS avgdl FROM od2),
        |otf AS (SELECT token, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM od2)
        |  WHERE token IN ('query', 'table', 'stream')
        |  GROUP BY token, doc_id, dl),
        |odf AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM otf GROUP BY token),
        |osc AS (SELECT token, doc_id,
        |    round(((n_docs - df + 0.5) / (df + 0.5)) * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))), 4) AS score
        |  FROM otf JOIN odf USING (token) CROSS JOIN ost),
        |ork AS MATERIALIZED (SELECT token, doc_id,
        |    CAST(row_number() OVER (PARTITION BY token
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS old_rnk
        |  FROM osc QUALIFY old_rnk <= 5),
        |oea AS (SELECT token,
        |    CAST(sum(CASE WHEN doc_id % 1000 IN (SELECT user_id FROM era)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_erased_in_old_top5
        |  FROM ork GROUP BY token)
        |SELECT p.token, p.rnk, p.doc_id, p.tf, p.dl, p.score,
        |  CAST(coalesce(o.old_rnk, 0) AS BIGINT) AS old_rnk,
        |  CAST(coalesce(e.n_erased_in_old_top5, 0) AS BIGINT)
        |    AS n_erased_in_old_top5
        |FROM prk p
        |LEFT JOIN ork o ON o.token = p.token AND o.doc_id = p.doc_id
        |LEFT JOIN oea e ON e.token = p.token
        |WHERE p.rnk <= 5
        |ORDER BY p.token, p.rnk""".stripMargin,
    // tx38: one index over the UNION corpus — the hash certifies that
    // per-segment serving with merged stats loses nothing
    "tx38_delta_text_index" -> tx19Bm25Sql.replace(
      "FROM documents)",
      """FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000000,
        |    string_split(CASE WHEN instr(text, ' ') > 0
        |      THEN substring(text, instr(text, ' ') + 1)
        |      ELSE text END, ' '),
        |    CAST(len(string_split(CASE WHEN instr(text, ' ') > 0
        |      THEN substring(text, instr(text, ' ') + 1)
        |      ELSE text END, ' ')) AS BIGINT)
        |  FROM documents WHERE doc_id % 10 = 7)""".stripMargin),
    // pp26: DuckDB replays the 8-token line segmentation (dd14's oracle
    // frame), the three integer-compare rules, and the kept-line
    // fingerprint; list comprehensions mirror Spark's filter() lambdas.
    "pp26_line_clean" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    toks[(i-1)*8+1 : (i-1)*8+8] AS l
        |  FROM base,
        |    LATERAL (SELECT unnest(range(1, (len(toks)-1)//8 + 2)) AS i)),
        |fl AS (
        |  SELECT doc_id, pos, l,
        |    len(l) < 4 AS r_short,
        |    4 * len([t for t in l if t = 'a' OR t = 'the']) >= len(l)
        |      AS r_stop,
        |    4 * len(list_distinct(l)) < 3 * len(l) AS r_lowdiv
        |  FROM lines)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rm_short,
        |  CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rm_stop,
        |  CAST(sum(CASE WHEN r_lowdiv THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rm_lowdiv,
        |  CAST(sum(CASE WHEN NOT (r_short OR r_stop OR r_lowdiv)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  md5(coalesce(string_agg(array_to_string(l, ' '), ' '
        |        ORDER BY pos)
        |      FILTER (WHERE NOT (r_short OR r_stop OR r_lowdiv)), ''))
        |    AS clean_fp
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // pp41: the WHOLE funnel — banded fuzzy dedup with recursive CC,
    // pp05 gates, pp08 chunking, ss27 variance, ss39 hybrid fusion —
    // replayed as ONE statement over p41-prefixed CTEs; every value is
    // a BIGINT. Queries = the 10 smallest surviving embedded ids (the
    // Spark side collects them at plan build; the replay derives the
    // same set relationally).
    // pp42: every generation's manifest census replayed from the raw
    // corpus — the gen-2 post_base row must equal gen-1's (the append-
    // without-rewrite contract as a hash); post_compact = base + delta
    // (disjoint doc ids)
    "pp42_publish_lifecycle" ->
      """WITH delta AS (
        |  SELECT doc_id + 20000000 AS doc_id,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 = 7),
        |bp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents))),
        |dp AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT DISTINCT token, doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM delta)))
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS gen, 'post_base' AS part,
        |    n AS n_rows FROM bp
        |  UNION ALL SELECT 1, 'stats_base', 1
        |  UNION ALL SELECT 2, 'post_base', n FROM bp
        |  UNION ALL SELECT 2, 'post_delta', n FROM dp
        |  UNION ALL SELECT 2, 'stats_base', 1
        |  UNION ALL SELECT 2, 'stats_delta', 1
        |  UNION ALL SELECT 3, 'post_compact', bp.n + dp.n FROM bp, dp
        |  UNION ALL SELECT 3, 'stats_compact', 1)
        |ORDER BY gen, part""".stripMargin,
    "pp41_rag_flagship" -> s"""WITH RECURSIVE
      |p41tk AS (SELECT doc_id, text, string_split(text, ' ') AS tk
      |  FROM documents),
      |p41sh AS MATERIALIZED (SELECT doc_id,
      |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
      |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |            for i in generate_series(1, len(tk) - 2)] END) AS sh
      |  FROM p41tk),
      |p41sig AS (SELECT doc_id,
      |    list_min([md5(x || '#0') for x in sh]) AS s0,
      |    list_min([md5(x || '#1') for x in sh]) AS s1,
      |    list_min([md5(x || '#2') for x in sh]) AS s2,
      |    list_min([md5(x || '#3') for x in sh]) AS s3,
      |    list_min([md5(x || '#4') for x in sh]) AS s4,
      |    list_min([md5(x || '#5') for x in sh]) AS s5,
      |    list_min([md5(x || '#6') for x in sh]) AS s6,
      |    list_min([md5(x || '#7') for x in sh]) AS s7
      |  FROM p41sh),
      |p41band AS MATERIALIZED (
      |  SELECT doc_id, 0 AS band, s0 || s1 AS bkey FROM p41sig
      |  UNION ALL SELECT doc_id, 1, s2 || s3 FROM p41sig
      |  UNION ALL SELECT doc_id, 2, s4 || s5 FROM p41sig
      |  UNION ALL SELECT doc_id, 3, s6 || s7 FROM p41sig),
      |p41cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      |  FROM p41band a JOIN p41band b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |p41edge AS MATERIALIZED (SELECT a, b FROM p41cand
      |  JOIN p41sh sa ON sa.doc_id = p41cand.a
      |  JOIN p41sh sb ON sb.doc_id = p41cand.b
      |  WHERE 2 * len(list_intersect(sa.sh, sb.sh)) >=
      |    len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
      |p41sym AS (SELECT a, b FROM p41edge
      |  UNION ALL SELECT b, a FROM p41edge),
      |p41r AS (SELECT doc_id AS id, doc_id AS label FROM documents
      |  UNION
      |  SELECT p41sym.b AS id, p41r.label
      |  FROM p41r JOIN p41sym ON p41sym.a = p41r.id),
      |p41lab AS MATERIALIZED (SELECT id, min(label) AS label
      |  FROM p41r GROUP BY id),
      |p41qual AS (SELECT doc_id,
      |    CAST(len(tk) AS BIGINT) AS n_tokens,
      |    ((len(tk) >= 10 AND len(tk) <= 1000)
      |     AND (CAST(n_chars - (len(tk) - 1) AS DOUBLE) / len(tk) >= 2.0
      |          AND CAST(n_chars - (len(tk) - 1) AS DOUBLE) / len(tk) <= 12.0)
      |     AND (1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) <= 0.6)
      |     AND (CAST(n_chars - length(regexp_replace(lower(text),
      |            '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / n_chars <= 0.1))
      |      AS keep_q
      |  FROM (SELECT d.doc_id, d.text, d.n_chars,
      |          string_split(d.text, ' ') AS tk FROM documents d)),
      |p41sv AS MATERIALIZED (SELECT q.doc_id, q.n_tokens
      |  FROM p41qual q JOIN p41lab l ON l.id = q.doc_id AND l.id = l.label
      |  WHERE q.keep_q),
      |p41chunk AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(least(200, n_chars - ci * 180)) AS BIGINT)
      |      AS n_chunk_chars
      |  FROM (SELECT d.n_chars,
      |          unnest(generate_series(0, (d.n_chars - 1) // 180)) AS ci
      |        FROM documents d JOIN p41sv USING (doc_id))),
      |p41dim AS (SELECT CAST(i - 1 AS BIGINT) AS dim, qs[i] AS q
      |  FROM (SELECT list_transform(e.embedding,
      |          x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))
      |            AS qs
      |        FROM embeddings e JOIN p41sv s ON s.doc_id = e.vec_id),
      |    LATERAL (SELECT unnest(generate_series(1, len(qs))) AS i)),
      |p41pd AS (SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS s1,
      |    CAST(sum(q * q) AS BIGINT) AS s2
      |  FROM p41dim GROUP BY 1),
      |p41emb AS (SELECT CAST(max(n) AS BIGINT) AS n_vecs,
      |    CAST(max(n * s2 - s1 * s1) * 10000
      |      // sum(n * s2 - s1 * s1) AS BIGINT) AS var_share_max_x10k
      |  FROM p41pd),
      |p41it AS MATERIALIZED (SELECT e.vec_id AS doc_id, d.text,
      |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      |  JOIN p41sv s ON s.doc_id = e.vec_id),
      |p41n AS (SELECT doc_id, emb AS e,
      |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(emb, x -> x * x)), (a, b) -> a + b)) AS nrm
      |  FROM p41it),
      |p41q AS (SELECT doc_id FROM p41it ORDER BY doc_id LIMIT 10),
      |p41st AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM p41it),
      |p41gr AS MATERIALIZED (SELECT DISTINCT doc_id, md5(g) AS g
      |  FROM (SELECT doc_id,
      |          CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
      |            ELSE [string_split(text, ' ')[i] || ' ' ||
      |                  string_split(text, ' ')[i+1] || ' ' ||
      |                  string_split(text, ' ')[i+2]
      |                  for i in generate_series(1,
      |                    len(string_split(text, ' ')) - 2)] END AS sh
      |        FROM p41it),
      |    LATERAL (SELECT unnest(sh) AS g)),
      |p41gdf AS (SELECT doc_id, g,
      |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS df
      |  FROM p41gr),
      |p41lex AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
      |    CAST(sum(st.n_items * 100 // c.df) AS BIGINT) AS lex_score
      |  FROM p41gdf q JOIN p41gdf c USING (g) CROSS JOIN p41st st
      |  WHERE q.doc_id IN (SELECT doc_id FROM p41q)
      |    AND c.doc_id <> q.doc_id
      |  GROUP BY 1, 2),
      |p41lt AS (SELECT query_id, cand_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY lex_score DESC, cand_id) AS BIGINT) AS lex_rank
      |  FROM p41lex QUALIFY lex_rank <= 20),
      |p41vec AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
      |    ${Similarity.dotSql} / (c.nrm * q.nrm) AS cos_raw
      |  FROM p41n c JOIN p41n q
      |    ON q.doc_id IN (SELECT doc_id FROM p41q)
      |      AND c.doc_id <> q.doc_id),
      |p41vt AS (SELECT query_id, cand_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos_raw DESC, cand_id) AS BIGINT) AS vec_rank
      |  FROM p41vec QUALIFY vec_rank <= 20),
      |p41fu AS (SELECT
      |    coalesce(lt.query_id, vt.query_id) AS query_id,
      |    coalesce(lt.cand_id, vt.cand_id) AS cand_id,
      |    CAST(coalesce(lt.lex_rank, 0) AS BIGINT) AS lex_rank,
      |    CAST(coalesce(vt.vec_rank, 0) AS BIGINT) AS vec_rank
      |  FROM p41lt lt FULL OUTER JOIN p41vt vt
      |    ON lt.query_id = vt.query_id AND lt.cand_id = vt.cand_id),
      |p41rk AS (SELECT query_id, cand_id, lex_rank, vec_rank,
      |    row_number() OVER (PARTITION BY query_id ORDER BY
      |      (CASE WHEN lex_rank > 0 THEN 100000000 // (60 + lex_rank)
      |            ELSE 0 END)
      |      + (CASE WHEN vec_rank > 0 THEN 100000000 // (60 + vec_rank)
      |              ELSE 0 END) DESC, cand_id) AS rk
      |  FROM p41fu),
      |p41ret AS (SELECT CAST(count(*) AS BIGINT) AS n_slots,
      |    CAST(sum(CASE WHEN lex_rank > 0 AND vec_rank > 0 THEN 1
      |             ELSE 0 END) AS BIGINT) AS n_dual,
      |    CAST(sum(CASE WHEN lex_rank > 0 AND vec_rank = 0 THEN 1
      |             ELSE 0 END) AS BIGINT) AS n_lex_only,
      |    CAST(sum(CASE WHEN vec_rank > 0 AND lex_rank = 0 THEN 1
      |             ELSE 0 END) AS BIGINT) AS n_vec_only
      |  FROM p41rk WHERE rk <= 5),
      |p41raw AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(tk)) AS BIGINT) AS n_tokens FROM p41tk),
      |p41ded AS (SELECT
      |    CAST(sum(CASE WHEN id = label THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_kept,
      |    CAST(sum(CASE WHEN id <> label THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dropped
      |  FROM p41lab),
      |p41qm AS (SELECT CAST(count(*) AS BIGINT) AS q_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS q_tokens FROM p41sv)
      |SELECT stage, metric, value FROM (
      |  SELECT '0_raw' AS stage, 'n_docs' AS metric, n_docs AS value
      |    FROM p41raw
      |  UNION ALL SELECT '0_raw', 'n_tokens', n_tokens FROM p41raw
      |  UNION ALL SELECT '1_fuzzy_dedup', 'n_kept', n_kept FROM p41ded
      |  UNION ALL SELECT '1_fuzzy_dedup', 'n_dropped', n_dropped
      |    FROM p41ded
      |  UNION ALL SELECT '2_quality', 'n_docs', q_docs FROM p41qm
      |  UNION ALL SELECT '2_quality', 'n_tokens', q_tokens FROM p41qm
      |  UNION ALL SELECT '3_chunks', 'n_chunks', n_chunks FROM p41chunk
      |  UNION ALL SELECT '3_chunks', 'n_chunk_chars', n_chunk_chars
      |    FROM p41chunk
      |  UNION ALL SELECT '4_embeddings', 'n_vecs', n_vecs FROM p41emb
      |  UNION ALL SELECT '4_embeddings', 'var_share_max_x10k',
      |    var_share_max_x10k FROM p41emb
      |  UNION ALL SELECT '5_retrieval', 'n_slots', n_slots FROM p41ret
      |  UNION ALL SELECT '5_retrieval', 'n_dual', n_dual FROM p41ret
      |  UNION ALL SELECT '5_retrieval', 'n_lex_only', n_lex_only
      |    FROM p41ret
      |  UNION ALL SELECT '5_retrieval', 'n_vec_only', n_vec_only
      |    FROM p41ret)
      |ORDER BY stage, metric""".stripMargin,
    "pp05_quality_filter" ->
      """WITH q AS (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_distinct(string_split(text, ' '))) AS n_dist,
        |    length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
        |      AS n_keep
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        |    CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok AS mean_word_len,
        |    1.0 - CAST(n_dist AS DOUBLE) / n_tok AS dup_token_frac,
        |    CAST(n_chars - n_keep AS DOUBLE) / n_chars AS symbol_frac
        |  FROM q)
        |SELECT doc_id, n_tokens,
        |  round(mean_word_len, 4) AS mean_word_len,
        |  round(dup_token_frac, 4) AS dup_token_frac,
        |  round(symbol_frac, 4) AS symbol_frac,
        |  (n_tokens >= 10 AND n_tokens <= 1000) AS ok_len,
        |  (mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS ok_word_len,
        |  (dup_token_frac <= 0.6) AS ok_repetition,
        |  (symbol_frac <= 0.1) AS ok_symbols,
        |  ((n_tokens >= 10 AND n_tokens <= 1000)
        |    AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
        |    AND dup_token_frac <= 0.6 AND symbol_frac <= 0.1) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "pp06_mixture_rebalance" ->
      """WITH tk AS (SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |per AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM tk GROUP BY source),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_src
        |  FROM per),
        |rates AS (SELECT source,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(src_tokens // (total // n_src) AS BIGINT)) AS keep_1_in
        |  FROM per, tot),
        |r AS (SELECT tk.source, tk.doc_id, tk.n_tokens, rates.keep_1_in,
        |    row_number() OVER (PARTITION BY tk.source ORDER BY tk.doc_id)
        |      AS rn
        |  FROM tk JOIN rates USING (source))
        |SELECT source, keep_1_in, count(*) AS n_docs_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
        |FROM r WHERE (rn - 1) % keep_1_in = 0
        |GROUP BY source, keep_1_in ORDER BY source""".stripMargin,
    "tx14_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
        |      AS dup_raw,
        |    CASE WHEN len(tk) < 2 THEN []
        |      ELSE [tk[i] || ' ' || tk[i+1]
        |            for i in generate_series(1, len(tk) - 1)] END AS bg
        |  FROM tk),
        |c AS (SELECT doc_id, u.bg AS bg, count(*) AS cnt
        |  FROM d, unnest(d.bg) AS u(bg) GROUP BY doc_id, u.bg),
        |agg AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_bg
        |  FROM c GROUP BY doc_id)
        |SELECT d.doc_id, d.n_tokens,
        |  round(d.dup_raw, 4) AS dup_token_frac,
        |  CAST(coalesce(a.top_cnt, 0) AS BIGINT) AS top_bigram_cnt,
        |  round(coalesce(CAST(a.top_cnt AS DOUBLE) / a.n_bg, 0.0), 4)
        |    AS top_bigram_frac
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "tx15_pii_redact" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || doc_id ||
        |    '@mail.example.com from 10.' || (doc_id % 256) ||
        |    '.0.7 call 555-' || (doc_id % 9000 + 1000) AS planted
        |  FROM documents),
        |r AS (SELECT doc_id, planted,
        |    regexp_replace(regexp_replace(regexp_replace(planted,
        |      '[a-z0-9]+@[a-z0-9.]+[a-z0-9]', '<EMAIL>', 'g'),
        |      '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |      '555-[0-9]+', '<PHONE>', 'g') AS red
        |  FROM p)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(planted,
        |    '[a-z0-9]+@[a-z0-9.]+[a-z0-9]')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(planted,
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(planted, '555-[0-9]+')) AS BIGINT)
        |    AS n_phones,
        |  md5(red) AS redacted_fp
        |FROM r ORDER BY doc_id""".stripMargin,
    "tx16_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id, source, u.token AS token
        |  FROM documents, unnest(string_split(text, ' ')) AS u(token)),
        |tf AS (SELECT source, token, count(*) AS tf
        |  FROM toks GROUP BY source, token),
        |df AS (SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (SELECT tf.source, tf.token,
        |    CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
        |    CAST(tf.tf AS DOUBLE) * nd.n_docs / df.df AS score_raw
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN nd),
        |r AS (SELECT source, token, tf, df, score_raw,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score_raw DESC, token) AS BIGINT) AS "rank"
        |  FROM scored)
        |SELECT source, "rank", token, tf, df,
        |  round(score_raw, 4) AS tfidf
        |FROM r WHERE "rank" <= 5 ORDER BY source, "rank"""".stripMargin,
    "dd12_semantic_dedup" ->
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
         |cents AS (SELECT vec_id AS centroid_vec, e, nrm FROM n
         |  WHERE vec_id % 97 = 0 AND vec_id < 10000000
         |  ORDER BY vec_id LIMIT 16),
         |assign AS (SELECT vec_id, e, nrm, centroid_vec AS cluster
         |  FROM (SELECT c.vec_id, c.e, c.nrm, q.centroid_vec,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${foldDot("c", "q")} / (c.nrm * q.nrm) DESC,
         |          q.centroid_vec) AS rn
         |    FROM n c CROSS JOIN cents q) WHERE rn = 1),
         |pairs AS (SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${foldDot("a", "b")} / (a.nrm * b.nrm) AS cos_raw
         |  FROM assign a JOIN assign b ON a.cluster = b.cluster
         |    AND a.vec_id < b.vec_id
         |    AND abs(a.nrm - b.nrm) <= 0.01 * a.nrm)
         |SELECT b_id AS dup_id, a_id AS dup_of, cluster,
         |  round(cos_raw, 4) AS cosine
         |FROM pairs WHERE cos_raw >= 0.99 ORDER BY dup_id""".stripMargin,
    "ss08_kmeans_iter" ->
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n AS (SELECT vec_id, e,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM v),
         |cents AS (SELECT vec_id AS centroid_vec, e, nrm FROM n
         |  WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16),
         |assign AS (SELECT vec_id, e, centroid_vec AS cluster
         |  FROM (SELECT c.vec_id, c.e, q.centroid_vec,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${foldDot("c", "q")} / (c.nrm * q.nrm) DESC,
         |          q.centroid_vec) AS rn
         |    FROM n c CROSS JOIN cents q) WHERE rn = 1),
         |x0 AS (SELECT cluster,
         |    unnest(generate_series(1, len(e))) AS dim,
         |    unnest(e) AS x
         |  FROM assign),
         |x AS (SELECT cluster, CAST(dim AS BIGINT) AS dim, x FROM x0)
         |SELECT cluster, dim, CAST(count(*) AS BIGINT) AS n_members,
         |  round(avg(x), 4) AS centroid
         |FROM x GROUP BY cluster, dim ORDER BY cluster, dim""".stripMargin,
    "ss09_kmeans_converged" ->
      s"""WITH v AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |n AS (SELECT vec_id, e,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM v),
         |c0 AS (SELECT vec_id AS cluster, e AS c, nrm AS cnrm
         |  FROM n WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 16),
         |${(1 to 3).map(i => kmeansRound(i, s"c${i - 1}")).mkString(",\n")},
         |f AS (SELECT cluster, n_members,
         |    unnest(generate_series(1, len(c))) AS dim,
         |    unnest(c) AS centroid
         |  FROM c3)
         |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
         |  CAST(dim AS BIGINT) AS dim, centroid
         |FROM f ORDER BY cluster, dim""".stripMargin,
  )
}
