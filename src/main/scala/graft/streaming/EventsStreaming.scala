package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import graft.functions.KmvSketch.md5Hex
import EventTime.{hourLabel, tsu}

/** The event-time clock of the stream faces. An object of its own, so a
  * fold step that calls it captures nothing: [[EventsStreaming]] is not
  * serializable. */
private[streaming] object EventTime {
  /** Exact event-time micros of a Timestamp. Timestamp carries sub-ms in
    * nanos; getTime alone would floor to ms and drift vs the batch faces,
    * which order by the full timestamp (`unix_micros(ts)`). */
  def tsu(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  private val HourFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")

  /** The `window_start` label of hour window `w` (= micros div 3.6e9),
    * as the batch faces' `date_format(timestamp_seconds(w * 3600))`. */
  def hourLabel(w: Long): String =
    java.time.LocalDateTime.ofEpochSecond(w * 3600L, 0,
      java.time.ZoneOffset.UTC).format(HourFmt)
}

/** Structured Streaming operators over the `events` stream shape
  * (builder mandate; the reference is strictly batch-snapshot — SURVEY
  * §1.5/§2.6 — so this is extension surface, not parity).
  *
  * Both operators are defined source-agnostically (DataFrame in →
  * DataFrame out) so the same code runs from `readStream` (kafka/files)
  * or a batch DataFrame: streaming scale-out falls out of partitioning
  * by key exactly like the batch ops.
  */
object EventsStreaming {

  /** Tumbling 5-minute windowed counts/sums per event_type with a
    * 10-minute watermark — late rows beyond the watermark are dropped,
    * state is bounded (the 100 TB/day concern: without the watermark,
    * window state grows forever).
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)
  case class SessionState(start: Long, last: Long, n: Long)

  /** The per-key event-time fold every NoTimeout stream face runs:
    * group by `key`, sort each micro-batch's rows of a key by `order`,
    * fold them through `step` from the key's stored state (`init` when
    * the key has none yet) while `step` emits output rows, then store
    * the final state.
    *
    * The sort makes the fold deterministic under in-batch disorder, so
    * feeding batches in the order key's order reproduces the batch face
    * exactly, including state carried across micro-batch boundaries.
    * Each face keeps its own order key (ms vs µs, doc_id vs event_id,
    * arrival vs event time): two keys that tie differently can fold the
    * same rows in a different order and change the answer.
    *
    * `init` is by-name: the array-celled states (cms, hist) are mutated
    * in place, so each key must start from a fresh one.
    */
  private def foldByKey[R, K: Encoder, T: Ordering, S: Encoder, O: Encoder](
      rows: Dataset[R])(key: R => K, order: R => T, init: => S)(
      step: (K, S, R, ArrayBuffer[O]) => S): Dataset[O] =
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[R], state: GroupState[S]) =>
          val out = ArrayBuffer[O]()
          state.update(it.toSeq.sortBy(order)
            .foldLeft(state.getOption.getOrElse(init))(step(k, _, _, out)))
          out.iterator
      }

  /** Sessionization: per-user sessions closed after a 30-minute event-time
    * gap, via flatMapGroupsWithState (event-time timeout). State per key is
    * three longs — bounded, partitioned by user_id, scales horizontally.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = 30L * 60 * 1000
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch-equivalent sessionization (oracle for the streaming path and a
    * useful operator in its own right): gap-start flags → running session
    * index per user → per-session aggregate. Two window functions over one
    * shuffle on user_id.
    */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMs = 30L * 60 * 1000
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            gapMs * 1000).cast("int"))
      .withColumn("session_idx", sum("new_session")
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_idx")
  }

  /** Stream-stream INTERVAL JOIN: views attributed to the click they
    * followed within 4 hours, per user. Under streaming both sides carry
    * a watermark and the time-bound join condition lets Spark expire
    * state: a click's buffered row is dropped once the view-side
    * watermark passes click_ts + 4h — bounded state at any scale. Under
    * batch the same code is a plain interval join (withWatermark is a
    * batch no-op), which is how the DuckDB oracle checks it (st03).
    */
  def intervalJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val l = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val r = views.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    l.join(r, col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("interval 4 hours"))
      .select("click_id", "view_id", "user_id", "click_ts", "view_ts")
  }

  /** Stream-stream LEFT OUTER interval join: every click attributed to
    * the views that followed within 4 hours — or emitted once with null
    * view columns when no view arrived. In the outer case the watermark
    * is load-bearing for CORRECTNESS, not just state size: the null row
    * may only emit after the view-side watermark passes click_ts + 4h
    * (before that, a matching view could still arrive), so unmatched
    * results trail the stream by exactly the interval + delay — the
    * documented semantics of watermarked outer joins. Batch execution
    * (st06) is a plain left outer join, which is how the oracle checks
    * the join logic itself.
    */
  def intervalJoinOuter(clicks: DataFrame, views: DataFrame): DataFrame = {
    val l = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val r = views.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    l.join(r, col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("interval 4 hours"),
        "left_outer")
      .select("click_id", "view_id", "user_id", "click_ts", "view_ts")
  }

  /** Stream-STATIC enrichment join — the canonical streaming dimension
    * lookup: each event joins the (slowly-changing) customer dim and
    * rolls into tumbling 15-minute per-segment stats. The join is
    * deliberately UN-HINTED: customer grows with SF (~15 B rows at the
    * 100 TB target), so a forced broadcast re-ships the whole dim to
    * every executor each micro-batch and OOMs the driver at scale.
    * Un-hinted, Spark picks by size — auto-broadcast while the dim fits
    * the threshold, shuffle of the micro-batch against the dim scan
    * (or a bucketed dim for co-located lookup) beyond it. Either way NO
    * join state is kept (unlike stream-stream joins) — at any
    * throughput the only state is the watermark-bounded window
    * aggregate. Works identically over a batch DataFrame (watermark is
    * a no-op), which is how the oracle checks it (st05).
    */
  def enrichJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "15 minutes"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"),
        round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("c_mktsegment"), col("cnt"), col("sum_value"))

  /** Watermarked streaming dedup: exactly-once admission of replayed
    * events by event_id. State holds one key per id inside the watermark
    * horizon only — the streaming face of the dd-family exact dedup.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CUMULATIVE-UNIQUES (q70's first-touch rewrite as a
    * stream): dropDuplicates on user_id keeps exactly each user's FIRST
    * event — the same (user → first touch) collapse the batch query
    * does with min() — and a tumbling count of those first touches is
    * the per-window new-user series a dashboard accumulates. State = one
    * key per user (the irreducible memory of exact distinct-counting);
    * swap in approx_count_distinct when the sketch's error is acceptable
    * (the q38/q64 trade).
    */
  def newUsersStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_new_users"))
      .select(col("window.start").as("window_start"),
        col("n_new_users"))

  /** Continuous INGEST CURATION — the pp01 corpus pipeline as a stream:
    * quality gate (per-row, stateless) → content-fingerprint dedup
    * bounded by the watermark (state = one md5 per doc inside the
    * horizon) → tumbling 5-minute per-language admission stats. Two
    * chained stateful operators in append mode — the shape of a
    * production crawl-ingest firehose, where re-crawled duplicates
    * arrive near their originals and the horizon bounds dedup state at
    * any throughput.
    *
    * Input contract: (doc_id, text, lang, n_chars, ts). Works unchanged
    * over readStream or batch; the driver face (st04) replays the same
    * gate+dedup+window DETERMINISTICALLY (explicit first-by-ts
    * row_number) because batch dropDuplicates picks an arbitrary row.
    */
  def ingestCuration(docs: DataFrame): DataFrame = {
    val nTokens = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
    docs
      .withColumn("n_tokens", nTokens)
      .filter(col("n_tokens") >= 10 && col("n_chars") >= 50)
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .groupBy(window(col("ts"), "5 minutes"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .select(col("window.start").as("window_start"), col("lang"),
        col("n_docs"), col("total_tokens"))
  }

  /** The st04 corpus: documents with deterministic arrival times
    * (7 s apart) plus a re-crawl copy of every doc arriving 60 s after
    * its original — inside the 10-minute dedup horizon, so streaming
    * and batch agree on what is admitted.
    */
  def ingestCorpus(s: SparkSession, d: String): DataFrame = {
    val base = graft.Tables.t(s, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 7).as("ts"))
    base.unionAll(base.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"), col("lang"), col("n_chars"),
      (col("ts") + expr("interval 60 seconds")).as("ts")))
  }

  type Q = (SparkSession, String) => DataFrame

  /** st01: batch sessionization over the events table (driver-checkable
    * face of the streaming operator pair above).
    */
  private val st01Sessionize: Q = (s, d) =>
    sessionizeBatch(graft.Tables.t(s, d, "events"))
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** st02: Spark's NATIVE session_window (vs st01's composed gaps-and-
    * islands): one hash aggregate with session merging, streaming-ready
    * (the same groupBy runs under readStream with a watermark). Note the
    * semantic difference oracle-encoded below: session_window's end is
    * last_event + gap (exclusive horizon), st01's end is last_event.
    */
  private val st02SessionWindow: Q = (s, d) =>
    graft.Tables.t(s, d, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** st03: the interval join's batch face (driver-checkable). */
  private val st03IntervalJoin: Q = (s, d) => {
    val ev = graft.Tables.t(s, d, "events")
    intervalJoin(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_time"))
      .orderBy("click_id", "view_id")
  }

  /** st04: the ingest-curation pipeline's deterministic batch face —
    * same gate, same fingerprints, same windows; dedup spelled as
    * first-arrival-wins (row_number over fp by ts, doc_id) so the
    * result is well-defined under any partitioning.
    */
  private val st04StreamIngest: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val nTokens = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
    val w = Window.partitionBy("fp").orderBy("ts", "doc_id")
    ingestCorpus(s, d)
      .withColumn("n_tokens", nTokens)
      .filter(col("n_tokens") >= 10 && col("n_chars") >= 50)
      .withColumn("fp", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(window(col("ts"), "5 minutes"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("lang"), col("n_docs"), col("total_tokens"))
      .orderBy("window_start", "lang")
  }

  /** The st26 hand-off ingest stream: the doc_id % 10 = 7 slice of the
    * ingest corpus (originals + their 60-second re-crawl copies) —
    * "today's crawl" arriving against a base index built over the rest
    * of the corpus. (The +1000000 copy ids keep the residue: 10⁶ ≡ 0
    * mod 10, so one filter covers originals and copies.) */
  def handoffCorpus(s: SparkSession, d: String): DataFrame =
    ingestCorpus(s, d).filter(pmod(col("doc_id"), lit(10L)) === 7L)

  /** st04's admission gates emitting the admitted DOC ROWS (append
    * mode) instead of the window rollup — the stream face that feeds a
    * persisted-index delta segment from foreachBatch (StreamingSpec
    * drives it through real micro-batches; dropDuplicatesWithinWatermark
    * emits first arrivals immediately, so admitted docs flow into the
    * batch in which they arrive). */
  def curatedAdmissions(docs: DataFrame): DataFrame = {
    val nTokens = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
    docs
      .withColumn("n_tokens", nTokens)
      .filter(col("n_tokens") >= 10 && col("n_chars") >= 50)
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "text")
  }

  /** st26: STREAMING INGEST → PERSISTED-INDEX HAND-OFF — the seam
    * between the st family's admission gates and the index families'
    * delta-segment lifecycle (the r12 verdict's stretch item): today's
    * crawl flows through st04's quality gate + watermark dedup and the
    * ADMITTED docs append to yesterday's BM25 index as a delta segment
    * through the atomic manifest (carryForward publish — base bytes
    * never rewritten, a reader resolves the whole old or whole new
    * segment set). Serving is segment-merged (tx38's exact arithmetic),
    * so the index answers with today's docs the moment the pointer
    * swaps.
    *
    * This batch face publishes ONE delta of the deterministically-
    * curated admissions (first-arrival-wins row_number — st04's rule);
    * `StreamingSpec` drives the SAME gates through a real
    * foreachBatch stream writing one delta PER MICRO-BATCH and pins
    * the merged serve byte-identical to this face — the segmentation-
    * invariance contract, now proven across the streaming boundary.
    *
    * Scale: ingest cost is O(admitted batch) (postings of the batch +
    * a 1-row sidecar + a manifest swap); the base index is never
    * touched; serving probes each segment bucket-aligned with the term
    * predicate pushed into every scan (the tx37/tx38 plan properties).
    */
  private val st26IndexHandoff: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val C = graft.operators.Curation
    val B = graft.operators.Bucketing
    val base = graft.Tables.t(s, d, "documents")
      .filter(pmod(col("doc_id"), lit(10L)) =!= 7L)
      .select("doc_id", "text")
    B.publish(s, "st26", C.textSegment("tpost_base", "tstats_base", base))
    val nTokens = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
    val w = Window.partitionBy("fp").orderBy("ts", "doc_id")
    val admitted = handoffCorpus(s, d)
      .withColumn("n_tokens", nTokens)
      .filter(col("n_tokens") >= 10 && col("n_chars") >= 50)
      .withColumn("fp", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "text")
    B.publish(s, "st26",
      C.textSegment("tpost_delta0", "tstats_delta0", admitted),
      carryForward = true)
    // every segment the manifest lists, from ONE pointer read (the
    // never-a-mix rule), so a stream's N micro-batch deltas serve the
    // same bytes as this face's single delta
    C.textServe(s, B.publishedTables(s, "st26"), "tpost_", "tstats_")
  }

  /** st06: the outer interval join's batch face (driver-checkable).
    * Unmatched clicks surface with null view columns; the sort pins
    * NULLS FIRST explicitly on both engines.
    */
  private val st06IntervalOuter: Q = (s, d) => {
    val ev = graft.Tables.t(s, d, "events")
    intervalJoinOuter(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_time"))
      .orderBy(col("click_id"), col("view_id").asc_nulls_first)
  }

  /** st05: the enrichment join's batch face (driver-checkable). */
  private val st05EnrichJoin: Q = (s, d) =>
    enrichJoin(graft.Tables.t(s, d, "events"),
        graft.Tables.t(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("c_mktsegment"), col("cnt"), col("sum_value"))
      .orderBy("window_start", "c_mktsegment")

  /** st07: the streaming dedup's deterministic batch face under
    * AT-LEAST-ONCE REPLAY — events unioned with a 2-minute-delayed
    * replica of themselves (inside the 10-minute watermark horizon, so
    * `dedupStream` provably drops every replica: StreamingSpec pins the
    * stream side). The batch face keeps the FIRST arrival per event_id
    * (streaming dropDuplicates semantics made deterministic by an
    * explicit ts-then-id order) and reports per-type admission counters.
    * State story at scale: one id per event inside the horizon — the
    * watermark, not stream length, bounds it.
    */
  private val st07DedupReplay: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.t(s, d, "events")
      .select("event_id", "ts", "event_type", "value")
    val replayed = ev.unionAll(
      ev.withColumn("ts", col("ts") + expr("INTERVAL 2 MINUTES")))
    val w = Window.partitionBy("event_id").orderBy("ts")
    replayed
      .withColumn("rn", row_number().over(w))
      .groupBy("event_type")
      .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        round(sum(when(col("rn") === 1, col("value"))), 2)
          .as("admitted_value"))
      .orderBy("event_type")
  }

  /** st08: newUsersStream's deterministic batch face — first touch by
    * (ts, event_id) order (streaming first-arrival made total), tumbling
    * 5-minute new-user counts, plus the running total the dashboard
    * accumulates (q70's cumulative sum over the tiny window series).
    */
  private val st08NewUsers: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val firsts = graft.Tables.t(s, d, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    firsts
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_users", sum("n_new_users").over(
        Window.orderBy("window")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_new_users"), col("cum_users"))
      .orderBy("window_start")
  }

  /** st12: PER-WINDOW TOP TALKERS — the windowed frequent-items
    * dashboard ("who dominates each hour") that q77's corpus-level
    * Misra-Gries summary becomes on a stream. The batch face below is
    * EXACT and deterministic (count desc, user_id tiebreak — oracle-
    * checked); [[topTalkersStream]] is the production face: the custom
    * mergeable MisraGries aggregate inside a watermarked tumbling-
    * window aggregation, so per-window state is k counters instead of
    * one row per (window, user) — the difference between bounded and
    * user-cardinality state at 100 TB/day. StreamingSpec pins the
    * stream's MG top-1 against the exact batch top on a corpus whose
    * per-window dominance clears the MG guarantee margin.
    */
  private val st12TopTalkers: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = graft.Tables.t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val rk = Window.partitionBy("w").orderBy(col("n").desc, col("user_id"))
    val per = Window.partitionBy("w")
    counts
      .withColumn("rk", row_number().over(rk))
      .withColumn("window_events", sum("n").over(per))
      .withColumn("n_users", count(lit(1)).over(per))
      .filter(col("rk") === 1)
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("user_id").as("top_user"), col("n").as("top_events"),
        col("window_events"), col("n_users"))
      .orderBy("window_start")
  }

  /** st12's streaming face: MG summary per tumbling hour — k counters
    * of state per open window (vs one row per user for the exact
    * face); mg[0] is the summary's top (eval sorts est desc, key asc).
    */
  def topTalkersStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.HeavyHitters.misra_gries(
          col("user_id").cast("string"), 8).as("mg"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        expr("mg[0].key").as("top_key"), expr("mg[0].est").as("top_est"),
        col("n_events"))

  /** st16: PER-WINDOW DISTINCT-USER SKETCH — q85's KMV aggregate in its
    * streaming role (the cardinality sibling of st12's Misra-Gries):
    * distinct users per tumbling hour estimated from k=16 md5 minima of
    * state per window instead of one dedup row per (window, user) —
    * bounded vs user-cardinality state at 100 TB/day. Because KMV
    * state is DETERMINISTIC (bottom-k of a set, portable hash), the
    * driver face emits the sketch itself — n_kept, k-th hash, integer
    * estimate — and hash-matches DuckDB; the streaming face must equal
    * the batch face EXACTLY (StreamingSpec), a stronger pin than
    * st12's guarantee-envelope.
    *
    * The exact countDistinct rides in a SEPARATE aggregate joined on
    * the window (the q64 shape rule) as the error denominator.
    */
  private val st16WindowDistinct: Q = (s, d) => {
    import graft.functions.KmvSketch.kmv_sketch
    val ev = graft.Tables.t(s, d, "events")
    val sk = ev.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(kmv_sketch(col("user_id").cast("string"), 16).as("kmv"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_events"), col("kmv.n_kept").as("n_kept"),
        col("kmv.kth_hash").as("kth_hash"))
    val ex = ev.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct("user_id").as("n_users_exact"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("n_users_exact"))
    sk.join(ex, Seq("window_start"))
      .withColumn("h48",
        expr("CAST(conv(substring(kth_hash, 1, 12), 16, 10) AS BIGINT)"))
      .select(col("window_start"), col("n_events"), col("n_users_exact"),
        col("n_kept"), col("kth_hash"),
        expr("15 * 281474976710656 div h48").as("est_users"))
      .orderBy("window_start")
  }

  /** st16's streaming face: the KMV aggregate inside a watermarked
    * tumbling window — k hex strings of state per open window.
    */
  def windowDistinctStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.KmvSketch.kmv_sketch(
          col("user_id").cast("string"), 16).as("kmv"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("kmv.n_kept").as("n_kept"), col("kmv.kth_hash").as("kth_hash"),
        col("n_events"))

  /** st17: STREAMING DRIFT MONITOR — tx24's total-variation alarm in its
    * streaming role: each tumbling hour's event-type mix is compared to a
    * FROZEN reference distribution (here the full corpus — in production
    * yesterday's batch profile) by exact integer TV: Σ|o·C − c·t| is an
    * integer sum and one final ×10⁴ DIV (2·t·C) keeps the metric an
    * exact rational (the tx24 cross-multiply discipline — per-type float
    * shares would drift in summation order). A spiking tv_x10k is the
    * pager: a template change, spam flood, or logging break shifts the
    * mix long before volume alarms fire.
    *
    * Scale: the reference is types-cardinality (broadcast); per-window
    * counters are one windowed aggregation; the window×type grid is
    * windows × |types| — counter-only shuffles throughout.
    * [[driftMonitorStream]] is the streaming face; because TV here is
    * exact arithmetic over ONE windowed aggregation's counters (the
    * 5-type pivot), stream ≡ batch EXACTLY (StreamingSpec pins it —
    * st16's strong pin, not st12's envelope).
    */
  private val st17DriftMonitor: Q = (s, d) => {
    val ev = graft.Tables.t(s, d, "events")
    val perW = ev
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("o"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("o"))
    val ref = ev.groupBy("event_type").agg(count(lit(1)).as("c"))
    val refTot = ref.agg(sum("c").as("big_c"))
    val wTot = perW.groupBy("window_start").agg(sum("o").as("t"))
    wTot.crossJoin(broadcast(ref))
      .join(perW, Seq("window_start", "event_type"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(refTot))
      .groupBy("window_start")
      .agg(max("t").as("n_events"),
        sum(abs(col("o") * col("big_c") - col("c") * col("t"))).as("l1"),
        max(col("t") * col("big_c")).as("den"))
      .selectExpr("window_start", "n_events",
        "l1 * 10000 DIV (2 * den) AS tv_x10k")
      .orderBy("window_start")
  }

  /** st17's streaming face: the reference distribution arrives as
    * LITERALS (captured from the prior batch profile — constant-size by
    * construction, |event types| rows), so the whole TV computation is a
    * stateless projection over ONE watermarked windowed aggregation's
    * pivoted counters: per-window state is |types| counters, and no
    * second aggregation (which streaming forbids) is needed.
    */
  def driftMonitorStream(events: DataFrame, ref: Map[String, Long]): DataFrame = {
    val bigC = ref.values.sum
    val pivots = ref.keys.toSeq.sorted.map(k =>
      sum(when(col("event_type") === k, 1L).otherwise(0L)).as(s"o_$k"))
    val agg = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("t"), pivots: _*)
    val l1 = ref.keys.toSeq.sorted.map(k =>
      abs(col(s"o_$k") * lit(bigC) - lit(ref(k)) * col("t")))
      .reduce(_ + _)
    agg
      .withColumn("l1", l1)
      .selectExpr(
        "date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS window_start",
        "t AS n_events",
        s"l1 * 10000 DIV (2 * t * ${bigC}L) AS tv_x10k")
  }

  /** The st09 corpus: documents arriving 7 s apart plus a MUTATED
    * re-crawl copy (first token dropped — a true near-duplicate, the
    * dd15 planting) arriving 60 s after its original, inside the
    * 10-minute claim horizon.
    */
  def neardupCorpus(s: SparkSession, d: String): DataFrame = {
    val base = graft.Tables.t(s, d, "documents")
      .select(col("doc_id"), col("text"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 7).as("ts"))
    base.unionAll(base.select((col("doc_id") + 1000000L).as("doc_id"),
      when(instr(col("text"), " ") > 0,
        expr("substring(text, instr(text, ' ') + 1)"))
        .otherwise(col("text")).as("text"),
      (col("ts") + expr("interval 60 seconds")).as("ts")))
  }

  /** Shared banding for the st09 pair: distinct 3-token shingles →
    * 8 portable md5 MinHash lanes → 4 bands of 2 lanes (the dd15
    * S-curve), one (band, bkey) row per doc per band. Only 4 narrow
    * rows per doc ever reach the stateful shuffle — the text stays on
    * the map side.
    */
  def bandedDocs(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions
    docs
      .withColumn("sig", GraftFunctions.md5_min_lanes(
        array_distinct(GraftFunctions.shingle_strings(col("text"))), 8))
      .select(col("doc_id"), col("ts"), posexplode(expr(
        "transform(sequence(0, 3), b -> concat(sig[2*b], sig[2*b+1]))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
  }

  case class BandArrival(doc_id: Long, ts: Timestamp, band: Int, bkey: String)
  case class BandNovel(doc_id: Long, ts: Timestamp, band: Int, novel: Boolean)
  case class ClaimState(lastMs: Long)

  /** STREAMING NEAR-DUP ADMISSION (ingest-time MinHash-LSH dedup — what
    * dd04/dd15 do offline, applied to a crawl firehose): each (band,
    * bkey) bucket is a CLAIM. The first arrival in a bucket is novel
    * and claims it; later arrivals within the 10-minute horizon are
    * near-dup hits, and every arrival RENEWS the claim (expiry = last
    * arrival + horizon — exactly the lag-gap rule the batch face and
    * oracle replay). A document is ADMITTED iff all 4 of its bands are
    * novel; its 4 novelty rows emit in the same micro-batch (one input
    * row explodes to 4 bands processed together), so the per-doc AND is
    * a stateless per-batch reduction at the sink — `flatMapGroupsWithState`
    * chained into another stateful aggregate is not a supported
    * streaming topology, and doesn't need to be.
    *
    * State story at 100 TB/day: one (lastMs) per CLAIMED bucket inside
    * the horizon, evicted by EventTimeTimeout — bounded by arrival rate
    * × horizon, like dropDuplicatesWithinWatermark, not corpus size.
    * Watermark-late rows classify against the surviving claim rather
    * than a global re-sort — the standard streaming-lateness contract.
    */
  def neardupBandNovelty(docs: DataFrame): Dataset[BandNovel] = {
    import docs.sparkSession.implicits._
    val horizonMs = 10L * 60 * 1000
    bandedDocs(docs).as[BandArrival]
      .withWatermark("ts", "10 minutes")
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[ClaimState, BandNovel](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), rows: Iterator[BandArrival],
            state: GroupState[ClaimState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            var last = state.getOption.map(_.lastMs)
            val out = sorted.map { r =>
              val t = r.ts.getTime
              val novel = last.forall(l => t - l > horizonMs)
              last = Some(t) // every arrival renews the claim
              BandNovel(r.doc_id, r.ts, r.band, novel)
            }
            state.update(ClaimState(last.get))
            state.setTimeoutTimestamp(last.get + horizonMs)
            out.iterator
          }
      }
  }

  /** st09: the near-dup admission's deterministic batch face — same
    * banding, claim rule spelled as a lag-gap window per bucket
    * (novel ⇔ no arrival in the same bucket within the preceding
    * 600 s), admission = all 4 bands novel. On the planted corpus the
    * originals admit and their mutated re-crawls collide on every
    * band with near-certainty (dd15's measured top-decile recall);
    * residual admissions among copies are the honest LSH recall
    * boundary, pinned cross-engine by the oracle.
    */
  private val st09NeardupAdmission: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val banded = bandedDocs(neardupCorpus(s, d))
      .withColumn("arr_s", unix_timestamp(col("ts")))
    val w = Window.partitionBy("band", "bkey").orderBy("arr_s", "doc_id")
    banded
      .withColumn("prev_s", lag(col("arr_s"), 1).over(w))
      .withColumn("novel",
        col("prev_s").isNull || col("arr_s") - col("prev_s") > 600)
      .groupBy("doc_id")
      .agg(sum(when(col("novel"), 1L).otherwise(0L)).as("n_novel_bands"))
      .withColumn("admitted", col("n_novel_bands") === 4)
      .select(col("doc_id"), col("n_novel_bands"), col("admitted"))
      .orderBy("doc_id")
  }

  case class BudgetDoc(doc_id: Long, source: String, n_tokens: Long,
      ts: Timestamp)
  case class BudgetOut(doc_id: Long, source: String, n_tokens: Long,
      admitted: Boolean)

  /** STREAMING TOKEN-BUDGET ADMISSION — quota-enforced data mixing at
    * ingest time: each source may contribute at most `budget` tokens to
    * the corpus; once its cumulative intake crosses the budget the
    * source's tap closes (every later doc is rejected — the prefix
    * rule, which is what "stop crawling this domain, quota spent"
    * means operationally; pp06/pp17 are the batch mixers that assume
    * this gate ran upstream).
    *
    * State per key is ONE long (cumulative seen tokens) — bounded by
    * the number of sources, not the corpus; partitioned by source, so
    * the gate scales horizontally and each micro-batch folds its rows
    * in (ts, doc_id) order for determinism under in-batch disorder.
    */
  def tokenBudgetStream(docs: DataFrame, budget: Long): Dataset[BudgetOut] = {
    import docs.sparkSession.implicits._
    foldByKey(docs.withWatermark("ts", "10 minutes").as[BudgetDoc])(
        _.source, r => (r.ts.getTime, r.doc_id), 0L) {
        (src, cum0, r, out: ArrayBuffer[BudgetOut]) =>
      val cum = cum0 + r.n_tokens
      out += BudgetOut(r.doc_id, src, r.n_tokens, cum <= budget)
      cum
    }
  }

  /** Deterministic batch face of the same gate: per-source running token
    * cumsum in (ts, doc_id) order, admitted ⇔ cumsum ≤ budget. */
  def tokenBudgetBatch(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("ts", "doc_id")
    docs.withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cum") <= budget).as("admitted"))
  }

  /** The st10 corpus: documents with the ingestCorpus arrival clock and
    * the ingestCuration whitespace token count. */
  def budgetCorpus(s: SparkSession, d: String): DataFrame =
    graft.Tables.t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        (length(col("text")) -
          length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
          .as("n_tokens"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 7).as("ts"))

  /** st10: per-source admission report of the token-budget gate (1000
    * tokens per source — partial admission everywhere at sf0.01). */
  private val st10TokenBudget: Q = (s, d) =>
    tokenBudgetBatch(budgetCorpus(s, d), 1000L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_seen"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_tokens")).otherwise(0L))
          .as("admitted_tokens"))
      .orderBy("source")

  /** st24 corpus: st10's arrival clock with BOTH token notions per doc
    * — the whitespace formula the cheap gate budgets and the REAL
    * tx34-trained subword count (the `BpeSubwordCount` kernel; the
    * trained spec is the capacity plan — a live stream cannot train on
    * its own future, you provision from history, the st22/st23
    * discipline). */
  def realBudgetCorpus(s: SparkSession, d: String): DataFrame = {
    val spec = graft.operators.TextAnalysis.bpeSpecFor(s, d)
    graft.Tables.t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        (length(col("text")) -
          length(regexp_replace(col("text"), " ", "")) + 1).cast("bigint")
          .as("wtok"),
        graft.functions.GraftFunctions.bpe_subword_count(col("text"), spec)
          .as("stok"),
        timestamp_seconds(lit(1704067200L) + col("doc_id") * 7).as("ts"))
  }

  /** The real-token budget DERIVES from the whitespace one at the
    * corpus fertility (1000 whitespace tokens' worth of subwords), so
    * the two gates target the same spend and the report isolates
    * per-source MIS-PRICING, not a budget mismatch. One constant-size
    * plan-build agg; DuckDB re-derives via a scalar subquery. */
  def realBudget(corpus: DataFrame): Long = {
    val r = corpus.agg(sum("stok"), sum("wtok")).first()
    1000L * r.getLong(0) / r.getLong(1)
  }

  /** st24: TOKEN-BUDGET ADMISSION UNDER THE REAL TOKENIZER — st10's
    * gate re-priced: the same arrival stream admitted twice, once by
    * the whitespace budget (1000/source) and once by the real-subword
    * budget (derived, see [[realBudget]]), off ONE shared per-source
    * window (two running sums, one exchange — the pp40 shape). The
    * report per source: admissions under each gate, the disagreement
    * counts (ws_only = docs the cheap gate admits that blow the real
    * budget — the overspend; real_only = docs it wrongly rejects), and
    * the REAL token cost of the whitespace decision. The stream face
    * is [[tokenBudgetStream]] on the subword column with the derived
    * budget — per-source cumulative state, one long per source —
    * pinned stream ≡ batch across state-store boundaries in
    * `StreamingSpec`.
    *
    * Scale: one plan-build word-count job (tx34's bounded collect) +
    * one source-keyed window + counters; the kernel is a per-row scan.
    */
  private val st24RealBudget: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val c = realBudgetCorpus(s, d)
      .localCheckpoint() // 2 refs: the budget agg + the gate window
    val b = realBudget(c)
    val w = Window.partitionBy("source").orderBy("ts", "doc_id")
    c.withColumn("cw", sum("wtok").over(w))
      .withColumn("cs", sum("stok").over(w))
      .select(col("source"), col("stok"),
        (col("cw") <= 1000L).as("aw"), (col("cs") <= b).as("ar"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_seen"),
        sum(when(col("aw"), 1L).otherwise(0L)).as("adm_ws"),
        sum(when(col("ar"), 1L).otherwise(0L)).as("adm_real"),
        sum(when(col("aw") && !col("ar"), 1L).otherwise(0L))
          .as("ws_only"),
        sum(when(!col("aw") && col("ar"), 1L).otherwise(0L))
          .as("real_only"),
        sum(when(col("aw"), col("stok")).otherwise(0L))
          .as("ws_real_tokens"))
      .withColumn("real_budget", lit(b))
      .orderBy("source")
  }

  case class EraEv(event_id: Long, user_id: Long, tsu: Long)
  case class EraFlag(event_id: Long, user_id: Long, tsu: Long,
    req: Boolean, sup: Boolean)

  /** st25 corpus: the event feed in integer micros, with the planted
    * erasure convention — an event whose id % 97 = 0 is an ERASURE
    * REQUEST by its user at its event time (the st09/st11
    * deterministic-plant pattern; the synthetic feed carries no real
    * erasure signal). */
  def erasureCorpus(s: SparkSession, d: String): DataFrame =
    graft.Tables.t(s, d, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"))

  /** Batch truth for the erasure flags: a user's `erased_at` is the
    * MIN event time over their requests; every STRICTLY LATER event of
    * theirs is suppressed (the request row itself passes — it's the
    * instruction, not the data). One user_id join, integer micros
    * end-to-end. */
  def erasureFlagBatch(ev: DataFrame): DataFrame = {
    val era = ev.filter(col("event_id") % 97 === 0)
      .groupBy("user_id").agg(min(col("tsu")).as("erased_at"))
    ev.join(era, Seq("user_id"), "left")
      .withColumn("req", col("event_id") % 97 === 0)
      .withColumn("sup",
        col("erased_at").isNotNull && col("tsu") > col("erased_at"))
      .select("event_id", "user_id", "tsu", "req", "sup")
  }

  /** st25 stream face: per-user erasure state is ONE long (the
    * earliest request time seen) — bounded by user count, never event
    * count. Events are flagged as they flow; a request tightens the
    * state for everything after it. Matches [[erasureFlagBatch]]
    * exactly when the feed arrives in event-time order (the spec's
    * contract); a LATE erasure request cannot retract rows an earlier
    * micro-batch already emitted — the stream under-suppresses until
    * the periodic batch replay / purge compaction (ss38) heals it,
    * which is precisely why production erasure pipelines pair a
    * streaming gate with a batch sweep.
    */
  def erasureFlagStream(events: Dataset[EraEv]): Dataset[EraFlag] = {
    import events.sparkSession.implicits._
    // a user with no request yet stores Long.MaxValue, which reads back
    // exactly as an absent state: nothing is later than it
    foldByKey(events)(_.user_id, e => (e.tsu, e.event_id), Long.MaxValue) {
      (uid, erasedAt, e, out: ArrayBuffer[EraFlag]) =>
        val req = e.event_id % 97 == 0
        out += EraFlag(e.event_id, uid, e.tsu, req, e.tsu > erasedAt)
        if (req) math.min(erasedAt, e.tsu) else erasedAt
    }
  }

  /** st25: STREAMING ERASURE LEDGER — the compliance monitor that ties
    * the tombstone lifecycle (ss24 filter → ss38 purge) into the
    * stream: per hour window, total traffic, erasure REQUESTS filed,
    * events SUPPRESSED (rows from already-erased users still flowing —
    * the live PII the gate must drop), the suppressed share, and the
    * cumulative erased-user count — the curve that says how much of
    * the corpus the next purge compaction reclaims and whether
    * suppression load justifies running it sooner.
    *
    * Scale: one user_id join (the erasure ledger is per-user minima —
    * at 100 TB a broadcast bitmap/Bloom), one window-keyed aggregate;
    * the cumulative column runs over #windows rows (hours), a
    * constant-size ledger frame, not the event stream.
    */
  private val st25ErasureLedger: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = erasureCorpus(s, d)
      .localCheckpoint() // 2 refs: erased-at build + the flag join
    val flags = erasureFlagBatch(ev)
      .withColumn("w", expr("tsu div 3600000000"))
    val perW = flags.groupBy("w").agg(
      count(lit(1)).as("n_events"),
      sum(when(col("req"), 1L).otherwise(0L)).as("n_requests"),
      sum(when(col("sup"), 1L).otherwise(0L)).as("n_suppressed"))
    val eraW = ev.filter(col("event_id") % 97 === 0)
      .groupBy("user_id").agg(min(col("tsu")).as("erased_at"))
      .withColumn("w", expr("erased_at div 3600000000"))
      .groupBy("w").agg(count(lit(1)).as("n_new_erased"))
    val wOrd = Window.orderBy("w")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perW.join(eraW, Seq("w"), "left")
      .withColumn("n_new", coalesce(col("n_new_erased"), lit(0L)))
      .withColumn("cum_erased_users", sum("n_new").over(wOrd))
      .select(
        date_format(timestamp_micros(col("w") * 3600000000L),
          "yyyy-MM-dd HH:mm").as("window_start"),
        col("n_events"), col("n_requests"), col("n_suppressed"),
        expr("n_suppressed * 10000 div n_events").as("suppressed_x10k"),
        col("cum_erased_users"))
      .orderBy("window_start")
  }

  case class LateEvent(event_id: Long, user_id: Long, ts: Timestamp,
    arr: Long)
  case class LateOut(event_id: Long, user_id: Long, late: Boolean,
    late_ms: Long)

  /** st11: LATE-DATA AUDIT — quantify event-time disorder BEFORE
    * choosing a watermark: for each event, lateness = how far the
    * per-user event-time high-water mark had already advanced past it
    * when it arrived (arrival order ⊥ event time — the thing watermarks
    * gamble on). An event is `late` when lateness exceeds the
    * allowance (1 h here): exactly the rows a `withWatermark("ts",
    * "1 hour")` pipeline would silently DROP. Running this audit over
    * a replayed day answers "what watermark loses how much" with
    * numbers instead of faith — the missing feedback loop for every
    * windowed/sessionized op in this family (st01/st02/windowedAgg).
    *
    * The corpus plants a deterministic delayed flush (every 13th event
    * arrives 200 slots late — the st09 planted-corpus pattern, since
    * the synthetic feed is perfectly ordered): ~556 events at sf0.01
    * spread over ~147 users, all far beyond the allowance.
    *
    * Scale: one user_id exchange; the running high-water mark is a
    * per-user window max in arrival order (same shuffle the rollup
    * needs), lateness stays integer micros end-to-end. The stream face
    * ([[lateAuditStream]]) holds ONE long per user — state bounded by
    * user count, not event count.
    */
  def lateCorpus(s: SparkSession, d: String): DataFrame =
    graft.Tables.t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("event_id") +
          when(col("event_id") % 13 === 0, 200L).otherwise(0L)).as("arr"))

  /** Deterministic batch face: per-user running event-time max in
    * (arr, event_id) arrival order; late_ms in exact integer ms. */
  def lateAuditBatch(events: DataFrame, allowanceMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events.withColumn("tsu", unix_micros(col("ts")))
      .withColumn("prevmax", max(col("tsu")).over(w))
      .withColumn("late_ms", expr(
        "greatest(0L, coalesce(prevmax, tsu) - tsu) div 1000"))
      .select(col("event_id"), col("user_id"),
        (col("late_ms") > allowanceMs).as("late"), col("late_ms"))
  }

  /** Streaming face: flatMapGroupsWithState keyed by user, state = the
    * event-time high-water mark (one long per user). Within a batch
    * rows process in (arr, event_id) order, so feeding batches in
    * arrival order reproduces the batch face exactly. */
  def lateAuditStream(events: DataFrame,
      allowanceMs: Long): Dataset[LateOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.as[LateEvent])(_.user_id, r => (r.arr, r.event_id),
        Long.MinValue) { (_, hwm, r, out: ArrayBuffer[LateOut]) =>
      val t = tsu(r.ts)
      val lateMs =
        math.max(0L, (if (hwm == Long.MinValue) t else hwm) - t) / 1000L
      out += LateOut(r.event_id, r.user_id, lateMs > allowanceMs, lateMs)
      math.max(hwm, t)
    }
  }

  /** st11: per-user lateness rollup under a 1 h allowance. */
  private val st11LateAudit: Q = (s, d) =>
    lateAuditBatch(lateCorpus(s, d), 3600000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(col("late_ms")).as("max_late_ms"))
      .orderBy("user_id")

  case class TransEvent(event_id: Long, user_id: Long, ts: Timestamp,
    event_type: String)
  case class TransOut(user_id: Long, from_type: String, to_type: String)
  case class TransState(tsu: Long, event_id: Long, etype: String)

  /** st13: STREAMING BEHAVIORAL TRANSITIONS — q79's event-type bigrams
    * computed at ingest instead of by a replay: each user's stream is a
    * state machine whose ONLY state is the last event seen (one small
    * row per user — bounded by user count, not event count), and every
    * arriving event emits the (prev → current) transition. This is the
    * online feed for a transition-matrix monitor (q79 is the batch
    * trainer; this keeps it current without replaying the corpus).
    *
    * The driver-checked batch face rolls transitions up into the
    * per-user profile: total transitions, and the user's dominant
    * (from → to) habit with its share as an integer ×10⁴ rational —
    * the per-entity view of the corpus-level q79 matrix.
    *
    * Scale: the stream face is one user-keyed stateful op; the batch
    * face is one user-keyed window + one (user, from, to)-keyed
    * aggregate (25-bounded per user). Counters only on the wire.
    */
  def transitionCorpus(s: SparkSession, d: String): DataFrame =
    graft.Tables.t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))

  /** Deterministic batch face: lead() in (ts, event_id) order. */
  def transitionsBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events.withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("to_type"))
  }

  /** Streaming face: flatMapGroupsWithState keyed by user, state = the
    * last event (ts-micros, id, type). Rows sort per batch in
    * (ts, event_id) order, so feeding batches in event-time order
    * reproduces the batch face exactly — including transitions that
    * SPAN a micro-batch boundary (the carried state's whole job). */
  def transitionsStream(events: DataFrame): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    // the initial state's null etype stands for "no event seen yet"
    foldByKey(events.as[TransEvent])(_.user_id, r => (tsu(r.ts), r.event_id),
        TransState(0L, 0L, null)) { (_, prev, r, out: ArrayBuffer[TransOut]) =>
      if (prev.etype != null)
        out += TransOut(r.user_id, prev.etype, r.event_type)
      TransState(tsu(r.ts), r.event_id, r.event_type)
    }
  }

  case class FunnelState(tv: Long, tc: Long, tp: Long)
  case class FunnelOut(user_id: Long, stage: String, ts_us: Long)

  case class AttrState(journey: Long, nTouch: Long, nView: Long,
      firstType: String, lastType: String)
  case class AttrOut(user_id: Long, journey: Long, model: String,
      touch_type: String, acents: Long)

  /** st18: STREAMING MULTI-TOUCH ATTRIBUTION — q87's journey
    * attribution AT INGEST: per-user state is the OPEN journey only
    * (ordinal + touch counters + endpoint types — one fixed-width row
    * per user, bounded by user count, never by history), and each
    * arriving purchase closes the journey and emits its first-touch /
    * last-touch / linear credit rows immediately — the live feed a
    * campaign dashboard tails, where q87 is the nightly replay.
    * Processing each batch in (micros, event_id) order makes the
    * running state EQUAL to q87's rows-preceding journey tagging, so
    * emissions match the batch face byte-for-byte (the spec pins it
    * across a mid-feed batch split). Cents quantize with the same
    * floor(v·100 + 0.5) IEEE step as the batch side; the linear
    * remainder goes to the last touch, conserving each purchase
    * exactly.
    */
  def attributionStream(events: DataFrame): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.filter(col("event_type")
        .isin("view", "click", "purchase")).as[Event])(
        _.user_id, r => (tsu(r.ts), r.event_id),
        AttrState(0L, 0L, 0L, "", "")) {
        (uid, st, r, out: ArrayBuffer[AttrOut]) =>
      if (r.event_type == "purchase") {
        val cents = math.floor(r.value * 100 + 0.5).toLong
        if (st.nTouch == 0L) {
          out += AttrOut(uid, st.journey, "first_touch", "direct", cents)
          out += AttrOut(uid, st.journey, "last_touch", "direct", cents)
          out += AttrOut(uid, st.journey, "linear", "direct", cents)
        } else {
          out += AttrOut(uid, st.journey, "first_touch", st.firstType, cents)
          out += AttrOut(uid, st.journey, "last_touch", st.lastType, cents)
          val nClick = st.nTouch - st.nView
          val lv = cents * st.nView / st.nTouch
          val lc = cents * nClick / st.nTouch
          val rem = cents - lv - lc
          if (st.nView > 0L)
            out += AttrOut(uid, st.journey, "linear", "view",
              lv + (if (st.lastType == "view") rem else 0L))
          if (nClick > 0L)
            out += AttrOut(uid, st.journey, "linear", "click",
              lc + (if (st.lastType == "click") rem else 0L))
        }
        AttrState(st.journey + 1L, 0L, 0L, "", "")
      } else {
        AttrState(st.journey, st.nTouch + 1L,
          st.nView + (if (r.event_type == "view") 1L else 0L),
          if (st.nTouch == 0L) r.event_type else st.firstType,
          r.event_type)
      }
    }
  }

  /** st18 driver face: q87's journey-level attribution rows (the
    * pre-rollup long form), which the stream emissions must equal. */
  private val st18Attribution: Q = (s, d) =>
    graft.operators.RelationalQueries.attributionLong(s, d)
      .orderBy("user_id", "journey", "model", "touch_type")

  case class AnomState(n: Long, sx: Long, sx2: Long)
  case class AnomOut(user_id: Long, event_id: Long)

  /** st15: STREAMING ANOMALY ALERTS — q82's integer-exact z-score rule
    * evaluated ONLINE: each arriving event is scored against the user's
    * history SO FAR (the monitor semantic — an alert can only use what
    * had already arrived, unlike q82's full-corpus retrospective), via
    * the same cross-multiplied BIGINT test (n·x − S)² > 9·(n·S2 − S²)
    * with an 8-event minimum history, then folded into the running
    * (n, S, S2) state — three longs per user, Welford with no floats.
    *
    * The driver-checked batch face is the identical prior-only
    * semantics: expanding window sums with ROWS UNBOUNDED PRECEDING TO
    * 1 PRECEDING (one user-keyed sorted window), rolled up per user.
    *
    * Scale: stream face is one user-keyed stateful op with constant
    * state; batch face one window + one aggregate on the same user
    * exchange. Integer state merges exactly at any partitioning.
    */
  def anomalyStream(events: DataFrame): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    // exact micros, not getTime (ms): the batch face orders by the
    // full timestamp and events carry sub-ms components — a same-ms
    // pair whose event_id order inverts micros order would score in
    // a different order than st15's window (the st09/st13 rule)
    foldByKey(events.as[Event])(_.user_id, r => (tsu(r.ts), r.event_id),
        AnomState(0L, 0L, 0L)) { (uid, st, r, out: ArrayBuffer[AnomOut]) =>
      val x = math.floor(r.value * 100 + 0.5).toLong
      val dev = st.n * x - st.sx
      if (st.n >= 8L && dev * dev > 9L * (st.n * st.sx2 - st.sx * st.sx))
        out += AnomOut(uid, r.event_id)
      AnomState(st.n + 1L, st.sx + x, st.sx2 + x * x)
    }
  }

  /** st15 driver face: prior-only expanding-window replay per user. */
  private val st15AnomalyAlerts: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val wPrior = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = graft.Tables.t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("np", count(lit(1)).over(wPrior))
      .withColumn("sp", coalesce(sum("cents").over(wPrior), lit(0L)))
      .withColumn("sp2",
        coalesce(sum(expr("cents * cents")).over(wPrior), lit(0L)))
      .withColumn("alert", col("np") >= 8L &&
        expr("(np * cents - sp) * (np * cents - sp)") >
          expr("9 * (np * sp2 - sp * sp)"))
    scored.groupBy("user_id").agg(
        sum(when(col("np") >= 8L, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("alert"), 1L).otherwise(0L)).as("n_alerts"),
        min(when(col("alert"), col("event_id"))).as("first_alert_event"),
        max(when(col("alert"), col("event_id"))).as("last_alert_event"))
      .orderBy("user_id")
  }

  case class DecayState(lastS: Long, lastW: Long, curW: Long, curC: Long)
  case class DecayOut(user_id: Long, window_start: String,
    n_window: Long, decayed: Long)

  /** st20: DECAYED TALKER COUNTERS — the exponentially-decayed per-user
    * activity counter behind trending/rate-limit/abuse monitors, made
    * EXACT: decay is a right-shift per elapsed hour (half-life = one
    * window, s' = (s >> gap) + c), so the whole lifetime is integer
    * arithmetic — no float pow, no libm, bit-reproducible at any
    * partitioning. A window's counter is emitted when the user's next
    * active window closes it (closed windows only — the open window has
    * no final count yet); inactive gaps decay through the shift, not
    * through emitted zeros.
    *
    * The driver-checked batch face replays the identical fold per user
    * over the (window, count) cells in window order; because each step
    * floors (integer shift), the fold is genuinely sequential — the
    * closed-form Σ c_w >> gap_w would NOT match.
    *
    * Scale: stream state is 4 longs per user; the batch face's per-user
    * fold list is bounded by the retention window's hour count (720 per
    * month), never by event count.
    */
  def decayStream(events: DataFrame): Dataset[DecayOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.as[Event])(_.user_id, r => (tsu(r.ts), r.event_id),
        DecayState(0L, -1L, -1L, 0L)) {
        (uid, st, r, out: ArrayBuffer[DecayOut]) =>
      val w = tsu(r.ts) / 3600000000L
      if (st.curW < 0L) st.copy(curW = w, curC = 1L)
      else if (w == st.curW) st.copy(curC = st.curC + 1L)
      else {
        val s = if (st.lastW < 0L) st.curC
          else (st.lastS >> math.min(63L, st.curW - st.lastW).toInt) +
            st.curC
        out += DecayOut(uid, hourLabel(st.curW), st.curC, s)
        DecayState(s, st.curW, w, 1L)
      }
    }
  }

  /** st20 driver face: per-user sequential fold over window cells. */
  private val st20DecayedTalkers: Q = (s, d) => {
    val cells = graft.Tables.t(s, d, "events")
      .groupBy(col("user_id"),
        expr("unix_micros(ts) DIV 3600000000").as("w"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("w"), col("c")))).as("arr"))
      .selectExpr("user_id",
        """aggregate(
          |  slice(arr, 2, size(arr) - 1),
          |  named_struct('s', arr[0].c, 'w', arr[0].w,
          |    'outl', array(named_struct('w', arr[0].w, 'c', arr[0].c,
          |      's', arr[0].c))),
          |  (a, x) -> named_struct(
          |    's', shiftright(a.s, CAST(least(63L, x.w - a.w) AS INT))
          |      + x.c,
          |    'w', x.w,
          |    'outl', concat(a.outl, array(named_struct('w', x.w,
          |      'c', x.c,
          |      's', shiftright(a.s, CAST(least(63L, x.w - a.w) AS INT))
          |        + x.c))))) AS f""".stripMargin)
      // drop the last (still-open) window — the stream face cannot have
      // closed it either
      .select(col("user_id"),
        explode(expr("slice(f.outl, 1, size(f.outl) - 1)")).as("o"))
      .select(col("user_id"),
        date_format(expr("timestamp_seconds(o.w * 3600)"),
          "yyyy-MM-dd HH:mm").as("window_start"),
        col("o.c").as("n_window"), col("o.s").as("decayed"))
      .orderBy("user_id", "window_start")
  }

  case class LedgerState(chain: String, curW: Long, buf: List[Long])
  case class LedgerOut(event_type: String, window_start: String,
    n_events: Long, window_digest: String, chain: String)

  /** st21: TAMPER-EVIDENT INGEST LEDGER — the pp35 idea made streaming:
    * per (event_type, hour window), a content digest (md5 over the
    * window's event ids in sorted order — a function of the SET, not
    * arrival order) CHAINED through its predecessors
    * (chainᵂ = md5(chainᵂ⁻¹ ‖ '|' ‖ digestᵂ), genesis constant), so any
    * later rewrite of any historical window changes every subsequent
    * chain value — the property an ingest audit needs to prove "nothing
    * was dropped, duplicated or back-filled silently". Windows emit at
    * close (the next active window's first event), like st20.
    *
    * The batch face replays the identical chain: per-window digests +
    * a prefix fold per (type, window) — O(W²) folds on the tiny window
    * grid, which is what keeps the DuckDB replay expressible
    * (list_prepend genesis + list_reduce md5, the dotSql pattern).
    *
    * Scale: stream state per type = the chain head + the OPEN window's
    * id buffer (bounded by per-window ingest volume, never history);
    * the batch grid is types × retention hours.
    */
  def ledgerStream(events: DataFrame): Dataset[LedgerOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.as[Event])(_.event_type, r => (tsu(r.ts), r.event_id),
        LedgerState("GENESIS", -1L, Nil)) {
        (etype, st, r, out: ArrayBuffer[LedgerOut]) =>
      val w = tsu(r.ts) / 3600000000L
      if (st.curW >= 0L && w != st.curW) {
        val dg = md5Hex(st.buf.sorted.mkString(","))
        val chain = md5Hex(st.chain + "|" + dg)
        out += LedgerOut(etype, hourLabel(st.curW), st.buf.length.toLong,
          dg, chain)
        LedgerState(chain, w, List(r.event_id))
      } else if (st.curW < 0L) st.copy(curW = w, buf = List(r.event_id))
      else st.copy(buf = r.event_id :: st.buf)
    }
  }

  /** st21 driver face: window digests + per-window prefix chain fold.
    *
    * The chain is computed by ONE O(W) fold per type over the sorted
    * digest array (r14 rewrite, guide §1.2/§2.3): the r13 form
    * self-joined the cell grid on bw <= w and re-folded every prefix
    * from GENESIS per window — O(W²) prefix structs through the
    * aggregate exchange (measured: a 46 MB single-task shuffle write,
    * 1.7 s of st21's 4.1 s at sf0.1, for a ~2000-row cell grid). A
    * prefix chain is a running fold, so one pass emits every window's
    * chain; the horizon cut (w < max w per type, the open window) is
    * exactly "drop the LAST element of the sorted array", which also
    * retires the max-window aggregate + join. Same bytes: the fold
    * order (sorted by w, unique per type) and md5 text are identical,
    * and the DuckDB oracle replays unchanged.
    */
  private val st21DigestLedger: Q = (s, d) => {
    val cells = graft.Tables.t(s, d, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("w"))
      .agg(count(lit(1)).as("n"),
        md5(concat_ws(",", sort_array(collect_list(col("event_id")))))
          .as("dg"))
    cells
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("w"), col("n"),
        col("dg")))).as("arr"))
      // fold once, emitting (w, n, dg, chain) per element; slice off
      // the LAST (= max w) element — the open horizon window the old
      // form excluded via the mx join
      .selectExpr("event_type",
        """explode(slice(
          |  aggregate(arr,
          |    named_struct('acc', 'GENESIS',
          |                 'out', CAST(array() AS
          |                   ARRAY<STRUCT<w: BIGINT, n: BIGINT,
          |                                dg: STRING, chain: STRING>>)),
          |    (st, x) -> named_struct(
          |      'acc', md5(concat(st.acc, '|', x.dg)),
          |      'out', array_append(st.out, named_struct(
          |        'w', x.w, 'n', x.n, 'dg', x.dg,
          |        'chain', md5(concat(st.acc, '|', x.dg))))),
          |    st -> st.out),
          |  1, size(arr) - 1)) AS r""".stripMargin)
      .select(col("event_type"),
        date_format(expr("timestamp_seconds(r.w * 3600)"),
          "yyyy-MM-dd HH:mm").as("window_start"),
        col("r.n").as("n_events"), col("r.dg").as("window_digest"),
        col("r.chain").as("chain"))
      .orderBy("event_type", "window_start")
  }

  case class CmsState(curW: Long, cells: Array[Long])
  case class CmsOut(event_type: String, window_start: String,
    probe_user: Long, cms_est: Long)

  /** st22: STREAMING COUNT-MIN TALKER MONITOR — tx32's sketch as
    * stream state: per (event_type, hour window), a 4×`width`-cell CMS
    * over user ids replaces the per-user map st12's exact top-talkers
    * carries. State per type is the open window id + 4·width longs —
    * FIXED at any traffic volume (the whole point of a sketch in a
    * stream: st12's map grows with distinct users per window; this
    * never does). At window close (the st20/st21 emission discipline)
    * the monitor reports the CMS estimate for a fixed 10-user probe
    * set — never an undercount, per tx32's guarantee.
    *
    * `width` is DERIVED, not hardcoded (the ss31/pp37 sizing
    * discipline): the driver face sizes it from one constant-size
    * distinct-user count over the historical events table at
    * plan-build time — w = max(16, U div 8), ~8 distinct users per
    * cell — so the same query self-sizes across corpus scales instead
    * of silently saturating the way tx32's first w=512 cut did. The
    * stream face takes the derived width as its capacity plan (a live
    * stream can't count its own future users; you provision state from
    * the historical stat, exactly like any capacity knob).
    *
    * The batch face rebuilds the identical sketch relationally (one
    * (type, window, seed, cell) grouped count) and reads the same
    * probes; cells hash via the pp37 portable md5→BIGINT idiom and the
    * DuckDB oracle re-derives the width from its own distinct count,
    * so the ESTIMATES hash-match at every SF with DIFFERENT widths.
    * `StreamingSpec` pins stream ≡ batch across a mid-feed state-store
    * boundary, and `OperatorInvariantSpec` pins the density bound.
    */
  def cmsStream(events: DataFrame, width: Int): Dataset[CmsOut] = {
    import events.sparkSession.implicits._
    def cell(seed: Int, user: Long): Int =
      (java.lang.Long.parseLong(
        md5Hex(s"$seed#$user").substring(0, 8), 16) % width.toLong).toInt
    def close(etype: String, st: CmsState): Seq[CmsOut] =
      (0L until 10L).map { p =>
        val probe = p * 50L
        val est = (0 until 4).map(sd =>
          st.cells(sd * width + cell(sd, probe))).min
        CmsOut(etype, hourLabel(st.curW), probe, est)
      }
    foldByKey(events.as[Event])(_.event_type, r => (tsu(r.ts), r.event_id),
        CmsState(-1L, Array.fill(4 * width)(0L))) {
        (etype, st0, r, out: ArrayBuffer[CmsOut]) =>
      val w = tsu(r.ts) / 3600000000L
      val st =
        if (st0.curW >= 0L && w != st0.curW) {
          out ++= close(etype, st0)
          CmsState(w, Array.fill(4 * width)(0L))
        } else if (st0.curW < 0L) CmsState(w, st0.cells)
        else st0
      (0 until 4).foreach { sd =>
        st.cells(sd * width + cell(sd, r.user_id)) += 1L
      }
      st
    }
  }

  /** The st22 width rule, shared by the driver face, the stream spec
    * and the invariant spec: ~8 distinct users per cell, floor 16. */
  def cmsWidth(distinctUsers: Long): Int =
    math.max(16L, distinctUsers / 8L).toInt

  case class HistState(curW: Long, cells: Array[Long])
  case class HistOut(event_type: String, window_start: String,
    n_events: Long, p50_bucket: Long, p90_bucket: Long, p99_bucket: Long)

  /** st23: STREAMING HISTOGRAM-QUANTILE MONITOR — the latency/value-
    * distribution face of the bounded-state family: per (event_type,
    * hour window), a FIXED 128-bucket histogram over `value` replaces
    * the sorted-buffer a true percentile would need (st12's lesson for
    * counts, applied to order statistics: exact quantiles over a
    * stream require O(window) state; the histogram is 128 longs per
    * type at ANY traffic volume). At window close it emits the bucket
    * index holding p50/p90/p99 — integer outputs, no interpolation, so
    * both engines agree bit-for-bit.
    *
    * Bucket BOUNDS are derived, not hardcoded (the ss31/pp37/st22
    * discipline): the driver face reads min/max(value) from the
    * historical table in one constant-size aggregate at plan-build and
    * the DuckDB oracle re-derives them from its own scan; the stream
    * face takes them as its capacity plan (a live stream cannot know
    * its future range — you provision the histogram from history,
    * exactly like st22's width). The bucket map is pure double
    * arithmetic in the SAME token order on both engines
    * ((v − vmin)·128 / span, floored, clamped to [0,127]) — IEEE ops
    * are exact-rounded, so the cell assignment is deterministic
    * cross-engine without any rounding rule.
    *
    * Rank convention: p_q = smallest bucket whose cumulative count
    * reaches ⌈q·n⌉ (integer: (q_num·n + q_den − 1) DIV q_den).
    * `StreamingSpec` pins stream ≡ batch across a mid-feed state-store
    * boundary and the quantile picks against an exact in-JVM sort.
    */
  def histStream(events: DataFrame, vmin: Double, vmax: Double)
      : Dataset[HistOut] = {
    import events.sparkSession.implicits._
    val span = vmax - vmin
    def bucket(v: Double): Int =
      math.min(127L, math.max(0L,
        math.floor((v - vmin) * 128.0 / span).toLong)).toInt
    def kq(n: Long, num: Long, den: Long): Long = (num * n + den - 1) / den
    def close(etype: String, st: HistState): HistOut = {
      val n = st.cells.sum
      def pick(k: Long): Long = {
        var cum = 0L; var b = 0
        while (b < 128) {
          cum += st.cells(b)
          if (cum >= k) return b.toLong
          b += 1
        }
        127L
      }
      HistOut(etype, hourLabel(st.curW), n,
        pick(kq(n, 1, 2)), pick(kq(n, 9, 10)), pick(kq(n, 99, 100)))
    }
    foldByKey(events.as[Event])(_.event_type, r => (tsu(r.ts), r.event_id),
        HistState(-1L, Array.fill(128)(0L))) {
        (etype, st0, r, out: ArrayBuffer[HistOut]) =>
      val w = tsu(r.ts) / 3600000000L
      val st =
        if (st0.curW >= 0L && w != st0.curW) {
          out += close(etype, st0)
          HistState(w, Array.fill(128)(0L))
        } else if (st0.curW < 0L) HistState(w, st0.cells)
        else st0
      st.cells(bucket(r.value)) += 1L
      st
    }
  }

  /** st23 driver face: histogram rebuilt relationally, quantile picks
    * via a cumulative window; bounds derived at plan-build (see
    * [[histStream]]'s scaladoc); closed windows only (st21 horizon). */
  private val st23HistQuantiles: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.t(s, d, "events")
    val mm = ev.agg(min("value"), max("value")).first()
    val (vmin, vmax) = (mm.getDouble(0), mm.getDouble(1))
    require(vmax > vmin, "st23: degenerate value range")
    val cells = ev.select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("w"),
        least(lit(127L), greatest(lit(0L),
          floor((col("value") - vmin) * 128.0 / (vmax - vmin))
            .cast("long"))).as("bucket"))
      .groupBy("event_type", "w", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // 2 refs: quantile window + horizon scan
    val wTot = Window.partitionBy("event_type", "w")
    val cum = cells
      .withColumn("cum", sum("cnt").over(wTot.orderBy("bucket")))
      .withColumn("n", sum("cnt").over(wTot))
    val q = cum
      .groupBy("event_type", "w")
      .agg(max("n").as("n_events"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"),
          col("bucket"))).as("p50_bucket"),
        min(when(col("cum") >= expr("(9 * n + 9) DIV 10"),
          col("bucket"))).as("p90_bucket"),
        min(when(col("cum") >= expr("(99 * n + 99) DIV 100"),
          col("bucket"))).as("p99_bucket"))
    val mx = cells.groupBy(col("event_type").as("et"))
      .agg(max("w").as("mxw"))
    q.join(mx, col("event_type") === col("et") && col("w") < col("mxw"))
      .select(col("event_type"),
        date_format(expr("timestamp_seconds(w * 3600)"),
          "yyyy-MM-dd HH:mm").as("window_start"),
        col("n_events"), col("p50_bucket"), col("p90_bucket"),
        col("p99_bucket"))
      .orderBy("event_type", "window_start")
  }

  /** st22 driver face: the sketch rebuilt relationally per closed
    * (type, window) cell, probes read via a 10-row broadcast grid;
    * width derived from one constant-size distinct-user count at
    * plan-build time (see [[cmsStream]]'s scaladoc). */
  private val st22CmsMonitor: Q = (s, d) => {
    val width = cmsWidth(graft.Tables.t(s, d, "events")
      .select("user_id").distinct().count())
    val cellSql = "CAST(conv(substring(md5(concat(CAST(sd AS STRING)," +
      s" '#', CAST(uid AS STRING))), 1, 8), 16, 10) AS BIGINT) % $width"
    val cells = graft.Tables.t(s, d, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("w"),
        col("user_id").as("uid"))
      .select(col("event_type"), col("w"), col("uid"),
        explode(expr("sequence(0, 3)")).as("sd"))
      .groupBy(col("event_type"), col("w"), col("sd"),
        expr(cellSql).as("cell"))
      .agg(count(lit(1)).as("n"))
      // eager (the dd20/ss20 rule): probe join + the horizon scan
      .localCheckpoint()
    val mx = cells.groupBy(col("event_type").as("et"))
      .agg(max("w").as("mxw"))
    val probes = s.range(10).select((col("id") * 50L).as("uid"),
      explode(expr("sequence(0, 3)")).as("sd"))
      .withColumn("cell", expr(cellSql))
    val grid = cells.select("event_type", "w").distinct()
      .crossJoin(broadcast(probes))
    grid
      .join(cells, Seq("event_type", "w", "sd", "cell"), "left")
      .groupBy(col("event_type"), col("w"), col("uid"))
      .agg(min(coalesce(col("n"), lit(0L))).as("cms_est"))
      .join(mx, col("event_type") === col("et") && col("w") < col("mxw"))
      .select(col("event_type"),
        date_format(expr("timestamp_seconds(w * 3600)"),
          "yyyy-MM-dd HH:mm").as("window_start"),
        col("uid").as("probe_user"), col("cms_est"))
      .orderBy("event_type", "window_start", "probe_user")
  }

  case class SeasonalState(np: Long, sp: Long, curDay: Long,
    curCnt: Long, alerted: Boolean)
  case class SeasonalOut(event_type: String, day: String, hr: Long,
    event_id: Long)

  /** st19: STREAMING SEASONAL ALERTS — q89's hour-of-day baseline made
    * CAUSAL and fired AT ARRIVAL: a (type, hour) cell alerts on the
    * exact event whose arrival pushes the cell's running count past
    * max(3, 2·mean) of that hour's count over the key's PRIOR active
    * days (≥7 of them — the warmup a monitor needs before it may page).
    * Because the test is "count crosses c* = max(3, 2·sp div np + 1)"
    * and the count climbs by 1, the alert needs no day-close: it fires
    * mid-day on the crossing event itself — the live-pager semantic,
    * where q89 is the nightly retrospective (and judges each day
    * against ALL other days, not just prior ones).
    *
    * The driver-checked batch face replays the identical causal rule:
    * one (type, hr)-keyed day window (prior active days only) + the
    * per-cell crossing rank joined back to the event ranked c*-th in
    * (ts, event_id) order — both faces emit the same (cell, event) set
    * byte-for-byte.
    *
    * Scale: stream face is one stateful op keyed by (type, hour) — 72
    * keys × 5 longs of state regardless of corpus; batch face two
    * windows over the tiny cell grid + one rank join on the fact.
    */
  def seasonalStream(events: DataFrame): Dataset[SeasonalOut] = {
    import events.sparkSession.implicits._
    foldByKey(events.as[Event])(
        r => (r.event_type, (tsu(r.ts) % 86400000000L) / 3600000000L),
        r => (tsu(r.ts), r.event_id),
        SeasonalState(0L, 0L, -1L, 0L, alerted = false)) {
        (key, st0, r, out: ArrayBuffer[SeasonalOut]) =>
      var st = st0
      val day = math.floorDiv(tsu(r.ts), 86400000000L)
      if (day != st.curDay) {
        // fold the completed day into the baseline (active days
        // only — matching the batch face's per-key day window)
        if (st.curDay >= 0L)
          st = SeasonalState(st.np + 1L, st.sp + st.curCnt,
            day, 0L, alerted = false)
        else st = st.copy(curDay = day, curCnt = 0L, alerted = false)
      }
      st = st.copy(curCnt = st.curCnt + 1L)
      if (!st.alerted && st.np >= 7L) {
        val cstar = math.max(3L, 2L * st.sp / st.np + 1L)
        if (st.curCnt == cstar) {
          out += SeasonalOut(key._1,
            java.time.LocalDate.ofEpochDay(day).toString,
            key._2, r.event_id)
          st = st.copy(alerted = true)
        }
      }
      st
    }
  }

  /** st19 driver face: causal day window + crossing-rank event join. */
  private val st19SeasonalAlerts: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.t(s, d, "events")
      .select(col("event_id"), col("ts"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        hour(col("ts")).cast("bigint").as("hr"))
    val wRank = Window.partitionBy("event_type", "day", "hr")
      .orderBy("ts", "event_id")
    val ranked = ev.withColumn("rk", row_number().over(wRank).cast("bigint"))
    val wPrior = Window.partitionBy("event_type", "hr").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = ranked.groupBy("event_type", "day", "hr")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("np", count(lit(1)).over(wPrior))
      .withColumn("sp", coalesce(sum("cnt").over(wPrior), lit(0L)))
      .filter(col("np") >= 7L)
      .withColumn("cstar", greatest(lit(3L), expr("2 * sp DIV np + 1")))
      .filter(col("cnt") >= col("cstar"))
    cells.join(ranked.select(col("event_type"), col("day"), col("hr"),
        col("rk"), col("event_id")),
        Seq("event_type", "day", "hr"))
      .filter(col("rk") === col("cstar"))
      .select(col("event_type"), col("day"), col("hr"), col("cnt"),
        col("np").as("prior_days"), col("sp").as("prior_total"),
        col("cstar").as("cross_at"), col("event_id").as("cross_event_id"))
      .orderBy("event_type", "day", "hr")
  }

  private val DayUs = 86400000000L

  /** st14: STREAMING FUNNEL STAGES — q71's ordered-step attribution
    * (view → click ≤24h → purchase ≤24h — wider step windows than
    * q71's 1h: the funnel report needs real stage spread on this
    * corpus's event cadence) advanced AT INGEST: per-user
    * state is the three step timestamps (one fixed-width row per user,
    * bounded by user count), and each arriving event that legitimately
    * advances the funnel emits a stage-advance record — the live feed a
    * conversion dashboard tails, where q71 is the nightly replay.
    * Processing each batch's rows in (ts, event_id) order makes the
    * greedy machine EQUAL to q71's conditional-min semantics: the first
    * qualifying event in time order IS the min over the window.
    *
    * The driver-checked batch face is the same semantics per user:
    * stage reached (0-3) + step timestamps, via q71's chained
    * conditional-min aggregates (one user-keyed hash agg per step, no
    * windows, no self-join).
    *
    * Scale: stream face = one user-keyed stateful op with constant
    * per-user state; batch face = three user-keyed aggregates.
    * Timestamps leave as formatted strings (the events-ts oracle rule).
    */
  def funnelStream(events: DataFrame): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    // STAGED passes (view, then click, then purchase), not one greedy
    // sweep in (ts, event_id) order: the batch face's conditional-min
    // admits a click whose ts EQUALS t_view even when its event_id sorts
    // it before the view — a single in-order pass would skip it (tv
    // still unset) and silently report a lower stage on tied-timestamp
    // corpora. Each pass is the conditional min over the batch given the
    // stage set by the previous pass, which is exactly q71's chained-min
    // semantics. A pass acts only on its own event type, so the three
    // passes are ONE fold over the batch sorted by (stage, ts, event_id);
    // other types sort last and change nothing.
    def stage(etype: String): Int = etype match {
      case "view" => 0
      case "click" => 1
      case "purchase" => 2
      case _ => 3
    }
    foldByKey(events.as[TransEvent])(_.user_id,
        r => (stage(r.event_type), tsu(r.ts), r.event_id),
        FunnelState(-1L, -1L, -1L)) {
        (uid, st, r, out: ArrayBuffer[FunnelOut]) =>
      val t = tsu(r.ts)
      if (r.event_type == "view" && st.tv < 0L) {
        out += FunnelOut(uid, "view", t); st.copy(tv = t)
      } else if (r.event_type == "click" && st.tv >= 0L && st.tc < 0L &&
          t >= st.tv && t <= st.tv + DayUs) {
        out += FunnelOut(uid, "click", t); st.copy(tc = t)
      } else if (r.event_type == "purchase" && st.tc >= 0L &&
          st.tp < 0L && t >= st.tc && t <= st.tc + DayUs) {
        out += FunnelOut(uid, "purchase", t); st.copy(tp = t)
      } else st
    }
  }

  /** st14 driver face: per-user funnel stage via q71's chained
    * conditional mins. */
  private val st14FunnelStages: Q = (s, d) => {
    val ev = graft.Tables.t(s, d, "events")
      .select("user_id", "event_type", "ts")
    val steps = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("ts"))).as("t_view"))
      .join(ev, Seq("user_id"))
      .groupBy("user_id", "t_view").agg(
        min(when(col("event_type") === "click" &&
          col("ts") >= col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 24 HOURS"),
          col("ts"))).as("t_click"))
      .join(ev, Seq("user_id"))
      .groupBy("user_id", "t_view", "t_click").agg(
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 24 HOURS"),
          col("ts"))).as("t_purchase"))
    steps.select(col("user_id"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L)
          .otherwise(0L).as("stage"),
        date_format(col("t_view"), "yyyy-MM-dd HH:mm:ss").as("view_at"),
        date_format(col("t_click"), "yyyy-MM-dd HH:mm:ss").as("click_at"),
        date_format(col("t_purchase"), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_at"))
      .orderBy("user_id")
  }

  /** st13: per-user dominant-transition profile (driver face). */
  private val st13UserTransitions: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val per = transitionsBatch(transitionCorpus(s, d))
      .groupBy("user_id", "from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val wU = Window.partitionBy("user_id")
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
    per.withColumn("rn", row_number().over(wU))
      .withColumn("n_trans", sum("n").over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_trans"),
        col("from_type").as("top_from"), col("to_type").as("top_to"),
        col("n").as("top_n"),
        expr("n * 10000 div n_trans").as("top_share_x10k"))
      .orderBy("user_id")
  }

  val queries: Map[String, Q] = Map(
    "st22_cms_monitor" -> st22CmsMonitor,
    "st23_hist_quantiles" -> st23HistQuantiles,
    "st21_digest_ledger" -> st21DigestLedger,
    "st20_decayed_talkers" -> st20DecayedTalkers,
    "st19_seasonal_alerts" -> st19SeasonalAlerts,
    "st18_attribution" -> st18Attribution,
    "st17_drift_monitor" -> st17DriftMonitor,
    "st16_window_distinct" -> st16WindowDistinct,
    "st15_anomaly_alerts" -> st15AnomalyAlerts,
    "st14_funnel_stages" -> st14FunnelStages,
    "st13_user_transitions" -> st13UserTransitions,
    "st12_top_talkers" -> st12TopTalkers,
    "st11_late_audit" -> st11LateAudit,
    "st08_new_users" -> st08NewUsers,
    "st01_sessionize" -> st01Sessionize,
    "st02_session_window" -> st02SessionWindow,
    "st03_interval_join" -> st03IntervalJoin,
    "st04_stream_ingest" -> st04StreamIngest,
    "st05_enrich_join" -> st05EnrichJoin,
    "st06_interval_outer" -> st06IntervalOuter,
    "st07_dedup_replay" -> st07DedupReplay,
    "st09_neardup_admission" -> st09NeardupAdmission,
    "st10_token_budget" -> st10TokenBudget,
    "st24_real_budget" -> st24RealBudget,
    "st25_erasure_ledger" -> st25ErasureLedger,
    "st26_index_handoff" -> st26IndexHandoff)

  val oracleSql: Map[String, String] = Map(
    // st26: BM25 over base ∪ admitted — the serve is segment-merged on
    // the Spark side (union postings, Σ sidecars), but a doc lives in
    // exactly one segment, so the flat-corpus replay is byte-identical
    // (tx38's proven equivalence). Admissions replay as the gate
    // predicate on the %10=7 originals: the 60-s re-crawl copies are
    // exact text duplicates, so first-arrival dedup keeps precisely
    // the originals, and gates agree between original and copy.
    "st26_index_handoff" ->
      """WITH corp AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 10 = 7
        |    AND CAST(length(text) - length(replace(text, ' ', '')) + 1
        |        AS BIGINT) >= 10
        |    AND n_chars >= 50),
        |d2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM corp),
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
        |FROM ranked WHERE rnk <= 5 ORDER BY token, rnk""".stripMargin,
    // st18: q87's journey/endpoint/remainder chain replayed pre-rollup;
    // journey cast to BIGINT (DuckDB window sums are HUGEINT).
    "st18_attribution" ->
      """WITH e AS MATERIALIZED (SELECT user_id, ts, event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |tg AS MATERIALIZED (SELECT *,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
        |                           ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS journey
        |  FROM e),
        |p AS (SELECT user_id, journey, cents FROM tg
        |  WHERE event_type = 'purchase'),
        |tch AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, journey
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, journey
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM tg WHERE event_type <> 'purchase'),
        |st AS (SELECT user_id, journey, count(*) AS n_touch,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS n_view,
        |    max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
        |    max(CASE WHEN rn_d = 1 THEN event_type END) AS last_type
        |  FROM tch GROUP BY 1, 2),
        |j AS MATERIALIZED (SELECT p.user_id, p.journey, p.cents,
        |    CAST(coalesce(n_touch, 0) AS BIGINT) AS n_touch,
        |    CAST(coalesce(n_view, 0) AS BIGINT) AS n_view,
        |    CAST(coalesce(n_touch, 0) - coalesce(n_view, 0) AS BIGINT)
        |      AS n_click,
        |    coalesce(first_type, 'direct') AS first_type,
        |    coalesce(last_type, 'direct') AS last_type
        |  FROM p LEFT JOIN st USING (user_id, journey)),
        |l AS MATERIALIZED (SELECT *,
        |    cents * n_view // greatest(n_touch, 1) AS lv,
        |    cents * n_click // greatest(n_touch, 1) AS lc
        |  FROM j),
        |lng AS (
        |  SELECT user_id, journey, 'first_touch' AS model,
        |    first_type AS touch_type, cents AS acents FROM l
        |  UNION ALL SELECT user_id, journey, 'last_touch', last_type,
        |    cents FROM l
        |  UNION ALL SELECT user_id, journey, 'linear', 'direct', cents
        |    FROM l WHERE n_touch = 0
        |  UNION ALL SELECT user_id, journey, 'linear', 'view',
        |    lv + CASE WHEN last_type = 'view' THEN cents - lv - lc
        |              ELSE 0 END
        |    FROM l WHERE n_view > 0
        |  UNION ALL SELECT user_id, journey, 'linear', 'click',
        |    lc + CASE WHEN last_type = 'click' THEN cents - lv - lc
        |              ELSE 0 END
        |    FROM l WHERE n_click > 0)
        |SELECT user_id, journey, model, touch_type, acents FROM lng
        |ORDER BY user_id, journey, model, touch_type""".stripMargin,
    // st17: the windowed TV replay — same grid (windows × reference
    // types), same cross-multiplied integer form.
    "st17_drift_monitor" ->
      """WITH pw AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |    event_type, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |ref AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
        |rt AS (SELECT CAST(sum(c) AS BIGINT) AS big_c FROM ref),
        |wt AS (SELECT ws, CAST(sum(o) AS BIGINT) AS t FROM pw GROUP BY 1),
        |grid AS (SELECT wt.ws, r.event_type, r.c, wt.t,
        |    coalesce(p.o, 0) AS o
        |  FROM ref r CROSS JOIN wt
        |  LEFT JOIN pw p ON p.ws = wt.ws AND p.event_type = r.event_type)
        |SELECT strftime(g.ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  max(g.t) AS n_events,
        |  CAST(sum(abs(g.o * rt.big_c - g.c * g.t)) AS BIGINT) * 10000
        |    // (2 * max(g.t) * max(rt.big_c)) AS tv_x10k
        |FROM grid g CROSS JOIN rt
        |GROUP BY g.ws ORDER BY window_start""".stripMargin,
    "st16_window_distinct" ->
      """WITH w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |    user_id FROM events),
        |ex AS (SELECT ws, count(*) AS n_events,
        |    count(DISTINCT user_id) AS n_users_exact
        |  FROM w GROUP BY 1),
        |dv AS (SELECT DISTINCT ws,
        |    md5(CAST(user_id AS VARCHAR)) AS hx FROM w),
        |r AS (SELECT ws, hx,
        |    row_number() OVER (PARTITION BY ws ORDER BY hx) AS rn
        |  FROM dv),
        |sk AS (SELECT ws, CAST(least(max(rn), 16) AS BIGINT) AS n_kept,
        |    min(CASE WHEN rn = 16 THEN hx END) AS kth_hash
        |  FROM r GROUP BY 1),
        |j AS (SELECT ex.ws, ex.n_events, ex.n_users_exact,
        |    sk.n_kept, sk.kth_hash,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split(substring(sk.kth_hash, 1, 12), ''),
        |        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |      (a, b) -> a * 16 + b) AS h48
        |  FROM ex JOIN sk USING (ws))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  n_events, n_users_exact, n_kept, kth_hash,
        |  15 * 281474976710656 // h48 AS est_users
        |FROM j ORDER BY window_start""".stripMargin,
    // st21: window digests (sorted-id string_agg) + the prefix chain
    // fold via list_prepend genesis + list_reduce md5 (the dotSql
    // pattern); closed windows only
    // st23: histogram rebuilt with the identical double-arithmetic
    // bucket map (bounds re-derived from DuckDB's own min/max scan),
    // cumulative-window quantile picks, closed windows only
    "st23_hist_quantiles" ->
      """WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS w,
        |    value
        |  FROM events),
        |bd AS (SELECT min(value) AS vmin, max(value) AS vmax
        |  FROM events),
        |cells AS MATERIALIZED (SELECT event_type, w,
        |    least(127, greatest(0, CAST(floor(
        |      (value - (SELECT vmin FROM bd)) * 128.0 /
        |      ((SELECT vmax FROM bd) - (SELECT vmin FROM bd)))
        |      AS BIGINT))) AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1, 2, 3),
        |cum AS (SELECT event_type, w, bucket, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type, w
        |      ORDER BY bucket) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type, w) AS n
        |  FROM cells),
        |q AS (SELECT event_type, w,
        |    max(n) AS n_events,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN bucket END) AS p50,
        |    min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bucket END)
        |      AS p90,
        |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket END)
        |      AS p99
        |  FROM cum GROUP BY 1, 2),
        |mx AS (SELECT event_type AS et, max(w) AS mxw
        |  FROM cells GROUP BY 1)
        |SELECT q.event_type,
        |  strftime(make_timestamp(q.w * 3600000000),
        |    '%Y-%m-%d %H:%M') AS window_start,
        |  CAST(q.n_events AS BIGINT) AS n_events,
        |  CAST(q.p50 AS BIGINT) AS p50_bucket,
        |  CAST(q.p90 AS BIGINT) AS p90_bucket,
        |  CAST(q.p99 AS BIGINT) AS p99_bucket
        |FROM q JOIN mx ON mx.et = q.event_type AND q.w < mx.mxw
        |ORDER BY q.event_type, window_start""".stripMargin,
    // st22: the sketch rebuilt cell-for-cell (pp37 portable md5 cells),
    // fixed 10-user probe grid, closed windows only (the st21 horizon);
    // width RE-DERIVED from the oracle's own distinct-user count
    // (greatest(16, U // 8) — integer division, exact in both engines)
    "st22_cms_monitor" ->
      """WITH ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS w,
        |    user_id AS uid
        |  FROM events),
        |wd AS (SELECT greatest(16, count(DISTINCT user_id) // 8) AS wth
        |  FROM events),
        |seeds AS (SELECT unnest(generate_series(0, 3)) AS sd),
        |cells AS MATERIALIZED (SELECT event_type, w, sd,
        |    CAST(('0x' || substr(md5(CAST(sd AS VARCHAR) || '#' ||
        |      CAST(uid AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % (SELECT wth FROM wd) AS cell,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ev CROSS JOIN seeds GROUP BY 1, 2, 3, 4),
        |mx AS (SELECT event_type AS et, max(w) AS mxw
        |  FROM cells GROUP BY 1),
        |probes AS (SELECT p * 50 AS uid, sd,
        |    CAST(('0x' || substr(md5(CAST(sd AS VARCHAR) || '#' ||
        |      CAST(p * 50 AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % (SELECT wth FROM wd) AS cell
        |  FROM (SELECT unnest(generate_series(0, 9)) AS p)
        |  CROSS JOIN seeds),
        |grid AS (SELECT DISTINCT event_type, w FROM cells),
        |est AS (SELECT g.event_type, g.w, pr.uid,
        |    min(coalesce(c.n, 0)) AS cms_est
        |  FROM grid g CROSS JOIN probes pr
        |  LEFT JOIN cells c ON c.event_type = g.event_type
        |    AND c.w = g.w AND c.sd = pr.sd AND c.cell = pr.cell
        |  GROUP BY 1, 2, 3)
        |SELECT e.event_type,
        |  strftime(make_timestamp(e.w * 3600000000), '%Y-%m-%d %H:%M')
        |    AS window_start,
        |  CAST(e.uid AS BIGINT) AS probe_user,
        |  CAST(e.cms_est AS BIGINT) AS cms_est
        |FROM est e JOIN mx ON mx.et = e.event_type AND e.w < mx.mxw
        |ORDER BY e.event_type, window_start, probe_user""".stripMargin,
    "st21_digest_ledger" ->
      """WITH cells AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS w,
        |    CAST(count(*) AS BIGINT) AS n,
        |    md5(string_agg(CAST(event_id AS VARCHAR), ','
        |      ORDER BY event_id)) AS dg
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT event_type AS et, max(w) AS mxw
        |  FROM cells GROUP BY 1),
        |pre AS (SELECT a.event_type, a.w, a.n, a.dg,
        |    list_reduce(list_prepend('GENESIS',
        |      list(b.dg ORDER BY b.w)),
        |      (x, y) -> md5(x || '|' || y)) AS chain
        |  FROM cells a JOIN cells b ON b.event_type = a.event_type
        |    AND b.w <= a.w
        |  GROUP BY a.event_type, a.w, a.n, a.dg)
        |SELECT p.event_type,
        |  strftime(make_timestamp(p.w * 3600000000), '%Y-%m-%d %H:%M')
        |    AS window_start,
        |  p.n AS n_events, p.dg AS window_digest, p.chain
        |FROM pre p JOIN mx ON mx.et = p.event_type AND p.w < mx.mxw
        |ORDER BY p.event_type, window_start""".stripMargin,
    // st20: the sequential decay fold replayed per user via prefix
    // lists + the proven scalar struct list_reduce (an accumulating
    // list-in-struct fold misbehaves in DuckDB); closed windows only
    "st20_decayed_talkers" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS w
        |  FROM events),
        |cells AS (SELECT user_id, w, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(w) AS mw FROM cells GROUP BY 1),
        |pre AS (SELECT a.user_id, a.w, a.c,
        |    list(struct_pack(s := b.c, w := b.w) ORDER BY b.w) AS pfx
        |  FROM cells a JOIN cells b
        |    ON b.user_id = a.user_id AND b.w <= a.w
        |  GROUP BY a.user_id, a.w, a.c),
        |f AS (SELECT user_id, w, c,
        |    list_reduce(pfx, (a, b) -> struct_pack(
        |      s := (a.s >> least(63, b.w - a.w)) + b.s, w := b.w)).s AS s
        |  FROM pre)
        |SELECT f.user_id,
        |  strftime(make_timestamp(f.w * 3600000000), '%Y-%m-%d %H:%M')
        |    AS window_start,
        |  f.c AS n_window, f.s AS decayed
        |FROM f JOIN mx ON mx.user_id = f.user_id
        |WHERE f.w < mx.mw
        |ORDER BY f.user_id, window_start""".stripMargin,
    // st19: causal seasonal alerts — cell grid, prior-day window,
    // crossing rank and the rank join all replayed; DIV operands
    // non-negative so // matches Spark's div
    "st19_seasonal_alerts" ->
      """WITH ev AS (SELECT event_id, ts, event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS hr
        |  FROM events),
        |rk AS (SELECT *, CAST(row_number() OVER
        |    (PARTITION BY event_type, day, hr ORDER BY ts, event_id)
        |    AS BIGINT) AS rk FROM ev),
        |cells AS (SELECT event_type, day, hr,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM rk GROUP BY 1, 2, 3),
        |pri AS (SELECT *,
        |    CAST(count(*) OVER pw AS BIGINT) AS np,
        |    CAST(COALESCE(sum(cnt) OVER pw, 0) AS BIGINT) AS sp
        |  FROM cells
        |  WINDOW pw AS (PARTITION BY event_type, hr ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |al AS (SELECT *, greatest(3, 2 * sp // np + 1) AS cstar
        |  FROM pri WHERE np >= 7 AND cnt >= greatest(3, 2 * sp // np + 1))
        |SELECT a.event_type, a.day, a.hr, a.cnt,
        |  a.np AS prior_days, a.sp AS prior_total, a.cstar AS cross_at,
        |  r.event_id AS cross_event_id
        |FROM al a JOIN rk r ON r.event_type = a.event_type
        |  AND r.day = a.day AND r.hr = a.hr AND r.rk = a.cstar
        |ORDER BY a.event_type, a.day, a.hr""".stripMargin,
    "st15_anomaly_alerts" ->
      """WITH c AS (SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |w AS (SELECT user_id, event_id, cents,
        |    CAST(count(*) OVER pw AS BIGINT) AS np,
        |    CAST(COALESCE(sum(cents) OVER pw, 0) AS BIGINT) AS sp,
        |    CAST(COALESCE(sum(cents * cents) OVER pw, 0) AS BIGINT) AS sp2
        |  FROM c
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |f AS (SELECT user_id, event_id, np,
        |    np >= 8 AND
        |      (np * cents - sp) * (np * cents - sp) >
        |      9 * (np * sp2 - sp * sp) AS alert
        |  FROM w)
        |SELECT user_id,
        |  CAST(count(*) FILTER (np >= 8) AS BIGINT) AS n_scored,
        |  CAST(count(*) FILTER (alert) AS BIGINT) AS n_alerts,
        |  min(event_id) FILTER (alert) AS first_alert_event,
        |  max(event_id) FILTER (alert) AS last_alert_event
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    "st14_funnel_stages" ->
      """WITH v AS (SELECT user_id,
        |    min(ts) FILTER (event_type = 'view') AS t_view
        |  FROM events GROUP BY 1),
        |c AS (SELECT e.user_id, v.t_view,
        |    min(e.ts) FILTER (e.event_type = 'click'
        |      AND e.ts >= v.t_view
        |      AND e.ts <= v.t_view + INTERVAL 24 HOUR) AS t_click
        |  FROM events e JOIN v USING (user_id) GROUP BY 1, 2),
        |p AS (SELECT e.user_id, c.t_view, c.t_click,
        |    min(e.ts) FILTER (e.event_type = 'purchase'
        |      AND e.ts >= c.t_click
        |      AND e.ts <= c.t_click + INTERVAL 24 HOUR) AS t_purchase
        |  FROM events e JOIN c USING (user_id) GROUP BY 1, 2, 3)
        |SELECT user_id,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS stage,
        |  strftime(t_view, '%Y-%m-%d %H:%M:%S') AS view_at,
        |  strftime(t_click, '%Y-%m-%d %H:%M:%S') AS click_at,
        |  strftime(t_purchase, '%Y-%m-%d %H:%M:%S') AS purchase_at
        |FROM p ORDER BY user_id""".stripMargin,
    "st13_user_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |g AS (SELECT user_id, event_type AS from_type, to_type,
        |    count(*) AS n
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2, 3),
        |r AS (SELECT user_id, from_type, to_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, from_type, to_type) AS rn,
        |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_trans
        |  FROM g)
        |SELECT user_id, n_trans, from_type AS top_from,
        |  to_type AS top_to, n AS top_n,
        |  n * 10000 // n_trans AS top_share_x10k
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "st12_top_talkers" ->
      """WITH c AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |    user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT ws, user_id, n,
        |    row_number() OVER (PARTITION BY ws
        |      ORDER BY n DESC, user_id) AS rk,
        |    CAST(sum(n) OVER (PARTITION BY ws) AS BIGINT)
        |      AS window_events,
        |    CAST(count(*) OVER (PARTITION BY ws) AS BIGINT) AS n_users
        |  FROM c)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  user_id AS top_user, n AS top_events, window_events, n_users
        |FROM r WHERE rk = 1 ORDER BY window_start""".stripMargin,
    "st11_late_audit" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
        |    event_id + CASE WHEN event_id % 13 = 0 THEN 200 ELSE 0 END
        |      AS arr
        |  FROM events),
        |w AS (SELECT user_id,
        |    greatest(0, coalesce(max(tsu) OVER (PARTITION BY user_id
        |        ORDER BY arr, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), tsu)
        |      - tsu) // 1000 AS late_ms
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late_ms > 3600000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late,
        |  CAST(max(late_ms) AS BIGINT) AS max_late_ms
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "st10_token_budget" ->
      """WITH docs AS (SELECT doc_id, source,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY doc_id) AS cum
        |  FROM docs)
        |SELECT source, count(*) AS n_seen,
        |  CAST(sum(CASE WHEN cum <= 1000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_admitted,
        |  CAST(sum(CASE WHEN cum <= 1000 THEN n_tokens ELSE 0 END)
        |    AS BIGINT) AS admitted_tokens
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // st24: the shared BPE training prefix feeds per-doc real counts;
    // the real budget re-derives via a scalar subquery; both gates ride
    // one per-source window (arrival clock ≡ doc_id order)
    "st24_real_budget" ->
      (graft.operators.TextAnalysis.bpeDocPrefixSql +
      """,c AS (SELECT d.doc_id, d.source,
        |    CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
        |      AS BIGINT) AS wtok,
        |    docsw.n_subwords AS stok
        |  FROM documents d JOIN docsw USING (doc_id)),
        |bud AS (SELECT 1000 * sum(stok) // sum(wtok) AS b FROM c),
        |g AS (SELECT source, doc_id, wtok, stok,
        |    sum(wtok) OVER (PARTITION BY source ORDER BY doc_id) AS cw,
        |    sum(stok) OVER (PARTITION BY source ORDER BY doc_id) AS cs
        |  FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_seen,
        |  CAST(sum(CASE WHEN cw <= 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS adm_ws,
        |  CAST(sum(CASE WHEN cs <= (SELECT b FROM bud) THEN 1 ELSE 0
        |    END) AS BIGINT) AS adm_real,
        |  CAST(sum(CASE WHEN cw <= 1000 AND cs > (SELECT b FROM bud)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS ws_only,
        |  CAST(sum(CASE WHEN cw > 1000 AND cs <= (SELECT b FROM bud)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS real_only,
        |  CAST(sum(CASE WHEN cw <= 1000 THEN stok ELSE 0 END)
        |    AS BIGINT) AS ws_real_tokens,
        |  CAST((SELECT b FROM bud) AS BIGINT) AS real_budget
        |FROM g GROUP BY source ORDER BY source""".stripMargin),
    "st09_neardup_admission" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, 1704067200 + doc_id * 7 AS arr_s
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    CASE WHEN instr(text, ' ') > 0
        |         THEN substring(text, instr(text, ' ') + 1)
        |         ELSE text END,
        |    1704067200 + doc_id * 7 + 60
        |  FROM documents),
        |tk AS (SELECT doc_id, arr_s, text,
        |    string_split(text, ' ') AS tk FROM corpus),
        |sh AS (SELECT doc_id, arr_s,
        |    list_distinct(CASE WHEN len(tk) < 3 THEN [text]
        |      ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in generate_series(1, len(tk) - 2)] END) AS sh
        |  FROM tk),
        |sig AS (SELECT doc_id, arr_s,
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
        |  SELECT doc_id, arr_s, 0 AS band, s0 || s1 AS bkey FROM sig
        |  UNION ALL SELECT doc_id, arr_s, 1, s2 || s3 FROM sig
        |  UNION ALL SELECT doc_id, arr_s, 2, s4 || s5 FROM sig
        |  UNION ALL SELECT doc_id, arr_s, 3, s6 || s7 FROM sig),
        |nv AS (SELECT doc_id,
        |    CASE WHEN prev_s IS NULL OR arr_s - prev_s > 600
        |         THEN 1 ELSE 0 END AS novel
        |  FROM (SELECT doc_id, arr_s,
        |      lag(arr_s) OVER (PARTITION BY band, bkey
        |        ORDER BY arr_s, doc_id) AS prev_s
        |    FROM banded))
        |SELECT doc_id, CAST(sum(novel) AS BIGINT) AS n_novel_bands,
        |  (sum(novel) = 4) AS admitted
        |FROM nv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "st08_new_users" ->
      """WITH ft AS (SELECT user_id, min(ts) AS fts FROM (
        |    SELECT user_id, ts,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1 GROUP BY user_id),
        |win AS (SELECT time_bucket(INTERVAL 5 MINUTE, fts) AS ws,
        |    count(*) AS n_new_users
        |  FROM ft GROUP BY 1)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  n_new_users,
        |  CAST(sum(n_new_users) OVER (ORDER BY ws
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM win ORDER BY window_start""".stripMargin,
    "st07_dedup_replay" ->
      """WITH rep AS (
        |  SELECT event_id, ts, event_type, value FROM events
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 2 MINUTE, event_type, value
        |  FROM events),
        |r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        |  FROM rep)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_admitted,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  round(sum(CASE WHEN rn = 1 THEN value END), 2) AS admitted_value
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // st25: planted erasure requests (id % 97), per-user min request
    // time, strict-after suppression, hourly ledger + running erased
    // count — integer micros end-to-end
    "st25_erasure_ledger" ->
      """WITH e AS (SELECT event_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS w
        |  FROM events),
        |era AS (SELECT user_id, min(tsu) AS erased_at FROM e
        |  WHERE event_id % 97 = 0 GROUP BY user_id),
        |fl AS (SELECT e.w,
        |    CASE WHEN e.event_id % 97 = 0 THEN 1 ELSE 0 END AS req,
        |    CASE WHEN era.erased_at IS NOT NULL
        |         AND e.tsu > era.erased_at THEN 1 ELSE 0 END AS sup
        |  FROM e LEFT JOIN era USING (user_id)),
        |pw AS (SELECT w, count(*) AS n_events,
        |    CAST(sum(req) AS BIGINT) AS n_requests,
        |    CAST(sum(sup) AS BIGINT) AS n_suppressed
        |  FROM fl GROUP BY w),
        |ew AS (SELECT erased_at // 3600000000 AS w,
        |    count(*) AS n_new FROM era GROUP BY 1),
        |led AS (SELECT pw.w, pw.n_events, pw.n_requests,
        |    pw.n_suppressed, coalesce(ew.n_new, 0) AS n_new
        |  FROM pw LEFT JOIN ew USING (w))
        |SELECT strftime(make_timestamp(w * 3600000000),
        |    '%Y-%m-%d %H:%M') AS window_start,
        |  n_events, n_requests, n_suppressed,
        |  n_suppressed * 10000 // n_events AS suppressed_x10k,
        |  CAST(sum(n_new) OVER (ORDER BY w) AS BIGINT)
        |    AS cum_erased_users
        |FROM led ORDER BY window_start""".stripMargin,
    "st01_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    // session_window merges while next_ts < prev_ts + gap (strict), so the
    // island break is gap >= 30 min (st01 breaks at > 30 min); end is
    // last_ts + gap.
    "st02_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM g
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |    AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "st04_stream_ingest" ->
      """WITH src AS (
        |  SELECT doc_id, text, lang, n_chars,
        |    make_timestamp((1704067200 + doc_id * 7) * 1000000) AS ts
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, n_chars,
        |    make_timestamp((1704067200 + doc_id * 7 + 60) * 1000000) AS ts
        |  FROM documents),
        |g AS (
        |  SELECT *,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |      AS n_tokens,
        |    md5(text) AS fp
        |  FROM src
        |  WHERE length(text) - length(replace(text, ' ', '')) + 1 >= 10
        |    AND n_chars >= 50),
        |d AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp
        |      ORDER BY ts, doc_id) AS rn FROM g) WHERE rn = 1)
        |SELECT
        |  strftime(make_timestamp(CAST(floor(epoch(ts) / 300) * 300
        |      AS BIGINT) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM d GROUP BY 1, 2 ORDER BY window_start, lang""".stripMargin,
    "st05_enrich_join" ->
      """SELECT
        |  strftime(make_timestamp(CAST(floor(epoch(ts) / 900) * 900
        |      AS BIGINT) * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  c_mktsegment, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY window_start, c_mktsegment""".stripMargin,
    "st03_interval_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
        |  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |  strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS view_time
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'view'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
        |ORDER BY click_id, view_id""".stripMargin,
    "st06_interval_outer" ->
      """SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
        |  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |  strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS view_time
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
        |ORDER BY click_id, view_id NULLS FIRST""".stripMargin)
}
