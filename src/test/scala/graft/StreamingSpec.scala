package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventsStreaming
import graft.streaming.EventsStreaming.{Event, SessionOut}

/** Structured Streaming specs: the streaming windowed agg and the
  * stateful sessionization must agree with their batch equivalents on
  * the same rows (MemoryStream drives the micro-batches synchronously).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val rows = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(3), 1, "click", 2.0),
    Event(3, ts(4), 2, "view", 3.0),
    Event(4, ts(40), 1, "click", 4.0), // 37-min gap → new session for user 1
    Event(5, ts(41), 2, "view", 5.0),
    Event(6, ts(44), 1, "click", 6.0))

  test("streaming windowedAgg matches batch groupBy on the same data") {
    val input = MemoryStream[Event](spark)
    input.addData(rows)
    val q = EventsStreaming.windowedAgg(input.toDF())
      .writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("win")
      .select("window_start", "event_type", "cnt", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val want = EventsStreaming.windowedAgg(rows.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming newUsersStream counts each user once, in their first window") {
    val input = MemoryStream[Event](spark)
    input.addData(rows) // users 1 and 2 both first appear in window 00:00
    val q = EventsStreaming.newUsersStream(input.toDF())
      .writeStream.format("memory").queryName("nu")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("nu")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got.values.sum == 2, s"each user exactly once: $got")
    assert(got == Map("2024-01-01 00:00:00.0" -> 2L), got)
  }

  test("stateful sessionize agrees with sessionizeBatch after flush") {
    val input = MemoryStream[Event](spark)
    input.addData(rows)
    val q = EventsStreaming.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every session's timeout so all
      // open sessions flush (sentinel user 999 is excluded from compare)
      input.addData(Event(99, ts(600), 999, "click", 0.0))
      q.processAllAvailable()
      input.addData(Event(100, ts(1200), 999, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sess").as[SessionOut].collect()
      .filter(_.user_id != 999)
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events))
      .toSet
    val want = EventsStreaming.sessionizeBatch(rows.toDF())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3))).toSet
    assert(got == want)
    // user 1: two sessions (gap 37 min), user 2: two sessions
    assert(got.map(_._1).toSeq.sorted == Seq(1L, 2L) ||
      got.size >= 3)
  }

  test("stream-stream interval join matches its batch execution") {
    val clicks = rows.filter(_.event_type == "click")
    val views = Seq(
      Event(10, ts(2), 1, "view", 0.0),   // within 4h of click@0 and @3? no: before 3 → joins click 1 only
      Event(11, ts(50), 1, "view", 0.0),  // joins clicks at 0*, 3*, 40, 44 (within 4h windows)
      Event(12, ts(500), 2, "view", 0.0)) // user 2 has no clicks → no join
    val ci = MemoryStream[Event](spark)
    val vi = MemoryStream[Event](spark)
    ci.addData(clicks); vi.addData(views)
    val q = EventsStreaming.intervalJoin(ci.toDF(), vi.toDF())
      .writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val got = spark.table("ij").collect().map(key).toSet
    val want = EventsStreaming
      .intervalJoin(clicks.toDF(), views.toDF()).collect().map(key).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("checkpointed restart stays exactly-once under replay (file sink)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft-out").toString
    val input = MemoryStream[Event](spark)
    def start() = EventsStreaming.dedupStream(input.toDF())
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", out)
      .outputMode("append").start()

    input.addData(rows.take(4))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // replay two already-committed events + genuinely new ones
    input.addData(rows.take(2))
    input.addData(rows.drop(4))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.length == ids.distinct.length, s"duplicated ids: $ids")
    assert(rows.take(4).map(_.event_id).toSet.subsetOf(ids.toSet), ids)
  }

  test("streaming ingestCuration (gate→dedup→window) matches the st04 batch face") {
    import StreamingSpec.Doc
    val sf = "/root/testdata/sf0.001"
    // the exact st04 corpus, streamed in arrival order (MemoryStream
    // preserves batch order; duplicates arrive 60 s after originals,
    // inside the 10-minute dedup horizon)
    val corpus = EventsStreaming.ingestCorpus(spark, sf)
      .orderBy("ts", "doc_id")
      .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getTimestamp(4))).toSeq
    val input = MemoryStream[Doc](spark)
    input.addData(corpus)
    val q = EventsStreaming.ingestCuration(input.toDF())
      .writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // push the watermark past every window so all of them emit
      input.addData(Doc(-1L, "flush " * 20, "en", 120,
        new Timestamp(corpus.last.ts.getTime + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ingest")
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("w"), col("lang"), col("n_docs"), col("total_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 <= "2024-01-01 01:30:00") // exclude the flush sentinel's window
      .toSet
    val want = graft.streaming.EventsStreaming
      .queries("st04_stream_ingest")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want)
    assert(got.size > 5) // several windows, not a degenerate comparison
  }

  test("st26: a foreachBatch stream appends per-micro-batch delta " +
      "segments whose merged serve is byte-identical to the batch face") {
    import StreamingSpec.Doc
    val sf = "/root/testdata/sf0.001"
    val C = graft.operators.Curation
    val B = graft.operators.Bucketing
    // yesterday's base index, published under the STREAM's own family
    val base = Tables.t(spark, sf, "documents")
      .filter(pmod(col("doc_id"), lit(10L)) =!= 7L)
      .select("doc_id", "text")
    B.publish(spark, "st26s", C.textSegment("tpost_base", "tstats_base", base))
    // today's crawl in arrival order, streamed in 3 real micro-batches
    val corpus = EventsStreaming.handoffCorpus(spark, sf)
      .orderBy("ts", "doc_id")
      .collect().map(r => Doc(r.getLong(0), r.getString(1),
        r.getString(2), r.getLong(3), r.getTimestamp(4))).toSeq
    val chunks = corpus.grouped(corpus.length / 3 + 1).toSeq
    assert(chunks.length >= 2, "corpus too small for a multi-batch probe")
    val input = MemoryStream[Doc](spark)
    val q = EventsStreaming.curatedAdmissions(input.toDF())
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the hand-off: each micro-batch's admissions append as their
        // own delta segment through the atomic carry-forward manifest
        if (!batch.isEmpty) {
          B.publish(spark, "st26s",
            C.textSegment(s"tpost_d$id", s"tstats_d$id", batch),
            carryForward = true)
          ()
        }
      }.start()
    try chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    finally q.stop()
    // segmentation is real: ≥2 stream-written delta segments
    val parts = B.publishedTables(spark, "st26s").keySet
    assert(parts.count(_.startsWith("tpost_d")) >= 2, parts)
    // and invisible to the serve: byte-identical to the batch face's
    // single-delta publish (collect order is bm25Serve's own total sort)
    val got = C.textServe(spark, B.publishedTables(spark, "st26s"),
        "tpost_", "tstats_")
      .collect().toSeq
    val want = SparkEntry.queries("st26_index_handoff")(spark, sf)
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      "stream-written delta segments served different bytes")
  }

  test("streaming near-dup band claims match the st09 batch face") {
    import StreamingSpec.NdDoc
    val sf = "/root/testdata/sf0.001"
    val corpus = EventsStreaming.neardupCorpus(spark, sf)
      .orderBy("ts", "doc_id")
      .collect().map(r => NdDoc(r.getLong(0), r.getString(1),
        r.getTimestamp(2))).toSeq
    // stream in two micro-batches split mid-corpus: claims must carry
    // across the batch boundary through the state store
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[NdDoc](spark)
    val q = EventsStreaming.neardupBandNovelty(input.toDF())
      .writeStream.format("memory").queryName("ndnovel")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ndnovel")
      .select("doc_id", "band", "novel").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
    // batch-face novelty flags (the pre-aggregation stage of st09)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("band", "bkey").orderBy("arr_s", "doc_id")
    val want = EventsStreaming.bandedDocs(
        EventsStreaming.neardupCorpus(spark, sf))
      .withColumn("arr_s", unix_timestamp(col("ts")))
      .withColumn("prev_s", lag(col("arr_s"), 1).over(w))
      .withColumn("novel",
        col("prev_s").isNull || col("arr_s") - col("prev_s") > 600)
      .select("doc_id", "band", "novel").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
    assert(got.size == want.size)
    assert(got == want)
    // per-doc admission (AND of the 4 bands) rejects every mutated copy
    val admitted = got.groupBy(_._1._1)
      .map { case (id, m) => id -> m.values.forall(identity) }
    assert(admitted.count { case (id, a) => id >= 1000000L && a } == 0)
    assert(admitted.count { case (id, a) => id < 1000000L && a } >=
      admitted.count(_._1 < 1000000L) * 9 / 10)
  }

  test("streaming token-budget gate matches the st10 batch face across batches") {
    val sf = "/root/testdata/sf0.001"
    val corpus = EventsStreaming.budgetCorpus(spark, sf)
      .orderBy("ts", "doc_id")
      .collect().map(r => EventsStreaming.BudgetDoc(r.getLong(0),
        r.getString(1), r.getLong(2), r.getTimestamp(3))).toSeq
    // two micro-batches split mid-corpus: the per-source cumulative
    // counter must carry across the state-store boundary
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.BudgetDoc](spark)
    val q = EventsStreaming.tokenBudgetStream(input.toDF(), 1000L)
      .writeStream.format("memory").queryName("tokbudget")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("tokbudget")
      .select("doc_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = EventsStreaming.tokenBudgetBatch(
        EventsStreaming.budgetCorpus(spark, sf), 1000L)
      .select("doc_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size == want.size)
    assert(got == want)
    // the gate really bites: every source admits some docs, rejects some
    val bySource = corpus.groupBy(_.source)
    bySource.foreach { case (src, docs) =>
      val flags = docs.map(d => got(d.doc_id))
      assert(flags.contains(true), s"$src admitted nothing")
      assert(flags.contains(false), s"$src rejected nothing (budget slack)")
    }
  }

  test("streaming erasure gate (st25) matches the batch flags across " +
      "state-store boundaries; ledger counts reconcile") {
    val sf = "/root/testdata/sf0.001"
    val ev = EventsStreaming.erasureCorpus(spark, sf)
    val ordered = ev.orderBy("tsu", "event_id").collect()
      .map(r => EventsStreaming.EraEv(r.getLong(0), r.getLong(1),
        r.getLong(2))).toSeq
    assert(ordered.exists(_.event_id % 97 == 0), "no planted requests")
    // event-time-ordered feed in 3 micro-batches (the stream face's
    // documented contract; a LATE request can't retract emitted rows)
    val chunks = ordered.grouped((ordered.length + 2) / 3).toSeq
    val input = MemoryStream[EventsStreaming.EraEv](spark)
    val q = EventsStreaming.erasureFlagStream(input.toDS())
      .writeStream.format("memory").queryName("eraflags")
      .outputMode("append").start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("eraflags")
      .select("event_id", "req", "sup").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
      .toMap
    val want = EventsStreaming.erasureFlagBatch(ev)
      .select("event_id", "req", "sup").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
      .toMap
    assert(got.size == want.size)
    assert(got == want)
    // suppression is real on this corpus, and the request rows pass
    assert(want.values.exists(_._2), "no suppressed events — degenerate")
    want.foreach { case (id, (req, sup)) =>
      if (req) assert(!sup || got(id)._2, s"request row $id")
    }
    // the ledger's totals reconcile with the flag truth
    val ledger = EventsStreaming.queries("st25_erasure_ledger")(spark, sf)
      .collect()
    assert(ledger.map(_.getLong(1)).sum == want.size)
    assert(ledger.map(_.getLong(3)).sum ==
      want.values.count(_._2).toLong)
    assert(ledger.last.getLong(5) ==
      EventsStreaming.erasureFlagBatch(ev).filter(col("req"))
        .select("user_id").distinct().count())
  }

  test("streaming REAL-token budget gate (st24) matches the batch " +
      "face across batches with the derived budget") {
    val sf = "/root/testdata/sf0.001"
    val corpus0 = EventsStreaming.realBudgetCorpus(spark, sf)
    val budget = EventsStreaming.realBudget(corpus0)
    assert(budget > 1000L, s"real budget $budget should exceed the " +
      "whitespace 1000 (fertility > 1)")
    // the SAME stream machinery st10 uses, fed the subword column
    val corpus = corpus0
      .select(col("doc_id"), col("source"),
        col("stok").as("n_tokens"), col("ts"))
      .orderBy("ts", "doc_id")
      .collect().map(r => EventsStreaming.BudgetDoc(r.getLong(0),
        r.getString(1), r.getLong(2), r.getTimestamp(3))).toSeq
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.BudgetDoc](spark)
    val q = EventsStreaming.tokenBudgetStream(input.toDF(), budget)
      .writeStream.format("memory").queryName("realbudget")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("realbudget")
      .select("doc_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = EventsStreaming.tokenBudgetBatch(
        EventsStreaming.realBudgetCorpus(spark, sf)
          .select(col("doc_id"), col("source"),
            col("stok").as("n_tokens"), col("ts")), budget)
      .select("doc_id", "admitted").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size == want.size)
    assert(got == want)
    // and the per-source report's admission counts agree with the gate
    val bySrc = EventsStreaming.queries("st24_real_budget")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val corpusSrc = EventsStreaming.realBudgetCorpus(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val admBySrc = got.toSeq.groupBy { case (id, _) => corpusSrc(id) }
      .map { case (src, xs) => src -> xs.count(_._2).toLong }
    assert(bySrc == admBySrc, "report adm_real differs from the gate")
  }

  test("streaming late-data audit matches the st11 batch face across batches") {
    val sf = "/root/testdata/sf0.001"
    val corpus = EventsStreaming.lateCorpus(spark, sf)
      .orderBy("arr", "event_id")
      .collect().map(r => EventsStreaming.LateEvent(r.getLong(0),
        r.getLong(1), r.getTimestamp(2), r.getLong(3))).toSeq
    // two micro-batches split mid-feed: the per-user high-water mark
    // must carry across the state-store boundary
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.LateEvent](spark)
    val q = EventsStreaming.lateAuditStream(input.toDF(), 3600000L)
      .writeStream.format("memory").queryName("lateaudit")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("lateaudit")
      .select("event_id", "late", "late_ms").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    val want = EventsStreaming.lateAuditBatch(
        EventsStreaming.lateCorpus(spark, sf), 3600000L)
      .select("event_id", "late", "late_ms").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(got.size == want.size)
    assert(got == want)
    // only planted delayed-flush events can be late, and some are
    val late = got.filter(_._2._1).keySet
    assert(late.nonEmpty, "planted delays should produce late events")
    assert(late.forall(_ % 13 == 0), s"non-planted event flagged late")
  }

  test("streaming windowed KMV state equals the st16 batch face exactly") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // split mid-feed: per-window sketch buffers merge across batches
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.windowDistinctStream(input.toDF())
      .writeStream.format("memory").queryName("wkmv")
      .outputMode("complete").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wkmv").collect()
      .map(r => (r.getTimestamp(0).toString,
        (r.getLong(1), Option(r.getString(2)), r.getLong(3)))).toMap
    val want = EventsStreaming.queries("st16_window_distinct")(spark, sf)
      .collect()
      .map(r => (r.getString(0),
        (r.getLong(3), Option(r.getString(4)), r.getLong(1)))).toMap
    // deterministic sketch state: stream ≡ batch byte-for-byte per
    // window — n_kept, k-th hash AND event counts
    assert(got.size == want.size, s"${got.size} vs ${want.size} windows")
    want.foreach { case (w, v) =>
      // batch face formats "yyyy-MM-dd HH:mm:ss"; Timestamp.toString
      // appends fractional seconds
      val k = got.keys.find(_.startsWith(w))
      assert(k.isDefined, s"window $w missing from stream output")
      assert(got(k.get) == v, s"window $w: ${got(k.get)} vs $v")
    }
  }

  test("streaming drift monitor equals the st17 batch face exactly") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // the frozen reference the production face would load from the prior
    // batch profile — here the corpus's own type distribution, so the
    // stream must reproduce the batch face byte-for-byte
    val ref = Tables.t(spark, sf, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // split mid-feed: per-window pivoted counters merge across batches
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.driftMonitorStream(input.toDF(), ref)
      .writeStream.format("memory").queryName("wdrift")
      .outputMode("complete").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wdrift").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = EventsStreaming.queries("st17_drift_monitor")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == want.size, s"${got.size} vs ${want.size} windows")
    want.foreach { case (w, v) =>
      assert(got.get(w).contains(v), s"window $w: ${got.get(w)} vs $v")
    }
    // the monitor must actually discriminate: not all windows identical
    assert(want.values.map(_._2).toSet.size > 1, "flat TV across windows")
  }

  test("streaming digest ledger matches the st21 chain batch face") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // split mid-feed: the chain head AND an open window buffer carry
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.ledgerStream(input.toDF())
      .writeStream.format("memory").queryName("ledger")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ledger").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    val want = EventsStreaming.queries("st21_digest_ledger")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    assert(got == want,
      s"stream-only: ${(got -- want).take(2)}; batch-only: ${(want -- got).take(2)}")
    // the chain must actually chain: consecutive windows of a type
    // never repeat a chain value, and digests are window-local
    val byType = want.groupBy(_._1)
    byType.values.foreach { ws =>
      assert(ws.map(_._5).size == ws.size, "chain collision")
    }
  }

  test("streaming CMS monitor matches the st22 sketch batch face") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // split mid-feed: an OPEN window's 4×w-cell sketch must survive the
    // state-store boundary; width derived exactly like the driver face
    val width = EventsStreaming.cmsWidth(Tables.t(spark, sf, "events")
      .select("user_id").distinct().count())
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.cmsStream(input.toDF(), width)
      .writeStream.format("memory").queryName("cmsmon")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cmsmon").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = EventsStreaming.queries("st22_cms_monitor")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
    // the CMS guarantee against the exact per-window truth: never an
    // undercount, and the probe set must include genuinely active users
    val truth = Tables.t(spark, sf, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("w"), col("user_id"))
      .collect()
      .groupBy(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .view.mapValues(_.length.toLong).toMap
    def fmtW(w: Long): String =
      java.time.LocalDateTime.ofEpochSecond(w * 3600L, 0,
        java.time.ZoneOffset.UTC).format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm"))
    val trueByKey = truth.map { case ((et, w, u), n) =>
      (et, fmtW(w), u) -> n }
    want.foreach { case (et, ws, u, est) =>
      val tn = trueByKey.getOrElse((et, ws, u), 0L)
      assert(est >= tn, s"CMS undercounted ($et,$ws,$u): $est < $tn")
    }
    assert(want.exists { case (et, ws, u, _) =>
      trueByKey.getOrElse((et, ws, u), 0L) > 0L }, "no active probe")
  }

  test("streaming histogram quantiles match the st23 batch face and " +
      "bracket the exact sorted quantiles") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    val (vmin, vmax) = (corpus.map(_.value).min, corpus.map(_.value).max)
    // split mid-feed: an OPEN window's 128-cell histogram must survive
    // the state-store boundary
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.histStream(input.toDF(), vmin, vmax)
      .writeStream.format("memory").queryName("histmon")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("histmon").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val want = EventsStreaming.queries("st23_hist_quantiles")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
    // the histogram pick must BRACKET the exact order statistic: the
    // true ⌈q·n⌉-th value's own bucket is exactly the reported bucket
    // (the histogram is lossless up to bucket granularity)
    def bucket(v: Double): Long =
      math.min(127L, math.max(0L,
        math.floor((v - vmin) * 128.0 / (vmax - vmin)).toLong))
    val byWin = corpus.groupBy(r => (r.event_type,
      (math.floorDiv(r.ts.getTime, 1000L) * 1000000L +
        r.ts.getNanos / 1000L) / 3600000000L))
    def fmtW(w: Long): String =
      java.time.LocalDateTime.ofEpochSecond(w * 3600L, 0,
        java.time.ZoneOffset.UTC).format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm"))
    var checked = 0
    want.foreach { case (et, ws, n, p50, p90, p99) =>
      byWin.find { case ((t, w), _) => t == et && fmtW(w) == ws }
        .foreach { case (_, rows) =>
          assert(n == rows.length.toLong, s"($et,$ws): n_events")
          val sorted = rows.map(_.value).sorted.map(bucket)
          def kth(num: Long, den: Long): Long =
            sorted(((num * n + den - 1) / den - 1).toInt)
          assert(p50 == kth(1, 2), s"($et,$ws): p50")
          assert(p90 == kth(9, 10), s"($et,$ws): p90")
          assert(p99 == kth(99, 100), s"($et,$ws): p99")
          checked += 1
        }
    }
    assert(checked > 0, "no window cross-checked against the exact sort")
  }

  test("streaming decayed counters match the st20 fold batch face") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.decayStream(input.toDF())
      .writeStream.format("memory").queryName("decayed")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("decayed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = EventsStreaming.queries("st20_decayed_talkers")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want,
      s"stream-only: ${(got -- want).take(3)}; batch-only: ${(want -- got).take(3)}")
    // decay must actually carry: some window's counter exceeds its own
    // event count (mass surviving the shift from earlier windows)
    assert(want.exists(x => x._4 > x._3), "no carried decayed mass")
  }

  test("streaming seasonal alerts match the st19 causal batch face") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // split mid-feed: per-(type, hour) baselines carry across batches
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.seasonalStream(input.toDF())
      .writeStream.format("memory").queryName("seasonal")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("seasonal").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = EventsStreaming.queries("st19_seasonal_alerts")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(7))).toSet
    // at-arrival firing needs no day close, so the sets agree EXACTLY
    assert(got == want,
      s"stream-only: ${got -- want}; batch-only: ${want -- got}")
    assert(want.nonEmpty, "degenerate: no seasonal alerts at sf0.001")
  }

  test("streaming anomaly alerts match the st15 prior-only batch face") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // split mid-feed: the running (n, S, S2) state carries across
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.anomalyStream(input.toDF())
      .writeStream.format("memory").queryName("anoms")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anoms").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventsStreaming.queries("st15_anomaly_alerts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    // per-user alert counts and first/last alert ids agree exactly
    val gotByUser = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    batch.foreach { case (u, nAlerts, first, last) =>
      val ids = gotByUser.getOrElse(u, Set.empty[Long])
      assert(ids.size.toLong == nAlerts, s"user $u: ${ids.size} vs $nAlerts")
      if (nAlerts > 0L) {
        assert(ids.min == first && ids.max == last, s"user $u bounds")
      }
    }
    // the corpus actually produces alerts (the rule isn't gating nothing)
    assert(got.nonEmpty, "no anomalies detected at this SF")
  }

  test("streaming attribution equals the st18 batch face byte-for-byte") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.Event(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).toSeq
    // split mid-feed: journeys spanning the boundary exercise the
    // carried open-journey state (touch counters + endpoint types)
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.Event](spark)
    val q = EventsStreaming.attributionStream(input.toDF())
      .writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3, t._4))
    val want = EventsStreaming.queries("st18_attribution")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.length == want.length,
      s"row count: stream ${got.length} vs batch ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"stream $g vs batch $w")
    }
    // non-degenerate: attributed and direct journeys both occur
    assert(want.exists(_._4 == "direct"), "no direct conversions")
    assert(want.exists(r => r._4 == "view" || r._4 == "click"),
      "no attributed touches")
  }

  test("streaming funnel reaches the st14 batch-face stage per user") {
    val sf = "/root/testdata/sf0.001"
    val corpus = EventsStreaming.transitionCorpus(spark, sf)
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.TransEvent(r.getLong(0),
        r.getLong(1), r.getTimestamp(2), r.getString(3))).toSeq
    // split mid-feed: funnels advancing across the boundary exercise the
    // carried step-timestamp state
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.TransEvent](spark)
    val q = EventsStreaming.funnelStream(input.toDF())
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("funnel").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // a stage advances at most once per user, ever
    emitted.groupBy(e => (e._1, e._2)).foreach { case (k, v) =>
      assert(v.length == 1, s"$k advanced ${v.length} times")
    }
    val gotStage = emitted.groupBy(_._1).view.mapValues { es =>
      val s = es.map(_._2).toSet
      if (s("purchase")) 3L else if (s("click")) 2L
      else if (s("view")) 1L else 0L
    }.toMap
    val want = EventsStreaming.queries("st14_funnel_stages")(spark, sf)
      .select("user_id", "stage").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    want.foreach { case (u, st) =>
      assert(gotStage.getOrElse(u, 0L) == st,
        s"user $u: stream ${gotStage.getOrElse(u, 0L)} vs batch $st")
    }
    assert(gotStage.keySet.subsetOf(want.keySet))
    // non-degenerate corpus: full conversions exist, partial ones too
    assert(want.values.exists(_ == 3L), "no user completed the funnel")
    assert(want.values.exists(st => st == 1L || st == 2L),
      "no partial funnels to distinguish stages")
  }

  test("streaming transitions match the st13 batch face across batches") {
    val sf = "/root/testdata/sf0.001"
    val corpus = EventsStreaming.transitionCorpus(spark, sf)
      .orderBy("ts", "event_id")
      .collect().map(r => EventsStreaming.TransEvent(r.getLong(0),
        r.getLong(1), r.getTimestamp(2), r.getString(3))).toSeq
    // split mid-feed: transitions spanning the boundary exercise the
    // carried last-event state
    val (b1, b2) = corpus.splitAt(corpus.length / 2)
    val input = MemoryStream[EventsStreaming.TransEvent](spark)
    val q = EventsStreaming.transitionsStream(input.toDF())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val got = keyed(spark.table("transitions")
      .select("user_id", "from_type", "to_type").collect())
    val want = keyed(EventsStreaming.transitionsBatch(
        EventsStreaming.transitionCorpus(spark, sf))
      .select("user_id", "from_type", "to_type").collect())
    assert(got == want)
    // cross-boundary carry really happened: some user's first b2 event
    // paired with their last b1 event
    val b2FirstByUser = b2.groupBy(_.user_id).view
      .mapValues(_.minBy(e => (e.ts.getTime, e.event_id))).toMap
    val b1LastByUser = b1.groupBy(_.user_id).view
      .mapValues(_.maxBy(e => (e.ts.getTime, e.event_id))).toMap
    val spanning = b2FirstByUser.keySet.intersect(b1LastByUser.keySet)
    assert(spanning.nonEmpty, "split produced no cross-boundary users")
  }

  test("left-outer interval join emits unmatched clicks once the watermark allows") {
    val clicks = rows.filter(_.event_type == "click") :+
      Event(20, ts(5), 3, "click", 0.0) // user 3 has no views → null row
    val views = Seq(
      Event(10, ts(2), 1, "view", 0.0),
      Event(11, ts(50), 1, "view", 0.0))
    val ci = MemoryStream[Event](spark)
    val vi = MemoryStream[Event](spark)
    ci.addData(clicks); vi.addData(views)
    val q = EventsStreaming.intervalJoinOuter(ci.toDF(), vi.toDF())
      .writeStream.format("memory").queryName("ijo")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // outer rows emit only after BOTH watermarks pass click_ts + 4h +
      // delay: push them far ahead, then run two more cycles (watermark
      // advances at batch end, emission happens the following batch)
      ci.addData(Event(98, ts(2000), 999, "click", 0.0))
      vi.addData(Event(99, ts(2000), 999, "view", 0.0))
      q.processAllAvailable()
      ci.addData(Event(96, ts(4000), 999, "click", 0.0))
      vi.addData(Event(97, ts(4000), 999, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))
    val got = spark.table("ijo").collect().map(key)
      .filter(_._3 != 999).toSet
    val want = EventsStreaming
      .intervalJoinOuter(clicks.toDF(), views.toDF()).collect().map(key).toSet
    assert(got == want)
    // the unmatched click surfaced exactly once, with a null view side
    assert(got.contains((20L, -1L, 3L)))
  }

  test("stream-static enrichJoin matches batch execution on the same rows") {
    val dim = Seq((1L, "AUTOMOBILE"), (2L, "BUILDING"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[Event](spark)
    input.addData(rows)
    val q = EventsStreaming.enrichJoin(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))
    val got = spark.table("enrich").collect().map(key).toSet
    val want = EventsStreaming.enrichJoin(rows.toDF(), dim)
      .collect().map(key).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // every event's user has a dim row here, so counts must cover all rows
    assert(got.toSeq.map(_._3).sum == rows.length)
  }

  test("dropDuplicatesWithinWatermark admits a replayed event once") {
    val input = MemoryStream[Event](spark)
    input.addData(rows)
    input.addData(rows.take(3)) // replay of already-seen ids, in-watermark
    val q = EventsStreaming.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val ids = spark.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == rows.map(_.event_id).sorted)
  }

  test("streaming MG top-talker matches the exact batch top per window") {
    // 3 hourly windows × 90 events: every 3rd event is the hot user 999
    // (1/3 of window mass), the rest spread over 60 distinct users —
    // dominance clears the MG k=8 guarantee margin, so the sketch's
    // top-1 must equal the exact top in every window
    val planted = for {
      h <- 0 until 3
      i <- 0 until 90
    } yield Event(h * 90L + i, ts(h * 60 + (i * 40) / 60),
      if (i % 3 == 0) 999L else (i % 60).toLong + 1L, "e", 1.0)
    val input = MemoryStream[Event](spark)
    input.addData(planted)
    val q = EventsStreaming.topTalkersStream(input.toDF())
      .writeStream.format("memory").queryName("toptalk")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("toptalk")
      .collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getLong(3))).sortBy(_._1.getTime)
    assert(got.length == 3)
    got.foreach { case (_, topKey, topEst, nEvents) =>
      assert(nEvents == 90L)
      assert(topKey == "999", s"MG top was $topKey")
      assert(topEst <= 30L, "MG must not overestimate")
      assert(topEst >= 30L - 90L / 9, "undercount beyond the MG bound")
    }
    // stream face ≡ the same function run as a batch plan
    val batch = EventsStreaming.topTalkersStream(planted.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1)))
      .sortBy(_._1.getTime)
    assert(batch.map(_._2).toSeq == got.map(_._2).toSeq)
  }
}

object StreamingSpec {
  /** st04 input row (class-level so spark.implicits can derive an Encoder). */
  case class Doc(doc_id: Long, text: String, lang: String,
      n_chars: Long, ts: java.sql.Timestamp)

  /** st09 input row. */
  case class NdDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)
}
