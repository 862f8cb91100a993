package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Drives the unified event-time transforms as REAL streams (MemoryStream +
  * watermark + processAllAvailable) and checks stream/batch equivalence —
  * the core Structured Streaming contract.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private val sample = Seq(
    (1L, ts(0), "click", 1.0),
    (1L, ts(4), "click", 2.0),
    (2L, ts(7), "view", 3.0),
    (1L, ts(21), "click", 4.0),
    (2L, ts(59), "view", 5.0))

  private def sampleDF = sample.toDF("user_id", "ts", "event_type", "value")

  test("tumblingStats over a real stream equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")

    val q = EventStreams.tumblingStats(
        stream.withWatermark("ts", "10 minutes"), "15 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .orderBy("win_start", "event_type").collect().map(_.toSeq)
      val batch = EventStreams.tumblingStats(sampleDF, "15 minutes")
        .orderBy("win_start", "event_type").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("tumblingArrayReduce over a real stream equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    graft.functions.ArrayReduce.registerAll(spark)
    val arr = array(col("user_id") % 3, col("value").cast("long"), lit(1L))
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.tumblingArrayReduce(
        stream.withWatermark("ts", "10 minutes"), "15 minutes", arr)
      .writeStream.outputMode("complete")
      .format("memory").queryName("reduce_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("reduce_out")
        .orderBy("win_start").collect().map(r => (r.get(0), r.getSeq[Long](1)))
      val batch = EventStreams.tumblingArrayReduce(sampleDF, "15 minutes", arr)
        .orderBy("win_start").collect().map(r => (r.get(0), r.getSeq[Long](1)))
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
      // element-wise sums, not row counts: first window holds rows
      // (1,1.0),(1,2.0),(2,3.0) → [1+1+2, 1+2+3, 3] = [4,6,3]
      assert(batch.head._2 == Seq(4L, 6L, 3L))
    } finally q.stop()
  }

  test("windowedKmv over a real stream equals batch; exact regime is exact") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedKmv(
        stream.withWatermark("ts", "10 minutes"), "15 minutes", col("user_id"),
        k = 4)
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("kmv_out")
        .orderBy("win_start").collect().map(_.toSeq)
      val batch = EventStreams.windowedKmv(
          sampleDF, "15 minutes", col("user_id"), k = 4)
        .orderBy("win_start").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
      // first window (10:00-10:15) holds users {1, 2} < k → exact:
      // n_kept = 2 and est_distinct = 2
      val w0 = batch.head
      assert(w0(1) == 2L && w0(3) == 2L)
    } finally q.stop()
  }

  test("windowedHll over a real stream equals batch; UDAF registers " +
      "equal the column-path global sketch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedHll(
        stream.withWatermark("ts", "10 minutes"), "15 minutes", col("user_id"),
        p = 8)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_out")
        .orderBy("win_start").collect().map(_.toSeq)
      val batch = EventStreams.windowedHll(
          sampleDF, "15 minutes", col("user_id"), p = 8)
        .orderBy("win_start").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
    } finally q.stop()
    // the JVM bit ops in HllSketch must be bit-identical to the
    // DIV/pmod/bin column formulation: one all-data window through the
    // UDAF == Profile.hllDistinct's (v_zero, t_fx) on the same keys
    val viaUdaf = EventStreams.windowedHll(
        sampleDF, "10 hours", col("user_id"), p = 8)
      .select("v_zero", "t_fx", "est_raw").collect().map(_.toSeq)
    val viaColumns = graft.operators.Profile.hllDistinct(
        sampleDF.select(col("user_id")), "user_id", p = 8)
      .select("v_zero", "t_fx", "est_raw").collect().map(_.toSeq)
    assert(viaUdaf.length == 1 && viaUdaf.toSeq == viaColumns.toSeq,
      "UDAF register math must replay the column path exactly")
  }

  test("windowedKll over a real stream equals batch; small windows are " +
      "exact type-1 quantiles") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedKll(
        stream.withWatermark("ts", "10 minutes"), "15 minutes", col("value"),
        col("user_id"), k = 16, qPermille = Seq(500, 1000))
      .writeStream.outputMode("complete")
      .format("memory").queryName("kll_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("kll_out")
        .orderBy("win_start", "q_pm").collect().map(_.toSeq)
      val batch = EventStreams.windowedKll(
          sampleDF, "15 minutes", col("value"), col("user_id"),
          k = 16, qPermille = Seq(500, 1000))
        .orderBy("win_start", "q_pm").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
      // every gate window fits in k=16 → exact read-offs: the first
      // window holds values (1,2,3) → p50 = 2.0, p100 = 3.0
      val w0 = batch.take(2)
      assert(w0.map(r => (r(1), r(2))).toSeq ==
        Seq((500L, 2.0), (1000L, 3.0)))
    } finally q.stop()
  }

  test("windowedKllWeighted over a real stream equals batch; small " +
      "windows are exact weighted type-1 quantiles") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    // weight = user_id + 1 (deterministic small integers ≥ 1)
    val wcol = col("user_id") + lit(1L)
    val q = EventStreams.windowedKllWeighted(
        stream.withWatermark("ts", "10 minutes"), "15 minutes", col("value"),
        wcol, col("user_id") * lit(100L) + col("value").cast("long"),
        k = 16, qPermille = Seq(500, 1000))
      .writeStream.outputMode("complete")
      .format("memory").queryName("kllw_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("kllw_out")
        .orderBy("win_start", "q_pm").collect().map(_.toSeq)
      val batch = EventStreams.windowedKllWeighted(
          sampleDF, "15 minutes", col("value"), wcol,
          col("user_id") * lit(100L) + col("value").cast("long"),
          k = 16, qPermille = Seq(500, 1000))
        .orderBy("win_start", "q_pm").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      assert(batch.nonEmpty)
      // first window: values (1,2,3) with weights (2,2,3) → T = 7,
      // p50 → rank 4 → cum(2,4,7) → v = 2.0; p100 → rank 7 → v = 3.0;
      // exact regime (3 rows ≤ k): l* = 0, n_sample = 3, t_total = 7
      val w0 = batch.take(2)
      assert(w0.map(r => (r(1), r(2), r(3), r(4), r(5))).toSeq ==
        Seq((500L, 2.0, 0L, 3L, 7L), (1000L, 3.0, 0L, 3L, 7L)))
    } finally q.stop()
  }

  test("windowedTopK over a real stream equals batch; exact regime counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedTopK(
        stream.withWatermark("ts", "10 minutes"), "15 minutes",
        col("event_type"), k = 4, topN = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("topk_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("topk_out")
        .orderBy("win_start", "rank").collect().map(_.toSeq)
      val batch = EventStreams.windowedTopK(
          sampleDF, "15 minutes", col("event_type"), k = 4, topN = 2)
        .orderBy("win_start", "rank").collect().map(_.toSeq)
      assert(streamed.toSeq == batch.toSeq)
      // first window holds click×2, view×1 — exact counts, count-desc order
      assert(batch.head(2) == "click" && batch.head(3) == 2L)
      assert(batch(1)(2) == "view" && batch(1)(3) == 1L)
    } finally q.stop()
  }

  test("interArrivalBurstiness: periodic stream pins -1e6, bursty positive") {
    def ev(ts: Seq[Int], typ: String) = ts.zipWithIndex.map { case (m, i) =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00"),
        typ, 0.0)
    }
    // periodic: gaps all 300 s → σ = 0 → B = −μ/μ = −1e6 exactly;
    // bursty: three events in one minute then a 100-minute silence and
    // again — σ > μ → B > 0
    val df = (ev(Seq(0, 5, 10, 15, 20), "tick") ++
      ev(Seq(0, 1, 2, 100, 101, 102, 200), "burst"))
      .toDF("event_id", "ts", "event_type", "value")
    val got = EventStreams.interArrivalBurstiness(df)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got("tick") == -1000000L, s"periodic must pin -1e6: $got")
    assert(got("burst") > 0L, s"bursty must be positive: $got")
  }

  test("windowedPercentiles: hand-computed explicit ranks") {
    // one 15-min window with values 1..4 → n = 4, p50 rank = ceil(2) = 2
    // → 200 cents, p95/p99 ranks = 4 → 400 cents
    val df = Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.map { case (v, i) =>
      (i.toLong, ts(i), "e", v)
    }.toDF("event_id", "ts", "event_type", "value")
    val got = EventStreams.windowedPercentiles(df, "15 minutes",
      col("value")).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 4L && r.getLong(2) == 200L &&
      r.getLong(3) == 400L && r.getLong(4) == 400L)
  }

  test("sessionize (session_window) in batch: gap semantics") {
    val got = EventStreams.sessionize(sampleDF, "10 minutes")
      .orderBy("user_id", "sess_start")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // user 1: events at 0,4 merge; 21 is its own session. user 2: 7 and 59 separate.
    assert(got.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L), (2L, 1L)))
  }

  test("statefulSessions (flatMapGroupsWithState) matches session_window batch") {
    val ds = sampleDF.as[EventStreams.Event]
    val got = EventStreams.statefulSessions(ds, gapMs = 10 * 60 * 1000)
      .collect().map(s => (s.user_id, s.n_events)).sorted.toSeq
    assert(got == Seq((1L, 1), (1L, 2), (2L, 1), (2L, 1)))
  }

  test("statefulSessions streaming: one session spans microbatches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    // EventTimeTimeout (watermark-driven timers): ProcessingTimeTimeout at
    // the default 0-interval trigger spins continuous no-data microbatches
    // to poll wall-clock timers — livelock in a processAllAvailable test
    val ds = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .as[EventStreams.Event]
    val q = EventStreams.statefulSessions(ds, gapMs = 10 * 60 * 1000,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    try {
      mem.addData((1L, ts(0), 1.0), (1L, ts(2), 2.0))
      q.processAllAvailable()
      mem.addData((1L, ts(5), 3.0)) // batch 2: still inside the 10-min gap
      q.processAllAvailable()
      // the open session must NOT have been emitted per batch (the old
      // state.remove()-every-invocation behavior split it at the boundary)
      assert(spark.table("sess_stream").count() == 0)
      // a far-future event for the same user closes the session by gap
      mem.addData((1L, ts(40), 4.0))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .collect().map(r => (r.getLong(0), r.getInt(3)))
      // ONE session with all 3 events — not three per-batch fragments
      assert(rows.toSeq == Seq((1L, 3)))
    } finally q.stop()
  }

  test("windowedRateLimit batch: first n per (key, window), id-pinned ties") {
    val df = Seq(
      ("click", ts(0), 1L), ("click", ts(1), 2L), ("click", ts(2), 3L),
      ("view", ts(3), 4L), ("click", ts(20), 5L))
      .toDF("key", "ts", "event_id")
    val got = EventStreams.windowedRateLimit(df, "15 minutes",
        col("key"), n = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
      .toSet
    // first window: click ids 1,2 kept (3 throttled), view id 4 kept;
    // second window restarts the budget: click id 5 kept at seq 1
    assert(got == Set(("click", 1L, 1L), ("click", 2L, 2L),
      ("view", 4L, 1L), ("click", 5L, 1L)))
  }

  test("streamingWindowedRateLimit: batch-equal in order, cross-batch cap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, Long)]
    val ds = mem.toDF().toDF("key", "ts", "event_id")
      .withWatermark("ts", "0 seconds")
      .as[EventStreams.RateEvent]
    val q = EventStreams.streamingWindowedRateLimit(ds,
        widthMs = 15 * 60 * 1000L, n = 2,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout
          .EventTimeTimeout())
      .writeStream.outputMode("append")
      .format("memory").queryName("rl_stream").start()
    try {
      mem.addData(("click", ts(0), 1L), ("click", ts(1), 2L),
        ("click", ts(2), 3L), ("view", ts(3), 4L))
      q.processAllAvailable()
      // batch 2, SAME window: the per-(key, window) state must remember
      // the budget is spent — id 5 dropped, not re-admitted
      mem.addData(("click", ts(4), 5L))
      q.processAllAvailable()
      val got = spark.table("rl_stream")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
        .toSet
      assert(got == Set(("click", 1L, 1L), ("click", 2L, 2L),
        ("view", 4L, 1L)),
        s"cross-batch budget must hold: $got")
      // in-order single-batch output equals the batch twin
      val batch = EventStreams.windowedRateLimit(
          Seq(("click", ts(0), 1L), ("click", ts(1), 2L),
            ("click", ts(2), 3L), ("view", ts(3), 4L))
            .toDF("key", "ts", "event_id"), "15 minutes", col("key"), n = 2)
        .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4)))
        .toSet
      assert(batch == Set(("click", 1L, 1L), ("click", 2L, 2L),
        ("view", 4L, 1L)))
    } finally q.stop()
  }

  test("streamingDedup drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventStreams.streamingDedup(stream, "1 hour", "event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((1L, ts(0), "a", 1.0), (2L, ts(1), "b", 2.0),
        (1L, ts(2), "a-dup", 3.0), (3L, ts(3), "c", 4.0), (2L, ts(4), "b-dup", 5.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming packer: open sequences carry across microbatches, equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 40 docs over 2 shards, varied token counts; fed in id order split
    // across two microbatches mid-sequence
    val docs = (0L until 40L).map(i => (i % 2, i, 1L + (i * 37L) % 200L))
    val mem = MemoryStream[(Long, Long, Long)]
    val q = EventStreams.streamingPack(mem.toDS(), budget = 256L)
      .writeStream.outputMode("append")
      .format("memory").queryName("pack_out").start()
    try {
      mem.addData(docs.take(15): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(15): _*)
      q.processAllAvailable()
      val got = spark.table("pack_out")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      // the batch packer on the same corpus (same shard fn: id % 2)
      val expect = graft.operators.Scale.packSequences(
        docs.map { case (_, id, n) => (id, n) }.toDF("doc_id", "ntok"),
        "doc_id", "ntok", budget = 256L, shards = 2)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(got == expect)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("stream-static join: every microbatch enriches against the dim table") {
    implicit val sqlCtx = spark.sqlContext
    val dims = Seq((0L, "bronze"), (1L, "silver"), (2L, "gold"))
      .toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDS().toDF("event_id", "user_id")
      .join(dims, Seq("user_id"), "left") // static side re-read per batch
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    try {
      mem.addData((10L, 1L), (11L, 2L))
      q.processAllAvailable()
      mem.addData((12L, 9L)) // unknown user → null tier, row still emitted
      q.processAllAvailable()
      val got = spark.table("enriched")
        .collect().map(r => (r.getLong(1), Option(r.getString(2)))).toSet
      assert(got == Set((10L, Some("silver")), (11L, Some("gold")),
        (12L, None)))
    } finally q.stop()
  }

  test("transformWithState running counts: state persists across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider; scope
    // the conf to this query and restore the default afterwards
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, Long)]
    val q = EventStreams.runningCounts(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("twc_out").start()
    try {
      mem.addData((1L, 10L), (1L, 11L), (2L, 20L))
      q.processAllAvailable()
      mem.addData((1L, 12L), (2L, 21L), (3L, 30L))
      q.processAllAvailable()
      val got = spark.table("twc_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      // user 1's counter continues 1,2 → 3 across batches; user 3 starts at 1
      assert(got == Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
        (2L, 20L, 1L), (2L, 21L, 2L), (3L, 30L, 1L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("stream-stream LEFT OUTER interval join: null rows only after expiry") {
    implicit val sqlCtx = spark.sqlContext
    val clickMem = MemoryStream[(Long, Timestamp, Long)]
    val purchMem = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStreams.intervalJoinLeftOuter(
        clickMem.toDF().toDF("event_id", "ts", "user_id"),
        purchMem.toDF().toDF("user_id", "ts", "value"),
        "10 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("loj_out").start()
    try {
      // click 1 matches; click 3 has NO purchase in its window
      clickMem.addData((1L, ts(10), 100L), (3L, ts(10), 200L))
      purchMem.addData((100L, ts(5), 9.0))
      q.processAllAvailable()
      val early = spark.table("loj_out").collect()
      // the unmatched click must NOT emit yet — a later purchase could
      // still arrive while its window is within the watermark
      assert(early.map(_.getLong(0)).toSet == Set(1L))
      // advancing both watermarks past click 3's window releases the
      // null-joined row
      clickMem.addData((9L, ts(50), 100L))
      purchMem.addData((100L, ts(50), 1.0))
      q.processAllAvailable()
      val late = spark.table("loj_out")
        .collect().map(r => (r.getLong(0), r.isNullAt(3))).toMap
      assert(late.contains(3L) && late(3L),
        "expired unmatched click emits with null purchase columns")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val clickMem = MemoryStream[(Long, Timestamp, Long)]
    val purchMem = MemoryStream[(Long, Timestamp, Double)]
    val clicks = clickMem.toDF().toDF("event_id", "ts", "user_id")
    val purchases = purchMem.toDF().toDF("user_id", "ts", "value")

    val q = EventStreams.intervalJoin(clicks, purchases, "1 hour", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("ij_out").start()
    try {
      clickMem.addData((1L, ts(10), 100L), (2L, ts(30), 100L), (3L, ts(10), 200L))
      purchMem.addData((100L, ts(5), 9.0), (100L, ts(25), 7.0), (200L, ts(50), 5.0))
      q.processAllAvailable()
      val streamed = spark.table("ij_out")
        .select("click_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      // click 1 @10 sees purchase @5 (within 10 min); click 2 @30 sees @25;
      // click 3 @10 sees nothing (user 200's purchase is later)
      assert(streamed == Seq((1L, 9.0), (2L, 7.0)))

      val batch = EventStreams.intervalJoin(
        Seq((1L, ts(10), 100L), (2L, ts(30), 100L), (3L, ts(10), 200L))
          .toDF("event_id", "ts", "user_id"),
        Seq((100L, ts(5), 9.0), (100L, ts(25), 7.0), (200L, ts(50), 5.0))
          .toDF("user_id", "ts", "value"),
        "1 hour", "10 minutes")
        .select("click_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming session_window with watermark runs end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.sessionize(stream.withWatermark("ts", "1 hour"), "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      assert(spark.table("session_out").count() == 4)
    } finally q.stop()
  }

  test("watermark drops late events from streaming tumbling aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.tumblingStats(
        stream.withWatermark("ts", "10 minutes"), "15 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: events up to 10:59 → watermark advances to 10:49
      mem.addData((1L, ts(0), "click", 1.0), (2L, ts(59), "view", 2.0))
      q.processAllAvailable()
      // batch 2: an event at 10:01 — far behind the watermark → dropped;
      // its 15-min window [10:00,10:15) already finalized with n=1
      mem.addData((3L, ts(1), "click", 99.0))
      q.processAllAvailable()
      // close remaining windows so append mode emits them
      mem.addData((4L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 0.0))
      q.processAllAvailable()
      val firstWin = spark.table("late_out")
        .where(col("win_start") === Timestamp.valueOf("2024-01-01 10:00:00"))
        .select("n").collect().map(_.getLong(0))
      assert(firstWin.toSeq == Seq(1L),
        s"late event must not reopen the finalized window: ${firstWin.toSeq}")
    } finally q.stop()
  }

  test("watermark drops late events from windowedKmv") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedKmv(
        stream.withWatermark("ts", "10 minutes"), "15 minutes", col("user_id"),
        k = 8)
      .writeStream.outputMode("append")
      .format("memory").queryName("kmv_late_out").start()
    try {
      // batch 1: users {1, 2} in [10:00,10:15) + a 10:59 event that
      // advances the watermark to 10:49, finalizing the first window
      mem.addData((1L, ts(0), "click", 1.0), (2L, ts(4), "click", 1.0),
        (9L, ts(59), "view", 2.0))
      q.processAllAvailable()
      // batch 2: a NEW user at 10:01 — behind the watermark → dropped;
      // the finalized window's sketch must NOT grow to 3
      mem.addData((3L, ts(1), "click", 99.0))
      q.processAllAvailable()
      mem.addData((4L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 0.0))
      q.processAllAvailable()
      val firstWin = spark.table("kmv_late_out")
        .where(col("win_start") === Timestamp.valueOf("2024-01-01 10:00:00"))
        .select("est_distinct").collect().map(_.getLong(0))
      assert(firstWin.toSeq == Seq(2L),
        s"late key must not grow the finalized sketch: ${firstWin.toSeq}")
    } finally q.stop()
  }

  test("watermark drops late events from windowedTopK") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type", "value")
    val q = EventStreams.windowedTopK(
        stream.withWatermark("ts", "10 minutes"), "15 minutes",
        col("event_type"), k = 8, topN = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("topk_late_out").start()
    try {
      // batch 1: click x2 in the first window, plus the watermark-advancer
      mem.addData((1L, ts(0), "click", 1.0), (2L, ts(4), "click", 1.0),
        (9L, ts(59), "view", 2.0))
      q.processAllAvailable()
      // batch 2: a late click at 10:01 → dropped; finalized counters
      // must stay click=2 with no new terms
      mem.addData((3L, ts(1), "click", 99.0))
      q.processAllAvailable()
      mem.addData((4L, Timestamp.valueOf("2024-01-01 12:00:00"), "view", 0.0))
      q.processAllAvailable()
      val firstWin = spark.table("topk_late_out")
        .where(col("win_start") === Timestamp.valueOf("2024-01-01 10:00:00"))
        .orderBy("rank")
        .select("term", "cnt").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(firstWin.toSeq == Seq(("click", 2L)),
        s"late event must not bump the finalized counters: ${firstWin.toSeq}")
    } finally q.stop()
  }

  test("streamingIvfRefresh: appends stay serveable, new centroid opens list") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-stream").toString + "/idx"
    // initial corpus: ids 0 and 50 are the id-derived centroids
    val init = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (50L, Seq(0.0f, 1.0f)), (51L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q = Similarity.streamingIvfRefresh(stream, "vec_id", "embedding", dir)
    try {
      mem.addData((2L, Seq(0.95f, 0.05f)), (52L, Seq(0.05f, 0.95f)))
      q.processAllAvailable()
      // batch 2 carries a NEW centroid-eligible id — must self-assign and
      // open its own inverted list in the same append
      mem.addData((100L, Seq(0.7f, 0.7f)), (101L, Seq(0.71f, 0.69f)))
      q.processAllAvailable()
      val idx = spark.read.parquet(dir)
        .withColumn("centroid_id", col("centroid_id").cast("long"))
      assert(idx.count() == 8)
      val byId = idx.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
        .toMap
      assert(byId(2L) == 0L && byId(52L) == 50L,
        s"batch rows must join their nearest existing list: $byId")
      assert(byId(100L) == 100L && byId(101L) == 100L,
        s"new centroid must self-assign and capture its neighbors: $byId")
      // the refreshed layout serves through the standard probe path
      val knn = Similarity.knnIvfIndexed(idx, "vec_id", "embedding",
        queryId = 101L, k = 1, nprobe = 2)
      assert(knn.collect()(0).getLong(0) == 100L)
    } finally q.stop()
  }

  test("appendIvfBatch: per-batch input bounded by codebook, not index size") {
    import graft.operators.Similarity
    import org.apache.spark.sql.graftshim.GraftShim
    val dir = java.nio.file.Files
      .createTempDirectory("ivf-bounded").toString + "/idx"
    // 4000-vector index, centroidEvery=50 → 80 centroids: the gap between
    // "reads the codebook" (~80 rows) and "re-scans the index" (4000 rows)
    // is wide enough that the listener-measured bound below can't pass by
    // accident
    val nIdx = 4000
    val init = (0 until nIdx).map(i =>
        (i.toLong, Seq((i % 17).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    val b1 = Seq((100001L, Seq(1.0f, 2.0f)), (100002L, Seq(3.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // first maintenance call bootstraps the sidecar (one index scan, by
    // design); every later call must read O(centroids)
    Similarity.appendIvfBatch(b1, "vec_id", "embedding", dir)
    // no centroid-ELIGIBLE ids in these batches: a new centroid is append-
    // only in the incremental path (existing rows never re-assign) but
    // retroactive in a from-scratch rewrite, so the map-equality check
    // below only holds — and should only be claimed — for a fixed codebook
    // (the new-centroid path is covered by the serveability test above)
    val b2 = Seq((100003L, Seq(2.0f, 2.0f)), (100049L, Seq(0.5f, 9.0f)))
      .toDF("vec_id", "embedding")
    val (_, recs) = GraftShim.recordsReadDuring(spark) {
      Similarity.appendIvfBatch(b2, "vec_id", "embedding", dir)
    }
    assert(recs > 0, "listener saw no input at all — measurement broke")
    assert(recs < nIdx / 2,
      s"appendIvfBatch read $recs records — O(index), the pre-r10 full " +
        s"rescan shape; must be bounded by codebook (~80) + batch")
    // and the incremental codebook gives the SAME assignments the full
    // index-derived recipe would: replay the two batches through the
    // from-scratch writer and compare (vec_id → centroid_id) maps
    val incremental = spark.read.parquet(dir)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir2 = java.nio.file.Files
      .createTempDirectory("ivf-bounded2").toString + "/idx"
    Similarity.writeIvfIndex(init.unionByName(b1).unionByName(b2),
      "vec_id", "embedding", dir2)
    val scratch = spark.read.parquet(dir2)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incremental == scratch,
      "incremental-codebook assignments must equal the from-scratch recipe")
  }

  test("streamingIvfRefresh: replayed batch after kill/restart appends no dups") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("ivf-restart").toString
    val dir = root + "/idx"
    val ckpt = root + "/ckpt"
    val init = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (50L, Seq(0.0f, 1.0f)), (51L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q1 = Similarity.streamingIvfRefresh(stream, "vec_id", "embedding",
      dir, checkpointLocation = Some(ckpt))
    try {
      mem.addData((2L, Seq(0.95f, 0.05f)), (52L, Seq(0.05f, 0.95f)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(dir).count() == 6)
    // simulate a crash AFTER the batch's parquet append committed but
    // BEFORE the engine recorded the commit: delete the batch's entry
    // from the checkpoint's commit log — on restart foreachBatch REPLAYS
    // that batch id with the same data (the documented replay model), and
    // the committed-batch marker must turn the replay into a no-op append
    val commitDir = new java.io.File(ckpt + "/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val lastId = commits.last.getName
    assert(commits.last.delete())
    // the local checksum FS keeps a .crc sibling per file — leave it
    // behind and the engine's re-write of the commit fails on rename
    val crc = new java.io.File(commitDir, s".$lastId.crc")
    if (crc.exists()) crc.delete()
    val q2 = Similarity.streamingIvfRefresh(stream, "vec_id", "embedding",
      dir, checkpointLocation = Some(ckpt))
    try {
      q2.processAllAvailable()
      val idx = spark.read.parquet(dir)
      assert(idx.count() == 6,
        "replayed committed batch must be skipped, not appended twice")
      assert(idx.select("vec_id").distinct().count() == 6)
      // and the stream keeps making progress after the replay
      mem.addData((3L, Seq(0.8f, 0.2f)))
      q2.processAllAvailable()
      assert(spark.read.parquet(dir).count() == 7)
    } finally q2.stop()
  }

  test("streamingWindowedRateLimit: NoTimeout on a streaming input is rejected") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.RateEvent
    val mem = MemoryStream[(String, Timestamp, Long)]
    val stream = mem.toDF().toDF("key", "ts", "event_id")
      .as[RateEvent]
    // under NoTimeout state is dropped per micro-batch, so a streaming
    // caller would silently re-admit n events per (key, window) in every
    // batch — the operator refuses up front (ADVICE r9)
    val ex = intercept[IllegalArgumentException] {
      EventStreams.streamingWindowedRateLimit(stream, widthMs = 60000L, n = 2)
    }
    assert(ex.getMessage.contains("EventTimeTimeout"))
  }

  test("streamingMinhashDedup: signature-identical dup dropped, fresh docs pass") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val dup = "  " + (1 to 40).map(i => s"w$i").mkString("   ") // same tokens
    val far = (100 to 140).map(i => s"w$i").mkString(" ")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingMinhashDedup(
      stream, "doc_id", "text", "ts", watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("mh_dedup_out").start()
    try {
      mem.addData((1L, ts(0), base))
      q.processAllAvailable() // doc 1 claims all its band buckets first
      mem.addData((2L, ts(1), dup), (3L, ts(2), far))
      q.processAllAvailable()
      val survivors = spark.table("mh_dedup_out").select("doc_id")
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      // doc 2 tokenizes identically to doc 1 → identical signature → every
      // bucket already claimed → dropped; disjoint doc 3 claims fresh
      // buckets and survives
      assert(survivors == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streamingMinhashDedup: short docs survive via exact-text claims") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.streamingMinhashDedup(
      stream, "doc_id", "text", "ts", watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("mh_dedup_short").start()
    try {
      // one-word and empty docs can't shingle: before the band -1 exact
      // tier they emitted no claims and were silently dropped as if dups
      mem.addData((1L, ts(0), "hello"), (2L, ts(1), ""),
        (3L, ts(2), "hello"), (4L, ts(3), "world"))
      q.processAllAvailable()
      val survivors = spark.table("mh_dedup_short").select("doc_id")
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      // doc 3 is an exact dup of doc 1 → dropped; unique 1, 2, 4 survive
      assert(survivors == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("dedupedParquetSink: appended batches keep only never-seen keys") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toFile
    val out = new java.io.File(dir, "data").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val q = EventStreams.dedupedParquetSink(stream, "doc_id", out, ckpt)
    try {
      mem.addData((1L, ts(0), "a"), (2L, ts(1), "b"), (1L, ts(2), "a-dup"))
      q.processAllAvailable()
      mem.addData((2L, ts(3), "b-dup"), (3L, ts(4), "c"))
      q.processAllAvailable()
      val ids = spark.read.parquet(out).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // each key exactly once across batches
    } finally q.stop()
  }

  test("cohortRetention: hand-checked weekly matrix, pre-cohort weeks excluded") {
    import spark.implicits._
    def t(d: String) = java.sql.Timestamp.valueOf(s"$d 12:00:00")
    // weeks: 2024-01-01 (Mon) and 2024-01-08. u1 signs up wk0, active wk0+wk1;
    // u2 signs up wk0, active wk0 only; u3 signs up wk1; u4 never signs up
    // (excluded); u1 also has PRE-cohort activity that must not count
    val ev = Seq(
      (1L, "view", t("2023-12-25"), 1L), // pre-cohort activity
      (1L, "signup", t("2024-01-01"), 2L),
      (1L, "click", t("2024-01-10"), 3L),
      (2L, "signup", t("2024-01-02"), 4L),
      (3L, "signup", t("2024-01-08"), 5L),
      (4L, "view", t("2024-01-03"), 6L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val r = graft.streaming.EventStreams.cohortRetention(ev, "signup")
      .collect().map(x => (x.getDate(0).toString, x.getLong(1)) ->
        (x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r == Map(
      ("2024-01-01", 0L) -> ((2L, 2L, 1.0)),  // u1+u2 signup week
      ("2024-01-01", 1L) -> ((1L, 2L, 0.5)),  // only u1 retained
      ("2024-01-08", 0L) -> ((1L, 1L, 1.0)))) // u3's cohort
  }

  test("funnel: greedy in-order matching, span bound, out-of-order excluded") {
    import spark.implicits._
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1 completes A→B in order; user 2 has B before A (no reach past
    // A); user 3's B lands outside the 30-minute span of their A
    val ev = Seq(
      (1L, "A", t(0), 10L), (1L, "B", t(5), 11L),
      (2L, "B", t(0), 20L), (2L, "A", t(5), 21L),
      (3L, "A", t(0), 30L), (3L, "B", t(40), 31L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val r = graft.streaming.EventStreams
      .funnel(ev, Seq("A", "B"), maxSpan = Some("30 minutes"))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r == Map(1L -> 3L, 2L -> 1L)) // 3 users reach A, only user 1 reaches B
  }

  test("rateAnomaly: trailing-mean ratio in micro-units, full-baseline " +
      "warm-up gates the flag") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("click", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // hours 0..3 at 2 events/hour, hour 4 bursts to 10 (5x the mean)
    val ev = (t(0, 2) ++ t(1, 2) ++ t(2, 2) ++ t(3, 2) ++ t(4, 10))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams
      .rateAnomaly(ev, bucketSec = 3600L, trail = 3, thresholdMicro = 3000000L)
      .collect().map(x => x.getLong(1) ->
        (x.getLong(2), x.getLong(3), x.getLong(4),
          if (x.isNullAt(5)) -1L else x.getLong(5), x.getBoolean(6))).toMap
    // Timestamp.valueOf is JVM-tz-dependent — anchor on the observed
    // first bucket instead of a hardcoded UTC epoch
    val h0 = r.keys.min
    // hour 0: no baseline → null ratio, no flag
    assert(r(h0) == ((2L, 0L, 0L, -1L, false)))
    // hour 2: baseline = hours 0..1 (2 of 3 buckets) → ratio = 2*2e6/4 =
    // 1e6, but base_cnt < trail → never flags even if ratio were high
    assert(r(h0 + 7200) == ((2L, 4L, 2L, 1000000L, false)))
    // hour 4: full 3-bucket baseline (hours 1..3, sum 6) → ratio =
    // 10*3*1e6/6 = 5e6 > 3e6 → flagged
    assert(r(h0 + 14400) == ((10L, 6L, 3L, 5000000L, true)))
  }

  test("ewmaAnomaly: hand-folded sequence, warm-up gate, burst flags") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("click", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // hours 0..2 at 8/hour, hour 3 bursts to 80; halfK=3 → α=1/8, warm=2
    val ev = (t(0, 8) ++ t(1, 8) ++ t(2, 8) ++ t(3, 80))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams
      .ewmaAnomaly(ev, bucketSec = 3600L, halfK = 3, warm = 2,
        thresholdMicro = 2500000L)
      .collect().map(x => x.getLong(1) ->
        (x.getLong(2), x.getLong(3),
          if (x.isNullAt(4)) -1L else x.getLong(4), x.getBoolean(5))).toMap
    val h0 = r.keys.min
    // hour 0: seed s=8e6, no prior → null ratio, warm-up anyway
    assert(r(h0) == ((8L, 8000000L, -1L, false)))
    // hour 1: Δ=0, s stays 8e6; ratio = 8e12 div 8e6 = 1e6; pos 1 < warm
    assert(r(h0 + 3600) == ((8L, 8000000L, 1000000L, false)))
    // hour 2: same ratio, past warm-up but 1e6 < 2.5e6 → no flag
    assert(r(h0 + 7200) == ((8L, 8000000L, 1000000L, false)))
    // hour 3: ratio = 80e12 div 8e6 = 1e7 > 2.5e6 → spike;
    // s = 8e6 + (72e6 div 8) = 17e6
    assert(r(h0 + 10800) == ((80L, 17000000L, 10000000L, true)))
  }

  test("seasonality: ISO day-of-week anchoring and uniform index") {
    import spark.implicits._
    // 2024-01-01 is a Monday; plant 3 events Mon 09h, 1 event Tue 14h
    val ev = Seq(
      ("click", java.sql.Timestamp.valueOf("2024-01-01 09:00:01")),
      ("click", java.sql.Timestamp.valueOf("2024-01-01 09:10:02")),
      ("click", java.sql.Timestamp.valueOf("2024-01-01 09:20:03")),
      ("click", java.sql.Timestamp.valueOf("2024-01-02 14:00:04")))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams.seasonality(ev)
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        (x.getLong(2), x.getLong(3))).toMap
    // Timestamp.valueOf is JVM-tz local; with UTC sessions the dow/hod
    // are exact — Monday 9h has 3 of 4 events: index = 3*168/4 = 126x
    assert(r((1L, 9L)) == ((3L, 126000000L)))
    assert(r((2L, 14L)) == ((1L, 42000000L)))
    assert(r.size == 2)
  }

  test("kaplanMeier: hand-computed curve, censored users hold survival up") {
    import spark.implicits._
    def e(u: Long, day: Int) = (u,
      java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), "click")
    // corpus max = day 10; censorSec = 2 days → censored iff last > day 8
    // u1 dies at life 0, u2 at life 2; u3 (life 9) and u4 (life 10) are
    // censored → S steps only at deaths: 3/4 then 3/4·2/3 = 1/2
    val ev = Seq(e(1, 0), e(2, 0), e(2, 2), e(3, 0), e(3, 9), e(4, 0),
      e(4, 10)).toDF("user_id", "ts", "event_type")
    val r = graft.streaming.EventStreams
      .kaplanMeier(ev, bucketSec = 86400L, censorSec = 2L * 86400L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r(0L) == ((4L, 1L, 0L, 0.75)))
    assert(r(2L) == ((3L, 1L, 0L, 0.5)))
    assert(r(9L) == ((2L, 0L, 1L, 0.5)))
    assert(r(10L) == ((1L, 0L, 1L, 0.5)))
    // the naive no-censoring CDF would read S(10) = 0 — censoring is the
    // whole point; the curve must hold at 0.5
  }

  test("cusumShift: sustained 30% level shift accumulates to a flag") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("click", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // warm hours 0..3 at 10/hour (mu = 10e6), then a sustained shift to
    // 13/hour — each bucket is only 1.3x (no spike), but CUSUM piles up
    // (d - k) = 2e6 per bucket and crosses h = 5e6 on the third bucket
    val ev = ((0 to 3).flatMap(t(_, 10)) ++ (4 to 7).flatMap(t(_, 13)))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams
      .cusumShift(ev, bucketSec = 3600L, warm = 4, kPct = 10L, hPct = 50L)
      .collect().map(x => x.getLong(1) ->
        (x.getLong(2), x.getLong(3), x.getBoolean(5))).toMap
    val h0 = r.keys.min
    for (h <- 0 to 3)
      assert(r(h0 + h * 3600) == ((10L, 0L, false)), s"warm hour $h")
    assert(r(h0 + 4 * 3600) == ((13L, 2000000L, false)))
    assert(r(h0 + 5 * 3600) == ((13L, 4000000L, false)))
    assert(r(h0 + 6 * 3600) == ((13L, 6000000L, true)))
    assert(r(h0 + 7 * 3600) == ((13L, 8000000L, true)))
  }

  test("lagCorrelation: planted 2-hour lead is recovered at corr = 1") {
    import spark.implicits._
    val c = Seq(1, 2, 4, 8, 3, 7, 5, 2, 6, 9)
    def burst(tp: String, h: Int, n: Int) = (0 until n).map(i =>
      (tp, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // purchases replay clicks exactly two hours later (aperiodic counts)
    val ev = (c.indices.flatMap(h => burst("click", h, c(h))) ++
      c.indices.flatMap(h => burst("purchase", h + 2, c(h))))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams
      .lagCorrelation(ev, "click", "purchase", bucketSec = 3600L, maxLag = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
      .toMap
    assert(r.keySet == (-3L to 3L).toSet)
    // at lag +2 the overlapping series are identical → corr exactly 1
    assert(r(2L)._2 == 1.0 && r(2L)._1 == 10L)
    // elsewhere strictly below 1
    for (l <- r.keys if l != 2L) assert(r(l)._2 < 1.0, s"lag $l")
  }

  test("trendingTopK: per-window ranking, count-then-type tie-break, " +
      "k cutoff") {
    import spark.implicits._
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val ev = (Seq.fill(3)("c") ++ Seq.fill(2)("a") ++ Seq.fill(2)("b")
      ++ Seq.fill(1)("d")).zipWithIndex
      .map { case (ty, i) => (ty, t(i)) }.toDF("event_type", "ts")
    val r = graft.streaming.EventStreams
      .trendingTopK(ev, bucketSec = 86400L, k = 3).collect()
      .map(x => x.getString(1) -> x.getLong(3)).toMap
    // c(3) first; a and b tie at 2 → type ASC: a then b; d cut at k=3
    assert(r == Map("c" -> 1L, "a" -> 2L, "b" -> 3L))
  }

  test("peakConcurrency: overlapping holds count, end-exclusive touch " +
      "does not") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      // user 1: events at 0s, 10s, 20s with 30s hold → all 3 overlap
      (1L, t(0)), (1L, t(10)), (1L, t(20)),
      // user 2: events at 0s and exactly 30s — end-exclusive → never 2
      (2L, t(0)), (2L, t(30))
    ).toDF("user_id", "ts")
    val r = graft.streaming.EventStreams.peakConcurrency(ev, holdSec = 30L)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    assert(r == Map(1L -> ((3L, 3L)), 2L -> ((1L, 2L))))
  }

  test("botRegularity: metronomic trace flags, bursty trace does not, " +
      "same-second trace pins CV 0") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val bot = (0 until 6).map(i => (1L, i.toLong, t(i * 60)))      // exact 60s
    val human = Seq(0, 5, 65, 70, 200, 1000).zipWithIndex
      .map { case (s, i) => (2L, 100L + i, t(s)) }                 // bursty
    val frozen = (0 until 6).map(i => (3L, 200L + i, t(0)))        // same sec
    val few = Seq((4L, 300L, t(0)), (4L, 301L, t(60)))             // 1 gap
    val ev = (bot ++ human ++ frozen ++ few)
      .toDF("user_id", "event_id", "ts")
    val r = graft.streaming.EventStreams
      .botRegularity(ev, minGaps = 5, cvThresholdMicro = 300000L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getDouble(3), x.getBoolean(4))).toMap
    assert(r(1L) == ((5L, 0.0, true)))   // constant gaps → CV exactly 0
    assert(r(3L) == ((5L, 0.0, true)))   // S = 0 guard → CV pinned 0
    assert(r(2L)._3 == false && r(2L)._2 > 0.3) // bursty: high CV, no flag
    assert(!r.contains(4L))              // below minGaps → no verdict row
  }

  test("transitions: per-user consecutive pairs, exact micro-unit rows") {
    import graft.streaming.EventStreams
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: a→b→a ; user 2: a→b ; simultaneous pair ordered by event_id
    val ev = Seq(
      (1L, t(0), 10L, "a"), (1L, t(1), 11L, "b"), (1L, t(2), 12L, "a"),
      (2L, t(0), 20L, "a"), (2L, t(0), 21L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = EventStreams.transitions(ev).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r(("a", "b")) == ((2L, 2L, 1000000L))) // row a: 2/2 → 1.0
    assert(r(("b", "a")) == ((1L, 1L, 1000000L)))
    assert(r.size == 2)
  }

  test("attribution: last/first touch, lookback window, direct fallback") {
    import graft.streaming.EventStreams
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 12:00:00")
    def t(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val ev = Seq(
      (1L, t(0), 10L, "click"), (1L, t(5), 11L, "view"),
      (1L, t(10), 12L, "purchase"),               // last=view, first=click
      (2L, t(-600), 20L, "click"), (2L, t(0), 21L, "purchase"), // out of 1h window
      (3L, t(0), 30L, "purchase"))                // no touches at all
      .toDF("user_id", "ts", "event_id", "event_type")
    def run(last: Boolean) = EventStreams.attribution(ev, "purchase",
        Seq("click", "view"), lookbackSec = 3600L, lastTouch = last)
      .collect().map(x => x.getLong(0) -> (x.getString(2), x.getLong(3))).toMap
    val lastT = run(true)
    assert(lastT(12L) == (("view", 11L)))
    assert(lastT(21L) == (("direct", -1L))) // touch exists but outside window
    assert(lastT(30L) == (("direct", -1L)))
    val firstT = run(false)
    assert(firstT(12L) == (("click", 10L)))
  }

  test("rfmScores: exact carriers, quintile direction, recency inversion") {
    import graft.streaming.EventStreams
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(d: Int) = new java.sql.Timestamp(t0.getTime + d * 86400000L)
    // user 1: recent + busy + big; user 2: stale + sparse + small
    val ev = (
      (1 to 10).map(i => (1L, t(i), i.toLong * 10, "click", 5.5)) ++
      Seq((2L, t(0), 900L, "click", 0.25))
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val r = EventStreams.rfmScores(ev, nTiles = 2)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
         x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    assert(r(1L) == ((0L, 10L, 55000000L, 2L, 2L, 2L))) // recent -> HIGH r
    assert(r(2L) == ((10L, 1L, 250000L, 1L, 1L, 1L)))
  }

  test("abTest: hand-computed 2x2 chi-square, significance threshold") {
    import spark.implicits._
    def u(id: Long, tp: String) = (id, tp,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    // cohort A (even ids): users 2,4 convert, 6,8 do not
    // cohort B (odd ids): user 1 converts, 3,5,7 do not
    // a=2 b=2 c=1 d=3: chi2 = 8*(6-2)^2/(4*4*3*5) = 128/240 = 0.533333
    val ev = (Seq(u(2, "purchase"), u(4, "purchase"), u(1, "purchase")) ++
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).map(u(_, "click")))
      .toDF("user_id", "event_type", "ts")
    val r = graft.streaming.EventStreams.abTest(ev, "purchase").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((2L, 2L, 1L, 3L)))
    assert(r.getLong(4) == 500000L && r.getLong(5) == 250000L)
    assert(r.getDouble(6) == 0.533333 && !r.getBoolean(7))
    // a decisive split: all of A converts, none of B -> chi2 = N
    val ev2 = (Seq(2L, 4L, 6L, 8L).map(u(_, "purchase")) ++
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).map(u(_, "click")))
      .toDF("user_id", "event_type", "ts")
    val r2 = graft.streaming.EventStreams.abTest(ev2, "purchase").collect()(0)
    assert(r2.getDouble(6) == 8.0 && r2.getBoolean(7))
  }

  test("simpsonAudit: planted sign flip between strata and pooled") {
    import spark.implicits._
    // Classic construction. heavy stratum: A 40/50 (80%) vs B 9/10 (90%);
    // light: A 1/10 (10%) vs B 10/50 (20%) — B wins BOTH strata, but
    // pooled A = 41/60 (68%) vs B = 19/60 (31%) — A wins pooled → flip.
    // heavyMin=5: heavy users get 5 filler events, light get 1.
    def user(id: Long, heavy: Boolean, conv: Boolean) = {
      val fill = (0 until (if (heavy) 5 else 1)).map(k => (id, "click",
        java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${k % 60}%02d")))
      if (conv) fill :+ ((id, "purchase",
        java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      else fill
    }
    // ids: even = cohort A, odd = B
    val users =
      (1L to 50L).map(i => user(i * 2, heavy = true, conv = i <= 40)) ++
      (1L to 10L).map(i => user(100 + i * 2, heavy = false, conv = i <= 1)) ++
      (1L to 10L).map(i => user(i * 2 + 1, heavy = true, conv = i <= 9)) ++
      (1L to 50L).map(i => user(100 + i * 2 + 1, heavy = false, conv = i <= 10))
    val ev = users.flatten.toDF("user_id", "event_type", "ts")
    val r = graft.streaming.EventStreams
      .simpsonAudit(ev, "purchase", heavyMin = 5L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(5), x.getLong(6), x.getBoolean(7))).toMap
    assert(r("heavy")._1 == 800000L && r("heavy")._2 == 900000L)
    assert(r("light")._1 == 100000L && r("light")._2 == 200000L)
    assert(r("__all")._1 == 683333L && r("__all")._2 == 316666L)
    assert(r.values.forall(_._3), "the flip must flag on every row")
  }

  test("holtTrend: hand-folded ramp, trend alert past warm-up") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("click", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // flat 8,8 then a +2/hour ramp; ka=kb=1 (alpha=beta=1/2), warm=2
    val ev = (t(0, 8) ++ t(1, 8) ++ t(2, 10) ++ t(3, 12) ++ t(4, 14))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams
      .holtTrend(ev, bucketSec = 3600L, ka = 1, kb = 1, warm = 2,
        thresholdMicro = 500000L)
      .collect().map(x => x.getLong(1) ->
        (x.getLong(3), x.getLong(4),
          if (x.isNullAt(5)) Long.MinValue else x.getLong(5),
          x.getBoolean(6))).toMap
    val h0 = r.keys.min
    assert(r(h0) == ((8000000L, 0L, Long.MinValue, false)))  // seed
    assert(r(h0 + 3600) == ((8000000L, 0L, 0L, false)))
    // ramp starts: level chases, trend builds, |b| = 5e5 NOT > 5e5 yet
    assert(r(h0 + 7200) == ((9000000L, 500000L, 2000000L, false)))
    assert(r(h0 + 10800) == ((10750000L, 1125000L, 2500000L, true)))
    assert(r(h0 + 14400) == ((12937500L, 1656250L, 2125000L, true)))
  }

  test("ohlcBars: open/close by total event order, exact cent volume") {
    import spark.implicits._
    def e(id: Long, sec: Int, v: Double) = (id, "trade", v,
      java.sql.Timestamp.valueOf(f"2024-01-01 10:00:$sec%02d"))
    // one bar: open = first by (ts, id), close = last; same-ts tie at
    // sec 30 breaks on event_id (id 5 < 6 -> 6's value closes... no:
    // close is the MAX (ts, id) -> id 6)
    val ev = Seq(e(1, 0, 5.0), e(2, 10, 9.0), e(3, 20, 1.0),
      e(5, 30, 7.0), e(6, 30, 4.0)).toDF("event_id", "event_type",
      "value", "ts")
    val r = graft.streaming.EventStreams.ohlcBars(ev, bucketSec = 3600L)
      .collect()(0)
    assert(r.getDouble(2) == 5.0)  // open
    assert(r.getDouble(3) == 9.0 && r.getDouble(4) == 1.0) // high/low
    assert(r.getDouble(5) == 4.0)  // close: ts tie broken by event_id
    assert(r.getLong(6) == 5L && r.getLong(7) == 2600L) // n, cents
  }

  test("trendTest: planted monotone drift gives tau 1 and the exact slope") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("click", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // 4 hourly buckets at 10, 13, 16, 19 events — strictly increasing:
    // every pair concordant (6 of 6) → S = 6, tau = 1; every pairwise
    // slope is exactly 3/step → Sen slope 3e6
    val ev = Seq(10, 13, 16, 19).zipWithIndex
      .flatMap { case (n, h) => t(h, n) }.toDF("event_type", "ts")
    val r = graft.streaming.EventStreams.trendTest(ev, 3600L).collect()(0)
    assert(r.getAs[Long]("m_buckets") == 4L)
    assert(r.getAs[Long]("s") == 6L)
    assert(r.getAs[Long]("concordant") == 6L)
    assert(r.getAs[Long]("tau_micro") == 1000000L)
    assert(r.getAs[Long]("sen_slope_micro") == 3000000L)
  }

  test("trendTest: a flat series is tied everywhere, tau 0, slope 0") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("view", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    val ev = (0 to 3).flatMap(t(_, 7)).toDF("event_type", "ts")
    val r = graft.streaming.EventStreams.trendTest(ev, 3600L).collect()(0)
    assert(r.getAs[Long]("s") == 0L && r.getAs[Long]("tied") == 6L)
    assert(r.getAs[Long]("tau_micro") == 0L)
    assert(r.getAs[Long]("sen_slope_micro") == 0L)
  }

  test("trendTest: declining series — sign-safe truncation on both engines") {
    import spark.implicits._
    def t(h: Int, n: Int) = (0 until n).map(i =>
      ("err", java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d")))
    // counts 8,6,5,4: all 6 pairs discordant → S = -6, tau = -1e6; the
    // non-divisible pair (8→4 over 3 steps) must truncate toward zero
    // (-1333333, the sdiv convention) — a bare floor would give -1333334
    // and diverge from Spark. Slopes sorted: -2e6, -1.5e6, -1333333,
    // -1e6 ×3 → discrete median = -1333333.
    val ev = Seq(8, 6, 5, 4).zipWithIndex
      .flatMap { case (n, h) => t(h, n) }.toDF("event_type", "ts")
    val r = graft.streaming.EventStreams.trendTest(ev, 3600L).collect()(0)
    assert(r.getAs[Long]("s") == -6L)
    assert(r.getAs[Long]("tau_micro") == -1000000L)
    assert(r.getAs[Long]("sen_slope_micro") == -1333333L)
  }

  test("trendTestSeasonal: a pure daily cycle is NOT a trend; drift still is") {
    import spark.implicits._
    def t(day: Int, h: Int, n: Int) = (0 until n).map(i =>
      ("click", java.sql.Timestamp.valueOf(
        f"2024-01-${day + 1}%02d $h%02d:00:${i % 60}%02d")))
    // two days, two hours each: hour 0 always 10, hour 12 always 20 — a
    // pure cycle. Plain MK sees cross-hour pairs (10 vs 20) as trend
    // signal; the seasonal test only pairs hour-0-with-hour-0 etc. and
    // reports all ties, tau = 0.
    val cyc = (0 to 1).flatMap(day => t(day, 0, 10) ++ t(day, 12, 20))
      .toDF("event_type", "ts")
    val rc = graft.streaming.EventStreams
      .trendTestSeasonal(cyc, 3600L, 24).collect()(0)
    assert(rc.getAs[Long]("n_seasons") == 2L)
    assert(rc.getAs[Long]("s") == 0L && rc.getAs[Long]("tied") == 2L)
    assert(rc.getAs[Long]("tau_micro") == 0L)
    // plain MK on the same data is NOT zero — the cycle leaks into it
    val rp = graft.streaming.EventStreams.trendTest(cyc, 3600L).collect()(0)
    assert(rp.getAs[Long]("s") != 0L)
    // genuine drift on top of the cycle: day 2 runs +3 at both hours →
    // both seasonal pairs concordant, slope 3 per 24 steps = 125000 micro
    val drift = (0 to 1).flatMap(day =>
      t(day, 0, 10 + 3 * day) ++ t(day, 12, 20 + 3 * day))
      .toDF("event_type", "ts")
    val rd = graft.streaming.EventStreams
      .trendTestSeasonal(drift, 3600L, 24).collect()(0)
    assert(rd.getAs[Long]("s") == 2L)
    assert(rd.getAs[Long]("tau_micro") == 1000000L)
    assert(rd.getAs[Long]("sen_slope_micro") == 125000L)
  }

  test("trendTest: a single-bucket type reports zeros, not a crash") {
    import spark.implicits._
    val ev = Seq(("err", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_type", "ts")
    val r = graft.streaming.EventStreams.trendTest(ev, 3600L).collect()(0)
    assert(r.getAs[Long]("m_buckets") == 1L)
    assert(r.getAs[Long]("s") == 0L && r.getAs[Long]("tau_micro") == 0L)
  }

  test("streamingIvfRefresh: a NEW checkpoint never silently skips data " +
      "behind an old checkpoint's markers") {
    // the round-10 ADVICE high scenario: batch ids are checkpoint-scoped,
    // so stream B (fresh checkpoint, ids restarting at 0) against an index
    // stream A already maintained MUST append its data — unnamespaced
    // markers would match A's batch 0 and drop B's rows on the floor
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("ivf-newckpt").toString
    val dir = root + "/idx"
    val init = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (50L, Seq(0.0f, 1.0f)), (51L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    val memA = MemoryStream[(Long, Seq[Float])]
    val qA = Similarity.streamingIvfRefresh(
      memA.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, checkpointLocation = Some(root + "/ckptA"))
    try {
      memA.addData((2L, Seq(0.95f, 0.05f)))
      qA.processAllAvailable()
    } finally qA.stop()
    assert(spark.read.parquet(dir).count() == 5)
    val memB = MemoryStream[(Long, Seq[Float])]
    val qB = Similarity.streamingIvfRefresh(
      memB.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      dir, checkpointLocation = Some(root + "/ckptB"))
    try {
      memB.addData((3L, Seq(0.85f, 0.15f)), (52L, Seq(0.05f, 0.95f)))
      qB.processAllAvailable()
      val idx = spark.read.parquet(dir)
      assert(idx.count() == 7,
        "new checkpoint's batch 0 must append — old markers must not match")
      assert(idx.where(col("vec_id").isin(3L, 52L)).count() == 2)
    } finally qB.stop()
    // and a NO-checkpoint start (fresh namespace per run) appends too
    val memC = MemoryStream[(Long, Seq[Float])]
    val qC = Similarity.streamingIvfRefresh(
      memC.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", dir)
    try {
      memC.addData((4L, Seq(0.80f, 0.20f)))
      qC.processAllAvailable()
      assert(spark.read.parquet(dir).count() == 8)
    } finally qC.stop()
  }

  test("streamingIvfRefresh: the residual crash window (append committed, " +
      "marker lost) is at-least-once and heals downstream") {
    // VERDICT r10 item 3: publish-with-one-rename is not possible for a
    // multi-directory parquet append (the manifest-commit problem), so the
    // contract is pinned exactly — inject a crash BETWEEN the data append
    // and the marker write, assert the replay duplicates exactly that
    // batch with identical values, and that dropDuplicates(idCol) heals
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("ivf-window").toString
    val dir = root + "/idx"
    val ckpt = root + "/ckpt"
    val init = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (50L, Seq(0.0f, 1.0f)), (51L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val q1 = Similarity.streamingIvfRefresh(stream, "vec_id", "embedding",
      dir, checkpointLocation = Some(ckpt))
    try {
      mem.addData((2L, Seq(0.95f, 0.05f)), (52L, Seq(0.05f, 0.95f)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(dir).count() == 6)
    // crash injection: the engine's commit-log entry AND the operator's
    // marker both vanish — data committed, nothing that records it did
    val commitDir = new java.io.File(ckpt + "/commits")
    val commits = commitDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val lastId = commits.last.getName
    assert(commits.last.delete())
    val crc = new java.io.File(commitDir, s".$lastId.crc")
    if (crc.exists()) crc.delete()
    val nsDir = new java.io.File(dir + "/_graft_batches")
    val markers = nsDir.listFiles().flatMap(_.listFiles())
      .filter(_.getName == lastId)
    assert(markers.nonEmpty, "expected a marker for the committed batch")
    markers.foreach(m => assert(m.delete()))
    val q2 = Similarity.streamingIvfRefresh(stream, "vec_id", "embedding",
      dir, checkpointLocation = Some(ckpt))
    try {
      q2.processAllAvailable()
      val idx = spark.read.parquet(dir)
      // at-least-once, scoped to exactly the replayed batch: ids 2 and 52
      // appear twice with identical (id, vector) values, nothing else dups
      assert(idx.count() == 8)
      val dupIds = idx.groupBy("vec_id").count().where(col("count") > 1)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(dupIds == Set(2L, 52L),
        s"only the replayed batch may duplicate: $dupIds")
      assert(idx.select("vec_id", "embedding").distinct().count() == 6,
        "duplicates must carry identical values")
      // the documented heal: exactly-once view via dropDuplicates(idCol)
      assert(idx.dropDuplicates("vec_id").count() == 6)
    } finally q2.stop()
  }

  test("compactIvfIndex: bounded files + deduped sidecar, serving identical") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("ivf-compact").toString
    val dir = root + "/idx"
    val init = (0 until 200).map(i =>
        (i.toLong, Seq((i % 17).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    // 20 micro-batches of maintenance: each appends a small file to every
    // touched centroid directory and to the codebook sidecar
    (0 until 20).foreach { b =>
      val batch = Seq((1000L + b, Seq((b % 17).toFloat, (b % 5).toFloat)))
        .toDF("vec_id", "embedding")
      Similarity.appendIvfBatch(batch, "vec_id", "embedding", dir)
    }
    val cbDir = dir + "/_graft_codebook"
    // the replay window (StreamingSpec's at-least-once test) can re-append
    // a new-centroid batch's sidecar row — simulate the duplicate the
    // compactor must fold away (identical values, the pinned semantics)
    val cbSnap = spark.read.parquet(cbDir)
    spark.createDataFrame(
        java.util.Arrays.asList(cbSnap.limit(1).collect(): _*), cbSnap.schema)
      .write.mode("append").parquet(cbDir)
    def dataFiles(d: java.io.File): Array[java.io.File] =
      d.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    def centroidDirs() = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.contains("=") &&
        !d.getName.startsWith("_"))
    assert(centroidDirs().exists(d => dataFiles(d).length > 5),
      "precondition: maintenance should have fragmented some directory")
    val cbRowsBefore = spark.read.parquet(cbDir).count()
    val nCentroids = spark.read.parquet(cbDir)
      .dropDuplicates("centroid_id").count()
    val before = spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding"),
        col("centroid_id").cast("long"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val knnBefore = Similarity.knnIvfIndexed(
      spark.read.parquet(dir), "vec_id", "embedding",
      queryId = 3L, k = 5, nprobe = 2).collect().map(_.toSeq)
    Similarity.compactIvfIndex(spark, dir)
    // every directory is back to bounded file counts (tiny test files →
    // one FFD bin each); the sidecar holds exactly one row per centroid
    centroidDirs().foreach { d =>
      assert(dataFiles(d).length == 1,
        s"${d.getName} still fragmented: ${dataFiles(d).length} files")
    }
    assert(spark.read.parquet(cbDir).count() == nCentroids)
    assert(cbRowsBefore > nCentroids,
      "precondition: sidecar should have accumulated duplicate appends")
    val after = spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding"),
        col("centroid_id").cast("long"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(before.toSeq == after.toSeq,
      "compaction must not change a single row")
    val knnAfter = Similarity.knnIvfIndexed(
      spark.read.parquet(dir), "vec_id", "embedding",
      queryId = 3L, k = 5, nprobe = 2).collect().map(_.toSeq)
    assert(knnBefore.toSeq == knnAfter.toSeq,
      "serving answers must be byte-identical before/after compaction")
  }

  test("IVF maintenance loop: append→compact cycles keep file counts AND " +
      "per-batch read cost bounded, serving identical throughout") {
    // the day-2 trigger for long-running streaming maintenance: the
    // single-shot compaction test above proves one cycle; a real stream
    // runs append→compact→append→compact forever, and the failure mode it
    // must not have is CREEP — cycle N's per-batch cost quietly growing
    // because compaction didn't fully restore the O(batch + centroids)
    // append bound or left file counts drifting upward
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    import org.apache.spark.sql.graftshim.GraftShim
    val root = java.nio.file.Files
      .createTempDirectory("ivf-loop").toString
    val dir = root + "/idx"
    val init = (0 until 200).map(i =>
        (i.toLong, Seq((i % 17).toFloat, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(init, "vec_id", "embedding", dir)
    def knn() = Similarity.knnIvfIndexed(
      spark.read.parquet(dir), "vec_id", "embedding",
      queryId = 3L, k = 5, nprobe = 2).collect().map(_.toSeq).toSeq
    def dataFiles(d: java.io.File): Array[java.io.File] =
      d.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    def maxFiles(): Int = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.contains("=") &&
        !d.getName.startsWith("_"))
      .map(dataFiles(_).length).max
    var nextId = 1000L
    // batches reuse the init distribution so every vector lands in an
    // existing centroid — the codebook stays fixed across cycles, making
    // the two cycles' first-append read costs directly comparable
    def runBatches(n: Int): Long = {
      var firstAppendReads = -1L
      (0 until n).foreach { b =>
        val batch = Seq((nextId,
            Seq((nextId % 17).toFloat, (nextId % 5).toFloat)))
          .toDF("vec_id", "embedding")
        nextId += 1
        // recordsReadDuring drains the listener bus itself before
        // installing its counter, so back-to-back appends don't bleed
        val (_, recs) = GraftShim.recordsReadDuring(spark) {
          Similarity.appendIvfBatch(batch, "vec_id", "embedding", dir)
        }
        if (b == 0) firstAppendReads = recs
      }
      firstAppendReads
    }
    // cycle 1: fresh index → 8 maintenance batches → compact
    val reads1 = runBatches(8)
    val serve1 = knn()
    Similarity.compactIvfIndex(spark, dir)
    assert(knn() == serve1,
      "cycle-1 compaction must not change serving answers")
    assert(maxFiles() == 1,
      s"cycle-1 compaction left ${maxFiles()} files in a directory")
    // cycle 2: same batch count against the compacted index → compact
    val reads2 = runBatches(8)
    val serve2 = knn()
    Similarity.compactIvfIndex(spark, dir)
    assert(knn() == serve2,
      "cycle-2 compaction must not change serving answers")
    assert(maxFiles() == 1,
      s"cycle-2 compaction left ${maxFiles()} files in a directory")
    // the bound under test: the first append AFTER a full cycle reads the
    // same O(batch + centroids) input as the first append against the
    // fresh index — cycle 1's 8 appends + compaction must leave NOTHING
    // behind that inflates cycle 2's per-batch cost (sidecar rows are
    // back to one per centroid, data files to one bin per directory)
    assert(reads2 <= reads1,
      s"post-compaction append read $reads2 records vs $reads1 on the " +
        "fresh index — maintenance state is creeping across cycles")
  }

}
