package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}

/** Event-time processing over the `events` table, written as *unified*
  * transforms: each takes a DataFrame that may be a batch table or a
  * streaming source — Structured Streaming's core design point — so the
  * same code runs in the DuckDB-oracled batch gate and under a watermarked
  * stream (`StreamingSpec` drives both).
  *
  * Scale notes: windowed aggregation state is keyed by (window, group key)
  * and expired by the watermark, so executor state is bounded; session
  * windows merge incrementally. At 100 TB/day the shuffle is on
  * (window, key) — the same hash partitioning as any groupBy.
  */
object EventStreams {

  /** Tumbling event-time windows with per-type stats. */
  def tumblingStats(events: DataFrame, width: String): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"))
      .select(col("w.start").as("win_start"), col("w.end").as("win_end"),
        col("event_type"), col("n"), col("mn"), col("mx"))

  /** Sliding windows (width, slide). */
  def slidingCounts(events: DataFrame, width: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Session windows per user with an inactivity gap: (user, session start,
    * session end, events). Built-in `session_window` — incremental merge in
    * streaming, gaps-and-islands semantics in batch.
    */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("value")).as("mn_value"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"), col("mn_value"))

  /** The reference's monoid UDAF family as a windowed event-time aggregate:
    * element-wise array reduction per tumbling window. The monoid contract
    * (associative combine + identity — reference `src/monoid.rs:23-32`) is
    * exactly what incremental window-state merging requires, so the SAME
    * [[graft.functions.ArrayReduceAgg]] runs unchanged here:
    * per-micro-batch partial buffers fold into window state the way
    * per-partition partials fold in batch.
    * `reducer` is any registered `array_reduce_*` SQL name; `arr` is the
    * array-valued expression to reduce.
    */
  def tumblingArrayReduce(events: DataFrame, width: String, arr: Column,
      reducer: String = "array_reduce_sum_long"): DataFrame =
    events.select(window(col("ts"), width).as("w"), arr.as("arr"))
      .groupBy(col("w"))
      .agg(call_udf(reducer, col("arr")).as("red"))
      .select(col("w.start").as("win_start"), col("red"))

  /** KMV distinct-count sketch per tumbling window — cardinality telemetry
    * (distinct users / sessions / keys per window) with O(k) state per
    * window instead of a distinct-set: the [[graft.functions.KmvBottomK]]
    * mergeable aggregate over [[graft.operators.Dedup.portableHash]]
    * hashes, estimate = (k−1)·2⁶⁰ ⁄ h_k (exact when a window holds < k
    * distinct keys). Same hash family and floor arithmetic as
    * [[graft.operators.Profile.kmvDistinct]], so every output value —
    * sketch or not — replays in the DuckDB oracle.
    *
    * Unified transform: batch GROUP BY on a table, watermarked window state
    * on `stream.withWatermark("ts", ...)` — the monoid merge path is
    * identical, which is the point of a mergeable sketch.
    */
  def windowedKmv(events: DataFrame, width: String, key: Column,
      k: Int): DataFrame = {
    val sketch = udaf(new graft.functions.KmvBottomK(k))
    events
      .select(col("ts"), graft.operators.Dedup.portableHash(
        concat(lit("kmv:"), key.cast("string"))).as("h"))
      .where(col("h").isNotNull) // null keys don't count as a value
      .groupBy(window(col("ts"), width).as("w"))
      .agg(sketch(col("h")).as("s"))
      .select(col("w.start").as("win_start"),
        col("s._1").as("n_kept"), col("s._2").as("h_k"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept")).otherwise(
          expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) *" +
            " 1152921504606846976) div h_k AS BIGINT)")))
  }

  /** DuckDB replay of [[windowedKmv]] over the events table (ns → µs cast,
    * epoch-µs floor windows, per-window bottom-k via QUALIFY, identical
    * md5 hash family and HUGEINT floor estimate).
    */
  def windowedKmvOracleSql(widthSec: Long, keyExpr: String, k: Int): String = {
    val winUs = widthSec * 1000000L
    s"""WITH t AS (
       |  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |           AS win_start,
       |         ('0x' || substr(md5('kmv:' || ($keyExpr)::VARCHAR), 1, 15))::BIGINT
       |           AS h
       |  FROM events WHERE ($keyExpr) IS NOT NULL),
       |d AS (SELECT DISTINCT win_start, h FROM t),
       |b AS (
       |  SELECT win_start, h FROM d
       |  QUALIFY row_number() OVER (PARTITION BY win_start ORDER BY h) <= $k),
       |s AS (
       |  SELECT win_start, count(*)::BIGINT AS n_kept, max(h)::BIGINT AS h_k
       |  FROM b GROUP BY win_start)
       |SELECT win_start, n_kept, h_k,
       |       CASE WHEN n_kept < $k THEN n_kept
       |            ELSE ((($k - 1)::HUGEINT * 1152921504606846976) // h_k)::BIGINT
       |       END AS est_distinct
       |FROM s""".stripMargin
  }

  /** Per-tumbling-window PORTABLE HYPERLOGLOG distinct sketch — the
    * streaming-metric workhorse ("distinct users per window") as a
    * single mergeable aggregate: [[graft.functions.HllSketch]] registers
    * as O(m)-byte window state, the fixed-point raw estimator in the
    * finish fold, every output value oracle-replayable
    * ([[windowedHllOracleSql]] — same md5 family, same bin()-based ρ).
    * Sits next to [[windowedKmv]]: KMV is exact below k and O(k) state;
    * HLL holds its relative error at ANY cardinality in m bytes — the
    * sketch you ship when windows can hold millions of distinct keys.
    * Returns (win_start, v_zero, t_fx, est_raw) per window.
    */
  def windowedHll(events: DataFrame, width: String, key: Column,
      p: Int = 8): DataFrame = {
    val sketch = udaf(new graft.functions.HllSketch(p))
    events
      .select(col("ts"), graft.operators.Dedup.portableHash(
        concat(lit("hll:"), key.cast("string"))).as("h"))
      .where(col("h").isNotNull) // null keys don't count as a value
      .groupBy(window(col("ts"), width).as("w"))
      .agg(sketch(col("h")).as("s"))
      .select(col("w.start").as("win_start"),
        col("s._1").as("v_zero"), col("s._2").as("t_fx"),
        col("s._3").as("est_raw"))
  }

  /** DuckDB replay of [[windowedHll]] over the events table — per-window
    * register table via GROUP BY, the same fixed-point fold as
    * [[graft.operators.Profile.hllOracleSql]].
    */
  def windowedHllOracleSql(widthSec: Long, keyExpr: String,
      p: Int = 8): String = {
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = graft.operators.Profile.hllAlphaMicro(p)
    val winUs = widthSec * 1000000L
    s"""WITH t AS (
       |  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |           AS win_start,
       |         ('0x' || substr(md5('hll:' || ($keyExpr)::VARCHAR), 1, 15))::BIGINT
       |           AS h
       |  FROM events WHERE ($keyExpr) IS NOT NULL),
       |regs AS (
       |  SELECT win_start, h // ${1L << wBits} AS reg,
       |         max(CASE WHEN h % ${1L << wBits} = 0 THEN ${wBits + 1}
       |                  ELSE ${wBits + 1} -
       |                       length(ltrim(bin(h % ${1L << wBits}), '0'))
       |             END)::BIGINT AS mj
       |  FROM t GROUP BY 1, 2),
       |agg AS (
       |  SELECT win_start, count(*)::BIGINT AS n_present,
       |         sum((1::BIGINT << (${wBits + 1} - mj))::BIGINT)::BIGINT
       |           AS t_present
       |  FROM regs GROUP BY 1)
       |SELECT win_start,
       |       ($m - n_present)::BIGINT AS v_zero,
       |       (t_present + ($m - n_present) * ${1L << (wBits + 1)})::BIGINT
       |         AS t_fx,
       |       (($alphaMicro::HUGEINT * ${m * m} * ${1L << (wBits + 1)})
       |          // (t_present + ($m - n_present) * ${1L << (wBits + 1)})
       |          // 1000000)::BIGINT AS est_raw
       |FROM agg""".stripMargin
  }

  /** Per-tumbling-window PORTABLE QUANTILE sketch — "p50/p90/p99 per
    * window" as a single mergeable aggregate: [[graft.functions
    * .KllSketch]]'s ≤(k+1)-item level sample as window state, type-1
    * integer-rank read-offs in the finish fold, every output value
    * oracle-replayable ([[windowedKllOracleSql]] — same md5 row coins,
    * same level/rank math as [[graft.operators.Profile.kllQuantile]]).
    * Completes the windowed sketch rack: KMV/HLL (distinct), top-k
    * (heavy hitters), and now quantiles — O(k) state per window each.
    * Returns (win_start, q_pm, est_v, lvl, n_sample) per window × point.
    */
  def windowedKll(events: DataFrame, width: String, value: Column,
      id: Column, k: Int, qPermille: Seq[Int]): DataFrame = {
    val sketch = udaf(new graft.functions.KllSketch(k, qPermille))
    events
      .select(col("ts"),
        graft.operators.Dedup.portableHash(
          concat(lit("kll:"), id.cast("string"))).as("h"),
        value.cast("double").as("v"))
      .where(col("h").isNotNull && col("v").isNotNull)
      .groupBy(window(col("ts"), width).as("w"))
      .agg(sketch(col("h"), col("v")).as("s"))
      .select(col("w.start").as("win_start"), col("s.lvl"),
        col("s.n_sample"), posexplode(col("s.est")))
      .select(col("win_start"),
        element_at(
          array(qPermille.map(q => lit(q.toLong)): _*),
          col("pos").cast("int") + 1).as("q_pm"),
        col("col").as("est_v"), col("lvl"), col("n_sample"))
  }

  /** DuckDB replay of [[windowedKll]] over the events table — the
    * [[graft.operators.Profile.kllByOracleSql]] level/rank machinery
    * with the window start as the group.
    */
  def windowedKllOracleSql(widthSec: Long, valueExpr: String,
      idExpr: String, k: Int, qPermille: Seq[Int]): String = {
    val winUs = widthSec * 1000000L
    s"""WITH lv AS (
       |  SELECT win_start, v,
       |         CASE WHEN h = 0 THEN 60
       |              ELSE 60 - length(ltrim(bin(h), '0')) END AS lvl
       |  FROM (
       |    SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |             AS win_start,
       |           ($valueExpr)::DOUBLE AS v,
       |           ('0x' || substr(md5('kll:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |    FROM events
       |    WHERE ($valueExpr) IS NOT NULL AND ($idExpr) IS NOT NULL)),
       |hist AS (SELECT win_start, lvl, count(*)::BIGINT AS c FROM lv
       |         GROUP BY 1, 2),
       |sizes AS (
       |  SELECT win_start, g.l, sum(c)::BIGINT AS sz
       |  FROM hist JOIN generate_series(0, 61) AS g(l) ON hist.lvl >= g.l
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT DISTINCT win_start, 61, 0::BIGINT FROM hist),
       |lstar AS (
       |  SELECT win_start, ls, n_sample FROM (
       |    SELECT win_start, l AS ls, sz AS n_sample,
       |           row_number() OVER (PARTITION BY win_start ORDER BY l)
       |             AS rk
       |    FROM sizes WHERE sz <= $k)
       |  WHERE rk = 1),
       |ranked AS (
       |  SELECT lv.win_start, v, ls, n_sample,
       |         row_number() OVER (PARTITION BY lv.win_start ORDER BY v)
       |           AS rn
       |  FROM lv JOIN lstar ON lstar.win_start = lv.win_start
       |  WHERE lvl >= ls)
       |SELECT r.win_start, q.q_pm, r.v AS est_v, r.ls::BIGINT AS lvl,
       |       r.n_sample
       |FROM ranked r
       |JOIN (SELECT unnest([${qPermille.mkString(", ")}])::BIGINT AS q_pm) q
       |  ON r.rn = greatest(1, (q.q_pm * r.n_sample + 999) // 1000)""".stripMargin
  }

  /** Per-tumbling-window WEIGHTED portable quantile sketch — "p90 value
    * weighted by units, per hour" as a single mergeable aggregate:
    * [[graft.functions.KllWeightedSketch]]'s ≤(k+1)-row survivor sample
    * as window state (VERDICT r13 item 1 — completes the weighted
    * family's global/grouped/windowed rack the way [[windowedKll]] does
    * the unweighted one). Same contract as [[graft.operators.Profile
    * .kllQuantileWeighted]]: integer weights in [1, 2^40] (other rows
    * drop), t_total = the window's weight-mass estimate, exact weighted
    * type-1 quantiles whenever the window's rows all survive at l* = 0;
    * every output value oracle-replayable
    * ([[windowedKllWeightedOracleSql]]). Returns (win_start, q_pm,
    * est_v, lvl, n_sample, t_total) per window × point.
    */
  def windowedKllWeighted(events: DataFrame, width: String, value: Column,
      weight: Column, id: Column, k: Int, qPermille: Seq[Int]): DataFrame = {
    val sketch = udaf(new graft.functions.KllWeightedSketch(k, qPermille))
    events
      .select(col("ts"),
        graft.operators.Dedup.portableHash(
          concat(lit("kllw:"), id.cast("string"))).as("h"),
        value.cast("double").as("v"),
        weight.cast("long").as("wt"))
      .where(col("h").isNotNull && col("v").isNotNull &&
        col("wt").between(1L, 1L << 40))
      .groupBy(window(col("ts"), width).as("win"))
      .agg(sketch(col("h"), col("v"), col("wt")).as("s"))
      .select(col("win.start").as("win_start"), col("s.lvl"),
        col("s.n_sample"), col("s.t_total"), posexplode(col("s.est")))
      .select(col("win_start"),
        element_at(
          array(qPermille.map(q => lit(q.toLong)): _*),
          col("pos").cast("int") + 1).as("q_pm"),
        col("col").as("est_v"), col("lvl"), col("n_sample"),
        col("t_total"))
  }

  /** DuckDB replay of [[windowedKllWeighted]] over the events table —
    * the [[graft.operators.Profile.kllWeightedByOracleSql]] survival/
    * rank machinery with the window start as the group.
    */
  def windowedKllWeightedOracleSql(widthSec: Long, valueExpr: String,
      weightExpr: String, idExpr: String, k: Int,
      qPermille: Seq[Int]): String = {
    val winUs = widthSec * 1000000L
    s"""WITH base AS (
       |  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |           AS win_start,
       |         ($valueExpr)::DOUBLE AS v, ($weightExpr)::BIGINT AS w,
       |         ('0x' || substr(md5('kllw:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM events
       |  WHERE ($valueExpr) IS NOT NULL AND ($idExpr) IS NOT NULL
       |    AND ($weightExpr) IS NOT NULL
       |    AND ($weightExpr)::BIGINT BETWEEN 1 AND ${1L << 40}),
       |hist AS (
       |  SELECT win_start, g.l, count(*)::BIGINT AS sz
       |  FROM base JOIN generate_series(0, 61) AS g(l)
       |    ON base.h % (1::BIGINT << g.l::INT) < base.w
       |  GROUP BY 1, 2),
       |synth AS (
       |  SELECT win_start, max(l) + 1 AS l, 0::BIGINT AS sz FROM hist
       |  GROUP BY win_start HAVING max(l) < 61),
       |sizes AS (SELECT * FROM hist UNION ALL SELECT * FROM synth),
       |lstar AS (
       |  SELECT win_start, ls, n_sample FROM (
       |    SELECT win_start, l AS ls, sz AS n_sample,
       |           row_number() OVER (PARTITION BY win_start
       |                              ORDER BY l, sz) AS rk
       |    FROM sizes WHERE sz <= $k OR l = 61)
       |  WHERE rk = 1),
       |samp AS (
       |  SELECT base.win_start, v, ls, n_sample,
       |         ((w // (1::BIGINT << ls::INT)) +
       |          (CASE WHEN h % (1::BIGINT << ls::INT) <
       |                     w % (1::BIGINT << ls::INT) THEN 1 ELSE 0 END))
       |           * (1::BIGINT << ls::INT) AS contrib
       |  FROM base JOIN lstar ON lstar.win_start = base.win_start
       |  WHERE h % (1::BIGINT << ls::INT) < w),
       |cum AS (
       |  SELECT win_start, v, ls, n_sample, contrib,
       |         sum(contrib) OVER (PARTITION BY win_start ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           ::BIGINT AS cum,
       |         sum(contrib) OVER (PARTITION BY win_start)::BIGINT
       |           AS t_total
       |  FROM samp)
       |SELECT c.win_start, q.q_pm, c.v AS est_v, c.ls::BIGINT AS lvl,
       |       c.n_sample, c.t_total
       |FROM cum c
       |JOIN (SELECT unnest([${qPermille.mkString(", ")}])::BIGINT AS q_pm) q
       |  ON greatest(1, (q.q_pm * c.t_total + 999) // 1000) <= c.cum
       | AND greatest(1, (q.q_pm * c.t_total + 999) // 1000)
       |       > c.cum - c.contrib""".stripMargin
  }

  /** Misra–Gries HEAVY HITTERS per tumbling window — "what dominated each
    * window" with O(k) state: the mergeable
    * [[graft.functions.ApproxTopK]] sketch as a window aggregate, top
    * `topN` counters per window in (count DESC, term) order. With k ≥ the
    * window's distinct keys the counters never decrement, so the sketch
    * IS the exact per-window count table — the oracle-checkable regime
    * (the approximate regime's error bound is spec-tested in SketchSpec).
    * Batch GROUP BY on a table; on a watermarked stream the same merge
    * path runs against window state.
    */
  def windowedTopK(events: DataFrame, width: String, key: Column,
      k: Int, topN: Int): DataFrame = {
    val sketch = udaf(new graft.functions.ApproxTopK(k))
    events.select(window(col("ts"), width).as("w"),
        key.cast("string").as("key"))
      .where(col("key").isNotNull)
      .groupBy(col("w"))
      .agg(sketch(col("key")).as("s"))
      .select(col("w.start").as("win_start"), posexplode(col("s")))
      .where(col("pos") < topN)
      .select(col("win_start"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("term"), col("col._2").as("cnt"))
  }

  /** DuckDB replay of [[windowedTopK]]'s exact regime (k ≥ per-window
    * distinct keys): per-window counts, (cnt DESC, term) rank, top `topN`.
    */
  def windowedTopKOracleSql(widthSec: Long, keyExpr: String,
      topN: Int): String = {
    val winUs = widthSec * 1000000L
    s"""WITH t AS (
       |  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |           AS win_start,
       |         ($keyExpr)::VARCHAR AS term
       |  FROM events WHERE ($keyExpr) IS NOT NULL),
       |c AS (
       |  SELECT win_start, term, count(*)::BIGINT AS cnt
       |  FROM t GROUP BY 1, 2)
       |SELECT win_start,
       |       row_number() OVER (PARTITION BY win_start
       |                          ORDER BY cnt DESC, term)::BIGINT AS rank,
       |       term, cnt
       |FROM c
       |QUALIFY rank <= $topN""".stripMargin
  }

  /** INTER-ARRIVAL BURSTINESS per event type (Goh & Barabási 2008):
    * B = (σ − μ)/(σ + μ) over the inter-arrival gaps — −1 for a perfectly
    * periodic stream, 0 for Poisson, → 1 for heavy bursts. The stream-
    * health diagnostic that says whether a rate anomaly is a level shift
    * or clumping.
    *
    * Determinism: gaps are exact integer seconds on the anchored
    * (ts, event_id) total order; n/Σg/Σg² are exact BIGINT aggregates;
    * μ and σ enter doubles only in one shared final expression (the
    * lagcorr/abtest 6dp IEEE tail) with the variance numerator computed
    * on DECIMAL(38,0) first. Types with < 2 events have no gaps and drop
    * out; an all-zero-gap type (σ+μ = 0) defines B = 0.
    *
    * Scale shape: one type-keyed lag window (spills, bounded by type
    * volume), one aggregate to #types rows.
    */
  def interArrivalBurstiness(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .select(col("event_type"), col("ts"), col("event_id"),
        unix_timestamp(col("ts")).as("s"))
      .withColumn("g", col("s") - lag(col("s"), 1).over(w))
      .where(col("g").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sum_g"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sum_g2"))
      .select(col("event_type"), col("n_gaps"), col("sum_g"),
        col("sum_g2").cast("long").as("sum_g2"),
        expr(
          """CASE WHEN sum_g = 0 AND sum_g2 = 0 THEN 0 ELSE
            | CAST(round(
            |  (sqrt(CAST(CAST(n_gaps AS DECIMAL(38,0)) * sum_g2
            |             - CAST(sum_g AS DECIMAL(38,0)) * sum_g AS DOUBLE))
            |   - CAST(sum_g AS DOUBLE))
            |  / (sqrt(CAST(CAST(n_gaps AS DECIMAL(38,0)) * sum_g2
            |               - CAST(sum_g AS DECIMAL(38,0)) * sum_g AS DOUBLE))
            |     + CAST(sum_g AS DOUBLE)) * 1000000, 0) AS BIGINT)
            |END""".stripMargin.replace("\n", " ")).as("burstiness_micro"))
  }

  /** DuckDB replay of [[interArrivalBurstiness]] (same anchored gap order,
    * exact integer moments, same single-expression IEEE tail). Note both
    * engines compute σ·n = sqrt(n·Σg² − (Σg)²) and μ·n = Σg, so the n
    * factors cancel inside the ratio — the replay shares that exact form.
    */
  def burstinessOracleSql(): String =
    // epoch_us // 1e6, NOT epoch()::BIGINT: DuckDB's double→int cast
    // ROUNDS while Spark's unix_timestamp floors — sub-second timestamps
    // near the half-boundary would land in different seconds
    s"""WITH s AS (
       |  SELECT event_type,
       |         epoch_us(ts::TIMESTAMP) // 1000000 AS s, event_id
       |  FROM events),
       |g AS (
       |  SELECT event_type,
       |         s - lag(s) OVER (PARTITION BY event_type
       |                          ORDER BY s, event_id) AS g
       |  FROM s QUALIFY g IS NOT NULL),
       |a AS (
       |  SELECT event_type, count(*)::BIGINT AS n_gaps,
       |         sum(g)::BIGINT AS sum_g,
       |         sum(g::HUGEINT * g)::BIGINT AS sum_g2
       |  FROM g GROUP BY event_type)
       |SELECT event_type, n_gaps, sum_g, sum_g2,
       |       CASE WHEN sum_g = 0 AND sum_g2 = 0 THEN 0 ELSE
       |         round(
       |           (sqrt((n_gaps::HUGEINT * sum_g2
       |                  - sum_g::HUGEINT * sum_g)::DOUBLE)
       |            - sum_g::DOUBLE)
       |           / (sqrt((n_gaps::HUGEINT * sum_g2
       |                    - sum_g::HUGEINT * sum_g)::DOUBLE)
       |              + sum_g::DOUBLE) * 1000000)::BIGINT
       |       END AS burstiness_micro
       |FROM a""".stripMargin

  /** Per-window EXACT latency percentiles — the canonical service
    * telemetry (p50/p95/p99 per time bucket), on the comparator-proof
    * explicit-rank convention `r = max(1, ceil(p·n))` (the
    * [[graft.operators.Profile.winsorize]] rule: engine percentile
    * builtins' index conventions drift, a one-element shift changes
    * every cell) with
    * values carried as BIGINT cents. `ps` are ten-thousandth fractions
    * (5000 = p50). Batch analytic of the events family — the rank window
    * spills and is bounded by window volume.
    */
  def windowedPercentiles(events: DataFrame, width: String, value: Column,
      ps: Seq[Int] = Seq(5000, 9500, 9900)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 10000))
    val base = events
      .select(window(col("ts"), width).as("w"),
        (value.cast("decimal(18,2)") * 100).cast("long").as("c"))
      .where(col("c").isNotNull)
      .select(col("w.start").as("win_start"), col("c"))
    val ranked = base
      .withColumn("rn", row_number().over(
        Window.partitionBy("win_start").orderBy("c")))
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy("win_start")))
    val aggs = ps.map(p =>
      min(when(col("rn") ===
        expr(s"greatest(1L, ($p * cnt + 9999) div 10000)"), col("c")))
        .as(s"p${p / 100}_cents"))
    ranked.groupBy(col("win_start"))
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** DuckDB replay of [[windowedPercentiles]] (same cents carrier, same
    * explicit ceil(p·n) ranks).
    */
  def windowedPercentilesOracleSql(widthSec: Long, valueExpr: String,
      ps: Seq[Int] = Seq(5000, 9500, 9900)): String = {
    val winUs = widthSec * 1000000L
    val cells = ps.map(p =>
      s"min(CASE WHEN rn = greatest(1, ($p * cnt + 9999) // 10000)" +
        s" THEN c END)::BIGINT AS p${p / 100}_cents").mkString(",\n       ")
    s"""WITH base AS (
       |  SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |           AS win_start,
       |         (($valueExpr)::DECIMAL(18,2) * 100)::BIGINT AS c
       |  FROM events WHERE ($valueExpr) IS NOT NULL),
       |ranked AS (
       |  SELECT win_start, c,
       |         row_number() OVER (PARTITION BY win_start ORDER BY c) AS rn,
       |         count(*) OVER (PARTITION BY win_start) AS cnt
       |  FROM base)
       |SELECT win_start, count(*)::BIGINT AS n,
       |       $cells
       |FROM ranked GROUP BY win_start""".stripMargin
  }

  /** Streaming exact dedup: drops events whose key was already seen, with
    * state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`) — the streaming face of
    * [[graft.operators.Dedup.exactGroups]]. State is keyed by `keys` only,
    * so it scales with distinct keys inside the watermark, not stream length.
    */
  def streamingDedup(stream: DataFrame, watermark: String,
      keys: String*): DataFrame =
    stream.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Streaming duplicate suppression via MinHash band buckets: each incoming
    * document expands to its LSH band buckets
    * ([[graft.operators.Dedup.minhashPairsPortable]]'s banding, md5-portable
    * hashes) and `dropDuplicatesWithinWatermark` on (band, bucket) keeps only
    * the FIRST claim of each bucket. A document whose EVERY bucket was
    * already claimed (signature-identical within the watermark — exact and
    * near-exact duplicates) emits nothing and is dropped; a doc claiming at
    * least one fresh bucket survives. Partial near-dups (J ≈ 0.9 at r = 2
    * still differs in ~1-2 of 8 bands in expectation) survive — full
    * near-dup *pair detection* needs the batch verify join; this operator is
    * the bounded-state streaming filter in front of it. State is keyed by
    * buckets and expired by the watermark, so it scales with distinct
    * content inside the horizon, not stream length. Emits
    * (doc_id, ts, band, bucket) claim rows; distinct surviving doc_ids are
    * the pass-through set.
    */
  def streamingMinhashDedup(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, watermark: String, numHashes: Int = 16,
      bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val cs = graft.operators.Dedup.portableCoefficients(numHashes)
    val P = graft.operators.Dedup.PortablePrime
    val toks = graft.operators.TextAnalysis.tokens(col(textCol))
    val base = docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"), toks.as("toks"))
    // size() of a null token array is NULL — coalesce so BOTH branches see
    // short/null-text docs, or they'd pass neither filter and vanish
    val nToks = coalesce(size(col("toks")), lit(0))
    val withSh = base
      .where(nToks >= 2)
      .select(col("doc_id"), col("ts"),
        array_distinct(graft.operators.TextAnalysis.wordNgrams(col("toks"), 2)).as("sh"))
      .select(col("doc_id"), col("ts"), transform(col("sh"),
        s => graft.operators.Dedup.portableHash(s) % P).as("hs"))
    // per-row signature (HOF fold: streaming sources can't take the
    // explode+groupBy shortcut without an extra shuffled agg per microbatch)
    val sig = withSh.select(col("doc_id"), col("ts"),
      array(cs.map { case (a, b) =>
        array_min(transform(col("hs"), h => (lit(a) * h + lit(b)) % P)) }: _*).as("sig"))
    val bandClaims = sig
      .select(col("doc_id"), col("ts"), posexplode(array((0 until bands).map(bd =>
        concat_ws(",", slice(col("sig"), bd * r + 1, r))): _*)))
      .select(col("doc_id"), col("ts"), col("pos").as("band"),
        col("col").as("bucket"))
    // docs too short to shingle (< 2 tokens, incl. empty/null text) get an
    // exact-text claim on the reserved band -1: unique short docs SURVIVE
    // (they were silently dropped before — a claimless doc looked like a
    // duplicate), exact-duplicate short docs still dedup within the horizon
    val shortClaims = base
      .where(nToks < 2)
      .select(col("doc_id"), col("ts"), lit(-1).as("band"),
        md5(concat_ws(" ", coalesce(col("toks"),
          array().cast("array<string>")))).as("bucket"))
    bandClaims.unionByName(shortClaims)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("band", "bucket"))
  }

  /** Stream-stream interval join: clicks joined to the same user's purchases
    * that happened in (click_ts - lookback, click_ts]. Both sides carry
    * watermarks so the join state is bounded — the streaming analogue of
    * [[graft.operators.Temporal.asofJoin]]'s "recent context" semantics,
    * expressed as Structured Streaming's watermarked interval join.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame, watermark: String,
      lookback: String): DataFrame =
    intervalJoinTyped(clicks, purchases, watermark, lookback, "inner")

  /** [[intervalJoin]] as a stream-stream LEFT OUTER join: clicks with no
    * in-window purchase still emit — with null purchase columns — once the
    * watermark passes their join window and Spark can prove no match will
    * arrive (the state-expiry semantics that make outer results correct
    * rather than premature). Same bounded state as the inner form.
    */
  def intervalJoinLeftOuter(clicks: DataFrame, purchases: DataFrame,
      watermark: String, lookback: String): DataFrame =
    intervalJoinTyped(clicks, purchases, watermark, lookback, "left_outer")

  private def intervalJoinTyped(clicks: DataFrame, purchases: DataFrame,
      watermark: String, lookback: String, joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") <= col("click_ts") &&
        col("purchase_ts") > col("click_ts") - expr(s"INTERVAL $lookback"),
      joinType)
      .drop("p_user")
  }

  /** Weekly cohort-retention matrix — the classic "of users who signed up
    * in week W, how many were still active k weeks later" engagement
    * table. Cohort = the week (`date_trunc('week')`, Monday-aligned in
    * both engines) of a user's FIRST `cohortType` event; activity = any
    * event in a week at or after the cohort week (a user's cohort event
    * makes them active at offset 0, so the offset-0 row IS the cohort
    * size). Week offsets are exact: both weeks are Monday-truncated, the
    * day difference is a multiple of 7, and the division is integer.
    * Returns (cohort_week, week_offset, n_users, cohort_size, retention)
    * with retention = n_users/cohort_size rounded to 6 dp.
    *
    * Scale shape: one user-keyed aggregate (first cohort event), one
    * (user, week) distinct, one user-keyed join, one small aggregate —
    * all bounded shuffles; no windows, no per-user state beyond a row.
    */
  def cohortRetention(events: DataFrame, cohortType: String): DataFrame = {
    val cohorts = events.where(col("event_type") === cohortType)
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cw"))
      .transform(graft.operators.Caching.persist) // joined + sized below
    val activity = events.select(col("user_id"),
        date_trunc("week", col("ts")).as("aw")).distinct()
    val sizes = cohorts.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    cohorts.join(activity, "user_id")
      .where(col("aw") >= col("cw"))
      .select(col("cw"),
        expr("datediff(CAST(aw AS date), CAST(cw AS date)) div 7")
          .cast("long").as("week_offset"))
      .groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(sizes, "cw")
      .select(col("cw").cast("date").as("cohort_week"), col("week_offset"),
        col("n_users"), col("cohort_size"),
        round(col("n_users").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
  }

  /** DuckDB replay of [[cohortRetention]] value-for-value. */
  def cohortOracleSql(cohortType: String,
      table: String = "events"): String =
    s"""WITH c AS (
       |  SELECT user_id, date_trunc('week', min(ts::TIMESTAMP)) AS cw
       |  FROM $table WHERE event_type = '$cohortType' GROUP BY user_id),
       |a AS (
       |  SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP) AS aw
       |  FROM $table),
       |j AS (
       |  SELECT c.cw,
       |         date_diff('day', c.cw::DATE, a.aw::DATE) // 7 AS week_offset
       |  FROM c JOIN a USING (user_id) WHERE a.aw >= c.cw),
       |r AS (
       |  SELECT cw, week_offset, count(*)::BIGINT AS n_users
       |  FROM j GROUP BY cw, week_offset),
       |s AS (SELECT cw, count(*)::BIGINT AS cohort_size FROM c GROUP BY cw)
       |SELECT r.cw::DATE AS cohort_week, r.week_offset::BIGINT AS week_offset,
       |       r.n_users, s.cohort_size,
       |       round(r.n_users::DOUBLE / s.cohort_size::DOUBLE, 6) AS retention
       |FROM r JOIN s USING (cw)""".stripMargin

  /** Event-rate anomaly detection — per (event_type, bucket) counts scored
    * against their own trailing baseline: a bucket whose count exceeds
    * `thresholdMicro`/1e6 × the trailing-`trail`-bucket mean is flagged.
    * The monitoring pass a pipeline runs over its ingest telemetry (bot
    * bursts, replayed logs, broken producers) before the data reaches
    * curation.
    *
    * Exact integer scoring: with S = Σ and C = count of the trailing
    * observed buckets (ROWS BETWEEN `trail` PRECEDING AND 1 PRECEDING),
    *   ratio_micro = n·C·1e6 // S
    * — the count-to-mean ratio in micro-units, floor-divided identically
    * by both engines; `is_anomaly` additionally requires a FULL baseline
    * (C = `trail`), so early buckets warm up instead of false-firing.
    * Baseline is over OBSERVED buckets (an all-zero hour contributes no
    * row) — the variant that needs no dense grid; compose with
    * [[graft.operators.Temporal.resampleFill]] first when silent-gap
    * sensitivity matters.
    *
    * Shape: one (type, bucket) pre-aggregate shrinks the window input to
    * #types × #buckets rows (a year of hours is <9k rows per type), THEN
    * the per-type ordered window runs over that tiny table — the
    * [[graft.operators.Profile.ksDriftQuantized]] posture: never a
    * global-order window over raw events.
    */
  def rateAnomaly(events: DataFrame, bucketSec: Long = 3600L,
      trail: Int = 24, thresholdMicro: Long = 3000000L): DataFrame = {
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("bucket_s")
      .rowsBetween(-trail, -1)
    counts
      .withColumn("base_sum", sum(col("n")).over(w))
      .withColumn("base_cnt", count(col("n")).over(w))
      .select(col("event_type"), col("bucket_s"), col("n"),
        coalesce(col("base_sum"), lit(0L)).as("base_sum"),
        coalesce(col("base_cnt"), lit(0L)).as("base_cnt"),
        when(col("base_sum") > 0,
          expr("(n * base_cnt * 1000000) div base_sum")).as("ratio_micro"))
      .withColumn("is_anomaly",
        coalesce(col("base_cnt") === trail
          && col("ratio_micro") > thresholdMicro, lit(false)))
  }

  /** DuckDB replay of [[rateAnomaly]] value-for-value (same ROWS frame,
    * same floor arithmetic).
    */
  def rateAnomalyOracleSql(bucketSec: Long = 3600L, trail: Int = 24,
      thresholdMicro: Long = 3000000L, table: String = "events"): String =
    s"""WITH c AS (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2),
       |b AS (
       |  SELECT event_type, bucket_s, n,
       |         (coalesce(sum(n) OVER w, 0))::BIGINT AS base_sum,
       |         (count(n) OVER w)::BIGINT AS base_cnt
       |  FROM c
       |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_s
       |               ROWS BETWEEN $trail PRECEDING AND 1 PRECEDING)),
       |r AS (
       |  SELECT event_type, bucket_s, n, base_sum, base_cnt,
       |         CASE WHEN base_sum > 0
       |              THEN (n * base_cnt * 1000000) // base_sum END
       |           AS ratio_micro
       |  FROM b)
       |SELECT event_type, bucket_s, n, base_sum, base_cnt, ratio_micro,
       |       coalesce(base_cnt = $trail
       |         AND ratio_micro > $thresholdMicro, false) AS is_anomaly
       |FROM r""".stripMargin

  /** EWMA-forecast anomaly scoring — the exponentially-weighted companion
    * to [[rateAnomaly]]'s trailing-mean: each (event_type, bucket) count
    * is scored against the EWMA of all PRIOR buckets, so the baseline
    * adapts to drift (a slowly growing service stops alarming) while a
    * sharp burst still fires. α = 1/2^`halfK` and everything stays in
    * integer micro-units:
    *   s_1 = n_1·1e6;  s_t = s_{t-1} + sign(Δ)·(|Δ| div 2^halfK),
    *     Δ = n_t·1e6 − s_{t-1}
    *   ratio_micro = n_t·1e12 div s_{t-1}   (vs the forecast, not s_t)
    * The sign·abs form makes Spark's truncating `div` and DuckDB's
    * flooring `//` agree on negative deltas; a fixed warm-up suppresses
    * flags for the first `warm` buckets of each type.
    *
    * Shape: the (type, bucket) pre-aggregate shrinks the corpus to
    * #types × #buckets rows; the inherently-sequential EWMA then runs as
    * ONE sorted `aggregate` HOF fold per type over that bounded array
    * (the BM25/naive-Bayes fold posture — never a corpus-sized window;
    * a year of hourly buckets is 8.8k elements). The oracle replays the
    * fold with a recursive CTE over the same ordering.
    */
  def ewmaAnomaly(events: DataFrame, bucketSec: Long = 3600L,
      halfK: Int = 3, warm: Int = 24,
      thresholdMicro: Long = 2500000L): DataFrame = {
    require(halfK >= 0 && warm >= 0)
    val pow2 = 1L << halfK
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bucket_s"), col("n"))))
        .as("seq"))
      .select(col("event_type"), expr(
        s"""aggregate(
           |  seq,
           |  struct(CAST(-1 AS BIGINT) AS s,
           |         CAST(array() AS ARRAY<STRUCT<bucket_s: BIGINT,
           |           n: BIGINT, ewma_micro: BIGINT,
           |           ratio_micro: BIGINT>>) AS out),
           |  (acc, x) -> struct(
           |    CASE WHEN acc.s < 0 THEN x.n * 1000000
           |         ELSE acc.s
           |           + (CASE WHEN x.n * 1000000 < acc.s THEN -1 ELSE 1 END)
           |             * (abs(x.n * 1000000 - acc.s) div $pow2) END,
           |    array_append(acc.out, struct(
           |      x.bucket_s AS bucket_s, CAST(x.n AS BIGINT) AS n,
           |      CAST(CASE WHEN acc.s < 0 THEN x.n * 1000000
           |           ELSE acc.s
           |             + (CASE WHEN x.n * 1000000 < acc.s THEN -1 ELSE 1 END)
           |               * (abs(x.n * 1000000 - acc.s) div $pow2) END
           |        AS BIGINT) AS ewma_micro,
           |      CAST(CASE WHEN acc.s > 0
           |           THEN (x.n * 1000000000000) div acc.s END
           |        AS BIGINT) AS ratio_micro))),
           |  acc -> acc.out)""".stripMargin).as("out"))
      .select(col("event_type"), posexplode(col("out")))
      .select(col("event_type"), col("col.bucket_s"), col("col.n"),
        col("col.ewma_micro"), col("col.ratio_micro"),
        (col("pos") >= warm &&
          coalesce(col("col.ratio_micro") > thresholdMicro, lit(false)))
          .as("is_spike"))
  }

  /** DuckDB replay of [[ewmaAnomaly]] — the per-type sequential fold as a
    * recursive CTE over the row_number order (bounded by buckets, not
    * corpus rows).
    */
  def ewmaAnomalyOracleSql(bucketSec: Long = 3600L, halfK: Int = 3,
      warm: Int = 24, thresholdMicro: Long = 2500000L,
      table: String = "events"): String = {
    val pow2 = 1L << halfK
    s"""WITH RECURSIVE c AS (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2),
       |seq AS MATERIALIZED (
       |  SELECT event_type, bucket_s, n,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY bucket_s) AS rn
       |  FROM c),
       |rec(event_type, rn, s_prev, ewma) AS (
       |  SELECT event_type, rn, NULL::BIGINT, n * 1000000
       |  FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT x.event_type, x.rn, r.ewma,
       |         r.ewma + (CASE WHEN x.n * 1000000 < r.ewma THEN -1 ELSE 1 END)
       |                  * (abs(x.n * 1000000 - r.ewma) // $pow2)
       |  FROM rec r JOIN seq x
       |    ON x.event_type = r.event_type AND x.rn = r.rn + 1)
       |SELECT s.event_type, s.bucket_s, s.n,
       |       r.ewma AS ewma_micro,
       |       CASE WHEN r.s_prev > 0
       |            THEN (s.n * 1000000000000) // r.s_prev END AS ratio_micro,
       |       coalesce(s.rn > $warm
       |         AND (s.n * 1000000000000) // r.s_prev > $thresholdMicro,
       |         false) AS is_spike
       |FROM seq s JOIN rec r
       |  ON r.event_type = s.event_type AND r.rn = s.rn""".stripMargin
  }

  /** Mann–Kendall trend test + Theil–Sen slope per event-type rate series
    * — the nonparametric "is this metric actually trending, and how fast?"
    * pair (Mann 1945; Kendall 1975; Theil 1950; Sen 1968) that completes
    * the monitoring family next to [[cusumShift]] (abrupt shifts) and
    * [[ewmaAnomaly]] (point spikes): MK detects monotone DRIFT no single
    * bucket betrays, with no normality or linearity assumption, and the
    * Sen slope is the outlier-proof rate estimate (the median pairwise
    * slope — one wild bucket moves OLS, not the median).
    *
    * Exact end to end: S = Σ sign(n_j − n_i) over all bucket pairs i<j is
    * integer counting (concordant/discordant/tied visible), tau-a rides
    * the micro floor S·1e6 div (m(m−1)/2), and each pairwise slope is the
    * exact micro floor Δn·1e6 div Δsteps with the median as
    * `percentile_disc` (an order statistic — no interpolation, the
    * [[graft.operators.Profile.outliersMad]] parity convention).
    *
    * Scale shape: the corpus collapses to per-(type, bucket) counts
    * first; the pair space is per-type buckets² — bounded by the TIME
    * RANGE (a year of hourly buckets is 8.8k rows → 38M pairs per type,
    * shuffled on the type equi-key), never by event volume. Types with a
    * single bucket report S = 0, tau = 0, slope = 0.
    */
  def trendTest(events: DataFrame, bucketSec: Long = 3600L): DataFrame = {
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
      .transform(graft.operators.Caching.persist)
    val pairs = counts.as("a")
      .join(counts.as("b"), col("a.event_type") === col("b.event_type")
        && col("b.bucket_s") > col("a.bucket_s"))
      .select(col("a.event_type").as("event_type"),
        (col("b.n") - col("a.n")).as("dn"),
        expr(s"(b.bucket_s - a.bucket_s) div $bucketSec").as("dsteps"))
      .select(col("event_type"), col("dn"),
        // sign·abs floor (the house sdiv convention): Spark's `div`
        // truncates toward zero while DuckDB's `//` floors, so a bare
        // negative-numerator division diverges by one micro unit
        expr("CASE WHEN dn < 0 THEN -1 ELSE 1 END" +
          " * ((abs(dn) * 1000000) div dsteps)").as("slope_micro"))
    val agg = pairs.groupBy(col("event_type"))
      .agg(
        sum(signum(col("dn")).cast("long")).as("s"),
        sum(when(col("dn") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("dn") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("dn") === 0, 1L).otherwise(0L)).as("tied"),
        // percentile_disc returns DOUBLE; the order statistic is one of
        // the exact integer slopes, so the cast is lossless
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_micro)")
          .cast("long").as("sen_slope_micro"))
    val m = counts.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m_buckets"))
    m.join(agg, Seq("event_type"), "left")
      .select(col("event_type"), col("m_buckets"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        coalesce(col("tied"), lit(0L)).as("tied"),
        when(col("m_buckets") < 2, lit(0L))
          .otherwise(expr("CASE WHEN s < 0 THEN -1 ELSE 1 END" +
            " * ((abs(s) * 1000000)" +
            " div ((m_buckets * (m_buckets - 1)) div 2))"))
          .as("tau_micro"),
        coalesce(col("sen_slope_micro"), lit(0L)).as("sen_slope_micro"))
  }

  /** SEASONAL Mann–Kendall (Hirsch & Slack 1984) — [[trendTest]] with the
    * pair space restricted to SAME-SEASON buckets (season = bucket index
    * mod `period`; 24 on hourly buckets = hour-of-day). The correct trend
    * test for cyclic series: plain MK compares a 3 a.m. bucket against a
    * peak-hour bucket and reads the daily cycle as trend (or drowns a
    * real drift in cycle variance); the seasonal variant only ever
    * compares Tuesday-3 a.m. with other 3 a.m. buckets, so the cycle
    * cancels exactly.
    *
    * S = Σ_k S_k over seasons, tau = S / Σ_k m_k(m_k−1)/2 (sign-safe micro
    * floor), Sen slope = the discrete median over ALL within-season
    * pairwise slopes in per-bucket-step units (pinned; Δbuckets is a
    * multiple of `period` here). Same exactness and scale shape as
    * [[trendTest]] — the pair space is Σ_k m_k², strictly smaller than
    * the unrestricted m².
    */
  def trendTestSeasonal(events: DataFrame, bucketSec: Long = 3600L,
      period: Int = 24): DataFrame = {
    require(period >= 1)
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
      .withColumn("season",
        expr(s"pmod(bucket_s div $bucketSec, $period)"))
      .transform(graft.operators.Caching.persist)
    val pairs = counts.as("a")
      .join(counts.as("b"), col("a.event_type") === col("b.event_type")
        && col("a.season") === col("b.season")
        && col("b.bucket_s") > col("a.bucket_s"))
      .select(col("a.event_type").as("event_type"),
        (col("b.n") - col("a.n")).as("dn"),
        expr(s"(b.bucket_s - a.bucket_s) div $bucketSec").as("dsteps"))
      .select(col("event_type"), col("dn"),
        expr("CASE WHEN dn < 0 THEN -1 ELSE 1 END" +
          " * ((abs(dn) * 1000000) div dsteps)").as("slope_micro"))
    val agg = pairs.groupBy(col("event_type"))
      .agg(
        sum(signum(col("dn")).cast("long")).as("s"),
        sum(when(col("dn") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("dn") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("dn") === 0, 1L).otherwise(0L)).as("tied"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_micro)")
          .cast("long").as("sen_slope_micro"))
    val m = counts.groupBy(col("event_type"), col("season"))
      .agg(count(lit(1)).as("mk"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_seasons"), sum(col("mk")).as("m_buckets"),
        sum(expr("(mk * (mk - 1)) div 2")).as("denom"))
    m.join(agg, Seq("event_type"), "left")
      .select(col("event_type"), col("n_seasons"), col("m_buckets"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        coalesce(col("tied"), lit(0L)).as("tied"),
        when(col("denom") === 0, lit(0L))
          .otherwise(expr("CASE WHEN s < 0 THEN -1 ELSE 1 END" +
            " * ((abs(s) * 1000000) div denom)"))
          .as("tau_micro"),
        coalesce(col("sen_slope_micro"), lit(0L)).as("sen_slope_micro"))
  }

  /** DuckDB replay of [[trendTestSeasonal]]. */
  def trendTestSeasonalOracleSql(bucketSec: Long = 3600L, period: Int = 24,
      table: String = "events"): String =
    s"""WITH c AS (
       |  SELECT event_type, bucket_s,
       |         ((bucket_s // $bucketSec) % $period + $period) % $period
       |           AS season, n
       |  FROM (
       |    SELECT event_type,
       |           (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |             * $bucketSec AS bucket_s,
       |           count(*)::BIGINT AS n
       |    FROM $table GROUP BY 1, 2)),
       |pairs AS (
       |  SELECT a.event_type, (b.n - a.n)::BIGINT AS dn,
       |         (CASE WHEN b.n < a.n THEN -1 ELSE 1 END)
       |           * ((abs(b.n - a.n) * 1000000)
       |              // ((b.bucket_s - a.bucket_s) // $bucketSec))
       |           AS slope_micro
       |  FROM c a JOIN c b ON b.event_type = a.event_type
       |    AND b.season = a.season AND b.bucket_s > a.bucket_s),
       |agg AS (
       |  SELECT event_type,
       |         coalesce(sum(CASE WHEN dn > 0 THEN 1 WHEN dn < 0 THEN -1
       |                           ELSE 0 END), 0)::BIGINT AS s,
       |         count(CASE WHEN dn > 0 THEN 1 END)::BIGINT AS concordant,
       |         count(CASE WHEN dn < 0 THEN 1 END)::BIGINT AS discordant,
       |         count(CASE WHEN dn = 0 THEN 1 END)::BIGINT AS tied,
       |         quantile_disc(slope_micro, 0.5)::BIGINT AS sen_slope_micro
       |  FROM pairs GROUP BY event_type),
       |m AS (
       |  SELECT event_type, count(*)::BIGINT AS n_seasons,
       |         sum(mk)::BIGINT AS m_buckets,
       |         sum((mk * (mk - 1)) // 2)::BIGINT AS denom
       |  FROM (SELECT event_type, season, count(*)::BIGINT AS mk
       |        FROM c GROUP BY 1, 2)
       |  GROUP BY event_type)
       |SELECT m.event_type, n_seasons, m_buckets,
       |       coalesce(s, 0)::BIGINT AS s,
       |       coalesce(concordant, 0)::BIGINT AS concordant,
       |       coalesce(discordant, 0)::BIGINT AS discordant,
       |       coalesce(tied, 0)::BIGINT AS tied,
       |       (CASE WHEN denom = 0 THEN 0
       |             ELSE (CASE WHEN coalesce(s, 0) < 0 THEN -1 ELSE 1 END)
       |                  * ((abs(coalesce(s, 0)) * 1000000) // denom)
       |        END)::BIGINT AS tau_micro,
       |       coalesce(sen_slope_micro, 0)::BIGINT AS sen_slope_micro
       |FROM m LEFT JOIN agg USING (event_type)""".stripMargin

  /** DuckDB replay of [[trendTest]] (same pair space, same micro floors,
    * same discrete median).
    */
  def trendTestOracleSql(bucketSec: Long = 3600L,
      table: String = "events"): String =
    s"""WITH c AS (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.event_type, (b.n - a.n)::BIGINT AS dn,
       |         (CASE WHEN b.n < a.n THEN -1 ELSE 1 END)
       |           * ((abs(b.n - a.n) * 1000000)
       |              // ((b.bucket_s - a.bucket_s) // $bucketSec))
       |           AS slope_micro
       |  FROM c a JOIN c b ON b.event_type = a.event_type
       |    AND b.bucket_s > a.bucket_s),
       |agg AS (
       |  SELECT event_type,
       |         coalesce(sum(CASE WHEN dn > 0 THEN 1 WHEN dn < 0 THEN -1
       |                           ELSE 0 END), 0)::BIGINT AS s,
       |         count(CASE WHEN dn > 0 THEN 1 END)::BIGINT AS concordant,
       |         count(CASE WHEN dn < 0 THEN 1 END)::BIGINT AS discordant,
       |         count(CASE WHEN dn = 0 THEN 1 END)::BIGINT AS tied,
       |         quantile_disc(slope_micro, 0.5)::BIGINT AS sen_slope_micro
       |  FROM pairs GROUP BY event_type),
       |m AS (SELECT event_type, count(*)::BIGINT AS m_buckets
       |      FROM c GROUP BY event_type)
       |SELECT m.event_type, m_buckets,
       |       coalesce(s, 0)::BIGINT AS s,
       |       coalesce(concordant, 0)::BIGINT AS concordant,
       |       coalesce(discordant, 0)::BIGINT AS discordant,
       |       coalesce(tied, 0)::BIGINT AS tied,
       |       (CASE WHEN m_buckets < 2 THEN 0
       |             ELSE (CASE WHEN coalesce(s, 0) < 0 THEN -1 ELSE 1 END)
       |                  * ((abs(coalesce(s, 0)) * 1000000)
       |                     // ((m_buckets * (m_buckets - 1)) // 2))
       |        END)::BIGINT
       |         AS tau_micro,
       |       coalesce(sen_slope_micro, 0)::BIGINT AS sen_slope_micro
       |FROM m LEFT JOIN agg USING (event_type)""".stripMargin

  /** Lagged cross-correlation between two event-type rate series — "does
    * `typeA` activity LEAD `typeB` activity, and by how many buckets?"
    * (the classic lead-lag diagnostic: clicks→purchases, deploys→errors).
    * Both series are densified to the full [min, max] bucket grid with
    * zero-fill (correlation over observed-only buckets silently ignores
    * silence, which IS signal here), then Pearson corr(A_t, B_{t+L}) is
    * computed for every lag |L| ≤ `maxLag` over the overlapping range.
    *
    * Exactness: counts are integers, so all five moments are exact
    * BIGINTs; corr is one identical IEEE divide/sqrt rounded to 6 dp
    * (the [[graft.operators.Similarity.correlationMatrix]] tail);
    * zero-variance series pin corr = 0.
    *
    * Shape: the corpus collapses to per-(type, bucket) counts first; the
    * dense grid is one generator off a 1-row min/max aggregate; each lag
    * is an equi-join on the SHIFTED bucket key (the 2·maxLag+1 lag table
    * broadcasts onto the grid — no range join, no window); one final
    * lag-keyed aggregate. Work ∝ buckets × lags, independent of event
    * count.
    */
  def lagCorrelation(events: DataFrame, typeA: String, typeB: String,
      bucketSec: Long = 3600L, maxLag: Int = 12): DataFrame = {
    require(maxLag >= 0)
    val counts = events
      .where(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
      .transform(graft.operators.Caching.persist)
    val grid = counts.agg(min(col("bucket_s")).as("lo"),
        max(col("bucket_s")).as("hi"))
      .select(explode(expr(s"sequence(lo, hi, $bucketSec)")).as("bucket_s"))
      .transform(graft.operators.Caching.persist)
    def series(t: String, as: String): DataFrame = grid
      .join(counts.where(col("event_type") === t)
        .select(col("bucket_s"), col("n")), Seq("bucket_s"), "left")
      .select(col("bucket_s"), coalesce(col("n"), lit(0L)).as(as))
    val a = series(typeA, "a")
    val b = series(typeB, "b")
    val lags = events.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    val joined = a.crossJoin(broadcast(lags))
      .join(b.withColumnRenamed("bucket_s", "b_bucket"),
        col("b_bucket") === col("bucket_s") + col("lag") * bucketSec)
    joined.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"), sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
      .select(col("lag"), col("n"),
        when(col("n") * col("saa") - col("sa") * col("sa") === 0 ||
            col("n") * col("sbb") - col("sb") * col("sb") === 0, lit(0d))
          .otherwise(round(
            (col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
              sqrt(((col("n") * col("saa") - col("sa") * col("sa")) *
                (col("n") * col("sbb") - col("sb") * col("sb")))
                .cast("double")), 6)).as("corr"))
  }

  /** DuckDB replay of [[lagCorrelation]] (same dense grid, same integer
    * moments, same IEEE tail).
    */
  def lagCorrelationOracleSql(typeA: String, typeB: String,
      bucketSec: Long = 3600L, maxLag: Int = 12,
      table: String = "events"): String =
    s"""WITH c AS MATERIALIZED (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         count(*)::BIGINT AS n
       |  FROM $table WHERE event_type IN ('$typeA', '$typeB')
       |  GROUP BY 1, 2),
       |grid AS MATERIALIZED (
       |  SELECT unnest(generate_series((SELECT min(bucket_s) FROM c),
       |                                (SELECT max(bucket_s) FROM c),
       |                                $bucketSec)) AS bucket_s),
       |a AS MATERIALIZED (
       |  SELECT g.bucket_s, coalesce(c.n, 0)::BIGINT AS a
       |  FROM grid g LEFT JOIN c
       |    ON c.bucket_s = g.bucket_s AND c.event_type = '$typeA'),
       |b AS MATERIALIZED (
       |  SELECT g.bucket_s, coalesce(c.n, 0)::BIGINT AS b
       |  FROM grid g LEFT JOIN c
       |    ON c.bucket_s = g.bucket_s AND c.event_type = '$typeB'),
       |m AS (
       |  SELECT l.range AS lag, count(*)::BIGINT AS n,
       |         sum(a.a)::BIGINT AS sa, sum(b.b)::BIGINT AS sb,
       |         sum(a.a * b.b)::BIGINT AS sab,
       |         sum(a.a * a.a)::BIGINT AS saa,
       |         sum(b.b * b.b)::BIGINT AS sbb
       |  FROM range(-$maxLag, ${maxLag + 1}) l
       |  JOIN a ON true
       |  JOIN b ON b.bucket_s = a.bucket_s + l.range * $bucketSec
       |  GROUP BY 1)
       |SELECT lag, n,
       |       CASE WHEN n * saa - sa * sa = 0 OR n * sbb - sb * sb = 0
       |            THEN 0
       |            ELSE round((n * sab - sa * sb)::DOUBLE
       |              / sqrt(((n * saa - sa * sa)
       |                      * (n * sbb - sb * sb))::DOUBLE), 6)
       |       END AS corr
       |FROM m""".stripMargin

  /** OHLC bars — the canonical time-series downsample (open/high/low/
    * close + volume per bucket, the candlestick aggregation): one hash
    * aggregate, with open/close selected by struct-argmin/argmax over
    * the total (ts, event_id) order so ties inside a microsecond are
    * deterministic. High/low/open/close are SELECTED doubles (no float
    * arithmetic — hash-stable); volume is an exact cent-carrier sum.
    */
  def ohlcBars(events: DataFrame, bucketSec: Long = 3600L): DataFrame =
    events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"),
        expr("unix_micros(ts)").as("us"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("bucket_s"))
      .agg(
        min(struct(col("us"), col("event_id"), col("value")))
          .getField("value").as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max(struct(col("us"), col("event_id"), col("value")))
          .getField("value").as("close_v"),
        count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("vol_cents"))

  /** DuckDB replay of [[ohlcBars]] (same total order, same cent sums). */
  def ohlcOracleSql(bucketSec: Long = 3600L,
      table: String = "events"): String =
    s"""WITH e AS (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         epoch_us(ts::TIMESTAMP) AS us, event_id, value
       |  FROM $table)
       |SELECT event_type, bucket_s,
       |       first(value ORDER BY us, event_id, value) AS open_v,
       |       max(value) AS high_v, min(value) AS low_v,
       |       last(value ORDER BY us, event_id, value) AS close_v,
       |       count(*)::BIGINT AS n,
       |       sum(round(value * 100)::BIGINT)::BIGINT AS vol_cents
       |FROM e GROUP BY 1, 2""".stripMargin

  /** Holt double-exponential smoothing (Holt 1957) — the TREND-aware
    * member of the forecasting trio ([[ewmaAnomaly]] adapts level,
    * [[cusumShift]] catches level shifts; Holt additionally carries a
    * trend term, so a steady RAMP — which EWMA lags forever and CUSUM
    * only flags once it has drifted far — is visible immediately as a
    * sustained nonzero trend):
    *   l_t = (l+b) + sdiv(x·1e6 − (l+b), 2^ka)       (level)
    *   b_t = b + sdiv(l_t − l_{t-1} − b, 2^kb)       (trend)
    *   resid = x·1e6 − (l_{t-1}+b_{t-1})             (one-step forecast error)
    * Init l_1 = x_1·1e6, b_1 = 0; all integer micro arithmetic with the
    * sign-safe division; `trend_alert` fires past the warm-up when
    * |b_t| > thresholdMicro. Same bounded sorted-fold shape and
    * recursive-CTE oracle as the EWMA tier.
    */
  def holtTrend(events: DataFrame, bucketSec: Long = 3600L, ka: Int = 3,
      kb: Int = 3, warm: Int = 24,
      thresholdMicro: Long = 500000L): DataFrame = {
    require(ka >= 0 && kb >= 0 && warm >= 0)
    val (pa, pb) = (1L << ka, 1L << kb)
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
    def sdiv(a: String, b: Long): String =
      s"(CASE WHEN ($a) < 0 THEN -1 ELSE 1 END) * (abs($a) div $b)"
    val fc = "(acc.l + acc.b)"
    // first-row test on the element COUNTER, not a state sentinel: a
    // legitimate (l, b) could in principle hit any sentinel pair
    val lNew = s"CASE WHEN acc.i = 0L THEN x.n * 1000000 " +
      s"ELSE $fc + ${sdiv(s"x.n * 1000000 - $fc", pa)} END"
    val bNew = s"CASE WHEN acc.i = 0L THEN 0L " +
      s"ELSE acc.b + ${sdiv(s"($lNew) - acc.l - acc.b", pb)} END"
    val resid = s"CASE WHEN acc.i = 0L " +
      s"THEN CAST(NULL AS BIGINT) ELSE x.n * 1000000 - $fc END"
    counts
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bucket_s"), col("n"))))
        .as("seq"))
      .select(col("event_type"), expr(
        s"""aggregate(
           |  seq,
           |  named_struct('i', 0L, 'l', -1L, 'b', -1L,
           |    'out', CAST(array() AS ARRAY<STRUCT<bucket_s: BIGINT,
           |      n: BIGINT, level_micro: BIGINT, trend_micro: BIGINT,
           |      resid_micro: BIGINT, trend_alert: BOOLEAN>>)),
           |  (acc, x) -> named_struct(
           |    'i', acc.i + 1L,
           |    'l', CAST($lNew AS BIGINT),
           |    'b', CAST($bNew AS BIGINT),
           |    'out', array_append(acc.out, named_struct(
           |      'bucket_s', x.bucket_s, 'n', CAST(x.n AS BIGINT),
           |      'level_micro', CAST($lNew AS BIGINT),
           |      'trend_micro', CAST($bNew AS BIGINT),
           |      'resid_micro', CAST($resid AS BIGINT),
           |      'trend_alert', CAST(acc.i >= $warm
           |        AND abs(CAST($bNew AS BIGINT)) > $thresholdMicro
           |        AS BOOLEAN)))),
           |  acc -> acc.out)""".stripMargin).as("out"))
      .select(col("event_type"), explode(col("out")).as("o"))
      .select(col("event_type"), col("o.bucket_s"), col("o.n"),
        col("o.level_micro"), col("o.trend_micro"), col("o.resid_micro"),
        col("o.trend_alert"))
  }

  /** DuckDB replay of [[holtTrend]]. */
  def holtOracleSql(bucketSec: Long = 3600L, ka: Int = 3, kb: Int = 3,
      warm: Int = 24, thresholdMicro: Long = 500000L,
      table: String = "events"): String = {
    val (pa, pb) = (1L << ka, 1L << kb)
    def sdiv(a: String, b: Long): String =
      s"(CASE WHEN ($a) < 0 THEN -1 ELSE 1 END) * (abs($a) // $b)"
    val fc = "(r.l + r.b)"
    val lNew = s"$fc + ${sdiv(s"x.n * 1000000 - $fc", pa)}"
    s"""WITH RECURSIVE c AS (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2),
       |seq AS MATERIALIZED (
       |  SELECT event_type, bucket_s, n,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY bucket_s) AS rn
       |  FROM c),
       |rec(event_type, rn, l, b, resid) AS (
       |  SELECT event_type, 1::BIGINT,
       |         n * 1000000, 0::BIGINT, NULL::BIGINT
       |  FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT x.event_type, x.rn,
       |         $lNew,
       |         r.b + ${sdiv(s"($lNew) - r.l - r.b", pb)},
       |         x.n * 1000000 - $fc
       |  FROM rec r JOIN seq x
       |    ON x.event_type = r.event_type AND x.rn = r.rn + 1)
       |SELECT s.event_type, s.bucket_s, s.n,
       |       r.l::BIGINT AS level_micro, r.b::BIGINT AS trend_micro,
       |       r.resid::BIGINT AS resid_micro,
       |       coalesce(s.rn > $warm AND abs(r.b) > $thresholdMicro, false)
       |         AS trend_alert
       |FROM seq s JOIN rec r
       |  ON r.event_type = s.event_type AND r.rn = s.rn""".stripMargin
  }

  /** CUSUM changepoint detection (Page 1954) over per-type event rates —
    * the LEVEL-SHIFT detector next to [[rateAnomaly]] (single-bucket
    * spikes) and [[ewmaAnomaly]] (drift-adapting forecast): the two
    * one-sided cumulative sums
    *   S⁺ = max(0, S⁺ + (x−μ) − k),  S⁻ = max(0, S⁻ − (x−μ) − k)
    * accumulate SUSTAINED deviation from the warm-up baseline mean μ and
    * fire when either crosses h — a 20% rate shift that never spikes any
    * single bucket (invisible to both companions) trips CUSUM within a
    * few buckets. Slack `kPct` and threshold `hPct` are percentages OF μ
    * so one setting works across types with different base rates.
    *
    * All integer micro-units: μ = warm-sum·1e6 div warm, the recursions
    * are add/subtract/max only (no signed division anywhere), flags are
    * strict comparisons. Same sequential-fold shape as [[ewmaAnomaly]]:
    * one bounded sorted `aggregate` HOF per type, recursive-CTE oracle.
    */
  def cusumShift(events: DataFrame, bucketSec: Long = 3600L,
      warm: Int = 48, kPct: Long = 10L, hPct: Long = 100L): DataFrame = {
    require(warm >= 1 && kPct >= 0 && hPct >= 0)
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("bucket_s"))
      .groupBy("event_type", "bucket_s").agg(count(lit(1)).as("n"))
    val step =
      s"""(acc, x) -> named_struct(
         |  'i', acc.i + 1L,
         |  'wsum', CASE WHEN acc.i < $warm THEN acc.wsum + x.n
         |               ELSE acc.wsum END,
         |  'mu', CASE WHEN acc.i + 1L = $warm
         |             THEN ((acc.wsum + x.n) * 1000000) div $warm
         |             ELSE acc.mu END,
         |  'sp', CASE WHEN acc.i < $warm THEN 0L
         |             ELSE greatest(0L, acc.sp + (x.n * 1000000 - acc.mu)
         |                  - ($kPct * acc.mu) div 100) END,
         |  'sn', CASE WHEN acc.i < $warm THEN 0L
         |             ELSE greatest(0L, acc.sn - (x.n * 1000000 - acc.mu)
         |                  - ($kPct * acc.mu) div 100) END,
         |  'out', array_append(acc.out, named_struct(
         |    'bucket_s', x.bucket_s, 'n', CAST(x.n AS BIGINT),
         |    'sp', CAST(CASE WHEN acc.i < $warm THEN 0L
         |          ELSE greatest(0L, acc.sp + (x.n * 1000000 - acc.mu)
         |               - ($kPct * acc.mu) div 100) END AS BIGINT),
         |    'sn', CAST(CASE WHEN acc.i < $warm THEN 0L
         |          ELSE greatest(0L, acc.sn - (x.n * 1000000 - acc.mu)
         |               - ($kPct * acc.mu) div 100) END AS BIGINT),
         |    'shifted', CAST(acc.i >= $warm AND (
         |      greatest(0L, acc.sp + (x.n * 1000000 - acc.mu)
         |        - ($kPct * acc.mu) div 100) > ($hPct * acc.mu) div 100 OR
         |      greatest(0L, acc.sn - (x.n * 1000000 - acc.mu)
         |        - ($kPct * acc.mu) div 100) > ($hPct * acc.mu) div 100)
         |      AS BOOLEAN))))""".stripMargin
    counts
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("bucket_s"), col("n"))))
        .as("seq"))
      .select(col("event_type"), expr(
        s"""aggregate(
           |  seq,
           |  named_struct('i', 0L, 'wsum', 0L, 'mu', -1L, 'sp', 0L,
           |    'sn', 0L, 'out', CAST(array() AS ARRAY<STRUCT<
           |      bucket_s: BIGINT, n: BIGINT, sp: BIGINT, sn: BIGINT,
           |      shifted: BOOLEAN>>)),
           |  $step,
           |  acc -> acc.out)""".stripMargin).as("out"))
      .select(col("event_type"), explode(col("out")).as("o"))
      .select(col("event_type"), col("o.bucket_s"), col("o.n"),
        col("o.sp"), col("o.sn"), col("o.shifted"))
  }

  /** DuckDB replay of [[cusumShift]] — the same recursion as a recursive
    * CTE over the per-type row_number order.
    */
  def cusumOracleSql(bucketSec: Long = 3600L, warm: Int = 48,
      kPct: Long = 10L, hPct: Long = 100L,
      table: String = "events"): String =
    s"""WITH RECURSIVE c AS (
       |  SELECT event_type,
       |         (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS bucket_s,
       |         count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2),
       |seq AS MATERIALIZED (
       |  SELECT event_type, bucket_s, n,
       |         row_number() OVER (PARTITION BY event_type
       |                            ORDER BY bucket_s) AS rn
       |  FROM c),
       |rec(event_type, rn, wsum, mu, sp, sn) AS (
       |  SELECT event_type, 1::BIGINT, n,
       |         CASE WHEN 1 = $warm THEN (n * 1000000) // $warm
       |              ELSE -1 END,
       |         0::BIGINT, 0::BIGINT
       |  FROM seq WHERE rn = 1
       |  UNION ALL
       |  SELECT x.event_type, x.rn,
       |         CASE WHEN r.rn < $warm THEN r.wsum + x.n ELSE r.wsum END,
       |         CASE WHEN r.rn + 1 = $warm
       |              THEN ((r.wsum + x.n) * 1000000) // $warm
       |              ELSE r.mu END,
       |         CASE WHEN r.rn < $warm THEN 0
       |              ELSE greatest(0, r.sp + (x.n * 1000000 - r.mu)
       |                   - ($kPct * r.mu) // 100) END,
       |         CASE WHEN r.rn < $warm THEN 0
       |              ELSE greatest(0, r.sn - (x.n * 1000000 - r.mu)
       |                   - ($kPct * r.mu) // 100) END
       |  FROM rec r JOIN seq x
       |    ON x.event_type = r.event_type AND x.rn = r.rn + 1)
       |SELECT s.event_type, s.bucket_s, s.n,
       |       r.sp::BIGINT AS sp, r.sn::BIGINT AS sn,
       |       (s.rn > $warm AND (r.sp > ($hPct * r.mu) // 100
       |          OR r.sn > ($hPct * r.mu) // 100)) AS shifted
       |FROM seq s JOIN rec r
       |  ON r.event_type = s.event_type AND r.rn = s.rn""".stripMargin

  /** Kaplan–Meier survival curve (Kaplan & Meier 1958) over user
    * lifetimes — the churn/retention estimator that handles CENSORING
    * correctly: users still active near the corpus edge haven't churned,
    * they're right-censored, and naive "lifetime CDF" curves that count
    * them as dead bias survival down exactly where the business reads
    * the number. S(t) = Π_{u ≤ t} (1 − d_u/n_u) with d_u deaths and n_u
    * at-risk at lifetime bucket u; a user is censored when their last
    * event falls within `censorSec` of the corpus max timestamp.
    *
    * Determinism: d/c/n are exact integers; each bucket's S is the
    * SEQUENTIAL product of the ordered per-bucket factors recomputed
    * from the first bucket (both engines multiply the same doubles in
    * the same order; buckets with d = 0 contribute exactly 1.0), rounded
    * to 6 dp.
    *
    * Shape: one user-keyed aggregate (the corpus shuffle), a bucket
    * aggregate bounded by LIFETIME BUCKETS (a year of days = 365 rows),
    * one suffix-sum window and one fold over that tiny table.
    */
  def kaplanMeier(events: DataFrame, bucketSec: Long = 86400L,
      censorSec: Long = 3L * 86400L): DataFrame = {
    require(bucketSec >= 1 && censorSec >= 0)
    val perUser = events.groupBy(col("user_id"))
      .agg(min(expr("unix_timestamp(ts)")).as("first_s"),
        max(expr("unix_timestamp(ts)")).as("last_s"))
    val maxTs = events.agg(max(expr("unix_timestamp(ts)")).as("max_s"))
    val marked = perUser.crossJoin(broadcast(maxTs))
      .select(expr(s"(last_s - first_s) div $bucketSec").as("b"),
        (col("last_s") > col("max_s") - censorSec).as("censored"))
    val perBucket = marked.groupBy(col("b"))
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val wSuffix = org.apache.spark.sql.expressions.Window
      .orderBy(col("b").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val km = perBucket
      .withColumn("n_risk", sum(col("d") + col("c")).over(wSuffix))
      .select(col("b"), col("n_risk"), col("d"), col("c"),
        ((col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double")).as("factor"))
    km.agg(sort_array(collect_list(struct(col("b"), col("n_risk"),
        col("d"), col("c"), col("factor")))).as("lst"))
      .select(col("lst"), posexplode(col("lst")).as(Seq("pos", "x")))
      .select(col("x.b"), col("x.n_risk"), col("x.d"), col("x.c"),
        // prefix product recomputed sequentially from bucket 0 per row:
        // both engines multiply identical doubles in identical order
        round(expr("aggregate(slice(lst, 1, pos + 1), CAST(1.0 AS DOUBLE), " +
          "(a, e) -> a * e.factor)"), 6).as("s"))
  }

  /** DuckDB replay of [[kaplanMeier]] (same suffix sums, same sequential
    * prefix product via list_reduce over the ordered factor list).
    */
  def kaplanMeierOracleSql(bucketSec: Long = 86400L,
      censorSec: Long = 3L * 86400L, table: String = "events"): String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |         min(epoch_us(ts::TIMESTAMP) // 1000000) AS first_s,
       |         max(epoch_us(ts::TIMESTAMP) // 1000000) AS last_s
       |  FROM $table GROUP BY user_id),
       |mx AS (SELECT max(epoch_us(ts::TIMESTAMP) // 1000000) AS max_s
       |       FROM $table),
       |marked AS (
       |  SELECT (last_s - first_s) // $bucketSec AS b,
       |         last_s > max_s - $censorSec AS censored
       |  FROM pu, mx),
       |pb AS (
       |  SELECT b, sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)::BIGINT AS d,
       |         sum(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT AS c
       |  FROM marked GROUP BY b),
       |km AS MATERIALIZED (
       |  SELECT b, d, c,
       |         (sum(d + c) OVER (ORDER BY b DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |           AS n_risk
       |  FROM pb),
       |lst AS (
       |  SELECT list(((n_risk - d)::DOUBLE / n_risk::DOUBLE) ORDER BY b)
       |           AS fl
       |  FROM km),
       |rk AS (
       |  SELECT b, n_risk, d, c,
       |         row_number() OVER (ORDER BY b) AS rn
       |  FROM km)
       |SELECT rk.b, rk.n_risk, rk.d, rk.c,
       |       round(list_reduce(list_prepend(1.0::DOUBLE, fl[1:rk.rn]),
       |             (a, x) -> a * x), 6) AS s
       |FROM rk, lst""".stripMargin

  /** Simpson's-paradox audit for the A/B comparison — the mix-shift trap
    * detector: per activity stratum (light/heavy users at the fixed
    * `heavyMin` event threshold) conversion can favor one cohort in
    * EVERY stratum while the pooled rate favors the other, because the
    * cohorts' stratum mixes differ. Emits one row per stratum plus the
    * '__all' pooled row, each with both cohorts' exact counts and micro
    * rates, and a repeated `simpson_flip` flag: true iff every stratum's
    * rate difference has one sign and the pooled difference has the
    * opposite sign (all strict — zero differences never flag).
    *
    * Shape: one user-keyed aggregate, one (stratum, cohort) aggregate
    * (≤ 4 rows), a 1-row flag fold broadcast back.
    */
  def simpsonAudit(events: DataFrame, convType: String,
      heavyMin: Long = 20L): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("conv"), count(lit(1)).as("n_ev"))
      .select((col("user_id") % 2 === 0).as("cohort_a"), col("conv"),
        when(col("n_ev") >= heavyMin, lit("heavy")).otherwise(lit("light"))
          .as("stratum"))
      .transform(graft.operators.Caching.persist)
    def cells(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
      g.agg(sum(when(col("cohort_a"), 1L).otherwise(0L)).as("users_a"),
        sum(when(col("cohort_a"), col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(!col("cohort_a"), 1L).otherwise(0L)).as("users_b"),
        sum(when(!col("cohort_a"), col("conv")).otherwise(0L)).as("conv_b"))
    val byStratum = cells(perUser.groupBy(col("stratum")))
    val pooled = cells(perUser.groupBy())
      .select(lit("__all").as("stratum"), col("users_a"), col("conv_a"),
        col("users_b"), col("conv_b"))
    val rated = byStratum.unionByName(pooled)
      .select(col("stratum"), col("users_a"), col("conv_a"),
        col("users_b"), col("conv_b"),
        when(col("users_a") === 0, lit(0L))
          .otherwise(expr("(conv_a * 1000000) div users_a"))
          .as("rate_a_micro"),
        when(col("users_b") === 0, lit(0L))
          .otherwise(expr("(conv_b * 1000000) div users_b"))
          .as("rate_b_micro"))
      .transform(graft.operators.Caching.persist)
    // flip: every stratum diff strictly one sign, pooled strictly the other
    val flag = rated
      .select(col("stratum"),
        (col("rate_a_micro") - col("rate_b_micro")).as("diff"))
      .agg(
        min(when(col("stratum") =!= "__all", signum(col("diff"))))
          .as("smin"),
        max(when(col("stratum") =!= "__all", signum(col("diff"))))
          .as("smax"),
        max(when(col("stratum") === "__all", signum(col("diff"))))
          .as("pooled"))
      .select((col("smin") === col("smax") && col("smin") =!= 0d &&
        col("pooled") === -col("smin")).as("simpson_flip"))
    rated.crossJoin(broadcast(flag))
  }

  /** DuckDB replay of [[simpsonAudit]]. */
  def simpsonOracleSql(convType: String, heavyMin: Long = 20L,
      table: String = "events"): String =
    s"""WITH pu AS (
       |  SELECT user_id % 2 = 0 AS cohort_a,
       |         max(CASE WHEN event_type = '$convType' THEN 1 ELSE 0 END)
       |           AS conv,
       |         CASE WHEN count(*) >= $heavyMin THEN 'heavy'
       |              ELSE 'light' END AS stratum
       |  FROM $table GROUP BY user_id),
       |cells AS MATERIALIZED (
       |  SELECT stratum,
       |         sum(CASE WHEN cohort_a THEN 1 ELSE 0 END)::BIGINT AS users_a,
       |         sum(CASE WHEN cohort_a THEN conv ELSE 0 END)::BIGINT AS conv_a,
       |         sum(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END)::BIGINT AS users_b,
       |         sum(CASE WHEN NOT cohort_a THEN conv ELSE 0 END)::BIGINT AS conv_b
       |  FROM pu GROUP BY stratum
       |  UNION ALL
       |  SELECT '__all',
       |         sum(CASE WHEN cohort_a THEN 1 ELSE 0 END)::BIGINT,
       |         sum(CASE WHEN cohort_a THEN conv ELSE 0 END)::BIGINT,
       |         sum(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END)::BIGINT,
       |         sum(CASE WHEN NOT cohort_a THEN conv ELSE 0 END)::BIGINT
       |  FROM pu),
       |rated AS MATERIALIZED (
       |  SELECT stratum, users_a, conv_a, users_b, conv_b,
       |         (CASE WHEN users_a = 0 THEN 0
       |               ELSE (conv_a * 1000000) // users_a END)::BIGINT
       |           AS rate_a_micro,
       |         (CASE WHEN users_b = 0 THEN 0
       |               ELSE (conv_b * 1000000) // users_b END)::BIGINT
       |           AS rate_b_micro
       |  FROM cells),
       |fl AS (
       |  SELECT min(CASE WHEN stratum <> '__all'
       |               THEN sign(rate_a_micro - rate_b_micro) END) AS smin,
       |         max(CASE WHEN stratum <> '__all'
       |               THEN sign(rate_a_micro - rate_b_micro) END) AS smax,
       |         max(CASE WHEN stratum = '__all'
       |               THEN sign(rate_a_micro - rate_b_micro) END) AS pooled
       |  FROM rated)
       |SELECT r.stratum, r.users_a, r.conv_a, r.users_b, r.conv_b,
       |       r.rate_a_micro, r.rate_b_micro,
       |       (fl.smin = fl.smax AND fl.smin <> 0
       |        AND fl.pooled = -fl.smin) AS simpson_flip
       |FROM rated r, fl""".stripMargin

  /** Two-proportion chi-square A/B test over user conversion — THE
    * experiment-analysis primitive: cohorts by the deterministic user-id
    * parity (stand-in for an assignment column), conversion = the user
    * ever fired `convType`, and the 2×2 chi-square
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    * against the 95% critical value 3.841. Counts are exact integers;
    * (ad − bc) is computed exactly in BIGINT BEFORE squaring in double,
    * and the denominator multiplies two exact ≤2⁶³ pair products as
    * doubles (the full product overflows BIGINT) — the same expression
    * order in both engines, rounded to 6 dp.
    *
    * Shape: one user-keyed aggregate (the corpus shuffle) + one 4-cell
    * aggregate; everything else is a 1-row projection.
    */
  def abTest(events: DataFrame, convType: String): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("conv"))
      .select((col("user_id") % 2 === 0).as("cohort_a"), col("conv"))
    val cells = perUser.agg(
      sum(when(col("cohort_a") && col("conv") === 1, 1L).otherwise(0L)).as("a"),
      sum(when(col("cohort_a") && col("conv") === 0, 1L).otherwise(0L)).as("b"),
      sum(when(!col("cohort_a") && col("conv") === 1, 1L).otherwise(0L)).as("c"),
      sum(when(!col("cohort_a") && col("conv") === 0, 1L).otherwise(0L)).as("d"))
    cells.select(col("a"), col("b"), col("c"), col("d"),
        when(col("a") + col("b") === 0, lit(0L))
          .otherwise(expr("(a * 1000000) div (a + b)")).as("rate_a_micro"),
        when(col("c") + col("d") === 0, lit(0L))
          .otherwise(expr("(c * 1000000) div (c + d)")).as("rate_b_micro"),
        (col("a") + col("b") + col("c") + col("d")).as("n"),
        (col("a") * col("d") - col("b") * col("c")).as("det"))
      .select(col("a"), col("b"), col("c"), col("d"),
        col("rate_a_micro"), col("rate_b_micro"),
        when(((col("a") + col("b")) * (col("c") + col("d"))) === 0 ||
            ((col("a") + col("c")) * (col("b") + col("d"))) === 0, lit(0d))
          .otherwise(round(
            col("n").cast("double") * col("det").cast("double")
              * col("det").cast("double") /
              ((col("a") + col("b")) * (col("c") + col("d"))).cast("double") /
              ((col("a") + col("c")) * (col("b") + col("d"))).cast("double"),
            6)).as("chi2"))
      .withColumn("significant", col("chi2") > 3.841)
  }

  /** DuckDB replay of [[abTest]] (same cells, same expression order). */
  def abTestOracleSql(convType: String, table: String = "events"): String =
    s"""WITH pu AS (
       |  SELECT user_id % 2 = 0 AS cohort_a,
       |         max(CASE WHEN event_type = '$convType' THEN 1 ELSE 0 END)
       |           AS conv
       |  FROM $table GROUP BY user_id),
       |cells AS (
       |  SELECT sum(CASE WHEN cohort_a AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
       |         sum(CASE WHEN cohort_a AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
       |         sum(CASE WHEN NOT cohort_a AND conv = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
       |         sum(CASE WHEN NOT cohort_a AND conv = 0 THEN 1 ELSE 0 END)::BIGINT AS d
       |  FROM pu),
       |x AS (
       |  SELECT a, b, c, d, (a + b + c + d)::BIGINT AS n,
       |         (a * d - b * c)::BIGINT AS det
       |  FROM cells)
       |SELECT a, b, c, d,
       |       (CASE WHEN a + b = 0 THEN 0
       |             ELSE (a * 1000000) // (a + b) END)::BIGINT AS rate_a_micro,
       |       (CASE WHEN c + d = 0 THEN 0
       |             ELSE (c * 1000000) // (c + d) END)::BIGINT AS rate_b_micro,
       |       CASE WHEN (a + b) * (c + d) = 0 OR (a + c) * (b + d) = 0
       |            THEN 0.0
       |            ELSE round(n::DOUBLE * det::DOUBLE * det::DOUBLE
       |                 / ((a + b) * (c + d))::DOUBLE
       |                 / ((a + c) * (b + d))::DOUBLE, 6) END AS chi2,
       |       CASE WHEN (a + b) * (c + d) = 0 OR (a + c) * (b + d) = 0
       |            THEN false
       |            ELSE round(n::DOUBLE * det::DOUBLE * det::DOUBLE
       |                 / ((a + b) * (c + d))::DOUBLE
       |                 / ((a + c) * (b + d))::DOUBLE, 6) > 3.841 END
       |         AS significant
       |FROM x""".stripMargin

  /** Seasonality profile — the (day-of-week × hour-of-day) load matrix
    * every capacity plan and anomaly baseline starts from: per-cell event
    * counts plus a seasonal INDEX in micro units (cell count ÷ the count
    * a uniform spread would put there, so 1e6 = flat, 2e6 = double the
    * average load). Exact integers: index = n_cell·168·1e6 div n_total.
    * One aggregate over a map-only bucket projection; output is ≤ 168
    * rows. Day-of-week is ISO (1 = Monday) in BOTH engines via
    * anchored-epoch arithmetic, not locale-dependent date functions.
    */
  def seasonality(events: DataFrame): DataFrame = {
    // 1970-01-01 was a Thursday: ISO dow = ((days + 3) % 7) + 1
    val cells = events
      .select(expr("unix_timestamp(ts)").as("s"))
      .select(expr("(((s div 86400) + 3) % 7) + 1").as("dow"),
        expr("(s % 86400) div 3600").as("hod"))
      .groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
    val tot = cells.agg(coalesce(sum(col("n")), lit(0L)).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hod"), col("n"),
        when(col("total") === 0, lit(0L))
          .otherwise(expr("(n * 168 * 1000000) div total"))
          .as("index_micro"))
  }

  /** DuckDB replay of [[seasonality]]. */
  def seasonalityOracleSql(table: String = "events"): String =
    s"""WITH c AS (
       |  SELECT ((((epoch_us(ts::TIMESTAMP) // 1000000) // 86400) + 3) % 7)
       |           + 1 AS dow,
       |         ((epoch_us(ts::TIMESTAMP) // 1000000) % 86400) // 3600
       |           AS hod,
       |         count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2),
       |t AS (SELECT coalesce(sum(n), 0)::BIGINT AS total FROM c)
       |SELECT dow::BIGINT AS dow, hod::BIGINT AS hod, n,
       |       (CASE WHEN total = 0 THEN 0
       |             ELSE (n * 168 * 1000000) // total END)::BIGINT
       |         AS index_micro
       |FROM c, t""".stripMargin

  /** Windowed trending top-k — per tumbling window, the `k` most frequent
    * event types ranked with a deterministic (count DESC, type ASC)
    * tie-break. The "what's hot right now" leaderboard over ingest
    * telemetry, and the exact-regime companion to the mergeable
    * [[graft.functions.TopK]] sketch (which answers the same question
    * without the per-window shuffle when k-exactness can be relaxed).
    *
    * Shape: the (window, type) pre-aggregate collapses the corpus to
    * #windows × #types rows BEFORE any ranking; the rank window then
    * partitions by window over that tiny table and Spark executes the
    * rank ≤ k filter as a WindowGroupLimit partial top-k (per-partition
    * truncation before the shuffle).
    */
  def trendingTopK(events: DataFrame, bucketSec: Long = 21600L,
      k: Int = 3): DataFrame = {
    val counts = events
      .select(col("event_type"),
        expr(s"unix_timestamp(ts) div $bucketSec * $bucketSec")
          .as("win_s"))
      .groupBy("win_s", "event_type").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_s").orderBy(col("n").desc, col("event_type").asc)
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
  }

  /** DuckDB replay of [[trendingTopK]] (same frame, same tie-break). */
  def trendingTopKOracleSql(bucketSec: Long = 21600L, k: Int = 3,
      table: String = "events"): String =
    s"""WITH c AS (
       |  SELECT (epoch_us(ts::TIMESTAMP) // 1000000) // $bucketSec
       |           * $bucketSec AS win_s,
       |         event_type, count(*)::BIGINT AS n
       |  FROM $table GROUP BY 1, 2)
       |SELECT win_s, event_type, n,
       |       row_number() OVER (PARTITION BY win_s
       |                          ORDER BY n DESC, event_type ASC)::BIGINT
       |         AS rnk
       |FROM c QUALIFY rnk <= $k""".stripMargin

  /** Peak concurrency per user — the classic ±1 sweep: each event opens a
    * `holdSec`-second interval, interval starts are +1 and ends are −1,
    * and the per-user running sum's maximum is the largest number of
    * simultaneously-open intervals. The "how many parallel sessions/
    * devices does this account drive" abuse signal (a human rarely
    * sustains >2; credential-stuffed accounts burst far higher).
    *
    * Determinism at equal timestamps: the sweep orders by (t, delta) with
    * ends (−1) before starts (+1) — intervals are end-exclusive, so an
    * interval ending exactly when another starts never overlaps it — and
    * within a (t, delta) tie group every row carries the same delta, so
    * the running sum at the GROUP's end (where the max can only land) is
    * order-independent: the reported max needs no further tiebreak.
    *
    * Shape: 2 rows per event, one per-user ordered window over them, one
    * per-user max aggregate — all user-keyed bounded shuffles.
    */
  def peakConcurrency(events: DataFrame, holdSec: Long = 1800L)
      : DataFrame = {
    val pts = events.select(col("user_id"),
        expr("unix_timestamp(ts)").as("t0"))
      .select(col("user_id"),
        explode(array(
          struct(col("t0").as("t"), lit(1L).as("delta")),
          struct((col("t0") + holdSec).as("t"), lit(-1L).as("delta"))))
          .as("p"))
      .select(col("user_id"), col("p.t"), col("p.delta"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("t").asc, col("delta").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    pts.withColumn("c", sum(col("delta")).over(w))
      .groupBy("user_id")
      .agg(max(col("c")).as("peak_concurrency"),
        (count(lit(1)) / 2).cast("long").as("n_events"))
  }

  /** DuckDB replay of [[peakConcurrency]] (same sweep, same frame). */
  def peakConcurrencyOracleSql(holdSec: Long = 1800L,
      table: String = "events"): String =
    s"""WITH e AS (SELECT user_id,
       |                  epoch_us(ts::TIMESTAMP) // 1000000 AS t0
       |           FROM $table),
       |pts AS (
       |  SELECT user_id, t0 AS t, 1::BIGINT AS delta FROM e
       |  UNION ALL
       |  SELECT user_id, t0 + $holdSec AS t, -1::BIGINT AS delta FROM e),
       |sw AS (
       |  SELECT user_id,
       |         sum(delta) OVER (PARTITION BY user_id
       |                          ORDER BY t ASC, delta ASC
       |                          ROWS UNBOUNDED PRECEDING) AS c
       |  FROM pts)
       |SELECT user_id, max(c)::BIGINT AS peak_concurrency,
       |       (count(*) // 2)::BIGINT AS n_events
       |FROM sw GROUP BY user_id""".stripMargin

  /** Bot detection by inter-event regularity — per user, the coefficient
    * of variation of inter-event gaps: humans are bursty (CV ≈ 1 for
    * Poisson-ish arrivals, usually higher), timers and scripts are
    * metronomic (CV → 0). A user with ≥ `minGaps` gaps and CV below
    * `cvThreshold` is flagged. The behavioral companion to
    * [[rateAnomaly]] (volume) and [[peakConcurrency]] (parallelism) in a
    * bot-filtering battery.
    *
    * Exactness: gaps are integer seconds off a per-user total order
    * (ts, then event_id — simultaneous events gap 0); with S = Σgap and
    * Q = Σgap², CV = √(n·Q − S²)/S is computed from EXACT integer
    * moments (DECIMAL(38,0)/HUGEINT carriers) through one identical
    * IEEE sqrt/divide, rounded to 6 dp. S = 0 (all events in the same
    * second) pins CV = 0 — the most metronomic possible trace.
    *
    * Shape: one per-user lag window + one per-user moment aggregate,
    * both user-keyed bounded shuffles; no state beyond the frontier row.
    */
  def botRegularity(events: DataFrame, minGaps: Int = 20,
      cvThresholdMicro: Long = 300000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("t").asc, col("event_id").asc)
    val gaps = events
      .select(col("user_id"), col("event_id"),
        expr("unix_timestamp(ts)").as("t"))
      .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
      .where(col("gap").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast("decimal(38,0)")).as("s"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("q"))
      .where(col("n_gaps") >= minGaps)
      .select(col("user_id"), col("n_gaps"),
        col("s").cast("long").as("gap_sum"),
        when(col("s") === 0, lit(0d))
          .otherwise(round(
            sqrt((col("n_gaps") * col("q") - col("s") * col("s"))
              .cast("double")) / col("s").cast("double"), 6)).as("cv"))
      .withColumn("is_bot",
        col("cv") * 1000000 < cvThresholdMicro.toDouble)
  }

  /** DuckDB replay of [[botRegularity]] (same total order, same exact
    * moments, same IEEE tail).
    */
  def botRegularityOracleSql(minGaps: Int = 20,
      cvThresholdMicro: Long = 300000L, table: String = "events"): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id,
       |         epoch_us(ts::TIMESTAMP) // 1000000 AS t
       |  FROM $table),
       |g AS (
       |  SELECT user_id,
       |         t - lag(t) OVER (PARTITION BY user_id
       |                          ORDER BY t ASC, event_id ASC) AS gap
       |  FROM e),
       |m AS (
       |  SELECT user_id, count(*)::BIGINT AS n_gaps,
       |         sum(gap)::HUGEINT AS s, sum(gap::HUGEINT * gap) AS q
       |  FROM g WHERE gap IS NOT NULL
       |  GROUP BY user_id HAVING count(*) >= $minGaps),
       |x AS (
       |  SELECT user_id, n_gaps, s::BIGINT AS gap_sum,
       |         CASE WHEN s = 0 THEN 0
       |              ELSE round(sqrt((n_gaps * q - s * s)::DOUBLE)
       |                         / s::DOUBLE, 6) END AS cv
       |  FROM m)
       |SELECT user_id, n_gaps, gap_sum, cv,
       |       cv * 1000000 < $cvThresholdMicro AS is_bot
       |FROM x""".stripMargin

  /** Ordered-sequence FUNNEL analysis — the MATCH_RECOGNIZE-shaped pattern
    * query Spark has no native operator for: per user, greedily match the
    * `steps` event types as an in-order subsequence of their event stream
    * (earliest-first matching — optimal for UNBOUNDED subsequence reach,
    * and deterministic), and report per step how many users got that far.
    * The per-user-journey building block of conversion/retention
    * analytics.
    *
    * With `maxSpan` set, the journey is anchored at the user's EARLIEST
    * first-step event (the standard anchored-window semantics): a user
    * whose earliest anchor expires is not re-tried from a later
    * first-step event, so span-bounded reach is a lower bound on
    * "any-window" reach. Re-anchoring per candidate window is a
    * different (quadratic-per-user) query; this operator deliberately
    * pins the anchored one, and [[funnelOracleSql]] replays exactly it.
    *
    * Shape: one stage per step — stage i filters the events of type i and
    * joins the per-user frontier from stage i−1 (user-keyed equi-joins,
    * the same shuffle as any grouped aggregate), keeping the EARLIEST
    * qualifying (ts, event_id) as the new frontier. Event-time order is
    * made total by the unique event_id tiebreak, so the greedy match —
    * and the whole funnel — replays exactly in any engine
    * ([[funnelOracleSql]] is the same staged SQL). k steps = k bounded
    * joins; no per-user state materializes beyond one frontier row.
    *
    * `maxSpan` (e.g. "2 hours") optionally bounds the whole journey
    * relative to the matched first-step event.
    */
  def funnel(events: DataFrame, steps: Seq[String],
      maxSpan: Option[String] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col("user_id"), col("event_type"), col("ts"),
      col("event_id"))
    // stage 1: earliest occurrence of the first step per user
    var frontier = ev.where(col("event_type") === steps.head)
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("f.ts").as("ts"),
        col("f.event_id").as("event_id"), col("f.ts").as("t0"))
    val counts = Seq.newBuilder[(Int, String, DataFrame)]
    counts += ((1, steps.head, frontier))
    for ((st, i) <- steps.tail.zipWithIndex) {
      val prev = frontier.select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("pid"), col("t0"))
      val after = col("ts") > col("pts") ||
        (col("ts") === col("pts") && col("event_id") > col("pid"))
      val spanOk = maxSpan.map(s =>
        col("ts") <= col("t0") + expr(s"INTERVAL $s")).getOrElse(lit(true))
      frontier = ev.where(col("event_type") === st)
        .join(prev, "user_id")
        .where(after && spanOk)
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("f"),
          first(col("t0")).as("t0"))
        .select(col("user_id"), col("f.ts").as("ts"),
          col("f.event_id").as("event_id"), col("t0"))
      counts += ((i + 2, st, frontier))
    }
    counts.result()
      .map { case (i, st, df) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i.toLong).as("step"), lit(st).as("event_type"),
            col("n_users"))
      }
      .reduce(_ unionByName _)
  }

  /** DuckDB SQL replaying [[funnel]] over the `events` table
    * value-for-value (same staged greedy match, same tiebreak).
    */
  def funnelOracleSql(steps: Seq[String], maxSpan: Option[String] = None,
      table: String = "events"): String = {
    val spanPred = maxSpan.map(s => s"AND e.ts <= p.t0 + INTERVAL $s")
      .getOrElse("")
    val stages = new StringBuilder
    stages ++=
      s"""s1 AS (
         |  SELECT user_id,
         |         min(struct_pack(ts := ts, event_id := event_id)) AS f,
         |         min(ts) AS t0
         |  FROM $table WHERE event_type = '${steps.head}' GROUP BY user_id)"""
    for ((st, i) <- steps.tail.zipWithIndex) {
      val (cur, prev) = (i + 2, i + 1)
      stages ++=
        s""",
           |s$cur AS (
           |  SELECT e.user_id,
           |         min(struct_pack(ts := e.ts, event_id := e.event_id)) AS f,
           |         any_value(p.t0) AS t0
           |  FROM $table e JOIN s$prev p ON p.user_id = e.user_id
           |  WHERE e.event_type = '$st'
           |    AND (e.ts > (p.f).ts OR (e.ts = (p.f).ts
           |         AND e.event_id > (p.f).event_id)) $spanPred
           |  GROUP BY e.user_id)"""
    }
    val finals = steps.zipWithIndex.map { case (st, i) =>
      s"SELECT ${i + 1}::BIGINT AS step, '$st' AS event_type, " +
        s"count(*)::BIGINT AS n_users FROM s${i + 1}"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${stages.result()}
       |$finals""".stripMargin
  }

  /** `foreachBatch` sink: append each micro-batch to parquet, keeping only
    * keys never seen in prior batches (left-anti join against what's on
    * disk) — upsert-style dedup for sinks Spark has no native merge for.
    * The anti-join is per-batch against the sink's own compacted key set;
    * at scale the sink table is partitioned and the join prunes to the
    * touched partitions.
    */
  def dedupedParquetSink(stream: DataFrame, keyCol: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val deduped = batch.dropDuplicates(keyCol)
        // probe the sink through the Hadoop FileSystem of the path (not
        // java.io.File, which is driver-local and always says "absent" on
        // HDFS/S3 — the anti-join would be silently skipped; ADVICE r02)
        val sinkPath = new org.apache.hadoop.fs.Path(outDir)
        val fs = sinkPath.getFileSystem(sp.sparkContext.hadoopConfiguration)
        val novel =
          if (fs.exists(sinkPath))
            deduped.join(sp.read.parquet(outDir).select(col(keyCol)).distinct(),
              Seq(keyCol), "left_anti")
          else deduped
        novel.write.mode("append").parquet(outDir)
        ()
      }
      .start()

  // --- custom stateful processing (flatMapGroupsWithState) ---

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)

  /** Per-(key, window) RATE LIMITER, batch twin: keep the FIRST `n`
    * events of each tumbling window per key in (ts, event_id) order —
    * the deterministic ingestion throttle (cap a runaway event type /
    * crawler / producer at n per window while keeping provenance of
    * what survived). Emits (win_start, key, event_id, ts, seq ≤ n).
    * Fully deterministic: the id tiebreak pins tie timestamps, so the
    * table replays in a QUALIFY oracle.
    *
    * Scale shape: one (window, key)-partitioned rank — Spark plans the
    * `rank ≤ n` filter as WindowGroupLimit (partial per-partition top-n
    * before the shuffle), so the exchange moves at most n rows per
    * (window, key), not the firehose. Streaming twin:
    * [[streamingWindowedRateLimit]] (arrival-order counts in per-group
    * state — the semantics a real limiter wants; equal to this batch
    * order when arrivals are in event order).
    */
  def windowedRateLimit(events: DataFrame, width: String, key: Column,
      n: Int): DataFrame = {
    require(n >= 1)
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("__win"), col("__key"))
      .orderBy(col("ts"), col("event_id"))
    events.select(window(col("ts"), width).getField("start").as("__win"),
        key.cast("string").as("__key"), col("event_id"), col("ts"))
      .withColumn("seq", row_number().over(w).cast("long"))
      .where(col("seq") <= n)
      .select(col("__win").as("win_start"), col("__key").as("key"),
        col("event_id"), col("ts"), col("seq"))
  }

  /** DuckDB replay of [[windowedRateLimit]] over the events table. */
  def windowedRateLimitOracleSql(widthSec: Long, keyExpr: String,
      n: Int): String = {
    val winUs = widthSec * 1000000L
    s"""SELECT make_timestamp((epoch_us(ts::TIMESTAMP) // $winUs) * $winUs)
       |         AS win_start,
       |       ($keyExpr)::VARCHAR AS key, event_id, ts::TIMESTAMP AS ts,
       |       row_number() OVER (
       |         PARTITION BY (epoch_us(ts::TIMESTAMP) // $winUs), ($keyExpr)
       |         ORDER BY ts, event_id)::BIGINT AS seq
       |FROM events
       |QUALIFY seq <= $n""".stripMargin
  }

  case class RateEvent(key: String, ts: java.sql.Timestamp, event_id: Long)
  case class RateOut(win_start: java.sql.Timestamp, key: String,
    event_id: Long, ts: java.sql.Timestamp, seq: Long)

  /** Streaming rate limiter over `flatMapGroupsWithState`: per
    * (key, window) admission counter in O(1) state, rows beyond `n`
    * DROPPED as they arrive. Within a micro-batch rows are admitted in
    * (ts, event_id) order (sorted — gives batch-equal output when
    * arrivals respect event order); across micro-batches admission is
    * arrival order, which is what a real limiter means. State times out
    * one `widthMs` past the window close (event-time timers + the
    * caller's watermark bound total state to active windows).
    *
    * Timeout contract (the [[statefulSessions]] posture, enforced here):
    * the default `NoTimeout` is the BATCH mode — state is removed after
    * every invocation, which is correct in batch (state cannot outlive
    * the job) but in streaming would reset the admission counter every
    * micro-batch, silently re-admitting `n` events per (key, window) per
    * batch. A streaming input therefore REQUIRES an explicit
    * `EventTimeTimeout` (with a watermark on `events`) or
    * `ProcessingTimeTimeout`; passing NoTimeout on a streaming Dataset is
    * rejected up front rather than miscounting downstream.
    */
  def streamingWindowedRateLimit(events: Dataset[RateEvent], widthMs: Long,
      n: Int, timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[RateOut] = {
    require(n >= 1 && widthMs >= 1)
    require(!events.isStreaming || timeout != GroupStateTimeout.NoTimeout,
      "streamingWindowedRateLimit on a streaming input needs an explicit " +
        "EventTimeTimeout (+ watermark) or ProcessingTimeTimeout: under " +
        "NoTimeout state is dropped after each micro-batch, so the " +
        "per-(key, window) cap would re-admit n events EVERY batch")
    implicit val outEnc = Encoders.product[RateOut]
    implicit val stEnc = Encoders.scalaLong

    def fn(keyWin: (String, Long), it: Iterator[RateEvent],
        state: GroupState[Long]): Iterator[RateOut] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val (key, winMs) = keyWin
      var admitted = state.getOption.getOrElse(0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[RateOut]
      it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (admitted < n) {
          admitted += 1
          out += RateOut(new java.sql.Timestamp(winMs), key, e.event_id,
            e.ts, admitted)
        }
      }
      if (timeout == GroupStateTimeout.NoTimeout) state.remove()
      else {
        state.update(admitted)
        if (timeout == GroupStateTimeout.EventTimeTimeout)
          state.setTimeoutTimestamp(math.max(
            state.getCurrentWatermarkMs() + 1, winMs + 2 * widthMs))
      }
      out.iterator
    }

    events.groupByKey(e =>
        (e.key, e.ts.getTime - math.floorMod(e.ts.getTime, widthMs)))(
        Encoders.product[(String, Long)])
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(fn)
  }

  /** Custom sessionizer over `flatMapGroupsWithState`: emits a session when
    * the event-time gap exceeds `gapMs`. Demonstrates arbitrary per-key
    * state (the escape hatch when built-in windows can't express the
    * semantics); state size is O(1) per active user.
    *
    * Timeout choice for streaming: prefer `EventTimeTimeout` (+ a watermark
    * on the input) — timers advance with the data. `ProcessingTimeTimeout`
    * also works but makes the engine run no-data microbatches to poll
    * wall-clock timers; at the default 0-interval trigger that is a
    * continuous spin — pair it with a real trigger interval. The default
    * `NoTimeout` is the BATCH mode: every invocation flushes its trailing
    * session (state cannot outlive a batch job anyway).
    */
  def statefulSessions(events: Dataset[Event], gapMs: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[SessionState]

    def fn(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // timeout invocation (streaming only, no new rows): the pending
        // session has been silent past the gap — flush it
        val out = state.getOption
          .map(s => SessionOut(userId, s.start, s.last, s.n))
        state.remove()
        return out.iterator
      }
      val sorted = it.toSeq.sortBy(_.ts.getTime)
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= gapMs =>
            cur = Some(s.copy(last = t, n = s.n + 1))
          case Some(s) =>
            out += SessionOut(userId, s.start, s.last, s.n)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      if (timeout == GroupStateTimeout.NoTimeout) {
        // batch mode (the gate path): no timeout will ever fire, so the
        // trailing session flushes now — state dies with the batch anyway
        cur.foreach(s => out += SessionOut(userId, s.start, s.last, s.n))
        state.remove()
      } else {
        // streaming: the open session CARRIES ACROSS microbatches (removing
        // it here would split every session at batch boundaries) and
        // flushes via the timeout once the gap elapses with no new events
        cur match {
          case Some(s) =>
            state.update(s)
            if (timeout == GroupStateTimeout.EventTimeTimeout)
              // flatMapGroupsWithState does NOT pre-filter late rows: a
              // late event can leave s.last + gapMs at/below the current
              // watermark, where setTimeoutTimestamp throws and fails the
              // whole query — clamp to strictly beyond the watermark (the
              // stale session then flushes at the next timeout sweep)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1, s.last + gapMs))
            else state.setTimeoutDuration(gapMs)
          case None => state.remove()
        }
      }
      out.iterator
    }

    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(fn)
  }

  // --- custom stateful processing (transformWithState, the Spark 4 API) ---

  case class SeenCount(user_id: Long, event_id: Long, seen_so_far: Long)

  /** Per-user running sequence numbers over `transformWithState` — Spark 4's
    * arbitrary-state API (StatefulProcessor + named, TTL-managed typed state
    * on the RocksDB state store) that supersedes mapGroupsWithState. Each
    * event is emitted with its per-user running count; the ValueState
    * carries the counter across microbatches. Rows inside a batch are
    * ordered by event id so output is deterministic regardless of partition
    * order; state is O(1) per user (one long).
    */
  class RunningCountProcessor
      extends StatefulProcessor[Long, (Long, Long), SeenCount] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[SeenCount] = {
      var c = if (count.exists()) count.get() else 0L
      val out = rows.toSeq.sortBy(_._2).map { case (u, eid) =>
        c += 1
        SeenCount(u, eid, c)
      }
      count.update(c)
      out.iterator
    }
  }

  /** (user_id, event_id) stream → per-user running counts; requires the
    * RocksDB state store provider when run as a stream.
    */
  def runningCounts(events: Dataset[(Long, Long)]): Dataset[SeenCount] = {
    implicit val enc = Encoders.product[SeenCount]
    events.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new RunningCountProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  case class PackAssign(doc_id: Long, shard: Long, seq_id: Long,
      tok_offset: Long, n_tokens: Long)

  /** Streaming face of [[graft.operators.Scale.packSequences]]: documents
    * arriving on a (shard, doc_id, n_tokens) stream are greedily packed
    * into `budget`-token training sequences, the open sequence's (seq_id,
    * fill) carried across microbatches in per-shard ValueState — an
    * always-on packer that assigns (seq_id, tok_offset) as the corpus
    * lands instead of in a nightly batch. Rows inside a microbatch are
    * folded in doc-id order, so ingesting the same per-shard stream in the
    * same batch splits is deterministic; feeding the whole corpus in id
    * order reproduces the batch operator's assignment exactly (pinned in
    * StreamingSpec).
    */
  class PackingProcessor(budget: Long)
      extends StatefulProcessor[Long, (Long, Long, Long), PackAssign] {
    @transient private var open: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[(Long, Long)]("open",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
        timerValues: TimerValues): Iterator[PackAssign] = {
      var (seq, fill) = if (open.exists()) open.get() else (0L, 0L)
      val out = rows.toSeq.sortBy(_._2).map { case (shard, id, ntok) =>
        if (fill + ntok > budget && fill > 0L) { seq += 1L; fill = 0L }
        val off = fill
        fill += ntok
        PackAssign(id, shard, seq, off, ntok)
      }
      open.update((seq, fill))
      out.iterator
    }
  }

  /** (shard, doc_id, n_tokens) stream → greedy sequence assignments;
    * requires the RocksDB state store provider when run as a stream.
    */
  def streamingPack(docs: Dataset[(Long, Long, Long)],
      budget: Long): Dataset[PackAssign] = {
    implicit val enc = Encoders.product[PackAssign]
    docs.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new PackingProcessor(budget), TimeMode.None(),
        OutputMode.Append())
  }

  /** First-order Markov transition matrix over per-user event journeys —
    * the "what do users do next" model behind next-action prediction,
    * journey visualization (Sankey), and synthetic-trace generation for
    * load testing. Per user, events are put in the same anchored total
    * order every analysis here uses (ts, then event_id, so simultaneous
    * events replay identically), consecutive pairs become (from, to)
    * transitions, and the matrix reports per-pair counts plus the
    * row-normalized transition probability.
    *
    * Exactness: counts are integers; the probability is reported in
    * integer MICRO-units via floor division (`n * 1e6 div row_total`) so
    * both engines emit identical BIGINTs — no double division anywhere.
    *
    * Scale shape: one per-user lag window (user-keyed bounded shuffle —
    * the same partitioning sessionize/funnel/botRegularity already use,
    * so a real pipeline shares the exchange) + one aggregate to the
    * |types|² matrix; the row-total window runs on that matrix table
    * (|types|² rows, trivially bounded), never on the events.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy("from_type")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wTot))
      .select(col("from_type"), col("to_type"), col("n"), col("row_total"),
        expr("n * 1000000 div row_total").as("p_micro"))
  }

  /** First/last-touch conversion attribution — the marketing-analytics
    * shape of "which channel gets credit for this conversion": each
    * `convType` event is attributed to the user's nearest (`lastTouch =
    * true`, the default) or earliest (`false`) preceding `touchTypes`
    * event within a `lookbackSec` window; conversions with no in-window
    * touch are credited to the synthetic 'direct' channel, so every
    * conversion appears exactly once and per-channel counts sum to the
    * conversion total.
    *
    * Determinism: time is integer epoch-micros; the winning touch is an
    * argmax/argmin over `struct(ts, event_id)` — the same unique-id
    * tiebreak every journey analysis here uses — so simultaneous touches
    * replay identically. Emits one row per conversion:
    * (conv_id, user_id, channel, touch_id, gap_us), gap_us = conversion
    * time − touch time (−1 for direct).
    *
    * Scale shape: one user-keyed equi-join of conversions against
    * touches (per-user fan-out, bounded by per-user activity — the
    * funnel/sessionize partitioning, shareable in a real pipeline) + one
    * per-conversion aggregate. No window over the event table.
    */
  def attribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackSec: Long,
      lastTouch: Boolean = true): DataFrame = {
    require(touchTypes.nonEmpty && lookbackSec >= 0)
    val conv = events.where(col("event_type") === convType)
      .select(col("user_id").as("cu"), col("event_id").as("conv_id"),
        expr("unix_micros(ts)").as("ct"))
    val touch = events.where(col("event_type").isin(touchTypes: _*))
      .select(col("user_id").as("tu"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), expr("unix_micros(ts)").as("tt"))
    // the lookback window is part of the JOIN condition, not a post-join
    // filter: a conversion whose touches are all out-of-window must keep
    // its null row (→ 'direct'), not vanish
    val joined = conv.join(touch,
      col("cu") === col("tu") && col("tt") <= col("ct") &&
        col("tt") >= col("ct") - lookbackSec * 1000000L, "left")
    val winner = struct(col("tt"), col("touch_id"), col("channel"))
    val picked = joined
      .groupBy(col("conv_id"), col("cu").as("user_id"), col("ct"))
      .agg((if (lastTouch) max(winner) else min(winner)).as("w"))
    picked.select(col("conv_id"), col("user_id"),
      coalesce(col("w.channel"), lit("direct")).as("channel"),
      coalesce(col("w.touch_id"), lit(-1L)).as("touch_id"),
      coalesce(col("ct") - col("w.tt"), lit(-1L)).as("gap_us"))
  }

  /** DuckDB replay of [[attribution]] (same micro-second window, same
    * struct-ordered winner).
    */
  def attributionOracleSql(convType: String, touchTypes: Seq[String],
      lookbackSec: Long, lastTouch: Boolean = true,
      table: String = "events"): String = {
    val touches = touchTypes.map(t => s"'$t'").mkString(", ")
    val pick = if (lastTouch) "max" else "min"
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |         epoch_us(ts::TIMESTAMP) AS t
       |  FROM $table),
       |conv AS (
       |  SELECT user_id, event_id AS conv_id, t AS ct FROM e
       |  WHERE event_type = '$convType'),
       |touch AS (
       |  SELECT user_id, event_id AS touch_id, event_type AS channel,
       |         t AS tt
       |  FROM e WHERE event_type IN ($touches)),
       |joined AS (
       |  SELECT c.conv_id, c.user_id, c.ct, tc.tt, tc.touch_id, tc.channel
       |  FROM conv c LEFT JOIN touch tc
       |    ON tc.user_id = c.user_id
       |   AND tc.tt <= c.ct AND tc.tt >= c.ct - ${lookbackSec}000000),
       |picked AS (
       |  SELECT conv_id, user_id, ct,
       |         $pick({'tt': tt, 'touch_id': touch_id, 'channel': channel})
       |           AS w
       |  FROM joined GROUP BY conv_id, user_id, ct)
       |SELECT conv_id, user_id,
       |       coalesce(w.channel, 'direct') AS channel,
       |       coalesce(w.touch_id, -1)::BIGINT AS touch_id,
       |       coalesce(ct - w.tt, -1)::BIGINT AS gap_us
       |FROM picked""".stripMargin
  }

  /** DuckDB replay of [[transitions]] (same anchored order, same floor
    * division on the micro-unit carrier).
    */
  def transitionsOracleSql(table: String = "events"): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, event_type
       |  FROM $table),
       |pairs AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id
       |                                ORDER BY ts ASC, event_id ASC)
       |           AS to_type
       |  FROM e),
       |m AS (
       |  SELECT from_type, to_type, count(*)::BIGINT AS n
       |  FROM pairs WHERE to_type IS NOT NULL
       |  GROUP BY from_type, to_type)
       |SELECT from_type, to_type, n,
       |       sum(n) OVER (PARTITION BY from_type)::BIGINT AS row_total,
       |       ((n * 1000000) // sum(n) OVER (PARTITION BY from_type))::BIGINT
       |         AS p_micro
       |FROM m""".stripMargin

  /** RFM (recency / frequency / monetary) user scoring — the classical
    * behavioral segmentation: per user, days since last event (relative
    * to the corpus's own max timestamp, so the score is a pure function
    * of the data), event count, and total value; each dimension then
    * bucketed 1..`nTiles` by global quantile cutpoints (percentile_disc
    * order statistics — exact, engine-portable). Recency scores INVERT
    * (recent = high), the marketing convention.
    *
    * Exactness: days are integer epoch-day arithmetic; monetary sums
    * micro-rounded BIGINTs per event (a raw double sum would be
    * partition-order-dependent); the cutpoint rule is the shared
    * [[graft.operators.Profile.curriculumBuckets]] "1 + #cuts strictly
    * below" convention. Shape: one user-keyed aggregate + a broadcast
    * 1-row cutpoint table + a map-only score projection.
    */
  def rfmScores(events: DataFrame, nTiles: Int = 5): DataFrame = {
    require(nTiles >= 2)
    val qs = (1 until nTiles).map(i => i.toDouble / nTiles)
    // persisted: the user table feeds the as-of max, the cutpoint
    // aggregate AND the output projection — unpersisted, one action would
    // re-aggregate the events ~4x
    val perUser = graft.operators.Caching.persist(
      events.select(col("user_id"),
          expr("unix_timestamp(ts) div 86400").as("day"),
          expr("CAST(ROUND(value * 1000000, 0) AS BIGINT)").as("v_micro"))
        .groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("frequency"),
          sum(col("v_micro")).as("monetary_micro")))
    val withRec = perUser
      .crossJoin(broadcast(perUser.agg(max(col("last_day")).as("as_of"))))
      .select(col("user_id"),
        (col("as_of") - col("last_day")).as("recency_days"),
        col("frequency"), col("monetary_micro"))
    // cutpoints cast back to BIGINT: Spark's percentile_disc returns
    // DOUBLE even over BIGINT input, and a long-vs-double compare
    // diverges from the oracle's BIGINT quantile_disc beyond 2^53
    def cutsOf(c: String) = array(qs.map(q =>
      expr(s"CAST(percentile_disc($q) WITHIN GROUP (ORDER BY $c) AS BIGINT)")): _*)
    val cuts = withRec.agg(
      cutsOf("recency_days").as("rc"),
      cutsOf("frequency").as("fc"),
      cutsOf("monetary_micro").as("mc"))
    def score(v: Column, cutArr: Column) =
      (lit(1) + size(filter(cutArr, c => v > c))).cast("long")
    withRec.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_micro"),
        (lit(nTiles + 1L) - score(col("recency_days"), col("rc")))
          .as("r_score"),
        score(col("frequency"), col("fc")).as("f_score"),
        score(col("monetary_micro"), col("mc")).as("m_score"))
  }

  /** DuckDB replay of [[rfmScores]] (same integer day/micro carriers,
    * same quantile_disc cutpoints and strictly-below bucket rule).
    */
  def rfmOracleSql(nTiles: Int = 5, table: String = "events"): String = {
    val qs = (1 until nTiles).map(i => i.toDouble / nTiles)
      .mkString("[", ", ", "]")
    s"""WITH peruser AS (
       |  SELECT user_id,
       |         max(epoch_us(ts::TIMESTAMP) // 1000000 // 86400)
       |           AS last_day,
       |         count(*)::BIGINT AS frequency,
       |         sum(round(value * 1000000)::BIGINT)::BIGINT
       |           AS monetary_micro
       |  FROM $table GROUP BY user_id),
       |rec AS (
       |  SELECT user_id,
       |         ((SELECT max(last_day) FROM peruser) - last_day)::BIGINT
       |           AS recency_days,
       |         frequency, monetary_micro
       |  FROM peruser),
       |cuts AS (
       |  SELECT quantile_disc(recency_days, $qs) AS rc,
       |         quantile_disc(frequency, $qs) AS fc,
       |         quantile_disc(monetary_micro, $qs) AS mc
       |  FROM rec)
       |SELECT user_id, recency_days, frequency, monetary_micro,
       |       ($nTiles + 1 -
       |        (1 + len(list_filter(rc, c -> recency_days > c))))::BIGINT
       |         AS r_score,
       |       (1 + len(list_filter(fc, c -> frequency > c)))::BIGINT
       |         AS f_score,
       |       (1 + len(list_filter(mc, c -> monetary_micro > c)))::BIGINT
       |         AS m_score
       |FROM rec, cuts""".stripMargin
  }
}
