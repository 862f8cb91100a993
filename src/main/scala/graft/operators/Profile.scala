package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling — the QA pass a training-data pipeline runs before and
  * after every transform batch: per-column null counts, cardinalities, and
  * value ranges, computed in ONE scan regardless of column count (all stats
  * fold into a single aggregate row, then unpivot to one row per column —
  * no per-column jobs, no driver-side loops). The reference inherits
  * nothing like this; it is a north-star pipeline operator (SURVEY.md §2c).
  *
  * Two tiers, same posture as the dedup/sketch families:
  *  - [[profileExact]] — exact distinct counts (Spark plans the multi-column
  *    count(DISTINCT) as one expand + two-phase aggregate);
  *  - [[profile]] — HLL `approx_count_distinct` cardinalities for 100 TB
  *    runs, where per-column state is a fixed-size sketch instead of the
  *    distinct value set.
  */
object Profile {

  private def stats(df: DataFrame, cols: Seq[String],
      distinctOf: String => org.apache.spark.sql.Column): DataFrame = {
    require(cols.nonEmpty, "profile requires at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, lit(1))).as(s"__null_$c"),
        distinctOf(c).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    // unpivot the single stats row into (column, …) rows — min/max are
    // rendered as strings so mixed column types share one output schema
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col(s"__null_$c").as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_val"),
        col(s"__max_$c").as("max_val"))): _*)).as("s"))
      .select("s.*")
  }

  /** Exact profile of `cols`: (column, n_null, n_distinct, min_val,
    * max_val), one row per column. One scan, one aggregate.
    */
  def profileExact(df: DataFrame, cols: Seq[String]): DataFrame =
    stats(df, cols, c => count_distinct(col(c)))

  /** [[profileExact]] with HLL approximate cardinalities (`rsd` standard
    * error) — the 100 TB tier.
    */
  def profile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    stats(df, cols, c => approx_count_distinct(col(c), rsd))

  /** DuckDB SQL replaying [[profileExact]] over the named table: one
    * UNION ALL branch per column (re-scans are fine at oracle scale).
    */
  def exactOracleSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS column, count(*) FILTER ($c IS NULL)::BIGINT AS n_null,
         |       count(DISTINCT $c)::BIGINT AS n_distinct,
         |       min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Equi-width histogram of a numeric column over an EXPLICIT [lo, hi)
    * range: bucket i covers [lo + i·w, lo + (i+1)·w) with w = (hi-lo)/bins;
    * values at exactly `hi` land in the last bucket (closed upper edge, the
    * standard histogram convention), values outside [lo, hi] are counted in
    * the `n_below`/`n_above` guard rows (bucket -1 / `bins`), and NULLs are
    * excluded. The range is a parameter, not a discovered min/max, so the
    * whole histogram is ONE scan + one hash aggregate — the distribution
    * drift check a pipeline runs per batch against fixed reference edges
    * (a discovered range would both cost a second scan and make buckets
    * incomparable across batches).
    *
    * Bucket math in double with a final floor-to-long: exact for the
    * integral-valued columns the gate exercises, and engine-portable (the
    * DuckDB replay uses the identical expression).
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    val v = col(valueCol).cast("double")
    df.where(v.isNotNull)
      .groupBy(bucketOf(v, lo, hi, bins).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(v).as("bucket_min"), max(v).as("bucket_max"))
  }

  /** The fixed-edge bucket id shared by [[histogram]], [[psiDrift]] (via
    * histogram) and [[ksDriftQuantized]]: −1 below `lo`, `bins` above `hi`,
    * closed upper edge, floor-clamped in between.
    */
  private def bucketOf(v: org.apache.spark.sql.Column, lo: Double,
      hi: Double, bins: Int): org.apache.spark.sql.Column = {
    val w = (hi - lo) / bins
    when(v < lo, lit(-1L))
      .when(v > hi, lit(bins.toLong))
      .when(v === hi, lit(bins.toLong - 1)) // closed upper edge
      // least-clamp: (v - lo) / w can round UP to exactly `bins` for a value
      // a ULP below hi, which would mislabel an in-range value as n_above
      .otherwise(least(floor((v - lo) / w).cast("long"), lit(bins.toLong - 1)))
  }

  /** Population-stability-index drift between two snapshots of a value
    * column — the per-batch distribution health check every long-running
    * ingest needs (PSI = Σ (p_i − q_i)·ln(p_i/q_i); rule of thumb: < 0.1
    * stable, > 0.25 investigate). Both sides bucket on the SAME fixed
    * [lo, hi] edges as [[histogram]] (the −1/bins out-of-range guard
    * buckets participate — drift INTO out-of-range is the loudest alarm),
    * with add-half Laplace smoothing so empty buckets stay finite and the
    * arithmetic is engine-portable. Per-bucket rows carry the counts and
    * the contribution; `psi` repeats the total (computed as a
    * bucket-sorted fold — partition-order-proof, oracle-replayable).
    * Scale: two histogram aggregates + a (bins+2)-row join; the corpora
    * are each scanned once.
    */
  def psiDrift(base: DataFrame, cur: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val hb = histogram(base, valueCol, lo, hi, bins)
      .select(col("bucket"), col("n").as("n_base"))
    val hc = histogram(cur, valueCol, lo, hi, bins)
      .select(col("bucket"), col("n").as("n_cur"))
    // the FULL fixed bucket grid (-1 .. bins), not just occupied buckets:
    // the smoothing denominator must be the constant bins+2 support or PSI
    // values drift with occupancy footprint across batches, and the
    // output stays bins+2 rows (psi = 0) even for empty snapshots
    val grid = base.sparkSession.range(-1L, bins + 1L)
      .select(col("id").as("bucket"))
    val joined = grid.join(hb, Seq("bucket"), "left")
      .join(hc, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_base")).as("tb"),
      sum(col("n_cur")).as("tc"), lit(bins.toLong + 2).as("nb"))
    val scored = joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        ((col("n_base") + 0.5) / (col("tb") + lit(0.5) * col("nb"))).as("p"),
        ((col("n_cur") + 0.5) / (col("tc") + lit(0.5) * col("nb"))).as("q"))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        ((col("p") - col("q")) * log(col("p") / col("q"))).as("contrib"))
    val total = scored
      .agg(sort_array(collect_list(struct(col("bucket"), col("contrib"))))
        .as("cs"))
      .select(round(aggregate(col("cs"), lit(0.0),
        (acc, s) => acc + s.getField("contrib")), 6).as("psi"))
    scored.select(col("bucket"), col("n_base"), col("n_cur"),
        round(col("contrib"), 6).as("contrib"))
      .crossJoin(broadcast(total))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between two snapshots
    * of a value column — [[psiDrift]]'s bin-free complement (no edges to
    * choose; sensitive to any distributional difference, not just binned
    * mass): D = max over observed values of |ECDF_base − ECDF_cur|.
    * Shape: each side collapses to its DISTINCT-VALUE counts first (two
    * hash aggregates over the corpora — the only corpus-sized work), and
    * the cumulative/max pass runs over the distinct-value table, which is
    * what flows through the one global-order window (bounded by value
    * cardinality, like a histogram's bins — not corpus rows; for
    * continuous ultra-high-cardinality columns, quantize first or use
    * [[psiDrift]]). Un-partitioned window bound: the full outer join of
    * the two distinct-value aggregates on the value, at most
    * distinct(base) + distinct(cur) rows. Returns one row (n_base, n_cur,
    * d_stat).
    */
  def ksDrift(base: DataFrame, cur: DataFrame,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val cb = base.where(v.isNotNull).groupBy(v.as("v"))
      .agg(count(lit(1)).as("cb"))
    val cc = cur.where(v.isNotNull).groupBy(v.as("v"))
      .agg(count(lit(1)).as("cc"))
    val joined = cb.join(cc, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .select(sum(col("cb")).over(w).as("rb"), sum(col("cc")).over(w).as("rc"))
      .crossJoin(broadcast(joined.agg(sum(col("cb")).as("nb"),
        sum(col("cc")).as("nc"))))
      .agg(max(col("nb")).as("n_base"), max(col("nc")).as("n_cur"),
        round(max(abs(col("rb").cast("double") / col("nb")
          - col("rc").cast("double") / col("nc"))), 6).as("d_stat"))
  }

  /** [[ksDrift]] after fixed-edge quantization — the 100 TB tier for
    * CONTINUOUS columns. [[ksDrift]]'s cumulative pass is bounded by value
    * cardinality: exact and cheap for discrete columns, but a continuous
    * ultra-high-cardinality column would funnel its whole distinct-value
    * table through the one global-order window. This tier buckets both
    * sides on the same fixed [lo, hi] edges as [[histogram]] first (the
    * −1/bins out-of-range guard buckets participate), so the window runs
    * over at most bins+2 rows no matter the corpus — the corpus-sized work
    * is two hash aggregates, same shape as [[psiDrift]]. The statistic is
    * the exact KS distance of the QUANTIZED distributions, a lower bound on
    * the true D that tightens as `bins` grows (binned-KS standard).
    */
  def ksDriftQuantized(base: DataFrame, cur: DataFrame, valueCol: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, "need bins > 0 and hi > lo")
    def quantize(df: DataFrame): DataFrame = {
      val v = col(valueCol).cast("double")
      df.where(v.isNotNull).select(bucketOf(v, lo, hi, bins).as("__qv"))
    }
    ksDrift(quantize(base), quantize(cur), "__qv")
  }

  /** DuckDB replay of [[ksDrift]] value-for-value. */
  def ksOracleSql(table: String, basePred: String, valueExprB: String,
      curPred: String, valueExprC: String): String = {
    def side(pred: String, vexpr: String, nCol: String): String =
      s"""SELECT ($vexpr)::DOUBLE AS v, count(*)::BIGINT AS $nCol
         |FROM $table WHERE ($pred) AND ($vexpr) IS NOT NULL GROUP BY 1""".stripMargin
    s"""WITH cb AS (${side(basePred, valueExprB, "cb")}),
       |cc AS (${side(curPred, valueExprC, "cc")}),
       |j AS (
       |  SELECT coalesce(cb.v, cc.v) AS v,
       |         coalesce(cb, 0) AS cb, coalesce(cc, 0) AS cc
       |  FROM cb FULL OUTER JOIN cc ON cb.v = cc.v),
       |r AS (
       |  SELECT sum(cb) OVER (ORDER BY v) AS rb,
       |         sum(cc) OVER (ORDER BY v) AS rc
       |  FROM j),
       |t AS (SELECT sum(cb)::BIGINT AS nb, sum(cc)::BIGINT AS nc FROM j)
       |SELECT nb AS n_base, nc AS n_cur,
       |       round(max(abs(rb::DOUBLE / nb - rc::DOUBLE / nc)), 6) AS d_stat
       |FROM r, t GROUP BY nb, nc""".stripMargin
  }

  /** DuckDB replay of [[psiDrift]] value-for-value (same smoothing, same
    * bucket-sorted fold). `basePred`/`curPred` select the two snapshots
    * from `table`; `valueExprB`/`valueExprC` compute each side's value.
    */
  def psiOracleSql(table: String, basePred: String, valueExprB: String,
      curPred: String, valueExprC: String, lo: Double, hi: Double,
      bins: Int): String = {
    def bucketed(pred: String, vexpr: String, nCol: String): String = {
      val w = (hi - lo) / bins
      s"""SELECT CASE WHEN v < $lo THEN -1
         |            WHEN v > $hi THEN $bins
         |            WHEN v = $hi THEN ${bins - 1}
         |            ELSE least(floor((v - $lo) / $w)::BIGINT, ${bins - 1}) END AS bucket,
         |       count(*)::BIGINT AS $nCol
         |FROM (SELECT ($vexpr)::DOUBLE AS v FROM $table WHERE ($pred)
         |      AND ($vexpr) IS NOT NULL)
         |GROUP BY 1""".stripMargin
    }
    s"""WITH hb AS (${bucketed(basePred, valueExprB, "n_base")}),
       |hc AS (${bucketed(curPred, valueExprC, "n_cur")}),
       |g AS (SELECT unnest(generate_series(-1, $bins))::BIGINT AS bucket),
       |j AS (
       |  SELECT g.bucket,
       |         coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
       |  FROM g LEFT JOIN hb ON hb.bucket = g.bucket
       |         LEFT JOIN hc ON hc.bucket = g.bucket),
       |t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc,
       |             ${bins + 2}::BIGINT AS nb FROM j),
       |s AS (
       |  SELECT bucket, n_base, n_cur,
       |         ((n_base + 0.5) / (tb + 0.5 * nb)
       |          - (n_cur + 0.5) / (tc + 0.5 * nb))
       |         * ln(((n_base + 0.5) / (tb + 0.5 * nb))
       |              / ((n_cur + 0.5) / (tc + 0.5 * nb))) AS contrib
       |  FROM j, t),
       |tot AS (
       |  SELECT round(list_sum(list_transform(
       |           list_sort(list({b: bucket, c: contrib})),
       |           x -> x.c)), 6) AS psi
       |  FROM s)
       |SELECT bucket, n_base, n_cur, round(contrib, 6) AS contrib, psi
       |FROM s, tot""".stripMargin
  }

  /** DuckDB SQL replaying [[histogram]] value-for-value. */
  /** Robust per-group outlier detection by median/MAD (the Hampel filter —
    * the rule-of-thumb robust z-score every data-QA pass uses where mean/
    * stddev would be dragged by the outliers themselves): a row is an
    * outlier when |v − median| > k · MAD. Both statistics are
    * `percentile_disc` order statistics — actual data values, no
    * interpolation arithmetic — so the whole test replays value-for-value
    * in any engine with discrete quantiles ([[outliersOracleSql]]).
    *
    * Emits per-group (n, n_outliers, med, mad). Distributed shape: two
    * grouped percentile aggregates (sort-based, keyed on the group — the
    * shuffle any grouped quantile costs) bridged by a group-keyed join of
    * the source; no global sort, no driver state. A group's values must
    * fit one task's sort — at 100 TB group by bounded-cardinality keys
    * (source, shard, day), not free text; for unbounded groups use the
    * sketch tier (`percentile_approx`) and accept approximate cutoffs.
    * MAD = 0 (over half the group identical) flags nothing — only rows
    * strictly outside the scaled band trip.
    */
  def outliersMad(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.0): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.select(col(groupCol).as("grp"), v.as("v"))
    val med = base.groupBy("grp")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("med"))
    val withMed = base.join(med, "grp")
    val mad = withMed.groupBy("grp")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(v - med))")
        .as("mad"))
    withMed.join(mad, "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        count(when(abs(col("v") - col("med")) > lit(k) * col("mad"), lit(1)))
          .as("n_outliers"),
        first(col("med")).as("med"), first(col("mad")).as("mad"))
  }

  /** DuckDB SQL replaying [[outliersMad]] value-for-value (quantile_disc
    * is the same order statistic as percentile_disc).
    */
  def outliersOracleSql(table: String, groupExpr: String, valueExpr: String,
      k: Double = 3.0): String =
    s"""WITH base AS (
       |  SELECT $groupExpr AS grp, ($valueExpr)::DOUBLE AS v FROM $table),
       |med AS (SELECT grp, quantile_disc(v, 0.5) AS med FROM base GROUP BY grp),
       |wm AS (SELECT base.grp, v, med FROM base JOIN med USING (grp)),
       |mad AS (SELECT grp, quantile_disc(abs(v - med), 0.5) AS mad
       |        FROM wm GROUP BY grp)
       |SELECT wm.grp, count(*)::BIGINT AS n,
       |       count(CASE WHEN abs(v - med) > $k * mad.mad THEN 1 END)::BIGINT
       |         AS n_outliers,
       |       any_value(med) AS med, any_value(mad.mad) AS mad
       |FROM wm JOIN mad USING (grp)
       |GROUP BY wm.grp""".stripMargin

  /** Per-group WINSORIZATION — the repair action paired with
    * [[outliersMad]]'s detection: clip each value into its group's
    * [pLo, pHi] order-statistic band (actual data values, no
    * interpolation; 1-based rank ceil(p·n) computed explicitly in
    * integer arithmetic). Returns per-group
    * (n, n_lo, n_hi, lo_cents, hi_cents, sum_clipped_cents): the shape
    * a feature-store QA pass persists per batch — all-integer (cents),
    * with the group sum as an exact digit string.
    *
    * Scale contract: one per-group row_number window (sorted within the
    * group's tasks, bounded by group size — the same work a grouped
    * percentile aggregate does internally) + a group-keyed join; group
    * cardinality bounds every sort.
    *
    * Contract: NULL values are excluded up front (Spark's least/greatest
    * skip NULLs, so a NULL row would otherwise clip to the hi bound and
    * silently inflate the clipped sum); values must fit DECIMAL(18,2) —
    * out of that range Spark's non-ANSI cast nulls while DuckDB's
    * raises, so the carrier is deliberately sized to the feature
    * domain, not adjusted per batch.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    // The order statistic is defined EXPLICITLY (1-based rank
    // r = ceil(p·n) in pure integer arithmetic, p carried as a
    // ten-thousandth fraction) rather than through an engine's
    // percentile_disc/quantile_disc builtin: the builtins' index
    // conventions (ceil(p·n) vs floor(p·(n−1))+1) have drifted across
    // engine versions, and over a near-unique value column a one-element
    // shift changes every downstream count and sum. Values are carried
    // as BIGINT cents — exact clip, exact order, exact sum, and the
    // output never leaves the integer domain any comparator hashes
    // identically.
    val loNum = math.round(pLo * 10000)
    val hiNum = math.round(pHi * 10000)
    val base = df.select(col(groupCol).as("grp"),
      (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("c"))
      .where(col("c").isNotNull)
    val ranked = base
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy("c")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("grp")))
    val bounds = ranked
      .withColumn("r_lo", expr(s"greatest(1L, ($loNum * cnt + 9999) div 10000)"))
      .withColumn("r_hi", expr(s"greatest(1L, ($hiNum * cnt + 9999) div 10000)"))
      .groupBy("grp")
      .agg(min(when(col("rn") === col("r_lo"), col("c"))).as("lo_c"),
        min(when(col("rn") === col("r_hi"), col("c"))).as("hi_c"))
    base.join(bounds, "grp")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        count(when(col("c") < col("lo_c"), lit(1))).as("n_lo"),
        count(when(col("c") > col("hi_c"), lit(1))).as("n_hi"),
        first(col("lo_c")).as("lo_cents"), first(col("hi_c")).as("hi_cents"),
        sum(greatest(col("lo_c"), least(col("hi_c"), col("c")))
          .cast("decimal(38,0)")).cast("decimal(38,0)").cast("string")
          .as("sum_clipped_cents"))
  }

  /** DuckDB SQL replaying [[winsorize]] value-for-value (same explicit
    * ceil(p·n) integer rank — no quantile builtin on either engine). */
  def winsorizeOracleSql(table: String, groupExpr: String, valueExpr: String,
      pLo: Double = 0.05, pHi: Double = 0.95): String = {
    val loNum = math.round(pLo * 10000)
    val hiNum = math.round(pHi * 10000)
    s"""WITH base AS (
       |  SELECT $groupExpr AS grp,
       |         (($valueExpr)::DECIMAL(18,2) * 100)::BIGINT AS c
       |  FROM $table
       |  WHERE ($valueExpr) IS NOT NULL),
       |r AS (
       |  SELECT grp, c,
       |         row_number() OVER (PARTITION BY grp ORDER BY c) AS rn,
       |         count(*) OVER (PARTITION BY grp) AS cnt
       |  FROM base),
       |b AS (
       |  SELECT grp,
       |         min(CASE WHEN rn = greatest(1, ($loNum * cnt + 9999) // 10000)
       |                  THEN c END) AS lo_c,
       |         min(CASE WHEN rn = greatest(1, ($hiNum * cnt + 9999) // 10000)
       |                  THEN c END) AS hi_c
       |  FROM r GROUP BY grp)
       |SELECT base.grp, count(*)::BIGINT AS n,
       |       count(CASE WHEN c < lo_c THEN 1 END)::BIGINT AS n_lo,
       |       count(CASE WHEN c > hi_c THEN 1 END)::BIGINT AS n_hi,
       |       any_value(lo_c)::BIGINT AS lo_cents,
       |       any_value(hi_c)::BIGINT AS hi_cents,
       |       sum(greatest(lo_c, least(hi_c, c)))::DECIMAL(38,0)::VARCHAR
       |         AS sum_clipped_cents
       |FROM base JOIN b USING (grp)
       |GROUP BY base.grp""".stripMargin
  }

  /** Per-group score CALIBRATION by empirical CDF (percent_rank): maps any
    * raw quality score to its within-group quantile, so one global
    * threshold means the same thing in every stratum — the FineWeb-style
    * per-dump calibration step before cross-source filtering (a 0.9 from a
    * lenient scorer and a 0.9 from a strict one both become "top 10% of
    * their source"). Ties share a rank (pure function of the values —
    * partition-order-proof); percent_rank is an integer ratio
    * (rank−1)/(n−1), rounded to 6 dp.
    *
    * Scale shape: one window partitioned by the group — per-group sort,
    * bounded by group size, no global ordering anywhere. Groups are
    * corpus strata (source, dump, language): bounded cardinality, each
    * stratum sortable within its tasks; single-member groups calibrate
    * to 0.0 (the SQL-standard percent_rank convention).
    */
  def calibrateScores(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the raw score is consumed by the ranking but NOT emitted: percent_rank
    // values are integer ratios (safe to round cross-engine — a seventh
    // decimal digit of exactly 5 only arises from power-of-two denominators,
    // where the binary double is exact and both engines round identically),
    // whereas an arbitrary raw double can land on a binary-vs-decimal
    // rounding boundary where engines' round() legitimately disagree
    df.select(col(groupCol).as("grp"), col(idCol).as("id"),
        col(scoreCol).as("score"))
      .withColumn("calibrated",
        round(percent_rank().over(
          Window.partitionBy(col("grp")).orderBy(col("score"))), 6))
      .drop("score")
  }

  /** DuckDB SQL replaying [[calibrateScores]] value-for-value. */
  def calibrateOracleSql(table: String, groupExpr: String, idExpr: String,
      scoreExpr: String): String =
    s"""SELECT $groupExpr AS grp, $idExpr AS id,
       |       round(percent_rank() OVER (PARTITION BY $groupExpr
       |                                  ORDER BY $scoreExpr), 6) AS calibrated
       |FROM $table""".stripMargin

  /** Context-length truncation report — "what does a context window of L
    * tokens cost per stratum?": docs over L lose their tail at training
    * time ([[graft.operators.Scale.packSequences]] truncates oversized
    * docs the same way), so the pre-flight QA pass wants, per stratum,
    * how many docs truncate and what token fraction is lost. One plain
    * aggregate over the corpus (integer token arithmetic, exact); the
    * loss percentage is rounded to 6 dp. Returns per stratum:
    * (stratum, n_docs, n_truncated, tot_tokens, kept_tokens, lost_tokens,
    * pct_lost).
    */
  def truncationReport(df: DataFrame, stratumCol: String, tokens: Column,
      contextLen: Long): DataFrame = {
    require(contextLen > 0)
    df.select(col(stratumCol).as("stratum"), tokens.cast("long").as("ntok"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("ntok") > contextLen, lit(1))).as("n_truncated"),
        sum(col("ntok")).as("tot_tokens"),
        sum(least(col("ntok"), lit(contextLen))).as("kept_tokens"),
        sum(greatest(col("ntok") - lit(contextLen), lit(0L))).as("lost_tokens"))
      .withColumn("pct_lost",
        when(col("tot_tokens") > 0,
          round(col("lost_tokens").cast("double") /
            col("tot_tokens").cast("double") * 100d, 6))
          .otherwise(lit(0d)))
  }

  /** DuckDB SQL replaying [[truncationReport]] value-for-value. */
  def truncationOracleSql(table: String, stratumExpr: String,
      tokenExpr: String, contextLen: Long): String =
    s"""WITH b AS (
       |  SELECT $stratumExpr AS stratum, ($tokenExpr)::BIGINT AS ntok
       |  FROM $table),
       |a AS (
       |  SELECT stratum, count(*)::BIGINT AS n_docs,
       |         count(CASE WHEN ntok > $contextLen THEN 1 END)::BIGINT
       |           AS n_truncated,
       |         sum(ntok)::BIGINT AS tot_tokens,
       |         sum(least(ntok, $contextLen))::BIGINT AS kept_tokens,
       |         sum(greatest(ntok - $contextLen, 0))::BIGINT AS lost_tokens
       |  FROM b GROUP BY stratum)
       |SELECT *, CASE WHEN tot_tokens > 0
       |               THEN round(lost_tokens::DOUBLE / tot_tokens::DOUBLE
       |                          * 100, 6)
       |               ELSE 0 END AS pct_lost
       |FROM a""".stripMargin

  /** Curriculum difficulty binning — docs assigned to `nBuckets` global
    * score quantile buckets (easy → hard), the ordering step of
    * curriculum-learning data schedules. NOT `ntile()`: a global ntile
    * window funnels the entire corpus through one task. Instead the n−1
    * `percentile_disc` cutpoints are computed in one aggregate (actual
    * data values, no interpolation — replayable), broadcast as a single
    * row, and every doc buckets itself map-only: bucket = 1 + #cutpoints
    * strictly below its score. Ties share a bucket (unlike ntile's
    * arbitrary equal-size split), which is the semantics a curriculum
    * wants — equal difficulty, equal treatment. Returns (id, score,
    * bucket 1..nBuckets).
    *
    * 100 TB note: `percentile_disc` buffers values per partition during
    * the cutpoint aggregate; for unbounded continuous scores compute
    * cutpoints on the quantized tier ([[ksDriftQuantized]]'s pattern) or
    * a deterministic sample — the bucketing pass itself stays map-only.
    */
  def curriculumBuckets(df: DataFrame, idCol: String, scoreCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2)
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val cuts = df.select(col(scoreCol).cast("double").as("v"))
      .agg(array(qs.map(q =>
        expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY v)")): _*)
        .as("cuts"))
    df.select(col(idCol), col(scoreCol).cast("double").as("score"))
      .crossJoin(broadcast(cuts))
      .select(col(idCol), col("score"),
        (lit(1) + size(filter(col("cuts"), c => col("score") > c)))
          .cast("long").as("bucket"))
  }

  /** Per-STRATUM quantile bucketing — the CCNet head/middle/tail split
    * (Wenzek et al. 2020): perplexity terciles are computed WITHIN each
    * language, because a single global threshold would call every
    * low-resource language "tail" (their LM perplexities are uniformly
    * higher). Same percentile_disc order-statistic cutpoints as
    * [[curriculumBuckets]], but per stratum: one grouped aggregate to a
    * strata-sized cutpoint table, broadcast back, map-only assignment.
    * Ties share a bucket; the cutpoints are data values, so both engines
    * replay value-for-value.
    */
  def curriculumBucketsBy(df: DataFrame, idCol: String, strataCol: String,
      scoreCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2)
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val cuts = df
      .select(col(strataCol).as("stratum"), col(scoreCol).cast("double").as("v"))
      .groupBy(col("stratum"))
      .agg(array(qs.map(q =>
        expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY v)")): _*)
        .as("cuts"))
    df.select(col(idCol), col(strataCol).as("stratum"),
        col(scoreCol).cast("double").as("score"))
      .join(broadcast(cuts), Seq("stratum"))
      .select(col(idCol), col("stratum"), col("score"),
        (lit(1) + size(filter(col("cuts"), c => col("score") > c)))
          .cast("long").as("bucket"))
  }

  /** DuckDB SQL replaying [[curriculumBucketsBy]] (same per-stratum
    * order-statistic cutpoints).
    */
  def curriculumByOracleSql(table: String, idExpr: String,
      strataExpr: String, scoreExpr: String, nBuckets: Int): String = {
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
      .mkString("[", ", ", "]")
    s"""WITH cuts AS (
       |  SELECT $strataExpr AS stratum,
       |         quantile_disc(($scoreExpr)::DOUBLE, $qs) AS cs
       |  FROM $table GROUP BY 1)
       |SELECT $idExpr, t.$strataExpr AS stratum,
       |       ($scoreExpr)::DOUBLE AS score,
       |       (1 + len(list_filter(cs, c -> ($scoreExpr)::DOUBLE > c)))::BIGINT
       |         AS bucket
       |FROM $table t JOIN cuts ON cuts.stratum = t.$strataExpr""".stripMargin
  }

  /** DuckDB SQL replaying [[curriculumBuckets]] value-for-value
    * (quantile_disc list = the same order statistics).
    */
  def curriculumOracleSql(table: String, idExpr: String, scoreExpr: String,
      nBuckets: Int): String = {
    val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
      .mkString("[", ", ", "]")
    s"""WITH cuts AS (
       |  SELECT quantile_disc(($scoreExpr)::DOUBLE, $qs) AS cs FROM $table)
       |SELECT $idExpr, ($scoreExpr)::DOUBLE AS score,
       |       (1 + len(list_filter(cs, c -> ($scoreExpr)::DOUBLE > c)))::BIGINT
       |         AS bucket
       |FROM $table, cuts""".stripMargin
  }

  def histogramOracleSql(table: String, valueCol: String, lo: Double,
      hi: Double, bins: Int): String = {
    val w = (hi - lo) / bins
    s"""WITH v AS (SELECT $valueCol::DOUBLE AS v FROM $table
       |           WHERE $valueCol IS NOT NULL),
       |b AS (SELECT v,
       |             CASE WHEN v < $lo THEN -1
       |                  WHEN v > $hi THEN $bins
       |                  WHEN v = $hi THEN ${bins - 1}
       |                  ELSE least(floor((v - $lo) / $w)::BIGINT, ${bins - 1}) END AS bucket
       |      FROM v)
       |SELECT bucket, count(*) AS n, min(v) AS bucket_min, max(v) AS bucket_max
       |FROM b GROUP BY bucket""".stripMargin
  }

  /** One-table DATASET CARD — the "datasheet for datasets" summary
    * (Gebru et al. 2021) every corpus release ships: global counts,
    * per-language and per-source composition, exact-duplicate volume,
    * quality mean, and the median document length, as one tall
    * (metric, value) BIGINT table ready for a release README or a
    * regression diff between corpus versions (two cards anti-join to a
    * drift report).
    *
    * Exactness: every value is an integer — counts, exact-fingerprint
    * dup volume, micro-rounded quality summed as BIGINTs then floor-
    * divided, and percentile_disc (an order statistic, no
    * interpolation) for the median. Scale shape: ONE tokenizing scan
    * builds the persisted per-doc base; every section is a bounded
    * aggregate over it (the per-lang/per-source sections output one row
    * per stratum).
    */
  def datasetCard(df: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String): DataFrame = {
    val base = Caching.persist(df.select(
      col(idCol).as("id"), col(langCol).as("lang"),
      col(sourceCol).as("source"),
      graft.operators.TextAnalysis.tokenCount(col(textCol))
        .cast("long").as("ntok"),
      length(col(textCol)).cast("long").as("nchars"),
      round(graft.operators.TextAnalysis.qualityScore(col(textCol))
        * 1000000d, 0).cast("long").as("q_micro"),
      graft.operators.TextAnalysis.fingerprint(col(textCol)).as("fp")))
    val totals = base.agg(
        count(lit(1)).as("n"), sum(col("ntok")).as("st"),
        sum(col("nchars")).as("sc"), sum(col("q_micro")).as("sq"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ntok)").as("p50"),
        countDistinct(col("fp")).as("nfp"))
      .select(explode(map(
        lit("n_docs"), col("n"),
        lit("n_tokens"), coalesce(col("st"), lit(0L)),
        lit("n_chars"), coalesce(col("sc"), lit(0L)),
        // empty corpus: sums are null and n = 0 — 0-valued card rows, not
        // an ANSI div-by-zero
        lit("quality_mean_micro"),
        when(col("n") === 0, lit(0L)).otherwise(expr("sq div n")),
        lit("tokens_p50"), coalesce(col("p50").cast("long"), lit(0L)),
        lit("exact_dup_docs"), col("n") - col("nfp"))))
      .select(col("key").as("metric"), col("value"))
    val byLang = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("value"))
      .select(concat(lit("docs:lang="), col("lang")).as("metric"),
        col("value"))
    val bySource = base.groupBy(col("source"))
      .agg(count(lit(1)).as("value"))
      .select(concat(lit("docs:source="), col("source")).as("metric"),
        col("value"))
    totals.unionAll(byLang).unionAll(bySource)
  }

  /** DuckDB replay of [[datasetCard]] (same tokenizer/quality/fingerprint
    * generators, same integer carriers).
    */
  def datasetCardOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      langCol: String = "lang", sourceCol: String = "source"): String = {
    val toks = graft.operators.TextAnalysis.toksSql(textCol)
    val quality = graft.operators.TextAnalysis.qualitySql(textCol)
    s"""WITH base AS (
       |  SELECT $idCol AS id, $langCol AS lang, $sourceCol AS source,
       |         len($toks)::BIGINT AS ntok,
       |         length($textCol)::BIGINT AS nchars,
       |         round(($quality) * 1000000)::BIGINT AS q_micro,
       |         md5(regexp_replace(regexp_replace(lower($textCol),
       |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fp
       |  FROM $table),
       |totals AS (
       |  SELECT count(*)::BIGINT AS n,
       |         coalesce(sum(ntok), 0)::BIGINT AS st,
       |         coalesce(sum(nchars), 0)::BIGINT AS sc,
       |         coalesce(sum(q_micro), 0)::BIGINT AS sq,
       |         coalesce(quantile_disc(ntok, 0.5), 0)::BIGINT AS p50,
       |         count(DISTINCT fp)::BIGINT AS nfp
       |  FROM base)
       |SELECT 'n_docs' AS metric, n AS value FROM totals
       |UNION ALL SELECT 'n_tokens', st FROM totals
       |UNION ALL SELECT 'n_chars', sc FROM totals
       |UNION ALL SELECT 'quality_mean_micro',
       |  CASE WHEN n = 0 THEN 0 ELSE sq // n END FROM totals
       |UNION ALL SELECT 'tokens_p50', p50 FROM totals
       |UNION ALL SELECT 'exact_dup_docs', n - nfp FROM totals
       |UNION ALL SELECT 'docs:lang=' || lang, count(*)::BIGINT
       |  FROM base GROUP BY lang
       |UNION ALL SELECT 'docs:source=' || source, count(*)::BIGINT
       |  FROM base GROUP BY source""".stripMargin
  }

  /** Cohen's kappa (Cohen 1960) between two label columns — the
    * inter-annotator / classifier-vs-metadata agreement statistic every
    * labeled-data QA pass reports (chance-corrected, unlike raw accuracy:
    * a majority-class rater scores near 0, not near the majority share).
    *
    * Exact rational form over N rows with confusion counts n_ij, row
    * marginals r_k, column marginals c_k:
    *   kappa = (N·Σ_k n_kk − Σ_k r_k·c_k) / (N² − Σ_k r_k·c_k)
    * Both numerator and denominator are exact BIGINTs, so the oracle
    * replays them bit-for-bit; `kappa_micro` truncates toward zero via the
    * sign·(abs·1e6 div abs) construction (kappa can be negative, and Spark's
    * `div` truncates while DuckDB's `//` floors — the abs form makes both
    * engines agree); the ·1e6 product rides DECIMAL(38,0)/HUGEINT so the
    * micro ratio is safe wherever num/den themselves fit. Degenerate
    * den = 0 (one label on both sides) reports the perfect-agreement
    * convention 1e6.
    *
    * Scale shape: one confusion-matrix aggregate (bounded by label-space²,
    * never corpus-sized), two marginal re-aggregates of that tiny table, a
    * label-keyed join of the marginals, and 1-row cross joins — the corpus
    * is touched exactly once. N² caps the carrier at ~3e9 rows per call;
    * beyond that (a 100 TB corpus scored whole) run per-stratum and pool,
    * or swap the three products onto DECIMAL(38,0).
    */
  def agreementKappa(df: DataFrame, goldCol: String,
      predCol: String): DataFrame = {
    val conf = Caching.persist(
      df.groupBy(col(goldCol).as("gold"), col(predCol).as("pred"))
        .agg(count(lit(1)).as("n")))
    val tot = conf.agg(coalesce(sum(col("n")), lit(0L)).as("n_rows"))
    val agree = conf.where(col("gold") === col("pred"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("agree"))
    val rows = conf.groupBy(col("gold").as("lab")).agg(sum(col("n")).as("rn"))
    val cols = conf.groupBy(col("pred").as("lab")).agg(sum(col("n")).as("cn"))
    val pe = rows.join(cols, "lab")
      .agg(coalesce(sum(col("rn") * col("cn")), lit(0L)).as("pe_w"))
    tot.crossJoin(agree).crossJoin(pe)
      .select(col("n_rows"), col("agree"), col("pe_w"),
        (col("n_rows") * col("agree") - col("pe_w")).as("kappa_num"),
        (col("n_rows") * col("n_rows") - col("pe_w")).as("kappa_den"))
      .withColumn("kappa_micro",
        when(col("kappa_den") === 0, lit(1000000L)).otherwise(
          signum(col("kappa_num")).cast("long") *
            // DECIMAL carrier for the 1e6 product: abs(num) ~ N² already,
            // so a BIGINT multiply would overflow at ~3e6 rows — three
            // orders below the N ≤ ~3e9 the num/den carriers support
            expr("(CAST(abs(kappa_num) AS DECIMAL(38,0)) * 1000000) " +
              "div abs(kappa_den)")))
  }

  /** DuckDB replay of [[agreementKappa]]. `predCtes` is a WITH-fragment
    * (without the `WITH` keyword) whose final CTE must be
    * `p(gold, pred)` — one row per rated item.
    */
  def kappaOracleSql(predCtes: String): String =
    s"""WITH $predCtes,
       |conf AS (SELECT gold, pred, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
       |tot AS (SELECT coalesce(sum(n), 0)::BIGINT AS n_rows FROM conf),
       |agr AS (SELECT coalesce(sum(n), 0)::BIGINT AS agree FROM conf
       |        WHERE gold = pred),
       |marg AS (
       |  SELECT coalesce(sum(rn * cn), 0)::BIGINT AS pe_w
       |  FROM (SELECT gold AS lab, sum(n)::BIGINT AS rn FROM conf GROUP BY 1)
       |  JOIN (SELECT pred AS lab, sum(n)::BIGINT AS cn FROM conf GROUP BY 1)
       |  USING (lab))
       |SELECT n_rows, agree, pe_w,
       |       n_rows * agree - pe_w AS kappa_num,
       |       n_rows * n_rows - pe_w AS kappa_den,
       |       CASE WHEN n_rows * n_rows - pe_w = 0 THEN 1000000
       |            ELSE (CASE WHEN n_rows * agree - pe_w < 0 THEN -1 ELSE 1 END)
       |                 * (abs(n_rows * agree - pe_w)::HUGEINT * 1000000
       |                    // abs(n_rows * n_rows - pe_w))::BIGINT
       |       END AS kappa_micro
       |FROM tot, agr, marg""".stripMargin

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala et al.
    * 2007) — the privacy QA gate before a corpus with user-derived metadata
    * ships: every quasi-identifier combination (the columns an attacker can
    * link on) must cover ≥ k individuals, and the sensitive attribute must
    * take ≥ l distinct values inside each group or the group's members are
    * re-identifiable / attribute-disclosable.
    *
    * Returns one row per quasi-identifier group: the group's quasi values,
    * its population `n`, `l_distinct` sensitive values, and the two
    * violation flags. Suppression/generalisation (the repair) is a caller
    * policy — the audit reports, it does not mutate.
    *
    * Scale shape: ONE hash aggregate over the corpus (count + exact
    * count-distinct via the two-level (quasi, sensitive) pre-aggregate —
    * never a corpus-wide distinct shuffle of raw rows); output cardinality
    * is the quasi-combination count, which a sane quasi set keeps bounded.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      k: Long, l: Long = 2L): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1 && l >= 1)
    val q = quasiCols.map(col)
    df.groupBy(q :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(q: _*)
      // l-diversity counts WELL-REPRESENTED actual values: a NULL
      // sensitive cell is missingness, not a protecting value — counting
      // it would pass a group whose one real value is fully determined
      // for every non-null member
      .agg(sum(col("__n")).as("n"),
        count(col("__s")).as("l_distinct"))
      .select(q ++ Seq(col("n"), col("l_distinct"),
        (col("n") < k).as("violates_k"),
        (col("l_distinct") < l).as("violates_l")): _*)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the privacy
    * tier ABOVE [[kAnonymity]]'s l-diversity: a quasi-identifier group
    * leaks when its sensitive-value DISTRIBUTION differs from the
    * corpus-wide one (l distinct values can still be 99% one value), so
    * each group's total-variation distance to the global distribution
    * must stay ≤ t. Exact integer form: for group g with size N_g over
    * corpus size N, TV_micro = (Σ_s |n_gs·N − p_s·N_g|)·1e6 div
    * (2·N_g·N) — the per-value terms ride DECIMAL(38,0) (n·N ≤ N² up to
    * N~1e18 digits-wise safe at 38), sums are order-free, one floor at
    * the end. NULL sensitive cells are missingness and join neither
    * distribution ([[kAnonymity]]'s posture). Returns per group:
    * (quasi…, n, tv_micro, violates_t).
    *
    * Scale shape: one pass to the (group, value) cell aggregate, a
    * broadcast of the VALUE-DOMAIN distribution (t-closeness presumes a
    * small categorical/banded domain — that is what makes the metric
    * meaningful), and a groups × domain expansion that is linear in the
    * group count. No windows, nothing corpus-sized after the first
    * aggregate.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tMicro: Long): DataFrame = {
    require(quasiCols.nonEmpty && tMicro >= 0)
    val q = quasiCols.map(col)
    val base = Caching.persist(df.where(col(sensitiveCol).isNotNull)
      .select(q :+ col(sensitiveCol).as("__s"): _*))
    val cells = base.groupBy(q :+ col("__s"): _*)
      .agg(count(lit(1)).as("__n"))
    val gv = broadcast(base.groupBy(col("__s"))
      .agg(count(lit(1)).as("__p")))
    val grp = base.groupBy(q: _*).agg(count(lit(1)).as("__ng"))
    val n = math.max(base.count(), 1L)
    grp.join(gv)
      .join(cells, quasiCols :+ "__s", "left")
      .select(q ++ Seq(col("__ng"),
        expr(s"abs(CAST(coalesce(__n, 0) AS DECIMAL(38,0)) * $n" +
          s" - CAST(__p AS DECIMAL(38,0)) * __ng)").as("__term")): _*)
      .groupBy(q :+ col("__ng"): _*)
      .agg(expr(s"CAST(sum(__term) * 1000000" +
        s" DIV (2 * CAST(__ng AS DECIMAL(38,0)) * $n) AS BIGINT)")
        .as("tv_micro"))
      .select(q ++ Seq(col("__ng").as("n"), col("tv_micro"),
        (col("tv_micro") > tMicro).as("violates_t")): _*)
  }

  /** DuckDB replay of [[tCloseness]] (same NULL posture, same HUGEINT
    * cross-multiplied terms, same single floor).
    */
  def tClosenessOracleSql(table: String, quasiCols: Seq[String],
      sensitiveExpr: String, tMicro: Long): String = {
    val qs = quasiCols.mkString(", ")
    s"""WITH base AS (
       |  SELECT $qs, ($sensitiveExpr) AS s FROM $table
       |  WHERE ($sensitiveExpr) IS NOT NULL),
       |cells AS (
       |  SELECT $qs, s, count(*)::BIGINT AS n FROM base
       |  GROUP BY ${(1 to quasiCols.size + 1).mkString(", ")}),
       |gv AS (SELECT s, count(*)::BIGINT AS p FROM base GROUP BY 1),
       |grp AS (SELECT $qs, count(*)::BIGINT AS ng FROM base
       |        GROUP BY ${(1 to quasiCols.size).mkString(", ")}),
       |tot AS (SELECT greatest(count(*), 1)::HUGEINT AS n FROM base),
       |terms AS (
       |  SELECT ${quasiCols.map(c => s"grp.$c").mkString(", ")}, grp.ng,
       |         abs(coalesce(cells.n, 0)::HUGEINT * tot.n
       |             - gv.p::HUGEINT * grp.ng) AS term
       |  FROM grp CROSS JOIN gv CROSS JOIN tot
       |  LEFT JOIN cells ON ${quasiCols.map(c =>
            s"cells.$c = grp.$c").mkString(" AND ")} AND cells.s = gv.s)
       |SELECT $qs, ng AS n,
       |       (sum(term) * 1000000
       |        // (2 * ng::HUGEINT * (SELECT n FROM tot)))::BIGINT
       |         AS tv_micro,
       |       (sum(term) * 1000000
       |        // (2 * ng::HUGEINT * (SELECT n FROM tot)))::BIGINT
       |         > $tMicro AS violates_t
       |FROM terms GROUP BY ${(1 to quasiCols.size + 1).mkString(", ")}""".stripMargin
  }

  /** Functional-dependency check — "does `detCol` determine `depCol`?"
    * (the schema-discovery / normalization audit: order→customer should
    * hold, order→shipmode should not). Returns one row:
    * (n_determinants, n_violating, violation flag) where a violating
    * determinant maps to ≥ 2 distinct dependent values. Exact: one
    * two-level aggregate (the [[kAnonymity]] shape — no raw-row distinct
    * shuffle), output independent of corpus size. NULL dependents count
    * as a value of their own (a determinant mapping to {x, NULL} is NOT
    * functional).
    */
  def functionalDependency(df: DataFrame, detCol: String,
      depCol: String): DataFrame =
    df.select(col(detCol).as("__det"), col(depCol).as("__dep"))
      .groupBy(col("__det"), col("__dep")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__det")).agg(count(lit(1)).as("nd"))
      .agg(count(lit(1)).as("n_determinants"),
        count(when(col("nd") > 1, lit(1))).as("n_violating"))
      .select(col("n_determinants"), col("n_violating"),
        (col("n_violating") > 0).as("violated"))

  /** Inclusion-dependency (foreign-key) check — every value of
    * `childCol` must exist in `parentCol`; returns (n_child_values,
    * n_orphans, violated). Distinct-value anti-join: work bounded by
    * DISTINCT child keys, never child rows. NULL child values are
    * ignored (SQL FK semantics).
    */
  def inclusionDependency(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame = {
    val c = Caching.persist(child.select(col(childCol).as("__k"))
      .where(col("__k").isNotNull).distinct())
    val orphans = c.join(
      parent.select(col(parentCol).as("__k")).distinct(),
      Seq("__k"), "left_anti")
    c.agg(count(lit(1)).as("n_child_values"))
      .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
      .select(col("n_child_values"), col("n_orphans"),
        (col("n_orphans") > 0).as("violated"))
  }

  /** DuckDB replay of [[functionalDependency]]. */
  def fdOracleSql(table: String, detExpr: String, depExpr: String): String =
    s"""WITH g AS (
       |  SELECT $detExpr AS det, count(DISTINCT $depExpr) +
       |         (count(*) FILTER ($depExpr IS NULL) > 0)::INT AS nd
       |  FROM $table GROUP BY 1)
       |SELECT count(*)::BIGINT AS n_determinants,
       |       coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)::BIGINT
       |         AS n_violating,
       |       coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) > 0
       |         AS violated
       |FROM g""".stripMargin

  /** DuckDB replay of [[inclusionDependency]]. */
  def inclusionOracleSql(childTable: String, childExpr: String,
      parentTable: String, parentExpr: String): String =
    s"""WITH c AS (
       |  SELECT DISTINCT $childExpr AS k FROM $childTable
       |  WHERE $childExpr IS NOT NULL),
       |o AS (
       |  SELECT count(*)::BIGINT AS n_orphans FROM c
       |  WHERE k NOT IN (SELECT DISTINCT $parentExpr FROM $parentTable
       |                  WHERE $parentExpr IS NOT NULL))
       |SELECT (SELECT count(*) FROM c)::BIGINT AS n_child_values,
       |       o.n_orphans, o.n_orphans > 0 AS violated
       |FROM o""".stripMargin

  /** Data-contract EXPECTATIONS report (the Great-Expectations-style
    * validation pass a pipeline runs on every ingest batch before the
    * data may flow downstream): a declarative constraint list evaluated
    * in ONE corpus aggregate — each constraint contributes one counting
    * expression, so 50 checks cost the same scan as one. Supported
    * kinds: `not_null`, `unique` (violations = rows − distinct, exact),
    * `min_at_least` / `max_at_most` (numeric bound as the param),
    * `accepted_values` (comma-separated), `matches_regex`. Returns one
    * row per constraint: (constraint_id, kind, column, n_violations,
    * passed) — violations are exact counts, so the report doubles as the
    * quarantine-sizing estimate.
    */
  def expectations(df: DataFrame,
      constraints: Seq[(String, String, String)]): DataFrame = {
    require(constraints.nonEmpty)
    val aggs = constraints.zipWithIndex.map { case ((kind, c, param), i) =>
      val viol: Column = kind match {
        case "not_null" => count(when(col(c).isNull, lit(1)))
        case "unique" => count(col(c)) - count_distinct(col(c))
        case "min_at_least" =>
          count(when(col(c) < lit(param.toDouble), lit(1)))
        case "max_at_most" =>
          count(when(col(c) > lit(param.toDouble), lit(1)))
        case "accepted_values" =>
          val vals = param.split(",").map(_.trim).toIndexedSeq
          count(when(col(c).isNotNull &&
            !col(c).cast("string").isin(vals: _*), lit(1)))
        case "matches_regex" =>
          count(when(col(c).isNotNull &&
            !col(c).cast("string").rlike(param), lit(1)))
        case other => sys.error(s"unknown expectation kind: $other")
      }
      viol.cast("long").as(s"__v$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(constraints.zipWithIndex.map {
        case ((kind, c, _), i) => struct(
          lit(i.toLong).as("constraint_id"), lit(kind).as("kind"),
          lit(c).as("column"), col(s"__v$i").as("n_violations"),
          (col(s"__v$i") === 0).as("passed"))
      }: _*)).as("s"))
      .select(col("s.*"))
  }

  /** DuckDB replay of [[expectations]] (one scalar-aggregate branch per
    * constraint — re-scans are fine at oracle scale).
    */
  def expectationsOracleSql(table: String,
      constraints: Seq[(String, String, String)]): String =
    constraints.zipWithIndex.map { case ((kind, c, param), i) =>
      val viol = kind match {
        case "not_null" => s"count(*) FILTER ($c IS NULL)"
        case "unique" => s"count($c) - count(DISTINCT $c)"
        case "min_at_least" => s"count(*) FILTER ($c < $param)"
        case "max_at_most" => s"count(*) FILTER ($c > $param)"
        case "accepted_values" =>
          val lst = param.split(",").map(v => s"'${v.trim}'").mkString(", ")
          s"count(*) FILTER ($c IS NOT NULL AND $c::VARCHAR NOT IN ($lst))"
        case "matches_regex" =>
          s"count(*) FILTER ($c IS NOT NULL AND " +
            s"NOT regexp_matches($c::VARCHAR, '$param'))"
        case other => sys.error(s"unknown expectation kind: $other")
      }
      s"""SELECT $i::BIGINT AS constraint_id, '$kind' AS kind,
         |       '$c' AS column, ($viol)::BIGINT AS n_violations,
         |       ($viol) = 0 AS passed
         |FROM $table""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Benford first-digit probabilities log₁₀(1 + 1/d)·1e6, d = 1..9 —
    * fixed micro constants shared by operator and oracle.
    */
  val BenfordMicro: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** Benford's-law first-digit audit (Newcomb 1881; Benford 1938) — the
    * fabricated-numbers detector: naturally-occurring magnitudes follow
    * P(d) = log₁₀(1 + 1/d), while synthetic/tampered values drift toward
    * uniform digits. Run over monetary/count columns as a data-provenance
    * QA gate (the auditor's test, equally useful against LLM-generated
    * numeric fields).
    *
    * First digit is extracted from the STRING of the integer part (rows
    * with |value| ≥ 1 — string-of-BIGINT is bit-identical across engines,
    * unlike log10/pow whose libm rounding may differ), counted per digit,
    * compared against [[BenfordMicro]]: per-digit expected counts in
    * micro units plus the χ² statistic (exact integer O and E·1e6; the
    * final ratio is the shared 6-dp IEEE tail) repeated per row, computed
    * as a digit-sorted fold (partition-order-proof).
    *
    * Shape: one map + one 9-row hash aggregate; everything after runs on
    * ≤ 9 rows.
    */
  def benfordAudit(df: DataFrame, value: Column): DataFrame = {
    val digits = df
      .select(abs(value.cast("double")).as("v"))
      .where(col("v") >= 1.0)
      .select(substring(floor(col("v")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(1L, 10L).select(col("id").as("digit"))
      .join(broadcast(
        df.sparkSession.createDataFrame(
          BenfordMicro.zipWithIndex.map { case (p, i) => (i + 1L, p) })
          .toDF("digit", "p_micro")), "digit")
    val full = grid.join(digits, Seq("digit"), "left")
      .select(col("digit"), col("p_micro"),
        coalesce(col("n"), lit(0L)).as("n"))
      .transform(Caching.persist)
    val tot = full.agg(coalesce(sum(col("n")), lit(0L)).as("total"))
    val scored = full.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("(total * p_micro) div 1000000").as("expected"),
        // χ² term (O−E)²/E in doubles off exact integers, 6 dp
        when(col("total") === 0, lit(0d)).otherwise(
          // (O−E) squared by explicit multiply, NOT pow(x, 2): libm pow
          // rounding is not guaranteed identical to x*x across engines
          ((col("n") * 1000000L - col("total") * col("p_micro"))
            .cast("double") *
            (col("n") * 1000000L - col("total") * col("p_micro"))
              .cast("double")) /
            (col("total") * col("p_micro")).cast("double") / 1000000d)
          .as("term"))
    val chi2 = scored
      .agg(sort_array(collect_list(struct(col("digit"), col("term"))))
        .as("ts"))
      .select(round(aggregate(col("ts"), lit(0d),
        (acc, s) => acc + s.getField("term")), 6).as("chi2"))
    scored.select(col("digit"), col("n"), col("expected"))
      .crossJoin(broadcast(chi2))
  }

  /** DuckDB replay of [[benfordAudit]]. */
  def benfordOracleSql(table: String, valueExpr: String): String = {
    val probs = BenfordMicro.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT substr(floor(abs(($valueExpr)::DOUBLE))::BIGINT::VARCHAR,
       |           1, 1)::BIGINT AS digit,
       |         count(*)::BIGINT AS n
       |  FROM $table WHERE abs(($valueExpr)::DOUBLE) >= 1
       |  GROUP BY 1),
       |p(digit, p_micro) AS (VALUES $probs),
       |full_ AS MATERIALIZED (
       |  SELECT p.digit::BIGINT AS digit, p.p_micro::BIGINT AS p_micro,
       |         coalesce(d.n, 0)::BIGINT AS n
       |  FROM p LEFT JOIN d ON d.digit = p.digit),
       |tot AS (SELECT coalesce(sum(n), 0)::BIGINT AS total FROM full_),
       |scored AS MATERIALIZED (
       |  SELECT digit, n,
       |         ((total * p_micro) // 1000000)::BIGINT AS expected,
       |         CASE WHEN total = 0 THEN 0.0
       |              ELSE ((n * 1000000 - total * p_micro)::DOUBLE
       |                    * (n * 1000000 - total * p_micro)::DOUBLE)
       |                   / (total * p_micro)::DOUBLE / 1000000.0 END
       |           AS term
       |  FROM full_, tot),
       |chi AS (
       |  SELECT round(list_sum(list(term ORDER BY digit)), 6) AS chi2
       |  FROM scored)
       |SELECT digit, n, expected, chi2 FROM scored, chi""".stripMargin
  }

  /** Poisson(1) inverse-CDF thresholds in micro units — P(X ≤ k)·1e6 for
    * k = 0..6 (e^{-1}·Σ 1/i!, rounded); mass beyond 7 copies is ~1e-7 and
    * truncates to 7. Shared constants so the Spark operator and the
    * DuckDB replay draw identical weights from identical hash uniforms.
    */
  val PoissonCdfMicro: Seq[Long] =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)

  /** Poisson-bootstrap replicates of a corpus mean (Chamandy et al. 2012,
    * "Estimating Uncertainty for Massive Data Streams" — the bootstrap
    * that works in one distributed pass): replicate r reweights every row
    * by an independent-ish Poisson(1) draw DERIVED from the portable md5
    * of (id, r), so no per-replicate resampling pass, no stored
    * randomness, and any engine regenerates the identical replicate
    * table. The spread of the R replicate means IS the sampling
    * distribution of the corpus mean — the error bar every dataset-card
    * metric should carry.
    *
    * Exactness: weights are integers from fixed CDF thresholds
    * ([[PoissonCdfMicro]]); each replicate mean is the exact rational
    * Σw·x / Σw floored to micro. Returns (rep, n_eff, sum_wx, mean_micro).
    *
    * Scale shape: ONE pass — the R-row replicate table broadcasts onto
    * the corpus (generator explode, no shuffle of data rows) and a
    * (rep)-keyed aggregate reduces R·corpus weighted rows to R rows;
    * map-side combine ships R partials per partition.
    */
  def bootstrapMean(df: DataFrame, idCol: String, value: Column,
      reps: Int = 32): DataFrame = {
    require(reps >= 1)
    val thresholds = PoissonCdfMicro.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN ${k}L" }
      .mkString(" ")
    val base = df.select(col(idCol).cast("string").as("id"),
      value.cast("long").as("x"))
    base
      .crossJoin(broadcast(df.sparkSession.range(reps.toLong)
        .select(col("id").as("rep"))))
      .select(col("rep"), col("x"),
        (graft.operators.Dedup.portableHash(
          concat(col("id"), lit(":boot:"), col("rep"))) % 1000000L).as("u"))
      .select(col("rep"), col("x"),
        expr(s"CASE $thresholds ELSE 7L END").as("w"))
      .groupBy(col("rep"))
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("x")).as("sum_wx"))
      .select(col("rep"), col("n_eff"), col("sum_wx"),
        when(col("n_eff") === 0, lit(0L))
          .otherwise(when(col("sum_wx") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(abs(sum_wx) * 1000000) div n_eff")).as("mean_micro"))
  }

  /** DuckDB replay of [[bootstrapMean]] (same md5 uniforms, same CDF
    * thresholds, same floor mean).
    */
  def bootstrapOracleSql(table: String, idExpr: String, valueExpr: String,
      reps: Int = 32): String = {
    val thresholds = PoissonCdfMicro.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString(" ")
    s"""WITH w AS (
       |  SELECT r.range AS rep, ($valueExpr)::BIGINT AS x,
       |         CASE $thresholds ELSE 7 END AS w
       |  FROM $table, range($reps) r,
       |       LATERAL (SELECT ('0x' || substr(md5(($idExpr)::VARCHAR
       |         || ':boot:' || r.range), 1, 15))::BIGINT % 1000000 AS u))
       |SELECT rep, sum(w)::BIGINT AS n_eff,
       |       sum(w * x)::BIGINT AS sum_wx,
       |       (CASE WHEN sum(w) = 0 THEN 0
       |            ELSE (CASE WHEN sum(w * x) < 0 THEN -1 ELSE 1 END)
       |                 * (abs(sum(w * x)) * 1000000) // sum(w) END)::BIGINT
       |         AS mean_micro
       |FROM w GROUP BY rep""".stripMargin
  }

  /** Split-conformal outlier p-values (Vovk et al. 2005; the
    * distribution-free novelty measure modern data-curation QA uses
    * instead of z-score thresholds): calibration rows define the score
    * distribution, and every test row gets
    *   p = (1 + #{calibration scores ≥ s}) / (n_cal + 1)
    * — exactly valid at any n with NO distributional assumption: under
    * exchangeability P(p ≤ α) ≤ α, so "drop test docs with p < 0.01"
    * has a guaranteed false-alarm rate, which a MAD/z cutoff cannot
    * promise. Scores must be integers (micro-quantize upstream);
    * p ships as exact (ge, p_micro) with floor division.
    *
    * Scale shape: no test×calibration join — the ≥-count is a TWO-LEVEL
    * suffix sum over the DISTINCT-score table (the
    * [[graft.operators.Scale.domainTokenCap]] mega-partition guard):
    * per-bucket totals, one window over the bucket table, intra-bucket
    * windows partitioned by bucket — no window ever spans more than
    * max(#buckets, bucketWidth) rows however many distinct scores exist.
    * Test scores ride the same table with zero calibration weight, so
    * every test score finds its suffix without a range join.
    */
  def conformalPValues(df: DataFrame, idCol: String, score: Column,
      calPred: Column, bucketWidth: Long = 1024L): DataFrame = {
    require(bucketWidth >= 1)
    val base = Caching.persist(df.select(col(idCol).as("id"),
      score.cast("long").as("s"), calPred.as("is_cal")))
    val nCal = base.agg(coalesce(sum(when(col("is_cal"), 1L)
      .otherwise(0L)), lit(0L)).as("n_cal"))
    val perScore = base
      .groupBy(col("s"))
      .agg(sum(when(col("is_cal"), 1L).otherwise(0L)).as("c"))
      .withColumn("bkt", expr(s"(s - pmod(s, $bucketWidth)) div $bucketWidth"))
      .transform(Caching.persist)
    val wHigher = org.apache.spark.sql.expressions.Window
      .orderBy(col("bkt").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bktTot = perScore.groupBy(col("bkt")).agg(sum(col("c")).as("bc"))
      .withColumn("higher", coalesce(sum(col("bc")).over(wHigher), lit(0L)))
    val wWithin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ge = perScore
      .withColumn("within", sum(col("c")).over(wWithin))
      .join(bktTot.select(col("bkt"), col("higher")), "bkt")
      .select(col("s"), (col("higher") + col("within")).as("ge"))
    base.where(!col("is_cal"))
      .join(ge, "s")
      .crossJoin(broadcast(nCal))
      .select(col("id"), col("s").as("score"), col("ge"),
        expr("((1 + ge) * 1000000) div (n_cal + 1)").as("p_micro"))
  }

  /** DuckDB replay of [[conformalPValues]] (same two-level ROWS-frame
    * suffix sums, same floor division).
    */
  def conformalOracleSql(table: String, idExpr: String, scoreExpr: String,
      calPredSql: String, bucketWidth: Long = 1024L): String =
    s"""WITH base AS (
       |  SELECT $idExpr AS id, ($scoreExpr)::BIGINT AS s,
       |         ($calPredSql) AS is_cal
       |  FROM $table),
       |ncal AS (SELECT coalesce(sum(CASE WHEN is_cal THEN 1 ELSE 0 END), 0)::BIGINT
       |           AS n_cal FROM base),
       |per_score AS MATERIALIZED (
       |  SELECT s, sum(CASE WHEN is_cal THEN 1 ELSE 0 END)::BIGINT AS c,
       |         (s - ((s % $bucketWidth + $bucketWidth) % $bucketWidth))
       |           // $bucketWidth AS bkt
       |  FROM base GROUP BY s),
       |bkt_tot AS (
       |  SELECT bkt,
       |         coalesce(sum(bc) OVER (ORDER BY bkt DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS higher
       |  FROM (SELECT bkt, sum(c)::BIGINT AS bc FROM per_score GROUP BY bkt)),
       |ge AS (
       |  SELECT p.s,
       |         (b.higher + sum(p.c) OVER (PARTITION BY p.bkt ORDER BY p.s DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |           AS ge
       |  FROM per_score p JOIN bkt_tot b USING (bkt))
       |SELECT base.id, base.s AS score, ge.ge,
       |       ((1 + ge.ge) * 1000000) // (n_cal + 1) AS p_micro
       |FROM base JOIN ge USING (s), ncal
       |WHERE NOT base.is_cal""".stripMargin

  /** Closed-form least-squares fit y ≈ b0 + b1·x1 + b2·x2 by the normal
    * equations with EXACT arithmetic — the "learned quality model" tier a
    * curation pipeline fits over integer document features (tokens,
    * digits, symbol counts → length/quality targets). No gradient descent,
    * no floats: the 3×3 Gram matrix XᵀX and moment vector Xᵀy accumulate
    * exactly in ONE corpus aggregate, and each coefficient is Cramer's
    * rule bᵢ = det(Aᵢ)/det(A) on arbitrary-precision integers — the
    * numerators and determinant are returned as exact decimal STRINGS
    * (engine-neutral at any magnitude) plus a convenience micro ratio in
    * sign·abs form (truncation toward zero on both engines). A singular
    * system (det = 0 — collinear features) reports micro = 0 with the
    * exact zeros visible, never a crash.
    *
    * Scale shape: one map + one 9-sum hash aggregate over the corpus (the
    * cheapest possible pass), then CONSTANT-size driver math (a 1-row
    * collect of the moments — the k×dim-centroid posture, not a data
    * collect). Moment sums ride DECIMAL(38,0); with x ~ 1e4, y ~ 1e5 the
    * carrier holds past 1e25 rows.
    */
  def linearFit(df: DataFrame, y: Column, x1: Column,
      x2: Column): DataFrame = {
    val m = df.select(y.cast("decimal(38,0)").as("y"),
        x1.cast("decimal(38,0)").as("x1"), x2.cast("decimal(38,0)").as("x2"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        coalesce(sum(col("x1")), lit(0)).cast("decimal(38,0)").as("s1"),
        coalesce(sum(col("x2")), lit(0)).cast("decimal(38,0)").as("s2"),
        coalesce(sum(col("x1") * col("x1")), lit(0)).cast("decimal(38,0)").as("s11"),
        coalesce(sum(col("x1") * col("x2")), lit(0)).cast("decimal(38,0)").as("s12"),
        coalesce(sum(col("x2") * col("x2")), lit(0)).cast("decimal(38,0)").as("s22"),
        coalesce(sum(col("y")), lit(0)).cast("decimal(38,0)").as("sy"),
        coalesce(sum(col("x1") * col("y")), lit(0)).cast("decimal(38,0)").as("s1y"),
        coalesce(sum(col("x2") * col("y")), lit(0)).cast("decimal(38,0)").as("s2y"))
      .collect()(0)
    def big(name: String): BigInt =
      BigInt(m.getAs[java.math.BigDecimal](name).toBigInteger)
    val (n, s1, s2) = (big("n"), big("s1"), big("s2"))
    val (s11, s12, s22) = (big("s11"), big("s12"), big("s22"))
    val (sy, s1y, s2y) = (big("sy"), big("s1y"), big("s2y"))
    // det [[a b c] [d e f] [g h i]]
    def det3(a: BigInt, b: BigInt, c: BigInt, d: BigInt, e: BigInt,
        f: BigInt, g: BigInt, h: BigInt, i: BigInt): BigInt =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val det = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val nums = Seq(
      "b0" -> det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22),
      "b1" -> det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22),
      "b2" -> det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y))
    val rows = nums.map { case (name, num) =>
      val micro = if (det == 0) 0L
      else (num.signum * det.signum).toLong *
        ((num.abs * 1000000) / det.abs).toLong
      (name, num.toString, det.toString, micro)
    }
    df.sparkSession.createDataFrame(rows)
      .toDF("coef", "num", "den", "coef_micro")
  }

  /** SQL cofactor expansion of a 3×3 determinant — shared by the
    * [[linearFitOracleSql]] numerators and determinant so the formula
    * exists once.
    */
  private def det3Sql(a: String, b: String, c: String, d: String, e: String,
      f: String, g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g)" +
      s" + $c * ($d * $h - $e * $g))"

  /** DuckDB replay of [[linearFit]] (HUGEINT moments, the same Cramer
    * cofactors, VARCHAR exact output).
    */
  def linearFitOracleSql(table: String, yExpr: String, x1Expr: String,
      x2Expr: String): String = {
    val det = det3Sql("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    val num0 = det3Sql("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    val num1 = det3Sql("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
    val num2 = det3Sql("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
    def row(name: String, num: String): String =
      s"""SELECT '$name' AS coef, ($num)::VARCHAR AS num, d::VARCHAR AS den,
         |  CASE WHEN d = 0 THEN 0
         |       -- sign compare, never num*d: the product overflows HUGEINT
         |       ELSE (CASE WHEN (($num) < 0) <> (d < 0) THEN -1 ELSE 1 END)
         |            * (abs($num) * 1000000 // abs(d)) END::BIGINT
         |    AS coef_micro
         |FROM mo""".stripMargin
    s"""WITH f AS (
       |  SELECT ($yExpr)::HUGEINT AS y, ($x1Expr)::HUGEINT AS x1,
       |         ($x2Expr)::HUGEINT AS x2
       |  FROM $table),
       |mo AS MATERIALIZED (
       |  SELECT count(*)::HUGEINT AS n,
       |         coalesce(sum(x1), 0)::HUGEINT AS s1,
       |         coalesce(sum(x2), 0)::HUGEINT AS s2,
       |         coalesce(sum(x1 * x1), 0)::HUGEINT AS s11,
       |         coalesce(sum(x1 * x2), 0)::HUGEINT AS s12,
       |         coalesce(sum(x2 * x2), 0)::HUGEINT AS s22,
       |         coalesce(sum(y), 0)::HUGEINT AS sy,
       |         coalesce(sum(x1 * y), 0)::HUGEINT AS s1y,
       |         coalesce(sum(x2 * y), 0)::HUGEINT AS s2y,
       |         $det AS d
       |  FROM f)
       |${row("b0", num0)}
       |UNION ALL ${row("b1", num1)}
       |UNION ALL ${row("b2", num2)}""".stripMargin
  }

  /** DuckDB replay of [[kAnonymity]]. */
  def kAnonymityOracleSql(table: String, quasiCols: Seq[String],
      sensitiveExpr: String, k: Long, l: Long = 2L): String = {
    val qs = quasiCols.mkString(", ")
    s"""WITH cells AS (
       |  SELECT $qs, $sensitiveExpr AS s, count(*)::BIGINT AS n
       |  FROM $table GROUP BY ${(1 to quasiCols.size + 1).mkString(", ")})
       |SELECT $qs, sum(n)::BIGINT AS n,
       |       count(*) FILTER (s IS NOT NULL)::BIGINT AS l_distinct,
       |       sum(n) < $k AS violates_k,
       |       count(*) FILTER (s IS NOT NULL) < $l AS violates_l
       |FROM cells GROUP BY ${(1 to quasiCols.size).mkString(", ")}""".stripMargin
  }

  /** 2-D SKYLINE (Pareto front; Börzsönyi, Kossmann & Stocker 2001, "The
    * Skyline Operator") — keep every row not DOMINATED in two maximize
    * dimensions: row r is dominated iff some row has x ≥ x_r and y ≥ y_r
    * with at least one strict. The multi-objective curation selector ("the
    * quality/length-efficient frontier of the corpus") that single-score
    * ranking flattens away; neither Spark nor DuckDB ships it natively.
    *
    * NOT the n² pair join the textbook definition suggests: on the
    * distinct-x table, r survives iff
    *   y_r = maxY(x_r)  (no same-x row strictly above)  AND
    *   y_r > maxYabove(x_r)  (x'>x_r dominators need only y' ≥ y_r,
    *                          since x'>x is already the strict edge)
    * where maxYabove is a TWO-LEVEL bucketed suffix max (the
    * [[conformalPValues]] mega-partition guard with max in place of sum)
    * — one aggregate to distinct x, two bounded windows, one join back.
    * Duplicate (x, y) points are mutually non-dominating and ALL survive
    * (the standard skyline convention). Null coordinates are excluded on
    * both engines. Exact integer comparisons end to end.
    */
  def skyline(df: DataFrame, idCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    val base = Caching.persist(df.select(col(idCol).as("id"),
        xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull))
    val perX = base.groupBy(col("x")).agg(max(col("y")).as("ymax"))
    val cum = Eval.cumAboveMax(perX, "x", "ymax")
      .select(col("x"), col("ymax"), col("above_max").as("max_y_above"))
    base.join(cum, "x")
      .where(col("y") === col("ymax") && col("y") > col("max_y_above"))
      .select(col("id"), col("x"), col("y"))
  }

  /** DuckDB replay of [[skyline]] (same bucketed suffix max, same
    * strictness edges).
    */
  def skylineOracleSql(table: String, idExpr: String, xExpr: String,
      yExpr: String): String =
    s"""WITH base AS (
       |  SELECT $idExpr AS id, ($xExpr)::BIGINT AS x, ($yExpr)::BIGINT AS y
       |  FROM $table
       |  WHERE ($xExpr) IS NOT NULL AND ($yExpr) IS NOT NULL),
       |perx AS (
       |  SELECT x, max(y) AS ymax,
       |         (x - ((x % 1024 + 1024) % 1024)) // 1024 AS bkt
       |  FROM base GROUP BY x),
       |btot AS (
       |  SELECT bkt, max(bm) OVER (ORDER BY bkt DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS higher
       |  FROM (SELECT bkt, max(ymax) AS bm FROM perx GROUP BY bkt)),
       |cum AS (
       |  SELECT x, ymax,
       |         greatest(coalesce(b.higher, ${Long.MinValue}),
       |                  coalesce(max(ymax) OVER (PARTITION BY p.bkt
       |                    ORDER BY x DESC ROWS BETWEEN UNBOUNDED PRECEDING
       |                    AND 1 PRECEDING), ${Long.MinValue}))
       |           AS max_y_above
       |  FROM perx p JOIN btot b USING (bkt))
       |SELECT base.id, base.x, base.y
       |FROM base JOIN cum USING (x)
       |WHERE base.y = cum.ymax AND base.y > cum.max_y_above""".stripMargin

  /** Lorenz concentration shares — "what share of the corpus weight lives
    * in the heaviest p% of items?" for a list of percent levels. The
    * companion to [[Scale.skewAudit]]'s Gini: Gini is the one-number
    * summary, the Lorenz points are the actionable curve (top-1% of docs
    * holding 40% of bytes is a dedup/capping target a scalar can't show).
    *
    * Semantics pinned for determinism: items are taken in weight-DESC
    * order in WHOLE distinct-weight groups (no intra-tie splitting), and
    * each level p reports the smallest prefix whose item count reaches
    * ≥ p% of items — docs_thru, its exact item fraction, and its exact
    * weight share, all integer micro floors. Null weights are excluded on
    * both engines.
    *
    * Scale shape: one hash aggregate to the distinct-weight table, a
    * two-level bucketed suffix sum over it (descending flavor of the
    * [[Profile.conformalPValues]] guard — no global window), then a
    * broadcast of the percent list and a per-level struct-min argmin.
    * Weight totals ride DECIMAL(38,0) (w·cnt ~ 1e12·1e12 needs the wide
    * carrier long before any realistic corpus does).
    */
  def lorenzShares(df: DataFrame, weight: Column,
      levels: Seq[Int] = Seq(1, 2, 5, 10, 25, 50)): DataFrame = {
    require(levels.nonEmpty && levels.forall(p => p >= 1 && p <= 100))
    val per = df.select(weight.cast("long").as("w")).where(col("w").isNotNull)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("w").cast("decimal(38,0)")).as("wsum"))
    // descending suffix sums via the ascending helper on the negated value
    val cum = Eval.cumBelow(per.withColumn("nw", -col("w")), "nw",
        Seq("cnt", "wsum"), bucketWidth = 1024L)
      .select(col("w"), (col("below_cnt") + col("cnt")).as("docs_thru"),
        (col("below_wsum") + col("wsum")).as("w_thru"))
      .transform(Caching.persist)
    val tot = cum.agg(coalesce(max(col("docs_thru")), lit(0L)).as("n"),
      coalesce(max(col("w_thru")), lit(0L).cast("decimal(38,0)"))
        .as("wt"))
    val lv = df.sparkSession.range(1)
      .select(explode(array(levels.map(lit): _*)).as("p"))
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(lv))
      .where(col("docs_thru") * 100 >= col("n") * col("p"))
      .groupBy(col("p"))
      .agg(min(struct(col("docs_thru"), col("w_thru"), col("n"), col("wt")))
        .as("m"))
      .select(col("p").cast("long").as("p"),
        col("m.docs_thru").as("docs_thru"),
        expr("(m.docs_thru * CAST(1000000 AS DECIMAL(38,0))) div m.n")
          .as("docfrac_micro"),
        expr("(m.w_thru * 1000000) div m.wt").as("share_micro"))
  }

  /** DuckDB replay of [[lorenzShares]] (same whole-group prefixes, same
    * micro floors).
    */
  def lorenzOracleSql(table: String, weightExpr: String,
      levels: Seq[Int] = Seq(1, 2, 5, 10, 25, 50)): String = {
    val lvs = levels.mkString(", ")
    s"""WITH per AS (
       |  SELECT w, count(*)::BIGINT AS cnt, sum(w::HUGEINT) AS wsum FROM (
       |    SELECT ($weightExpr)::BIGINT AS w FROM $table
       |    WHERE ($weightExpr) IS NOT NULL)
       |  GROUP BY w),
       |nper AS (SELECT *, -w AS nw,
       |  (-w - ((-w % 1024 + 1024) % 1024)) // 1024 AS bkt FROM per),
       |btot AS (
       |  SELECT bkt,
       |    coalesce(sum(bc) OVER (ORDER BY bkt ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS lower_cnt,
       |    coalesce(sum(bw) OVER (ORDER BY bkt ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS lower_wsum
       |  FROM (SELECT bkt, sum(cnt)::HUGEINT AS bc, sum(wsum) AS bw
       |        FROM nper GROUP BY bkt)),
       |cum AS (
       |  SELECT w,
       |    (b.lower_cnt + coalesce(sum(cnt) OVER (PARTITION BY p.bkt
       |       ORDER BY nw ASC ROWS BETWEEN UNBOUNDED PRECEDING
       |       AND 1 PRECEDING), 0) + cnt)::HUGEINT AS docs_thru,
       |    (b.lower_wsum + coalesce(sum(wsum) OVER (PARTITION BY p.bkt
       |       ORDER BY nw ASC ROWS BETWEEN UNBOUNDED PRECEDING
       |       AND 1 PRECEDING), 0) + wsum)::HUGEINT AS w_thru
       |  FROM nper p JOIN btot b USING (bkt)),
       |tot AS (SELECT coalesce(max(docs_thru), 0) AS n,
       |               coalesce(max(w_thru), 0) AS wt FROM cum),
       |lv AS (SELECT unnest([$lvs]) AS p)
       |SELECT p::BIGINT AS p, docs_thru::BIGINT AS docs_thru,
       |       ((docs_thru * 1000000) // n)::BIGINT AS docfrac_micro,
       |       ((w_thru * 1000000) // wt)::BIGINT AS share_micro
       |FROM (
       |  SELECT p, docs_thru, w_thru, n, wt,
       |         row_number() OVER (PARTITION BY p
       |           ORDER BY docs_thru ASC, w_thru ASC) AS rn
       |  FROM cum, tot, lv
       |  WHERE docs_thru * 100 >= n * p)
       |WHERE rn = 1""".stripMargin
  }

  /** KMV (k-minimum-values / bottom-k) DISTINCT-COUNT sketch — the
    * PORTABLE cardinality estimator next to Spark's HLL
    * (`q_approx_sketches` documents why HLL registers can never replay
    * cross-engine; this sketch CAN, and does): hash every distinct key
    * with the shared 60-bit md5 family ([[Dedup.portableHash]]), keep the
    * k smallest hash values, estimate D ≈ (k−1)·2⁶⁰ / h₍ₖ₎ (Bar-Yossef
    * et al. 2002). Every step — hashing, bottom-k, the floor-division
    * estimate — is integer-exact and deterministic, so the ESTIMATE
    * itself hash-matches in any engine, error bound and all. The sketch
    * is a monoid: bottom-k of a union = bottom-k of the merged per-part
    * bottom-k's (spec-tested), which is exactly the partial/final
    * protocol the reference's accumulators implement for sums.
    *
    * Returns one row: (n_kept, h_k, est_distinct, n_exact) — the exact
    * distinct count rides along so a QA reader sees the error without a
    * second query. Fewer than k distinct keys → the sketch IS the exact
    * count.
    *
    * Scale shape: one distinct-aggregate over the keys (map-side partial
    * dedup), then a global bottom-k that plans as TakeOrderedAndProject —
    * per-partition top-k heaps, k·partitions rows to the driver, never a
    * global sort. The exact-count twin is one count-distinct aggregate.
    * At 1e11 keys the sketch path moves k rows; the exact twin is the
    * expensive one — drop `n_exact` (and its aggregate) in production.
    */
  def kmvDistinct(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 2)
    val keys = df.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull).distinct()
      .transform(Caching.persist)
    val hashes = keys
      .select(Dedup.portableHash(concat(lit("kmv:"), col("key"))).as("h"))
      .distinct()
    val bottom = hashes.orderBy(col("h")).limit(k)
    val sketch = bottom.agg(count(lit(1)).as("n_kept"), max(col("h")).as("h_k"))
      .select(col("n_kept"), col("h_k"),
        when(col("n_kept") < k, col("n_kept")).otherwise(
          expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976)" +
            " div h_k AS BIGINT)")).as("est_distinct"))
    sketch.crossJoin(broadcast(keys.agg(count(lit(1)).as("n_exact"))))
  }

  /** PORTABLE HYPERLOGLOG (Flajolet et al. 2007) — the industry-standard
    * distinct sketch, implemented so the REGISTERS AND THE ESTIMATE replay
    * bit-for-bit in any engine (what Spark's builtin
    * `approx_count_distinct` can never do — its xxhash64 registers are
    * engine-private, the long-documented `q_approx_sketches` caveat):
    * every distinct key hashes through the shared 60-bit md5 family, the
    * top `p` bits pick one of m = 2^p registers, and the register keeps
    * ρ = position of the leftmost 1-bit in the remaining 60−p bits
    * (computed EXACTLY as `61 − p − length(trim-zeros(bin(w)))` — both
    * engines ship `bin`, no floating log anywhere). The raw estimate
    *   E = α_m · m² / Σ_j 2^(−M_j)
    * runs entirely in fixed point: the harmonic sum scales by 2^(61−p)
    * into an exact BIGINT `t_fx`, α_m rides as an integer micro constant,
    * and E = α_micro·m²·2^(61−p) div t_fx div 1e6 — so the gate
    * hash-checks the ESTIMATE itself, error and all, like [[kmvDistinct]].
    *
    * Returns one row: (m, v_zero, t_fx, est_raw, n_exact). `est_raw` is
    * the raw-regime HLL estimate (valid when D ≳ 2.5·m, the gate's
    * regime); `v_zero` (empty registers) is emitted so a caller CAN apply
    * the small-range linear-counting branch m·ln(m/V) — deliberately not
    * computed here because ln() is the one step whose last-ulp behavior
    * is libm-specific, i.e. not oracle-hashable. Crossover rule (classic
    * HLL practice, spec-demonstrated in SketchSpec): when
    * `est_raw < 2.5·m`, read `m·ln(m/v_zero)` instead of `est_raw` — the
    * raw estimator reads ≈ α·m even on a near-empty sketch, while the
    * empty-register count still carries the cardinality signal there. The register table is a
    * monoid (merge = per-register max), the same partial/final contract
    * as the reference's accumulators.
    *
    * Scale shape: one distinct-aggregate over the keys (map-side partial
    * dedup), one m-row register aggregate (groupBy register, max ρ), one
    * m-row fold — the sketch side moves m rows no matter the corpus. The
    * exact-count twin is the expensive aggregate; drop `n_exact` in
    * production (same advice as KMV).
    */
  def hllDistinct(df: DataFrame, keyCol: String, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4,14], got $p")
    val m = 1L << p
    val wBits = 60 - p // low bits after the register index
    val alphaMicro = hllAlphaMicro(p)
    val keys = df.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull).distinct()
      .transform(Caching.persist)
    val hashed = keys
      .select(Dedup.portableHash(concat(lit("hll:"), col("key"))).as("h"))
      // integer div, not `/`: h has 60 bits and double division would
      // round above 2^53
      .select(expr(s"h DIV ${1L << wBits}").as("reg"),
        pmod(col("h"), lit(1L << wBits)).as("w"))
    // ρ ∈ [1, wBits+1]: leftmost-1 position in the wBits-wide suffix;
    // all-zero suffix defines ρ = wBits+1. bin() emits the minimal
    // binary string in BOTH engines; ltrim('0') makes that robust to a
    // hypothetical fixed-width variant too.
    val regs = hashed
      .select(col("reg"),
        when(col("w") === 0L, lit((wBits + 1).toLong))
          .otherwise(lit((wBits + 1).toLong) -
            length(ltrim(bin(col("w")), "0"))).as("rho"))
      .groupBy(col("reg")).agg(max(col("rho")).as("mj"))
    // t_fx = Σ_j 2^(wBits+1−M_j), absent registers contribute 2^(wBits+1)
    // (M_j = 0); ≤ m·2^(wBits+1) ≤ 2^(p + 61 − p + 1) = 2^62 — exact LONG
    val present = regs.agg(
      count(lit(1)).as("n_present"),
      coalesce(sum(expr(
          s"shiftleft(CAST(1 AS BIGINT), CAST(${wBits + 1} - mj AS INT))")),
        lit(0L)).as("t_present"))
    val sketch = present.select(
      lit(m).as("m"),
      (lit(m) - col("n_present")).as("v_zero"),
      (col("t_present") +
        (lit(m) - col("n_present")) * lit(1L << (wBits + 1))).as("t_fx"))
      .select(col("m"), col("v_zero"), col("t_fx"),
        expr(s"CAST((CAST($alphaMicro AS DECIMAL(38,0)) * ${m * m} * " +
          s"${1L << (wBits + 1)}) div t_fx div 1000000 AS BIGINT)")
          .as("est_raw"))
    sketch.crossJoin(broadcast(keys.agg(count(lit(1)).as("n_exact"))))
  }

  /** Per-group [[hllDistinct]] — one register table keyed by group, the
    * same fixed-point estimator per group (the grouped form completing
    * the HLL surface: global / per-window ([[graft.streaming
    * .EventStreams.windowedHll]]) / per-group / overlap
    * ([[hllOverlap]])). Returns (grp, v_zero, t_fx, est_raw) per group.
    * Scale shape: one corpus pass to G·m register rows, one G-row fold.
    */
  def hllDistinctBy(df: DataFrame, groupCol: String, keyCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4,14], got $p")
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = hllAlphaMicro(p)
    df.select(col(groupCol).cast("string").as("grp"),
        col(keyCol).cast("string").as("key"))
      .where(col("grp").isNotNull && col("key").isNotNull)
      .select(col("grp"),
        Dedup.portableHash(concat(lit("hll:"), col("key"))).as("h"))
      .select(col("grp"), expr(s"h DIV ${1L << wBits}").as("reg"),
        pmod(col("h"), lit(1L << wBits)).as("w"))
      .select(col("grp"), col("reg"),
        when(col("w") === 0L, lit((wBits + 1).toLong))
          .otherwise(lit((wBits + 1).toLong) -
            length(ltrim(bin(col("w")), "0"))).as("rho"))
      .groupBy(col("grp"), col("reg")).agg(max(col("rho")).as("mj"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(${wBits + 1} - mj AS INT))")).as("t_present"))
      .select(col("grp"),
        (lit(m) - col("n_present")).as("v_zero"),
        (col("t_present") +
          (lit(m) - col("n_present")) * lit(1L << (wBits + 1))).as("t_fx"))
      .select(col("grp"), col("v_zero"), col("t_fx"),
        expr(s"CAST((CAST($alphaMicro AS DECIMAL(38,0)) * ${m * m} * " +
          s"${1L << (wBits + 1)}) div t_fx div 1000000 AS BIGINT)")
          .as("est_raw"))
  }

  /** DuckDB replay of [[hllDistinctBy]]. */
  def hllDistinctByOracleSql(table: String, groupExpr: String,
      keyExpr: String, p: Int = 8): String = {
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = hllAlphaMicro(p)
    s"""WITH base AS (
       |  SELECT ($groupExpr)::VARCHAR AS grp,
       |         ('0x' || substr(md5('hll:' || ($keyExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM $table
       |  WHERE ($groupExpr) IS NOT NULL AND ($keyExpr) IS NOT NULL),
       |regs AS (
       |  SELECT grp, h // ${1L << wBits} AS reg,
       |         max(CASE WHEN h % ${1L << wBits} = 0 THEN ${wBits + 1}
       |                  ELSE ${wBits + 1} -
       |                       length(ltrim(bin(h % ${1L << wBits}), '0'))
       |             END)::BIGINT AS mj
       |  FROM base GROUP BY 1, 2),
       |agg AS (
       |  SELECT grp, count(*)::BIGINT AS n_present,
       |         sum((1::BIGINT << (${wBits + 1} - mj))::BIGINT)::BIGINT
       |           AS t_present
       |  FROM regs GROUP BY 1)
       |SELECT grp,
       |       ($m - n_present)::BIGINT AS v_zero,
       |       (t_present + ($m - n_present) * ${1L << (wBits + 1)})::BIGINT
       |         AS t_fx,
       |       (($alphaMicro::HUGEINT * ${m * m} * ${1L << (wBits + 1)})
       |          // (t_present + ($m - n_present) * ${1L << (wBits + 1)})
       |          // 1000000)::BIGINT AS est_raw
       |FROM agg""".stripMargin
  }

  /** HLL OVERLAP MATRIX — estimated distinct-key overlap between groups
    * via register algebra: per-group portable HLL registers, pairwise
    * union by element-wise max (the HLL union is EXACT over sketches —
    * the union's registers are by definition the max), and
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion–exclusion. The
    * sketch-tier answer to [[Dedup.sourceOverlap]]'s exact
    * fingerprint-intersection matrix: at 100 TB the exact version moves
    * every fingerprint through a join, this moves G·m register rows
    * total. Same fixed-point estimator as [[hllDistinct]], so every
    * cell hash-replays ([[hllOverlapOracleSql]]). Inclusion–exclusion
    * over estimates can go slightly negative on near-disjoint pairs —
    * clamped to 0, the standard read-out (and the clamp is replayed).
    *
    * Returns per unordered group pair (ga < gb): (ga, gb, est_a, est_b,
    * est_union, est_overlap).
    *
    * Scale shape: one distinct aggregate over (group, key), one
    * (group, register) aggregate (G·m rows total — the model), then a
    * G²·m pair merge on the register table — group-domain work, corpus
    * never re-scanned.
    */
  def hllOverlap(df: DataFrame, groupCol: String, keyCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, s"p must be in [4,14], got $p")
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = hllAlphaMicro(p)
    val regs = Caching.persist(df
      .select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("string").as("key"))
      .where(col("g").isNotNull && col("key").isNotNull)
      .select(col("g"),
        Dedup.portableHash(concat(lit("hll:"), col("key"))).as("h"))
      .select(col("g"), expr(s"h DIV ${1L << wBits}").as("reg"),
        pmod(col("h"), lit(1L << wBits)).as("w"))
      .select(col("g"), col("reg"),
        when(col("w") === 0L, lit((wBits + 1).toLong))
          .otherwise(lit((wBits + 1).toLong) -
            length(ltrim(bin(col("w")), "0"))).as("rho"))
      .groupBy(col("g"), col("reg")).agg(max(col("rho")).as("mj")))
    // est over a (tag, reg, mj) register table — reused for the single
    // groups and every pair union so the estimator text exists once
    def est(regTable: DataFrame, tagCols: Seq[String]): DataFrame =
      regTable
        .groupBy(tagCols.map(col): _*)
        .agg(count(lit(1)).as("n_present"),
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
            s"CAST(${wBits + 1} - mj AS INT))")).as("t_present"))
        .select(tagCols.map(col) :+
          expr(s"CAST((CAST($alphaMicro AS DECIMAL(38,0)) * ${m * m} * " +
            s"${1L << (wBits + 1)}) div (t_present + " +
            s"($m - n_present) * ${1L << (wBits + 1)}) div 1000000 " +
            "AS BIGINT)").as("est"): _*)
    val single = est(regs, Seq("g"))
    // pair unions as a UNION ALL of retagged register rows + max per
    // (pair, reg) — NOT a reg-keyed register join, whose unmatched side
    // would null the pair tags and silently drop one-sided registers.
    // The pair table is group-domain-sized (G² rows), broadcastable;
    // persisted because BOTH retag joins consume it — one cross build,
    // not two (PlanSpec pins the single-product shape).
    val pairs = Caching.persist(
      single.select(col("g").as("ga")).crossJoin(
          single.select(col("g").as("gb")))
        .where(col("ga") < col("gb")))
    val unionRegs = pairs.join(regs.withColumnRenamed("g", "ga"), Seq("ga"))
      .select(col("ga"), col("gb"), col("reg"), col("mj"))
      .unionByName(pairs.join(regs.withColumnRenamed("g", "gb"), Seq("gb"))
        .select(col("ga"), col("gb"), col("reg"), col("mj")))
      .groupBy(col("ga"), col("gb"), col("reg"))
      .agg(max(col("mj")).as("mj"))
    val unionEst = est(unionRegs, Seq("ga", "gb"))
      .withColumnRenamed("est", "est_union")
    unionEst
      .join(single.select(col("g").as("ga"), col("est").as("est_a")), "ga")
      .join(single.select(col("g").as("gb"), col("est").as("est_b")), "gb")
      .select(col("ga"), col("gb"), col("est_a"), col("est_b"),
        col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .as("est_overlap"))
  }

  /** DuckDB replay of [[hllOverlap]] — same register algebra. */
  def hllOverlapOracleSql(table: String, groupExpr: String,
      keyExpr: String, p: Int = 8): String = {
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = hllAlphaMicro(p)
    val estExpr =
      s"""(($alphaMicro::HUGEINT * ${m * m} * ${1L << (wBits + 1)})
         |  // (sum((1::BIGINT << (${wBits + 1} - mj))::BIGINT)
         |      + ($m - count(*)) * ${1L << (wBits + 1)})
         |  // 1000000)::BIGINT""".stripMargin
    s"""WITH base AS (
       |  SELECT ($groupExpr)::VARCHAR AS g,
       |         ('0x' || substr(md5('hll:' || ($keyExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM $table
       |  WHERE ($groupExpr) IS NOT NULL AND ($keyExpr) IS NOT NULL),
       |regs AS (
       |  SELECT g, h // ${1L << wBits} AS reg,
       |         max(CASE WHEN h % ${1L << wBits} = 0 THEN ${wBits + 1}
       |                  ELSE ${wBits + 1} -
       |                       length(ltrim(bin(h % ${1L << wBits}), '0'))
       |             END)::BIGINT AS mj
       |  FROM base GROUP BY 1, 2),
       |single AS (SELECT g, $estExpr AS est FROM regs GROUP BY g),
       |prs AS (
       |  SELECT a.g AS ga, b.g AS gb FROM single a JOIN single b
       |  ON a.g < b.g),
       |uregs AS (
       |  SELECT ga, gb, reg, max(mj)::BIGINT AS mj FROM (
       |    SELECT p.ga, p.gb, r.reg, r.mj FROM prs p JOIN regs r
       |      ON r.g = p.ga
       |    UNION ALL
       |    SELECT p.ga, p.gb, r.reg, r.mj FROM prs p JOIN regs r
       |      ON r.g = p.gb)
       |  GROUP BY 1, 2, 3),
       |uest AS (SELECT ga, gb, $estExpr AS est_union FROM uregs
       |         GROUP BY ga, gb)
       |SELECT u.ga, u.gb, sa.est AS est_a, sb.est AS est_b, u.est_union,
       |       greatest(sa.est + sb.est - u.est_union, 0)::BIGINT
       |         AS est_overlap
       |FROM uest u
       |JOIN single sa ON sa.g = u.ga
       |JOIN single sb ON sb.g = u.gb""".stripMargin
  }

  /** α_m for the HLL raw estimator as an exact micro integer — computed
    * once on the driver from the standard constant-formula and embedded
    * identically in the Spark plan and the oracle SQL.
    */
  def hllAlphaMicro(p: Int): Long = {
    val m = 1 << p
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    math.round(alpha * 1e6)
  }

  /** DuckDB replay of [[hllDistinct]] — same md5 family, same bin()-based
    * ρ, same fixed-point fold, value-for-value.
    */
  def hllOracleSql(table: String, keyExpr: String, p: Int = 8): String = {
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = hllAlphaMicro(p)
    s"""WITH keys AS (
       |  SELECT DISTINCT ($keyExpr)::VARCHAR AS key FROM $table
       |  WHERE ($keyExpr) IS NOT NULL),
       |h AS (
       |  SELECT ('0x' || substr(md5('hll:' || key), 1, 15))::BIGINT AS h
       |  FROM keys),
       |rw AS (
       |  SELECT h // ${1L << wBits} AS reg, h % ${1L << wBits} AS w FROM h),
       |regs AS (
       |  SELECT reg,
       |         max(CASE WHEN w = 0 THEN ${wBits + 1}
       |                  ELSE ${wBits + 1} - length(ltrim(bin(w), '0'))
       |             END)::BIGINT AS mj
       |  FROM rw GROUP BY reg),
       |agg AS (
       |  SELECT count(*)::BIGINT AS n_present,
       |         coalesce(sum((1::BIGINT << (${wBits + 1} - mj))::BIGINT),
       |                  0)::BIGINT AS t_present
       |  FROM regs),
       |s AS (
       |  SELECT $m::BIGINT AS m,
       |         ($m - n_present)::BIGINT AS v_zero,
       |         (t_present + ($m - n_present) * ${1L << (wBits + 1)})::BIGINT
       |           AS t_fx
       |  FROM agg)
       |SELECT m, v_zero, t_fx,
       |       (($alphaMicro::HUGEINT * ${m * m} * ${1L << (wBits + 1)})
       |          // t_fx // 1000000)::BIGINT AS est_raw,
       |       (SELECT count(*)::BIGINT FROM keys) AS n_exact
       |FROM s""".stripMargin
  }

  /** BUCKETED QUANTILE NORMALIZATION — align per-source value
    * distributions onto one pooled reference (the cross-source score
    * harmonization step quantile normalization performs in expression
    * pipelines, bucketed so it distributes): each group's values are
    * ranked, ranks map onto B equal-occupancy buckets (bucket =
    * ceil(rank·B/n), pure integer), and every (group, bucket) cell is
    * compared to the POOLED bucket mean across all groups — the target a
    * normalizer would remap that cell onto. Returns per (grp, bucket):
    * (cnt, sum_cents exact, mean, ref, shift = mean − ref, all rounded
    * 6 dp from exact integer sums — single divisions, no FP
    * accumulation).
    *
    * Scale shape: one per-group rank window (bounded by group size), one
    * (grp, bucket) aggregate, one bucket-keyed join against the B-row
    * pooled table — no global sort, no all-pairs.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1)
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("grp"),
      (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("c"))
      .where(col("c").isNotNull)
    val ranked = base
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy("c")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
      // rn is IntegerType; widen before the multiply so groups larger
      // than ~2^31/buckets rows don't overflow (DuckDB's row_number is
      // already 64-bit, so the oracle would diverge otherwise)
      .withColumn("bucket",
        expr(s"(cast(rn AS BIGINT) * $buckets + n - 1) div n"))
    val cells = ranked.groupBy("grp", "bucket")
      .agg(count(lit(1)).as("cnt"), sum(col("c")).as("sum_cents"))
    val pooled = cells.groupBy("bucket")
      .agg(sum(col("sum_cents")).as("psum"), sum(col("cnt")).as("pcnt"))
    cells.join(broadcast(pooled), "bucket")
      .select(col("grp"), col("bucket"), col("cnt"), col("sum_cents"),
        round(col("sum_cents").cast("double") / col("cnt").cast("double"), 6)
          .as("mean"),
        round(col("psum").cast("double") / col("pcnt").cast("double"), 6)
          .as("ref"))
      .withColumn("shift", round(col("mean") - col("ref"), 6))
  }

  /** DuckDB SQL replaying [[quantileNormalize]] value-for-value (same
    * integer bucket rule, same exact sums, same 6 dp single divisions).
    */
  def quantileNormalizeOracleSql(table: String, groupExpr: String,
      valueExpr: String, buckets: Int): String =
    s"""WITH base AS (
       |  SELECT $groupExpr AS grp,
       |         (($valueExpr)::DECIMAL(18,2) * 100)::BIGINT AS c
       |  FROM $table WHERE ($valueExpr) IS NOT NULL),
       |ranked AS (
       |  SELECT grp, c,
       |         row_number() OVER (PARTITION BY grp ORDER BY c) AS rn,
       |         count(*) OVER (PARTITION BY grp) AS n
       |  FROM base),
       |cells AS (
       |  SELECT grp, (rn * $buckets + n - 1) // n AS bucket,
       |         count(*)::BIGINT AS cnt, sum(c)::BIGINT AS sum_cents
       |  FROM ranked GROUP BY 1, 2),
       |pooled AS (
       |  SELECT bucket, sum(sum_cents)::BIGINT AS psum,
       |         sum(cnt)::BIGINT AS pcnt
       |  FROM cells GROUP BY bucket)
       |SELECT grp, bucket, cnt, sum_cents,
       |       round(sum_cents::DOUBLE / cnt::DOUBLE, 6) AS mean,
       |       round(psum::DOUBLE / pcnt::DOUBLE, 6) AS ref,
       |       round(round(sum_cents::DOUBLE / cnt::DOUBLE, 6)
       |             - round(psum::DOUBLE / pcnt::DOUBLE, 6), 6) AS shift
       |FROM cells JOIN pooled USING (bucket)""".stripMargin

  /** DuckDB SQL replaying [[kmvDistinct]] value-for-value (same md5
    * family, same bottom-k, same floor-division estimate).
    */
  def kmvOracleSql(table: String, keyExpr: String, k: Int): String =
    s"""WITH keys AS (
       |  SELECT DISTINCT ($keyExpr)::VARCHAR AS key FROM $table
       |  WHERE ($keyExpr) IS NOT NULL),
       |h AS (
       |  SELECT DISTINCT
       |         ('0x' || substr(md5('kmv:' || key), 1, 15))::BIGINT AS h
       |  FROM keys),
       |b AS (SELECT h FROM h ORDER BY h LIMIT $k),
       |s AS (SELECT count(*)::BIGINT AS n_kept, max(h)::BIGINT AS h_k FROM b)
       |SELECT n_kept, h_k,
       |       CASE WHEN n_kept < $k THEN n_kept
       |            ELSE ((($k - 1)::HUGEINT * 1152921504606846976) // h_k)::BIGINT
       |       END AS est_distinct,
       |       (SELECT count(*)::BIGINT FROM keys) AS n_exact
       |FROM s""".stripMargin

  /** SEEDED-LAPLACE DP COUNT RELEASE (Dwork et al. 2006, the Laplace
    * mechanism on a disjoint-group histogram — parallel composition, so
    * the whole table costs one ε): published count = n + Lap(1/ε), noise
    * drawn by inverse-CDF from a uniform DERIVED from the group key
    * (md5, 60 bits) —
    *   u = (h + 0.5) / 2⁶⁰,  noise = −(1/ε)·sgn(u−½)·ln(1 − 2|u−½|).
    * The seeded draw is what makes the mechanism TESTABLE: the release
    * replays bit-for-bit in the oracle and across reruns, which is how DP
    * plumbing is validated before the seed is swapped for real entropy in
    * production (the seeded path is NOT private — it is the audit mode).
    * Released counts are in micro units, floored at 0 (counts are
    * non-negative post-processing, which DP permits); raw counts are NOT
    * emitted.
    *
    * `epsMicro` is ε in micro units (1e6 = ε 1.0). The single ln/double
    * step rides the shared IEEE tail (micro rounding swallows libm ulp
    * skew, the corpusKl posture).
    *
    * Scale shape: one hash aggregate to #groups rows, then per-row
    * constant arithmetic.
    */
  def dpNoisyCounts(df: DataFrame, groupCol: String, epsMicro: Long,
      seed: String = "dp"): DataFrame = {
    require(epsMicro >= 1)
    val counts = df.select(col(groupCol).cast("string").as("grp"))
      .where(col("grp").isNotNull)
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("u",
        (graft.operators.Dedup.portableHash(
          concat(lit(s"$seed:"), col("grp"))).cast("double") + 0.5d)
          / 1.152921504606846976e18)
      .withColumn("noise_micro", round(
        (lit(-1e12) / epsMicro) * signum(col("u") - 0.5d)
          * log(lit(1.0d) - lit(2.0d) * abs(col("u") - 0.5d)), 0)
        .cast("long"))
      .select(col("grp"), lit(epsMicro).as("eps_micro"),
        greatest(lit(0L),
          col("n") * 1000000L + col("noise_micro")).as("released_micro"))
  }

  /** DuckDB replay of [[dpNoisyCounts]] (same md5 uniform, same inverse
    * CDF, same micro floor-at-zero post-processing).
    */
  def dpNoisyCountsOracleSql(table: String, groupExpr: String,
      epsMicro: Long, seed: String = "dp"): String =
    s"""WITH c AS (
       |  SELECT ($groupExpr)::VARCHAR AS grp, count(*)::BIGINT AS n
       |  FROM $table WHERE ($groupExpr) IS NOT NULL GROUP BY 1),
       |u AS (
       |  SELECT grp, n,
       |         (('0x' || substr(md5('$seed:' || grp), 1, 15))::BIGINT::DOUBLE
       |          + 0.5) / 1.152921504606846976e18 AS u
       |  FROM c),
       |z AS (
       |  SELECT grp, n,
       |         round((-1e12 / $epsMicro) * sign(u - 0.5)
       |               * ln(1 - 2 * abs(u - 0.5)))::BIGINT AS noise_micro
       |  FROM u)
       |SELECT grp, $epsMicro::BIGINT AS eps_micro,
       |       greatest(0, n * 1000000 + noise_micro)::BIGINT
       |         AS released_micro
       |FROM z""".stripMargin

  /** PORTABLE MERGEABLE QUANTILE SKETCH (the KLL sampler tier, Karnin,
    * Lang & Liberty 2016 §2.1, made deterministic) — completes the
    * hash-checkable sketch family: distinct ([[hllDistinct]]/
    * [[kmvDistinct]]), top-k, count-min, and now quantiles, each the
    * portable twin of an engine-private builtin (`percentile_approx`'s
    * KLL-ish state is Spark-internal, exactly as `approx_count_distinct`'s
    * xxhash64 registers are — the long-documented `q_approx_sketches`
    * caveat).
    *
    * Design: every ROW gets a 60-bit portable hash of its `idCol` (ids
    * must be unique per row — the hash IS the row's sampling coin), and a
    * level `lvl` = leading-zero count of that hash, so row survival to
    * level l (`lvl ≥ l`) is an independent p=2^−l coin — KLL's geometric
    * level ladder with the compactor's alternating-parity coin replaced
    * by the hash bit itself. The sketch keeps S_l* for the smallest l*
    * with |S_l*| ≤ k; every kept row represents 2^l* rows, and the
    * q-quantile reads off as the value at rank ⌈q·|S|⌉ of the
    * value-sorted sample (classic type-1 empirical quantile). Replacing
    * the compactor with the hash coin is what makes the state a PURE
    * FUNCTION OF THE INPUT MULTISET — order- and merge-structure-free,
    * the property hash-replay requires and no sequential KLL compactor
    * can offer (its state depends on arrival order); the price is the
    * sampler's O(√(log)/ε²)-style space instead of KLL's optimal
    * O(1/ε·log log), i.e. rank error ~1/√k instead of ~1/k — spec-pinned
    * empirically in SketchSpec. Values pass through UNTOUCHED (no
    * arithmetic, only ordering), so any orderable column type
    * hash-replays exactly; all rank math is integer.
    *
    * Exactness floor: when n ≤ k the sample is the whole input at l*=0
    * and every read-off is the EXACT type-1 quantile ([[kmvDistinct]]'s
    * "exact below k" posture).
    *
    * Returns one row per requested per-mille point: (q_pm, est_v, lvl,
    * n_sample).
    *
    * Scale shape: one corpus scan to a ≤62-row level histogram (map-side
    * combinable count), one corpus scan filtered to the ≤k-row sample
    * (the 1-row l* frame broadcast into the filter), one ≤k-row sort —
    * no global sort, no corpus shuffle. The two scans share
    * [[Caching.persist]] here; at 100 TB either pay both scans or take
    * the single-pass streaming twin ([[graft.functions.KllSketch]], the
    * same state as ONE aggregate).
    */
  def kllQuantile(df: DataFrame, valueCol: String, idCol: String,
      k: Int, qPermille: Seq[Int]): DataFrame = {
    require(k >= 16, s"k must be >= 16, got $k")
    require(qPermille.nonEmpty && qPermille.forall(q => q >= 1 && q <= 1000),
      "quantile points are per-mille in [1,1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val lv = Caching.persist(kllLevels(df, valueCol, idCol, None))
    // 62-row level frame: S_61 is empty by construction (lvl ≤ 60), so a
    // satisfying l* always exists even on degenerate input
    val levels = spark.range(0L, 62L).toDF("l")
    val sizes = levels
      .join(broadcast(lv.groupBy(col("lvl")).agg(count(lit(1)).as("c"))),
        col("lvl") >= col("l"), "left")
      .groupBy(col("l")).agg(coalesce(sum(col("c")), lit(0L)).as("sz"))
    // min-struct picks the smallest satisfying level and carries its size
    val lstar = sizes.where(col("sz") <= k)
      .agg(min(struct(col("l"), col("sz"))).as("m"))
      .select(col("m.l").as("ls"), col("m.sz").as("n_sample"))
    val samp = lv.crossJoin(broadcast(lstar))
      .where(col("lvl") >= col("ls"))
    val ranked = samp.select(col("v"), col("ls"), col("n_sample"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("v"))).as("rn"))
    val qs = qPermille.map(_.toLong).toDF("q_pm")
    ranked.join(broadcast(qs),
        col("rn") === greatest(lit(1L),
          expr("(q_pm * n_sample + 999) div 1000")))
      .select(col("q_pm"), col("v").as("est_v"), col("ls").as("lvl"),
        col("n_sample"))
  }

  /** Per-group [[kllQuantile]] — one level histogram and one ≤k-row
    * sample PER GROUP, the grouped form completing the quantile surface
    * (global / per-group / per-window via [[graft.streaming.EventStreams
    * .windowedKll]]). Returns (grp, q_pm, est_v, lvl, n_sample) per
    * group × point.
    *
    * Scale shape: corpus → G·62 histogram rows → G-row l* frame
    * (equi-joined back, never a theta join) → ≤G·k sample rows → per-group
    * window sort over ≤k rows.
    */
  def kllQuantileBy(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int, qPermille: Seq[Int]): DataFrame = {
    require(k >= 16, s"k must be >= 16, got $k")
    require(qPermille.nonEmpty && qPermille.forall(q => q >= 1 && q <= 1000),
      "quantile points are per-mille in [1,1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val lv = Caching.persist(kllLevels(df, valueCol, idCol, Some(groupCol)))
    val hist = lv.groupBy(col("grp"), col("lvl")).agg(count(lit(1)).as("c"))
    val levels = spark.range(0L, 62L).toDF("l")
    // absent (grp, l) pairs have sz = 0: covered by the synthetic l = 61
    // row per group (S_61 is empty by construction), so min-l selection
    // below never needs the missing combinations
    val sizes = hist.join(broadcast(levels), col("lvl") >= col("l"))
      .groupBy(col("grp"), col("l")).agg(sum(col("c")).as("sz"))
      .unionByName(hist.select(col("grp")).distinct()
        .select(col("grp"), lit(61L).as("l"), lit(0L).as("sz")))
    val lstar = sizes.where(col("sz") <= k)
      .groupBy(col("grp")).agg(min(struct(col("l"), col("sz"))).as("m"))
      .select(col("grp"), col("m.l").as("ls"), col("m.sz").as("n_sample"))
    val samp = lv.join(lstar, Seq("grp")).where(col("lvl") >= col("ls"))
    val ranked = samp.select(col("grp"), col("v"), col("ls"),
      col("n_sample"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("v"))).as("rn"))
    val qs = qPermille.map(_.toLong).toDF("q_pm")
    ranked.join(broadcast(qs),
        col("rn") === greatest(lit(1L),
          expr("(q_pm * n_sample + 999) div 1000")))
      .select(col("grp"), col("q_pm"), col("v").as("est_v"),
        col("ls").as("lvl"), col("n_sample"))
  }

  /** WEIGHTED portable quantile sketch — the weighted extension of
    * [[kllQuantile]] ("p99 of example length weighted by token count"):
    * a row with integer weight w stands for w unit rows, and the
    * level-l sample keeps, from each row, the units whose index is
    * ≡ h (mod 2^l) — SYSTEMATIC SAMPLING driven by the same md5 row
    * coin, so the per-row survivor count is the exact integer
    *   survivors_l = w div 2^l + [h mod 2^l < w mod 2^l]
    * (mean w/2^l over the hash family, heavy rows never fully drop),
    * survivor sets are nested across levels, and the whole state stays
    * a pure function of the input multiset — order-free, merge-free,
    * hash-replayable, all integer. The sketch picks the smallest l*
    * whose surviving ROW count fits in k; weighted rank reads off the
    * value-sorted sample's cumulative survivors·2^l* (exact weighted
    * type-1 quantiles when every row survives at l* = 0).
    *
    * Contract: weights are integers in [1, 2^40] (null/zero/negative
    * rows drop — both engines); `t_total` = Σ survivors·2^l* is the
    * sketch's weight-mass estimate (exactly Σw at l* = 0). Returns one
    * row per point: (q_pm, est_v, lvl, n_sample, t_total).
    *
    * Scale shape: one corpus scan to a 62-row survival histogram (the
    * per-row level explode feeds a map-side-combined count), one scan
    * filtered to the ≤k-row sample, one ≤k-row window — same
    * two-linear-scans shape as [[kllQuantile]], no global sort.
    * Un-partitioned window bound: the level-l* sample, n_sample ≤ k rows
    * by the choice of l* (the l* = 61 fallback keeps only rows with
    * h < w). The bound comes from the sampling math, not the plan: both
    * windows read the persisted corpus-sized base filtered through a
    * nested-loop join with the one-row l* table.
    */
  def kllQuantileWeighted(df: DataFrame, valueCol: String,
      weightCol: String, idCol: String, k: Int,
      qPermille: Seq[Int]): DataFrame = {
    require(k >= 16, s"k must be >= 16, got $k")
    require(qPermille.nonEmpty && qPermille.forall(q => q >= 1 && q <= 1000),
      "quantile points are per-mille in [1,1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val base = Caching.persist(kllwWithMaxLevel(df
      .select(col(valueCol).as("v"),
        col(weightCol).cast("long").as("w"),
        Dedup.portableHash(
          concat(lit("kllw:"), col(idCol).cast("string"))).as("h"))
      .where(col("v").isNotNull && col("h").isNotNull &&
        col("w").between(1L, 1L << 40))))
    // survival at level l ⇔ h mod 2^l < w (the smallest unit index
    // ≡ h mod 2^l must exist below w), and h mod 2^l only grows with l,
    // so survival is MONOTONE in l: each row has a max surviving level
    // with a closed form — below b = bitlength(w) survival is automatic
    // (h mod 2^l ≤ 2^l−1 < w); at and above b it needs h's bits [b, l)
    // all zero plus h mod 2^b < w. So maxl = b−1 when h mod 2^b ≥ w,
    // else b + (trailing zeros of h div 2^b), capped at 61. One
    // codegen'd projection per row (an aggregate(sequence(0,61), …) HOF
    // fold is CodegenFallback — 62 interpreted evals/row read 7.3 warm
    // s on the sf0.1 gate query vs 3.2 with this closed form), then the
    // per-level count is the suffix sum of the ≤62-row max-level
    // histogram. The oracle keeps the direct per-level generate_series
    // count — identical numbers by the monotonicity argument.
    val levels = spark.range(0L, 62L).toDF("l")
    val maxl = base.select(col("ml"))
      .groupBy(col("ml")).agg(count(lit(1)).as("c"))
    val sizes = levels.join(broadcast(maxl), col("ml") >= col("l"), "left")
      .groupBy(col("l")).agg(coalesce(sum(col("c")), lit(0L)).as("sz"))
    // smallest level whose surviving-row count fits in k; l = 61 is the
    // documented fallback (rows with h < w — measure-zero in practice)
    val lstar = sizes.where(col("sz") <= k || col("l") === 61L)
      .agg(min(struct(col("l"), col("sz"))).as("m"))
      .select(col("m.l").as("ls"), col("m.sz").as("n_sample"))
    val samp = base.crossJoin(broadcast(lstar))
      .where(expr("pmod(h, shiftleft(1L, CAST(ls AS INT))) < w"))
      .select(col("v"), col("ls"), col("n_sample"),
        expr(kllwContribSql).as("contrib"))
    // ROWS frame, not the orderBy default RANGE: tied values must each
    // carry their own running total (the straddle intervals partition
    // (0, T] exactly once; any tie order yields the same est_v)
    val win = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = samp.select(col("v"), col("ls"), col("n_sample"),
      col("contrib"), sum(col("contrib")).over(win).as("cum"),
      sum(col("contrib")).over(org.apache.spark.sql.expressions.Window
        .partitionBy()).as("t_total"))
    val qs = qPermille.map(_.toLong).toDF("q_pm")
    // min v with weighted rank ≥ R: the row whose cumulative block
    // straddles R (ties in v share cum boundaries → same est_v)
    cum.join(broadcast(qs),
        expr("greatest(1L, (q_pm * t_total + 999) div 1000) <= cum AND " +
          "greatest(1L, (q_pm * t_total + 999) div 1000) > cum - contrib"))
      .select(col("q_pm"), col("v").as("est_v"), col("ls").as("lvl"),
        col("n_sample"), col("t_total"))
  }

  /** DuckDB replay of [[kllQuantileWeighted]] — same systematic-sampling
    * integer math, value-for-value.
    */
  def kllWeightedOracleSql(table: String, valueExpr: String,
      weightExpr: String, idExpr: String, k: Int,
      qPermille: Seq[Int]): String =
    s"""WITH base AS (
       |  SELECT ($valueExpr) AS v, ($weightExpr)::BIGINT AS w,
       |         ('0x' || substr(md5('kllw:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM $table
       |  WHERE ($valueExpr) IS NOT NULL AND ($idExpr) IS NOT NULL
       |    AND ($weightExpr) IS NOT NULL
       |    AND ($weightExpr)::BIGINT BETWEEN 1 AND ${1L << 40}),
       |hist AS (
       |  SELECT g.l, count(*)::BIGINT AS c
       |  FROM base JOIN generate_series(0, 61) AS g(l)
       |    ON base.h % (1::BIGINT << g.l::INT) < base.w
       |  GROUP BY g.l),
       |sizes AS (
       |  SELECT g.l, coalesce(hist.c, 0)::BIGINT AS sz
       |  FROM generate_series(0, 61) AS g(l) LEFT JOIN hist ON hist.l = g.l),
       |lstar AS (SELECT l AS ls, sz AS n_sample FROM sizes
       |          WHERE sz <= $k OR l = 61 ORDER BY l LIMIT 1),
       |samp AS (
       |  SELECT v, ls, n_sample,
       |         ((w // (1::BIGINT << ls::INT)) +
       |          (CASE WHEN h % (1::BIGINT << ls::INT) <
       |                     w % (1::BIGINT << ls::INT) THEN 1 ELSE 0 END))
       |           * (1::BIGINT << ls::INT) AS contrib
       |  FROM base, lstar
       |  WHERE h % (1::BIGINT << ls::INT) < w),
       |cum AS (
       |  SELECT v, ls, n_sample, contrib,
       |         sum(contrib) OVER (ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           ::BIGINT AS cum,
       |         sum(contrib) OVER ()::BIGINT AS t_total
       |  FROM samp)
       |SELECT q.q_pm, c.v AS est_v, c.ls::BIGINT AS lvl, c.n_sample,
       |       c.t_total
       |FROM cum c
       |JOIN (SELECT unnest([${qPermille.mkString(", ")}])::BIGINT AS q_pm) q
       |  ON greatest(1, (q.q_pm * c.t_total + 999) // 1000) <= c.cum
       | AND greatest(1, (q.q_pm * c.t_total + 999) // 1000)
       |       > c.cum - c.contrib""".stripMargin

  /** Closed-form max surviving level for the weighted KLL row coin (the
    * derivation lives on [[kllQuantileWeighted]]) — shared by the global
    * and grouped engines; consumes columns `h` and `w` and appends `ml`.
    *
    * r14: STAGED projections — the one-expression form evaluated
    * `bin(w)` five times and `bin(h div 2^bw)` twice per row, and with
    * whole-stage codegen off (the bench harness mode) the interpreted
    * projection does no common-subexpression elimination, so the
    * corpus-scan paid ~7 string materializations per row. Factoring the
    * shared terms into their own columns evaluates each exactly once;
    * the CASE arithmetic is unchanged term for term.
    */
  private def kllwWithMaxLevel(base: DataFrame): DataFrame = base
    .withColumn("__bw", expr("CAST(length(bin(w)) AS INT)"))
    .withColumn("__hi", expr("h div shiftleft(1L, __bw)"))
    .withColumn("ml", expr(
      """CASE WHEN pmod(h, shiftleft(1L, __bw)) >= w
        |     THEN CAST(__bw AS BIGINT) - 1
        |     ELSE least(61L, CAST(__bw AS BIGINT) +
        |       (CASE WHEN __hi = 0 THEN 61L
        |             ELSE CAST(length(bin(__hi)) -
        |                  length(rtrim('0', bin(__hi))) AS BIGINT)
        |        END))
        |END""".stripMargin))
    .drop("__bw", "__hi")

  /** Exact integer survivor mass of a weight-w row at level `ls` — the
    * systematic-sampling count times the per-survivor span; consumes
    * columns `h`, `w`, `ls`. Shared by the global and grouped engines.
    */
  private val kllwContribSql: String =
    "((w div shiftleft(1L, CAST(ls AS INT))) + " +
      "(CASE WHEN pmod(h, shiftleft(1L, CAST(ls AS INT))) < " +
      "pmod(w, shiftleft(1L, CAST(ls AS INT))) THEN 1 ELSE 0 END)) " +
      "* shiftleft(1L, CAST(ls AS INT))"

  /** Per-group [[kllQuantileWeighted]] — "p99 doc length weighted by
    * tokens, per language", the form a mixture audit actually asks for
    * (VERDICT r13 item 1): one survival histogram and one ≤k-row sample
    * PER GROUP, completing the weighted family's global / per-group /
    * per-window rack ([[graft.streaming.EventStreams
    * .windowedKllWeighted]] is the window form, [[graft.functions
    * .KllWeightedSketch]] the mergeable aggregate all three replay).
    * Same contract as the global engine: integer weights in [1, 2^40]
    * (null/zero/negative rows drop), t_total = per-group weight-mass
    * estimate, exact weighted type-1 quantiles when the group survives
    * whole at l* = 0. Returns (grp, q_pm, est_v, lvl, n_sample, t_total)
    * per group × point.
    *
    * Level selection per group is exact without a group × 62 cross join:
    * per-level survivor counts are present for the contiguous range
    * l ∈ [0, max ml], every missing level has sz = 0, and sz is monotone
    * non-increasing in l — so ONE synthetic (grp, max ml + 1, 0) row per
    * group (groups already at ml = 61 excluded: their l = 61 fallback
    * row is real and must keep its true size) covers the entire missing
    * tail for the min-(l, sz) selection.
    *
    * Scale shape: corpus → ≤G·62 histogram rows → G-row l* frame
    * (equi-joined back, never a theta join) → ≤G·k sample rows (plus the
    * measure-zero l = 61 fallback) → per-group window over ≤k rows. No
    * global sort, no corpus-sized shuffle beyond the group key.
    */
  def kllQuantileWeightedBy(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, idCol: String, k: Int,
      qPermille: Seq[Int]): DataFrame = {
    require(k >= 16, s"k must be >= 16, got $k")
    require(qPermille.nonEmpty && qPermille.forall(q => q >= 1 && q <= 1000),
      "quantile points are per-mille in [1,1000]")
    val spark = df.sparkSession
    import spark.implicits._
    val base = Caching.persist(kllwWithMaxLevel(df
      .select(col(groupCol).cast("string").as("grp"),
        col(valueCol).as("v"),
        col(weightCol).cast("long").as("w"),
        Dedup.portableHash(
          concat(lit("kllw:"), col(idCol).cast("string"))).as("h"))
      .where(col("grp").isNotNull && col("v").isNotNull &&
        col("h").isNotNull && col("w").between(1L, 1L << 40))))
    val levels = spark.range(0L, 62L).toDF("l")
    val hist = base.select(col("grp"), col("ml"))
      .groupBy(col("grp"), col("ml")).agg(count(lit(1)).as("c"))
    val sufs = hist.join(broadcast(levels), col("ml") >= col("l"))
      .groupBy(col("grp"), col("l")).agg(sum(col("c")).as("sz"))
    val synth = hist.groupBy(col("grp")).agg(max(col("ml")).as("mm"))
      .where(col("mm") < 61L)
      .select(col("grp"), (col("mm") + 1L).as("l"), lit(0L).as("sz"))
    val lstar = sufs.unionByName(synth)
      .where(col("sz") <= k || col("l") === 61L)
      .groupBy(col("grp")).agg(min(struct(col("l"), col("sz"))).as("m"))
      .select(col("grp"), col("m.l").as("ls"), col("m.sz").as("n_sample"))
    val samp = base.join(lstar, Seq("grp"))
      .where(expr("pmod(h, shiftleft(1L, CAST(ls AS INT))) < w"))
      .select(col("grp"), col("v"), col("ls"), col("n_sample"),
        expr(kllwContribSql).as("contrib"))
    // ROWS frame (not RANGE): tied values each carry their own running
    // total — the straddle intervals partition (0, T] exactly once
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = samp.select(col("grp"), col("v"), col("ls"),
      col("n_sample"), col("contrib"),
      sum(col("contrib")).over(win).as("cum"),
      sum(col("contrib")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp"))).as("t_total"))
    val qs = qPermille.map(_.toLong).toDF("q_pm")
    cum.join(broadcast(qs),
        expr("greatest(1L, (q_pm * t_total + 999) div 1000) <= cum AND " +
          "greatest(1L, (q_pm * t_total + 999) div 1000) > cum - contrib"))
      .select(col("grp"), col("q_pm"), col("v").as("est_v"),
        col("ls").as("lvl"), col("n_sample"), col("t_total"))
  }

  /** DuckDB replay of [[kllQuantileWeightedBy]] — the
    * [[kllWeightedOracleSql]] machinery partitioned by the group,
    * including the synthetic first-missing-level row.
    */
  def kllWeightedByOracleSql(table: String, groupExpr: String,
      valueExpr: String, weightExpr: String, idExpr: String, k: Int,
      qPermille: Seq[Int]): String =
    s"""WITH base AS (
       |  SELECT ($groupExpr)::VARCHAR AS grp, ($valueExpr) AS v,
       |         ($weightExpr)::BIGINT AS w,
       |         ('0x' || substr(md5('kllw:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |  FROM $table
       |  WHERE ($groupExpr) IS NOT NULL AND ($valueExpr) IS NOT NULL
       |    AND ($idExpr) IS NOT NULL AND ($weightExpr) IS NOT NULL
       |    AND ($weightExpr)::BIGINT BETWEEN 1 AND ${1L << 40}),
       |hist AS (
       |  SELECT grp, g.l, count(*)::BIGINT AS sz
       |  FROM base JOIN generate_series(0, 61) AS g(l)
       |    ON base.h % (1::BIGINT << g.l::INT) < base.w
       |  GROUP BY 1, 2),
       |synth AS (
       |  SELECT grp, max(l) + 1 AS l, 0::BIGINT AS sz FROM hist
       |  GROUP BY grp HAVING max(l) < 61),
       |sizes AS (SELECT * FROM hist UNION ALL SELECT * FROM synth),
       |lstar AS (
       |  SELECT grp, ls, n_sample FROM (
       |    SELECT grp, l AS ls, sz AS n_sample,
       |           row_number() OVER (PARTITION BY grp ORDER BY l, sz) AS rk
       |    FROM sizes WHERE sz <= $k OR l = 61)
       |  WHERE rk = 1),
       |samp AS (
       |  SELECT base.grp, v, ls, n_sample,
       |         ((w // (1::BIGINT << ls::INT)) +
       |          (CASE WHEN h % (1::BIGINT << ls::INT) <
       |                     w % (1::BIGINT << ls::INT) THEN 1 ELSE 0 END))
       |           * (1::BIGINT << ls::INT) AS contrib
       |  FROM base JOIN lstar ON lstar.grp = base.grp
       |  WHERE h % (1::BIGINT << ls::INT) < w),
       |cum AS (
       |  SELECT grp, v, ls, n_sample, contrib,
       |         sum(contrib) OVER (PARTITION BY grp ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           ::BIGINT AS cum,
       |         sum(contrib) OVER (PARTITION BY grp)::BIGINT AS t_total
       |  FROM samp)
       |SELECT c.grp, q.q_pm, c.v AS est_v, c.ls::BIGINT AS lvl,
       |       c.n_sample, c.t_total
       |FROM cum c
       |JOIN (SELECT unnest([${qPermille.mkString(", ")}])::BIGINT AS q_pm) q
       |  ON greatest(1, (q.q_pm * c.t_total + 999) // 1000) <= c.cum
       | AND greatest(1, (q.q_pm * c.t_total + 999) // 1000)
       |       > c.cum - c.contrib""".stripMargin

  /** Shared ([grp,] v, lvl) projection for the KLL family: 60-bit
    * portable row hash of `idCol` (the row's sampling coin), lvl =
    * leading-zero count within the 60-bit width — the same `bin()`/
    * `ltrim` integer formulation as the HLL ρ, no floating log anywhere.
    * Null values, null ids, and (grouped form) null groups drop in both
    * engines.
    */
  private def kllLevels(df: DataFrame, valueCol: String, idCol: String,
      groupCol: Option[String]): DataFrame = {
    val grpCols = groupCol.toSeq.map(g => col(g).cast("string").as("grp"))
    val base = df.select(grpCols :+ col(valueCol).as("v") :+
        Dedup.portableHash(
          concat(lit("kll:"), col(idCol).cast("string"))).as("h"): _*)
      .where(col("v").isNotNull && col("h").isNotNull &&
        groupCol.map(_ => col("grp").isNotNull).getOrElse(lit(true)))
    base.select(groupCol.toSeq.map(_ => col("grp")) :+ col("v") :+
      when(col("h") === 0L, lit(60L))
        .otherwise(lit(60L) - length(ltrim(bin(col("h")), "0")))
        .as("lvl"): _*)
  }

  /** DuckDB replay of [[kllQuantile]] — same md5 row coins, same integer
    * level/rank math, same type-1 read-off.
    */
  def kllOracleSql(table: String, valueExpr: String, idExpr: String,
      k: Int, qPermille: Seq[Int]): String =
    s"""WITH lv AS (
       |  SELECT v, CASE WHEN h = 0 THEN 60
       |                 ELSE 60 - length(ltrim(bin(h), '0')) END AS lvl
       |  FROM (
       |    SELECT ($valueExpr) AS v,
       |           ('0x' || substr(md5('kll:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |    FROM $table
       |    WHERE ($valueExpr) IS NOT NULL AND ($idExpr) IS NOT NULL)),
       |hist AS (SELECT lvl, count(*)::BIGINT AS c FROM lv GROUP BY 1),
       |sizes AS (
       |  SELECT g.l, coalesce(sum(c) FILTER (WHERE hist.lvl >= g.l), 0)
       |           ::BIGINT AS sz
       |  FROM generate_series(0, 61) AS g(l) LEFT JOIN hist ON TRUE
       |  GROUP BY g.l),
       |lstar AS (SELECT l AS ls, sz AS n_sample FROM sizes
       |          WHERE sz <= $k ORDER BY l LIMIT 1),
       |ranked AS (
       |  SELECT v, ls, n_sample, row_number() OVER (ORDER BY v) AS rn
       |  FROM lv, lstar WHERE lvl >= ls)
       |SELECT q.q_pm, r.v AS est_v, r.ls::BIGINT AS lvl, r.n_sample
       |FROM ranked r
       |JOIN (SELECT unnest([${qPermille.mkString(", ")}])::BIGINT AS q_pm) q
       |  ON r.rn = greatest(1, (q.q_pm * r.n_sample + 999) // 1000)""".stripMargin

  /** DuckDB replay of [[kllQuantileBy]]. */
  def kllByOracleSql(table: String, groupExpr: String, valueExpr: String,
      idExpr: String, k: Int, qPermille: Seq[Int]): String =
    s"""WITH lv AS (
       |  SELECT grp, v, CASE WHEN h = 0 THEN 60
       |                      ELSE 60 - length(ltrim(bin(h), '0')) END AS lvl
       |  FROM (
       |    SELECT ($groupExpr)::VARCHAR AS grp, ($valueExpr) AS v,
       |           ('0x' || substr(md5('kll:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT AS h
       |    FROM $table
       |    WHERE ($groupExpr) IS NOT NULL AND ($valueExpr) IS NOT NULL
       |      AND ($idExpr) IS NOT NULL)),
       |hist AS (SELECT grp, lvl, count(*)::BIGINT AS c FROM lv
       |         GROUP BY 1, 2),
       |sizes AS (
       |  SELECT grp, g.l, sum(c)::BIGINT AS sz
       |  FROM hist JOIN generate_series(0, 61) AS g(l) ON hist.lvl >= g.l
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT DISTINCT grp, 61, 0::BIGINT FROM hist),
       |lstar AS (
       |  SELECT grp, ls, n_sample FROM (
       |    SELECT grp, l AS ls, sz AS n_sample,
       |           row_number() OVER (PARTITION BY grp ORDER BY l) AS rk
       |    FROM sizes WHERE sz <= $k)
       |  WHERE rk = 1),
       |ranked AS (
       |  SELECT lv.grp, v, ls, n_sample,
       |         row_number() OVER (PARTITION BY lv.grp ORDER BY v) AS rn
       |  FROM lv JOIN lstar ON lstar.grp = lv.grp
       |  WHERE lvl >= ls)
       |SELECT r.grp, q.q_pm, r.v AS est_v, r.ls::BIGINT AS lvl,
       |       r.n_sample
       |FROM ranked r
       |JOIN (SELECT unnest([${qPermille.mkString(", ")}])::BIGINT AS q_pm) q
       |  ON r.rn = greatest(1, (q.q_pm * r.n_sample + 999) // 1000)""".stripMargin
}
