package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model / retrieval EVALUATION operators — the measurement half of a
  * training-data pipeline: once filters, rankers, and retrieval indexes are
  * built, the pipeline has to score them (is the quality signal actually
  * predictive? did the hybrid ranker beat either input? does the RAG index
  * find the document a query came from?). The reference inherits nothing
  * like this; these are north-star pipeline operators (SURVEY.md §2c).
  *
  * House rules shared with Profile/Similarity: exact integer micro-unit
  * carriers wherever the math is rational (AUC, MRR, RRF, Gini-impurity),
  * IEEE-deterministic doubles only at a final rounded projection (Spearman's
  * sqrt), and NO global-order windows — rank/prefix computations ride the
  * same two-level bucketed suffix-sum pattern as
  * [[Profile.conformalPValues]], so no window ever spans more than
  * max(#buckets, bucketWidth) rows however many distinct values exist.
  */
object Eval {

  /** Two-level bucketed "sum of `cols` strictly below this value" over a
    * per-distinct-value table: per-bucket totals, one ASC window over the
    * bucket table, intra-bucket ASC windows partitioned by bucket — the
    * [[Profile.conformalPValues]] mega-partition guard, ascending flavor.
    * Adds `below_<c>` for each aggregate column `c`.
    */
  private[operators] def cumBelow(perValue: DataFrame, valueCol: String,
      sumCols: Seq[String], bucketWidth: Long,
      partCols: Seq[String] = Seq.empty): DataFrame = {
    require(bucketWidth >= 1)
    val v = col(valueCol)
    val bucketed = perValue.withColumn("__bkt",
      expr(s"($valueCol - pmod($valueCol, $bucketWidth)) div $bucketWidth"))
    // partCols scope every level to a group (the per-subgroup variants);
    // empty = the original global-curve behavior. Window.partitionBy with
    // zero columns IS the unpartitioned window.
    val wLower = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col("__bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktAggs = sumCols.map(c => sum(col(c)).as(s"__bc_$c"))
    val bktTot = bucketed.groupBy((partCols :+ "__bkt").map(col): _*)
      .agg(bktAggs.head, bktAggs.tail: _*)
      .select((partCols :+ "__bkt").map(col) ++ sumCols.map(c =>
        coalesce(sum(col(s"__bc_$c")).over(wLower), lit(0L))
          .as(s"__lower_$c")): _*)
    val wWithin = Window.partitionBy((partCols :+ "__bkt").map(col): _*)
      .orderBy(v.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .select((bucketed.columns.map(col).toSeq ++ sumCols.map(c =>
        coalesce(sum(col(c)).over(wWithin), lit(0L)).as(s"__within_$c"))): _*)
      .join(bktTot, partCols :+ "__bkt")
      .select((perValue.columns.map(col).toSeq ++ sumCols.map(c =>
        (col(s"__lower_$c") + col(s"__within_$c")).as(s"below_$c"))): _*)
  }

  /** Two-level bucketed "max of `maxCol` strictly ABOVE this value" over a
    * per-distinct-value table — the suffix-MAX sibling of [[cumBelow]]
    * (same mega-partition guard, descending, max in place of sum). Adds
    * `above_max`; values with nothing above get Long.MinValue (a real max
    * can never reach it, so strict comparisons stay correct).
    * One shared implementation serves [[Profile.skyline]] and any future
    * dominance-style consumer — two inline copies of the bucket pattern
    * would drift apart. Un-partitioned window bound: the bucket window
    * reads one aggregate row per non-empty `valueCol div bucketWidth`
    * bucket, at most (value range)/bucketWidth + 1 rows.
    */
  private[operators] def cumAboveMax(perValue: DataFrame, valueCol: String,
      maxCol: String, bucketWidth: Long = 1024L): DataFrame = {
    require(bucketWidth >= 1)
    val bucketed = perValue.withColumn("__bkt",
      expr(s"($valueCol - pmod($valueCol, $bucketWidth)) div $bucketWidth"))
    val wAbove = Window.orderBy(col("__bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktTot = bucketed.groupBy(col("__bkt"))
      .agg(max(col(maxCol)).as("__bm"))
      .select(col("__bkt"), max(col("__bm")).over(wAbove).as("__higher"))
    val wWithin = Window.partitionBy(col("__bkt"))
      .orderBy(col(valueCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("__within", max(col(maxCol)).over(wWithin))
      .join(bktTot, "__bkt")
      .select(perValue.columns.map(col).toSeq :+
        greatest(coalesce(col("__higher"), lit(Long.MinValue)),
          coalesce(col("__within"), lit(Long.MinValue)))
          .as("above_max"): _*)
  }

  /** The same two-level below-sums as a DuckDB WITH-fragment: emits CTEs
    * `<out>` with columns of `perValueCte` plus `below_<c>` per sum column.
    */
  private[operators] def cumBelowSql(perValueCte: String, valueCol: String,
      sumCols: Seq[String], bucketWidth: Long, out: String,
      partCols: Seq[String] = Seq.empty): String = {
    val pb = if (partCols.isEmpty) "" else partCols.mkString("PARTITION BY ", ", ", " ")
    val pbB = if (partCols.isEmpty) "PARTITION BY __bkt"
      else (partCols :+ "__bkt").mkString("PARTITION BY ", ", ", "")
    val grp = (partCols :+ "__bkt").mkString(", ")
    val bsums = sumCols.map(c => s"sum($c)::BIGINT AS __bc_$c").mkString(", ")
    val lowers = sumCols.map(c =>
      s"""coalesce(sum(__bc_$c) OVER ($pb ORDER BY __bkt ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __lower_$c""".stripMargin)
      .mkString(",\n    ")
    val withins = sumCols.map(c =>
      s"""coalesce(sum($c) OVER ($pbB ORDER BY $valueCol ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __within_$c""".stripMargin)
      .mkString(",\n    ")
    val belows = sumCols.map(c =>
      s"(__lower_$c + __within_$c)::BIGINT AS below_$c").mkString(", ")
    // the EXCLUDE list keeps the output CTE's shape = input columns +
    // below_<c>, matching the Spark cumBelow projection (explicit column
    // references in `belows` still resolve — EXCLUDE only affects the *)
    val exclude = ("__bkt" +: sumCols.map(c => s"__within_$c"))
      .mkString(", ")
    s"""${out}_b AS (
       |  SELECT *, ($valueCol - (($valueCol % $bucketWidth + $bucketWidth)
       |    % $bucketWidth)) // $bucketWidth AS __bkt
       |  FROM $perValueCte),
       |${out}_t AS (
       |  SELECT ${(partCols :+ "__bkt").mkString(", ")},
       |    $lowers
       |  FROM (SELECT $grp, $bsums FROM ${out}_b GROUP BY $grp)),
       |$out AS (
       |  SELECT b.* EXCLUDE ($exclude), $belows
       |  FROM (SELECT *,
       |    $withins
       |    FROM ${out}_b) b
       |  JOIN ${out}_t t USING ($grp))""".stripMargin
  }

  /** Exact tie-aware ROC-AUC / Mann-Whitney U — "is this score actually
    * predictive of this label?", the first question asked of every quality
    * signal, classifier, or heuristic filter before it gates data. AUC is
    * the probability a random positive outscores a random negative (ties
    * count ½) — exactly the rank-sum statistic, so it needs no thresholds,
    * no calibration, and no distributional assumption.
    *
    * All-integer: with per-distinct-score counts pos(s)/neg(s) and the
    * below-cumulative negBelow(s),
    *   2·U = Σ_s pos(s) · (2·negBelow(s) + neg(s))
    * (the `+neg(s)` term IS the half-credit for ties, kept doubled so no
    * fraction ever appears), and
    *   auc_micro = 1e6·2U div (2·n_pos·n_neg)  (floor),
    *   gini_micro = 2·auc_micro − 1e6.
    * Degenerate inputs (no positives or no negatives) report auc_micro = 0
    * with the class counts visible rather than dividing by zero.
    *
    * Scale shape: one hash aggregate to the distinct-score table, the
    * two-level bucketed below-sum (no global window), one final 1-row
    * aggregate. Products ride DECIMAL(38,0): pos·negBelow ~ n² needs the
    * wide carrier past ~3e9 rows; the binding term is the final
    * 2U·1e6 ~ n²·1e6/2, which meets the 1e38 carrier at n ~ 1.4e16 —
    * shard-and-pool beyond (Spark's non-ANSI decimal overflow NULLs
    * silently, it does not error).
    */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    // null scores are EXCLUDED on both engines (a null bucket would ride
    // engine-specific null ordering through the windows); a null label
    // counts as negative (CASE semantics, identical cross-engine)
    val per = df.select(score.cast("long").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("s").isNotNull)
      .groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    cumBelow(per, "s", Seq("neg"), bucketWidth = 1024L)
      .agg(
        coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"),
        coalesce(sum(expr(
          "CAST(pos AS DECIMAL(38,0)) * (2 * below_neg + neg)")),
          lit(0L).cast("decimal(38,0)")).as("__u2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(expr(
            "(__u2 * 1000000) div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)"))
          .as("auc_micro"))
      .withColumn("gini_micro",
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(lit(2L) * col("auc_micro") - lit(1000000L)))
  }

  /** DuckDB replay of [[rocAuc]] (same bucketed below-sums, same floor
    * division). `scoreExpr` must already be the integer score.
    */
  def rocAucOracleSql(table: String, scoreExpr: String,
      labelPredSql: String): String =
    s"""WITH per AS (
       |  SELECT s, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg FROM (
       |    SELECT ($scoreExpr)::BIGINT AS s,
       |           CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |    FROM $table WHERE ($scoreExpr) IS NOT NULL)
       |  GROUP BY s),
       |${cumBelowSql("per", "s", Seq("neg"), 1024L, "cum")},
       |agg AS (
       |  SELECT coalesce(sum(pos), 0)::BIGINT AS n_pos,
       |         coalesce(sum(neg), 0)::BIGINT AS n_neg,
       |         coalesce(sum(pos::HUGEINT * (2 * below_neg + neg)), 0)::HUGEINT
       |           AS u2
       |  FROM cum)
       |SELECT n_pos, n_neg,
       |       (CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
       |             ELSE (u2 * 1000000) // (2::HUGEINT * n_pos * n_neg)
       |        END)::BIGINT AS auc_micro,
       |       (CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
       |             ELSE 2 * ((u2 * 1000000) // (2::HUGEINT * n_pos * n_neg))
       |                  - 1000000 END)::BIGINT AS gini_micro
       |FROM agg""".stripMargin

  /** EXACT AVERAGE PRECISION (area under the precision-recall curve by
    * the step definition) — the rank metric that matters when positives
    * are rare: AUC stays high under extreme imbalance while AP collapses,
    * which is why retrieval/filter models report both.
    *   AP = (1/P) · Σ_{positives i} precision@rank(i)
    * on the TOTAL order (score DESC, id ASC) — the id tiebreak pins the
    * within-tie order so AP (which, unlike AUC, is not tie-symmetric)
    * replays exactly. Each precision term floors to micro units and the
    * mean floors once more (pinned two-step floors, the
    * [[brierDecomposition]] convention).
    *
    * Scale shape: ranks come from the distinct-score [[cumBelow]] table
    * (two-level bucketed, no global window) plus a per-TIE-BLOCK window
    * (partitioned by score — bounded by the tie multiplicity, never the
    * corpus); one final 1-row aggregate. Degenerate inputs (no
    * positives) report ap_micro = 0 with the counts visible.
    */
  def averagePrecision(df: DataFrame, idCol: String, score: Column,
      label: Column): DataFrame = {
    val rows = df.select(col(idCol).as("id"), score.cast("long").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("s").isNotNull)
      .transform(Caching.persist)
    val per = rows.groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("cnt"))
    val cum = cumBelow(per, "s", Seq("pos", "cnt"), bucketWidth = 1024L)
    val tot = rows.agg(sum(col("y")).as("n_pos"), count(lit(1)).as("n"))
    val wBlock = Window.partitionBy(col("s")).orderBy(col("id"))
    val ranked = rows
      .join(cum.select(col("s"), col("pos"), col("cnt"),
        col("below_pos"), col("below_cnt")), "s")
      .crossJoin(broadcast(tot))
      // above = total − below − whole tie block (score DESC order)
      .withColumn("rows_above", col("n") - col("below_cnt") - col("cnt"))
      .withColumn("pos_above", col("n_pos") - col("below_pos") - col("pos"))
      .withColumn("ridx", row_number().over(wBlock))
      .withColumn("pref_pos", sum(col("y")).over(wBlock)) // incl. current
      .withColumn("rank", col("rows_above") + col("ridx"))
      .withColumn("cum_pos", col("pos_above") + col("pref_pos"))
    // one unconditional 1-row aggregate (a filter-then-agg pair would need
    // a union for the no-positives case and a row-pick between the two)
    ranked.agg(
        coalesce(sum(when(col("y") === 1L,
          expr("(1000000 * cum_pos) div rank"))), lit(0L)).as("__ts"),
        coalesce(max(col("n_pos")), lit(0L)).as("n_pos"),
        coalesce(max(col("n")), lit(0L)).as("n"))
      .select(col("n_pos"), col("n"),
        when(col("n_pos") === 0, lit(0L))
          .otherwise(expr("__ts div n_pos")).as("ap_micro"))
  }

  /** DuckDB replay of [[averagePrecision]] (same bucketed below-sums,
    * same tie-block windows, same two-step floors).
    */
  def averagePrecisionOracleSql(table: String, idExpr: String,
      scoreExpr: String, labelPredSql: String): String =
    s"""WITH rows_t AS (
       |  SELECT ($idExpr) AS id, ($scoreExpr)::BIGINT AS s,
       |         CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |  FROM $table WHERE ($scoreExpr) IS NOT NULL),
       |per AS (
       |  SELECT s, sum(y)::BIGINT AS pos, count(*)::BIGINT AS cnt
       |  FROM rows_t GROUP BY s),
       |${cumBelowSql("per", "s", Seq("pos", "cnt"), 1024L, "cum")},
       |tot AS (SELECT coalesce(sum(y), 0)::BIGINT AS n_pos,
       |               count(*)::BIGINT AS n FROM rows_t),
       |ranked AS (
       |  SELECT r.y,
       |         t.n - c.below_cnt - c.cnt
       |           + row_number() OVER (PARTITION BY r.s ORDER BY r.id)
       |           AS rank,
       |         t.n_pos - c.below_pos - c.pos
       |           + sum(r.y) OVER (PARTITION BY r.s ORDER BY r.id
       |                            ROWS UNBOUNDED PRECEDING)
       |           AS cum_pos,
       |         t.n_pos, t.n
       |  FROM rows_t r JOIN cum c USING (s), tot t)
       |SELECT coalesce(max(n_pos), 0)::BIGINT AS n_pos,
       |       coalesce(max(n), 0)::BIGINT AS n,
       |       (CASE WHEN coalesce(max(n_pos), 0) = 0 THEN 0
       |             ELSE coalesce(sum(CASE WHEN y = 1
       |                    THEN (1000000 * cum_pos) // rank END), 0)
       |                  // max(n_pos) END)::BIGINT AS ap_micro
       |FROM ranked""".stripMargin

  /** Per-subgroup [[rocAuc]] — the fairness/consistency audit: a quality
    * signal that is predictive overall can be flat (or inverted) inside a
    * subgroup, and a filter tuned on the pooled AUC then silently
    * over-prunes that slice. One row per group with the same exact
    * rank-sum arithmetic, every window and aggregate additionally keyed by
    * the group — per-group work is bounded by the group's distinct-score
    * count, and groups distribute freely across executors.
    */
  def rocAucBy(df: DataFrame, groupCol: String, score: Column,
      label: Column): DataFrame = {
    val per = df.select(col(groupCol).as("g"), score.cast("long").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("s").isNotNull)
      .groupBy(col("g"), col("s"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
    cumBelow(per, "s", Seq("neg"), bucketWidth = 1024L, partCols = Seq("g"))
      .groupBy(col("g"))
      .agg(
        coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("neg")), lit(0L)).as("n_neg"),
        coalesce(sum(expr(
          "CAST(pos AS DECIMAL(38,0)) * (2 * below_neg + neg)")),
          lit(0L).cast("decimal(38,0)")).as("__u2"))
      .select(col("g"), col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(0L))
          .otherwise(expr(
            "(__u2 * 1000000) div (CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg)"))
          .as("auc_micro"))
  }

  /** DuckDB replay of [[rocAucBy]]. */
  def rocAucByOracleSql(table: String, groupExpr: String, scoreExpr: String,
      labelPredSql: String): String =
    s"""WITH per AS (
       |  SELECT g, s, sum(y)::BIGINT AS pos, sum(1 - y)::BIGINT AS neg FROM (
       |    SELECT ($groupExpr) AS g, ($scoreExpr)::BIGINT AS s,
       |           CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |    FROM $table WHERE ($scoreExpr) IS NOT NULL)
       |  GROUP BY g, s),
       |${cumBelowSql("per", "s", Seq("neg"), 1024L, "cum", Seq("g"))}
       |SELECT g, coalesce(sum(pos), 0)::BIGINT AS n_pos,
       |       coalesce(sum(neg), 0)::BIGINT AS n_neg,
       |       (CASE WHEN coalesce(sum(pos), 0) = 0
       |                  OR coalesce(sum(neg), 0) = 0 THEN 0
       |             ELSE (coalesce(sum(pos::HUGEINT * (2 * below_neg + neg)),
       |                            0) * 1000000)
       |                  // (2::HUGEINT * sum(pos) * sum(neg))
       |        END)::BIGINT AS auc_micro
       |FROM cum GROUP BY g""".stripMargin

  /** Spearman rank correlation between two integer-valued columns — the
    * monotonic-association check run between every pair of quality signals
    * (are length and model-score measuring the same thing?) and between a
    * heuristic and the metric it proxies. Rank-based, so it is outlier-proof
    * where Pearson is not.
    *
    * Ties get average ranks, carried DOUBLED (r2 = 2·below + cnt + 1 — an
    * integer even for .5 average ranks) so every moment sum is exact on
    * DECIMAL(38,0); rho is Pearson over the rank carriers (scale-invariant,
    * the ×2 cancels). The three exact moments
    *   num = n·Σab − Σa·Σb,  d1 = n·Σa² − (Σa)²,  d2 = n·Σb² − (Σb)²
    * stay integers to n ~ 2e9 rows (documented ceiling: num ~ 4n⁴ meets the
    * 1e38 carrier there; shard-and-pool beyond); the ONLY doubles are the
    * final correctly-rounded IEEE sqrt/divide, projected at 6 dp — the
    * [[Graph.spamMass]] rel_mass precedent both engines replay bit-for-bit.
    *
    * Scale shape: two distinct-value rank tables via the bucketed below-sum
    * (no global window), two equi-joins back to rows, one 1-row moment
    * aggregate. Nothing is collected.
    */
  def spearman(df: DataFrame, x: Column, y: Column): DataFrame = {
    val base = Caching.persist(
      df.select(x.cast("long").as("a"), y.cast("long").as("b"))
        .where(col("a").isNotNull && col("b").isNotNull))
    def rank2(c: String): DataFrame =
      cumBelow(
        base.groupBy(col(c)).agg(count(lit(1)).as("cnt")),
        c, Seq("cnt"), bucketWidth = 1024L)
        .select(col(c), (lit(2L) * col("below_cnt") + col("cnt") + 1L)
          .as(s"r2_$c"))
    val ranked = base.join(rank2("a"), "a").join(rank2("b"), "b")
      .select(col("r2_a").cast("decimal(38,0)").as("ra"),
        col("r2_b").cast("decimal(38,0)").as("rb"))
    ranked.agg(
        count(lit(1)).as("n"),
        sum(col("ra")).as("sa"), sum(col("rb")).as("sb"),
        sum(col("ra") * col("rb")).as("sab"),
        sum(col("ra") * col("ra")).as("saa"),
        sum(col("rb") * col("rb")).as("sbb"))
      .select(col("n"),
        (col("n") * col("sab") - col("sa") * col("sb")).as("num"),
        (col("n") * col("saa") - col("sa") * col("sa")).as("d1"),
        (col("n") * col("sbb") - col("sb") * col("sb")).as("d2"))
      .select(col("n"),
        when(col("d1") === 0 || col("d2") === 0, lit(0.0))
          .otherwise(round(col("num").cast("double") /
            (sqrt(col("d1").cast("double")) * sqrt(col("d2").cast("double"))),
            6))
          .as("rho6"))
  }

  /** DuckDB replay of [[spearman]] (same doubled ranks, same HUGEINT
    * moments, same IEEE sqrt/divide rounded at 6 dp).
    */
  def spearmanOracleSql(table: String, xExpr: String, yExpr: String): String =
    s"""WITH base AS (
       |  SELECT ($xExpr)::BIGINT AS a, ($yExpr)::BIGINT AS b FROM $table
       |  WHERE ($xExpr) IS NOT NULL AND ($yExpr) IS NOT NULL),
       |pa AS (SELECT a, count(*)::BIGINT AS cnt FROM base GROUP BY a),
       |pb AS (SELECT b, count(*)::BIGINT AS cnt FROM base GROUP BY b),
       |${cumBelowSql("pa", "a", Seq("cnt"), 1024L, "ca")},
       |${cumBelowSql("pb", "b", Seq("cnt"), 1024L, "cb")},
       |ranked AS (
       |  SELECT (2 * ca.below_cnt + ca.cnt + 1)::HUGEINT AS ra,
       |         (2 * cb.below_cnt + cb.cnt + 1)::HUGEINT AS rb
       |  FROM base JOIN ca USING (a) JOIN cb USING (b)),
       |m AS (
       |  SELECT count(*)::HUGEINT AS n, sum(ra) AS sa, sum(rb) AS sb,
       |         sum(ra * rb) AS sab, sum(ra * ra) AS saa,
       |         sum(rb * rb) AS sbb
       |  FROM ranked)
       |SELECT n::BIGINT AS n,
       |       CASE WHEN n * saa - sa * sa = 0 OR n * sbb - sb * sb = 0
       |            THEN 0.0
       |            ELSE round((n * sab - sa * sb)::DOUBLE /
       |                 (sqrt((n * saa - sa * sa)::DOUBLE)
       |                  * sqrt((n * sbb - sb * sb)::DOUBLE)), 6)
       |       END AS rho6
       |FROM m""".stripMargin

  /** Single-feature decision stump — the strongest threshold rule
    * "feature ≤ t → predict positive-rate-left" by exact weighted Gini
    * impurity. The 1-D special case of a tree split is the standard probe
    * for "does this feature carry label signal at ALL, and where is the
    * cut?" (feature triage before any model training, leakage hunting when
    * a split looks too good).
    *
    * For every candidate threshold t (= each distinct feature value, split
    * x ≤ t | x > t):
    *   giniw_micro(t) = (2e6·posL·negL div nL + 2e6·posR·negR div nR) div N
    * in exact micro units on DECIMAL(38,0) (pos·neg ~ n² passes BIGINT at
    * ~3e9 rows; the wide carrier holds to 1e16). The winner is the
    * (giniw_micro, t) minimum — deterministic tie-break on the smaller
    * threshold — via a top-1 TakeOrdered, not a global sort. Root impurity
    * ships alongside so the gain is readable.
    *
    * Scale shape: one hash aggregate to the distinct-value table, bucketed
    * below-sums (no global window), top-1. Degenerate right side (t = max
    * value) is excluded, so an empty input — or one with a single distinct
    * feature value — yields an EMPTY result (no valid split exists),
    * never a crash; [[evalReport]] consumers see the stump rows absent in
    * that case.
    */
  def decisionStump(df: DataFrame, feature: Column,
      label: Column): DataFrame = {
    val per = df.select(feature.cast("long").as("v"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("v").isNotNull)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val cum = cumBelow(per, "v", Seq("cnt", "pos"), bucketWidth = 1024L)
      .select(col("v"), (col("below_cnt") + col("cnt")).as("nl"),
        (col("below_pos") + col("pos")).as("pl"))
      .transform(Caching.persist)
    val tot = cum.agg(coalesce(max(col("nl")), lit(0L)).as("n"),
      coalesce(max(col("pl")), lit(0L)).as("p"))
    val scored = cum.crossJoin(broadcast(tot))
      .where(col("nl") < col("n")) // degenerate all-left split excluded
      .select(col("v"), col("nl"), col("pl"), col("n"), col("p"),
        (col("n") - col("nl")).as("nr"), (col("p") - col("pl")).as("pr"))
      .select(col("v"), col("nl"), col("pl"), col("nr"), col("pr"),
        col("n"), col("p"),
        expr("""((2000000 * CAST(pl AS DECIMAL(38,0)) * (nl - pl) div nl)
               | + (2000000 * CAST(pr AS DECIMAL(38,0)) * (nr - pr) div nr))
               | div n""".stripMargin).as("giniw_micro"))
    scored.orderBy(col("giniw_micro").asc, col("v").asc).limit(1)
      .select(col("v").as("threshold"), col("giniw_micro"),
        col("nl"), col("pl"), col("nr"), col("pr"),
        expr("(2000000 * CAST(p AS DECIMAL(38,0)) * (n - p) div n) div n")
          .as("root_gini_micro"))
  }

  /** DuckDB replay of [[decisionStump]] (same bucketed cums, same floor
    * micro arithmetic, same (giniw, v) top-1).
    */
  def decisionStumpOracleSql(table: String, featureExpr: String,
      labelPredSql: String): String =
    s"""WITH per AS (
       |  SELECT v, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos FROM (
       |    SELECT ($featureExpr)::BIGINT AS v,
       |           CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |    FROM $table WHERE ($featureExpr) IS NOT NULL)
       |  GROUP BY v),
       |${cumBelowSql("per", "v", Seq("cnt", "pos"), 1024L, "cum")},
       |cl AS (
       |  SELECT v, (below_cnt + cnt)::BIGINT AS nl,
       |         (below_pos + pos)::BIGINT AS pl
       |  FROM cum),
       |tot AS (SELECT coalesce(max(nl), 0)::BIGINT AS n,
       |               coalesce(max(pl), 0)::BIGINT AS p FROM cl),
       |scored AS (
       |  SELECT v, nl, pl, n - nl AS nr, p - pl AS pr, n, p,
       |         ((2000000 * pl::HUGEINT * (nl - pl) // nl)
       |          + (2000000 * (p - pl)::HUGEINT * ((n - nl) - (p - pl))
       |             // (n - nl))) // n AS giniw_micro
       |  FROM cl, tot WHERE nl < n)
       |SELECT v AS threshold, giniw_micro::BIGINT AS giniw_micro,
       |       nl, pl, nr, pr,
       |       ((2000000 * p::HUGEINT * (n - p) // n) // n)::BIGINT
       |         AS root_gini_micro
       |FROM scored ORDER BY giniw_micro ASC, v ASC LIMIT 1""".stripMargin

  /** Brier score with the Murphy (1973) decomposition — the standard
    * probability-forecast audit: given per-row predicted probabilities (in
    * micro units, 0..1e6) and binary outcomes,
    *   BS = REL − RES + UNC
    * where reliability (calibration error of the binned forecasts),
    * resolution (how far the bins' outcome rates spread from the base
    * rate), and uncertainty (base-rate variance) are computed over
    * `bins` equal-width probability bins. The one-table answer to "is the
    * quality model calibrated, and does it actually separate?" that a bare
    * AUC cannot give ([[rocAuc]] is rank-only).
    *
    * All-integer contract: every term is exact rational on DECIMAL(38,0)
    * with pinned two-step floors (per-bin floor, then the final micro
    * floor) — documented ceiling N ~ 2e8 rows per call for the N⁴ products
    * (shard-and-pool beyond; DuckDB's HUGEINT matches the carrier).
    * Empty input returns n = 0 with zero components rather than dividing.
    *
    * Scale shape: one hash aggregate to ≤ bins+1 rows, then constant-size
    * arithmetic — the cheapest possible pass.
    */
  def brierDecomposition(df: DataFrame, probMicro: Column, label: Column,
      bins: Int = 10): DataFrame = {
    // upper bound matters: bins > 1e6 floors w to 0 and Spark's `div 0`
    // yields silent nulls while the DuckDB oracle's `// 0` raises — a
    // divergence the oracle contract excludes, so reject it at the door
    require(bins >= 1 && bins <= 1000000,
      s"bins must be in [1, 1000000] (micro-unit bin width >= 1), got $bins")
    val w = 1000000L / bins
    val base = df.select(probMicro.cast("long").as("p"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("p").isNotNull)
    // the raw squared error rides the SAME per-bin aggregate (Σ(p−1e6y)²
    // is additive), so the corpus is scanned exactly once
    val perBin = base
      .groupBy(expr(s"p div $w").as("bin"))
      .agg(count(lit(1)).as("n_k"), sum(col("p")).as("sum_p"),
        sum(col("y")).as("sum_y"),
        sum(expr("CAST(p - 1000000 * y AS DECIMAL(38,0)) " +
          "* (p - 1000000 * y)")).as("sq_k"))
      .transform(Caching.persist)
    val tot = perBin.agg(
      coalesce(sum(col("n_k")), lit(0L)).as("n"),
      coalesce(sum(col("sum_y")), lit(0L)).as("sy"))
    val comps = perBin.crossJoin(broadcast(tot))
      .agg(
        // coalesce(0): zero bins (empty input) must report the documented
        // zeros, not NULLs riding max-over-nothing through the divides
        coalesce(max(col("n")), lit(0L)).as("n"),
        coalesce(max(col("sy")), lit(0L)).as("sy"),
        count(lit(1)).as("n_bins"),
        coalesce(sum(col("sq_k")), lit(0L).cast("decimal(38,0)"))
          .as("__sq"),
        // Σ_k (sum_p − 1e6·sum_y)² / n_k  — per-bin floor
        coalesce(sum(expr(
          """(CAST(sum_p - 1000000 * sum_y AS DECIMAL(38,0))
            | * (sum_p - 1000000 * sum_y)) div n_k""".stripMargin
            .replace("\n", " "))), lit(0L).cast("decimal(38,0)"))
          .as("__rel_sum"),
        // Σ_k (sum_y·N − Sy·n_k)² / n_k
        coalesce(sum(expr(
          """(CAST(sum_y * n - sy * n_k AS DECIMAL(38,0))
            | * (sum_y * n - sy * n_k)) div n_k""".stripMargin
            .replace("\n", " "))), lit(0L).cast("decimal(38,0)"))
          .as("__res_sum"))
      .select(col("n"), col("n_bins"),
        when(col("n") === 0, lit(0L))
          .otherwise(expr(
            "__sq div (CAST(n AS DECIMAL(38,0)) * 1000000)"))
          .as("brier_micro"),
        when(col("n") === 0, lit(0L))
          .otherwise(expr(
            "__rel_sum div (CAST(n AS DECIMAL(38,0)) * 1000000)"))
          .as("rel_micro"),
        when(col("n") === 0, lit(0L))
          .otherwise(expr(
            """(__res_sum * 1000000)
              | div (CAST(n AS DECIMAL(38,0)) * n * n)""".stripMargin
              .replace("\n", " "))).as("res_micro"),
        when(col("n") === 0, lit(0L))
          .otherwise(expr(
            """(CAST(sy AS DECIMAL(38,0)) * (n - sy) * 1000000)
              | div (CAST(n AS DECIMAL(38,0)) * n)""".stripMargin
              .replace("\n", " "))).as("unc_micro"))
    comps
  }

  /** DuckDB replay of [[brierDecomposition]] (same bins, same two-step
    * floors on the HUGEINT carrier).
    */
  def brierOracleSql(table: String, probMicroExpr: String,
      labelPredSql: String, bins: Int = 10): String = {
    val w = 1000000L / bins
    s"""WITH base AS (
       |  SELECT ($probMicroExpr)::BIGINT AS p,
       |         CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |  FROM $table WHERE ($probMicroExpr) IS NOT NULL),
       |per_bin AS (
       |  SELECT p // $w AS bin, count(*)::BIGINT AS n_k,
       |         sum(p)::BIGINT AS sum_p, sum(y)::BIGINT AS sum_y,
       |         sum((p - 1000000 * y)::HUGEINT * (p - 1000000 * y)) AS sq_k
       |  FROM base GROUP BY 1),
       |tot AS (SELECT coalesce(sum(n_k), 0)::BIGINT AS n,
       |               coalesce(sum(sum_y), 0)::BIGINT AS sy FROM per_bin),
       |comps AS (
       |  SELECT coalesce(max(n), 0) AS n, coalesce(max(sy), 0) AS sy,
       |         count(*)::BIGINT AS n_bins,
       |         coalesce(sum(sq_k), 0) AS sq_sum,
       |         coalesce(sum(((sum_p - 1000000 * sum_y)::HUGEINT
       |                       * (sum_p - 1000000 * sum_y)) // n_k), 0)
       |           AS rel_sum,
       |         coalesce(sum(((sum_y * n - sy * n_k)::HUGEINT
       |                       * (sum_y * n - sy * n_k)) // n_k), 0)
       |           AS res_sum
       |  FROM per_bin, tot)
       |SELECT n::BIGINT AS n, n_bins,
       |       (CASE WHEN n = 0 THEN 0
       |             ELSE sq_sum // (n::HUGEINT * 1000000) END)::BIGINT
       |         AS brier_micro,
       |       (CASE WHEN n = 0 THEN 0
       |             ELSE rel_sum // (n::HUGEINT * 1000000) END)::BIGINT
       |         AS rel_micro,
       |       (CASE WHEN n = 0 THEN 0
       |             ELSE (res_sum * 1000000)
       |                  // (n::HUGEINT * n * n) END)::BIGINT AS res_micro,
       |       (CASE WHEN n = 0 THEN 0
       |             ELSE (sy::HUGEINT * (n - sy) * 1000000)
       |                  // (n::HUGEINT * n) END)::BIGINT AS unc_micro
       |FROM comps""".stripMargin
  }

  /** CALIBRATION CURVE + ECE — the per-bin reliability table behind every
    * "is the quality model calibrated?" plot, the bin-resolved companion
    * to [[brierDecomposition]]'s single REL number: per equal-width
    * probability bin, mean forecast vs observed outcome rate and the
    * absolute gap; expected calibration error (Naeini et al. 2015) is the
    * occupancy-weighted mean gap, carried on every row so one table holds
    * curve and summary:
    *   mean_p  = Σp div n_k          rate = (1e6·Σy) div n_k
    *   gap     = |mean_p − rate|     ece  = Σ_k n_k·gap_k div n
    * All terms are non-negative integer floors (truncate == floor, no
    * sign-safe forms needed), so the table replays exactly.
    *
    * Scale shape: ONE hash aggregate to ≤ bins+1 rows, then constant-size
    * arithmetic with the 1-row total broadcast — the same cheapest-pass
    * shape as the Brier decomposition.
    */
  def calibrationCurve(df: DataFrame, probMicro: Column, label: Column,
      bins: Int = 10): DataFrame = {
    // upper bound matters: bins > 1e6 floors w to 0 and Spark's `div 0`
    // yields silent nulls while the DuckDB oracle's `// 0` raises — a
    // divergence the oracle contract excludes, so reject it at the door
    require(bins >= 1 && bins <= 1000000,
      s"bins must be in [1, 1000000] (micro-unit bin width >= 1), got $bins")
    val w = 1000000L / bins
    val perBin = df.select(probMicro.cast("long").as("p"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("p").isNotNull)
      .groupBy(expr(s"p div $w").as("bin"))
      .agg(count(lit(1)).as("n_k"), sum(col("p")).as("sum_p"),
        sum(col("y")).as("sum_y"))
      .select(col("bin"), col("n_k"),
        expr("sum_p div n_k").as("mean_p_micro"),
        expr("(1000000 * sum_y) div n_k").as("rate_micro"))
      .withColumn("gap_micro", abs(col("mean_p_micro") - col("rate_micro")))
      .transform(Caching.persist)
    val ece = perBin.agg(
      when(coalesce(sum(col("n_k")), lit(0L)) === 0, lit(0L)).otherwise(
        expr("sum(n_k * gap_micro) div sum(n_k)")).as("ece_micro"))
    perBin.crossJoin(broadcast(ece))
  }

  /** DuckDB replay of [[calibrationCurve]] (same bins, same integer
    * floors, BIGINT casts so no HUGEINT leaks into the comparator).
    */
  def calibrationOracleSql(table: String, probMicroExpr: String,
      labelPredSql: String, bins: Int = 10): String = {
    val w = 1000000L / bins
    s"""WITH base AS (
       |  SELECT ($probMicroExpr)::BIGINT AS p,
       |         CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |  FROM $table WHERE ($probMicroExpr) IS NOT NULL),
       |per_bin AS (
       |  SELECT p // $w AS bin, count(*)::BIGINT AS n_k,
       |         (sum(p) // count(*))::BIGINT AS mean_p_micro,
       |         ((1000000 * sum(y)) // count(*))::BIGINT AS rate_micro
       |  FROM base GROUP BY 1),
       |g AS (
       |  SELECT bin, n_k, mean_p_micro, rate_micro,
       |         abs(mean_p_micro - rate_micro) AS gap_micro
       |  FROM per_bin),
       |e AS (
       |  SELECT CASE WHEN coalesce(sum(n_k), 0) = 0 THEN 0
       |         ELSE (sum(n_k * gap_micro) // sum(n_k)) END::BIGINT
       |           AS ece_micro
       |  FROM g)
       |SELECT g.*, e.ece_micro FROM g, e""".stripMargin
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-search combiner: two rankers score the same per-query
    * candidate lists, each candidate's fused score is
    *   rrf_micro = 1e6 div (k + rank_a) + 1e6 div (k + rank_b)
    * and the fused ranking re-sorts on it. Rank-based, so a ranker with
    * wild score scales (BM25 vs cosine) cannot drown the other — the reason
    * RRF is the default fusion in production hybrid retrieval.
    *
    * Deterministic end to end: ranks are row_number over
    * (score DESC, item ASC) and the fused order ties break on
    * (rrf_micro DESC, item ASC); all arithmetic is integer floor division.
    * Returns the top `topN` per query with both input ranks visible.
    *
    * Scale shape: every window is PARTITIONED BY the query — work per query
    * is its candidate-list length (ranker output lists are top-N by
    * construction; a query never sees the corpus), so the op distributes by
    * query key with no global window anywhere.
    */
  def rrfFuse(df: DataFrame, queryCol: String, itemCol: String,
      scoreA: Column, scoreB: Column, k: Int = 60,
      topN: Int = 10): DataFrame = {
    require(k >= 1 && topN >= 1)
    val base = df.select(col(queryCol).as("q"), col(itemCol).as("item"),
      scoreA.as("__sa"), scoreB.as("__sb"))
    def rk(s: String, out: String) = row_number().over(
      Window.partitionBy(col("q")).orderBy(col(s).desc, col("item").asc))
      .cast("long").as(out)
    val ranked = base.select(col("q"), col("item"),
        rk("__sa", "rank_a"), rk("__sb", "rank_b"))
      .withColumn("rrf_micro",
        expr(s"1000000 div ($k + rank_a) + 1000000 div ($k + rank_b)"))
    ranked
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("q"))
          .orderBy(col("rrf_micro").desc, col("item").asc)).cast("long"))
      .where(col("fused_rank") <= topN)
      .select(col("q"), col("item"), col("rank_a"), col("rank_b"),
        col("rrf_micro"), col("fused_rank"))
  }

  /** DuckDB replay of [[rrfFuse]]: `srcSql` must produce
    * (q, item, sa, sb) — one row per (query, candidate).
    */
  def rrfFuseOracleSql(srcSql: String, k: Int = 60, topN: Int = 10): String =
    s"""WITH base AS ($srcSql),
       |ranked AS (
       |  SELECT q, item,
       |         row_number() OVER (PARTITION BY q ORDER BY sa DESC, item ASC)
       |           ::BIGINT AS rank_a,
       |         row_number() OVER (PARTITION BY q ORDER BY sb DESC, item ASC)
       |           ::BIGINT AS rank_b
       |  FROM base),
       |fused AS (
       |  SELECT q, item, rank_a, rank_b,
       |         (1000000 // ($k + rank_a) + 1000000 // ($k + rank_b))::BIGINT
       |           AS rrf_micro
       |  FROM ranked)
       |SELECT q, item, rank_a, rank_b, rrf_micro, fused_rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q
       |            ORDER BY rrf_micro DESC, item ASC)::BIGINT AS fused_rank
       |  FROM fused)
       |WHERE fused_rank <= $topN""".stripMargin

  /** One-stop EVAL REPORT — the model-eval companion to
    * [[Profile.datasetCard]]: the pooled AUC/Gini, the full Brier
    * decomposition, the feature-target Spearman, and the best stump
    * threshold of a (score, label) pair as ONE (metric, value_micro)
    * BIGINT table. Each block reuses the standalone operator verbatim
    * (plan-identical subtrees share session cache with the standalone
    * gates); Spearman's 6-dp double is projected to micro by the same
    * round both engines compute.
    */
  def evalReport(df: DataFrame, score: Column, label: Column,
      bins: Int = 10): DataFrame = {
    val auc = rocAuc(df, score, label)
    val brier = brierDecomposition(df, score, label, bins)
      .select(col("brier_micro"), col("rel_micro"), col("res_micro"),
        col("unc_micro"))
    val rho = spearman(df, score, when(label, 1L).otherwise(0L))
      .select(round(col("rho6") * 1e6, 0).cast("long").as("rho_micro"))
    val stump = decisionStump(df, score, label)
      .select(col("threshold"), col("giniw_micro"))
    def rows(src: DataFrame, cols: (String, String)*): DataFrame =
      cols.map { case (m, c) =>
        src.select(lit(m).as("metric"), col(c).cast("long").as("value"))
      }.reduce(_ unionAll _)
    rows(auc, "auc_micro" -> "auc_micro", "gini_micro" -> "gini_micro",
      "n_pos" -> "n_pos", "n_neg" -> "n_neg")
      .unionAll(rows(brier, "brier_micro" -> "brier_micro",
        "rel_micro" -> "rel_micro", "res_micro" -> "res_micro",
        "unc_micro" -> "unc_micro"))
      .unionAll(rows(rho, "spearman_micro" -> "rho_micro"))
      .unionAll(rows(stump, "stump_threshold" -> "threshold",
        "stump_gini_micro" -> "giniw_micro"))
  }

  /** DuckDB replay of [[evalReport]] — the same four oracle generators
    * union-wrapped to (metric, value).
    */
  def evalReportOracleSql(table: String, scoreExpr: String,
      labelPredSql: String, bins: Int = 10): String = {
    def wrap(metric: String, valueCol: String, inner: String): String =
      s"""SELECT '$metric' AS metric, ($valueCol)::BIGINT AS value
         |FROM ($inner)""".stripMargin
    val auc = rocAucOracleSql(table, scoreExpr, labelPredSql)
    val brier = brierOracleSql(table, scoreExpr, labelPredSql, bins)
    val rho = spearmanOracleSql(table, scoreExpr,
      s"CASE WHEN $labelPredSql THEN 1 ELSE 0 END")
    val stump = decisionStumpOracleSql(table, scoreExpr, labelPredSql)
    Seq(
      wrap("auc_micro", "auc_micro", auc),
      wrap("gini_micro", "gini_micro", auc),
      wrap("n_pos", "n_pos", auc),
      wrap("n_neg", "n_neg", auc),
      wrap("brier_micro", "brier_micro", brier),
      wrap("rel_micro", "rel_micro", brier),
      wrap("res_micro", "res_micro", brier),
      wrap("unc_micro", "unc_micro", brier),
      wrap("spearman_micro", "round(rho6 * 1e6)", rho),
      wrap("stump_threshold", "threshold", stump),
      wrap("stump_gini_micro", "giniw_micro", stump),
    ).mkString("\nUNION ALL\n")
  }

  /** Needle-retrieval evaluation of the RAG index — the standard synthetic
    * eval when no human relevance labels exist (the BEIR/pseudo-query
    * recipe): take a `take`-token slice out of each probe document, issue it
    * as the query, and check whether [[Similarity.retrieveChunks]] brings
    * back a chunk of the document the needle came from. Probe ids ride an
    * `idOffset` so the retriever's own-document exclusion (doc = probe_id)
    * never fires — the source doc must WIN the ranking, not be exempted
    * from it.
    *
    * Per probe: hits_in_topk (source-doc chunks in the top k), first_rank
    * (best of them, 0 = miss), and mrr_micro = 1e6 div first_rank (0 on
    * miss) — exact integers; corpus-level recall@k / MRR are one trivial
    * rollup away and stay exact. Probes shorter than skip+take tokens are
    * excluded on BOTH engines (no needle exists to cut).
    *
    * Contract: `idOffset` must exceed the corpus's maximum doc id — a
    * probe id colliding with a REAL doc id would wrongly exempt that doc
    * from its ranking (the own-doc exclusion fires on equality). The
    * default suits the gate corpora; size it to the id domain elsewhere.
    *
    * Scale shape: inherits [[Similarity.retrieveChunks]]'s inverted-index
    * join (probes broadcast, corpus passed once) plus one per-probe
    * aggregate over ≤ k retrieval rows each.
    */
  def needleEval(docs: DataFrame, idCol: String, textCol: String,
      probePred: Column, skip: Int, take: Int, window: Int, stride: Int,
      dim: Int, k: Int, idOffset: Long = 1000000L): DataFrame = {
    require(skip >= 0 && take >= 1)
    val toks = graft.operators.TextAnalysis.tokens(col(textCol))
    val probes = docs
      .where(probePred && size(toks) >= skip + take)
      .select((col(idCol) + idOffset).as("probe_id"),
        concat_ws(" ", slice(toks, skip + 1, take)).as("__needle"))
    val ret = Similarity.retrieveChunks(
      graft.operators.TextAnalysis.chunk(docs, idCol, textCol, window, stride),
      "doc", "chunk_id", "chunk_text",
      probes, "probe_id", "__needle", dim, k)
    ret.groupBy(col("probe_id"))
      .agg(
        sum(when(col("doc") === col("probe_id") - idOffset, 1L)
          .otherwise(0L)).as("hits_in_topk"),
        coalesce(min(when(col("doc") === col("probe_id") - idOffset,
          col("rank"))), lit(0L)).as("first_rank"))
      .withColumn("mrr_micro",
        when(col("first_rank") === 0, lit(0L))
          .otherwise(expr("1000000 div first_rank")))
  }

  /** DuckDB replay of [[needleEval]]: wraps
    * [[Similarity.retrieveOracleSql]] with the needle probe override and
    * the per-probe metric rollup.
    */
  def needleEvalOracleSql(probePred: String, skip: Int, take: Int,
      window: Int, stride: Int, dim: Int, k: Int,
      idOffset: Long = 1000000L, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    // ptoks directly as the token-list slice: the Spark side space-joins
    // the needle and retrieveChunks re-tokenizes it, which round-trips to
    // exactly this list (tokens are lowercase, non-empty, space-free)
    val probesSql =
      s"""SELECT doc + $idOffset AS probe_id,
         |       toks[${skip + 1}:${skip + take}] AS ptoks
         |  FROM t WHERE ($probePred) AND len(toks) >= ${skip + take}""".stripMargin
    val retrieval = Similarity.retrieveOracleSql(window, stride, dim, k,
      probePred, table, idCol, textCol, probesOverrideSql = probesSql)
    s"""SELECT probe_id,
       |       coalesce(sum(CASE WHEN doc = probe_id - $idOffset
       |                         THEN 1 ELSE 0 END), 0)::BIGINT AS hits_in_topk,
       |       coalesce(min(CASE WHEN doc = probe_id - $idOffset
       |                         THEN rank END), 0)::BIGINT AS first_rank,
       |       (CASE WHEN min(CASE WHEN doc = probe_id - $idOffset
       |                           THEN rank END) IS NULL THEN 0
       |             ELSE 1000000 // min(CASE WHEN doc = probe_id - $idOffset
       |                                      THEN rank END) END)::BIGINT
       |         AS mrr_micro
       |FROM ($retrieval) GROUP BY probe_id""".stripMargin
  }

  /** SPLIT-CONFORMAL calibration (Vovk; the Lei et al. 2018 split
    * recipe) — distribution-free prediction intervals from a held-out
    * calibration set, the statistically-honest way to attach "the true
    * value lands within ±q̂ of the prediction with probability ≥ 1−α" to
    * ANY point predictor. Pipeline use: per-stratum uncertainty bands on
    * quality/score regressors before thresholding them into keep/drop
    * decisions.
    *
    * Deterministic, integer-exact protocol per group:
    *   - md5 split of rows into train (buckets 0-5), calibration (6-7),
    *     test (8-9) — content-stable, replayable anywhere
    *   - predictor: the train split's floor-mean in cents (pred = Σc div n
    *     — an integer; any real model slots in here, the conformal
    *     wrapper never looks inside it)
    *   - nonconformity: |c − pred| in cents (BIGINT)
    *   - q̂: the ceil((n_cal+1)(1−α))-th smallest calibration
    *     nonconformity (the finite-sample-valid rank, clamped to n_cal),
    *     located by explicit row_number — no quantile builtin
    *   - coverage: test rows with |c − pred| ≤ q̂
    * Returns per group: (grp, pred_cents, n_cal, qhat_cents, n_test,
    * n_covered) — n_covered/n_test ≥ 1−α up to finite-sample slack.
    *
    * Scale shape: one pass to split+aggregate the train means (broadcast
    * back — one row per group), one per-group calibration window bounded
    * by group size, one counting aggregate over test. No global sort, no
    * driver state.
    */
  def conformal(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, alphaPct: Int = 10): DataFrame = {
    require(alphaPct > 0 && alphaPct < 100)
    val base = df.select(col(groupCol).as("grp"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long").as("c"),
        pmod(Dedup.portableHash(concat(lit("cf:"),
          col(idCol).cast("string"))), lit(10L)).as("b"))
      .where(col("c").isNotNull)
      .transform(Caching.persist)
    // sign·abs form: Spark's div truncates toward zero, DuckDB's //
    // floors — identical only for non-negative operands
    val pred = base.where(col("b") <= 5).groupBy("grp")
      .agg(expr("CASE WHEN sum(c) < 0 THEN -((-sum(c)) div count(1))" +
        " ELSE sum(c) div count(1) END").as("pred_cents"))
    val cal = base.where(col("b").between(6, 7)).join(broadcast(pred), "grp")
      .select(col("grp"), abs(col("c") - col("pred_cents")).as("nc"))
    val ranked = cal
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy("nc")))
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy("grp")))
    val qhat = ranked
      .withColumn("r_q", least(col("n_cal"), expr(
        s"((n_cal + 1) * ${100 - alphaPct} + 99) div 100")))
      .groupBy("grp")
      .agg(first(col("n_cal")).as("n_cal"),
        min(when(col("rn") === col("r_q"), col("nc"))).as("qhat_cents"))
    base.where(col("b") >= 8).join(broadcast(pred), "grp")
      .join(broadcast(qhat), "grp")
      .groupBy("grp")
      .agg(first(col("pred_cents")).as("pred_cents"),
        first(col("n_cal")).as("n_cal"),
        first(col("qhat_cents")).as("qhat_cents"),
        count(lit(1)).as("n_test"),
        count(when(abs(col("c") - col("pred_cents")) <= col("qhat_cents"),
          lit(1))).as("n_covered"))
  }

  /** DuckDB SQL replaying [[conformal]] value-for-value (same md5 split,
    * same floor-mean predictor, same explicit conformal rank).
    */
  def conformalOracleSql(table: String, groupExpr: String, idExpr: String,
      valueExpr: String, alphaPct: Int = 10): String =
    s"""WITH base AS (
       |  SELECT $groupExpr AS grp,
       |         (($valueExpr)::DECIMAL(18,2) * 100)::BIGINT AS c,
       |         ((('0x' || substr(md5('cf:' || ($idExpr)::VARCHAR), 1, 15))::BIGINT
       |           % 10) + 10) % 10 AS b
       |  FROM $table WHERE ($valueExpr) IS NOT NULL),
       |pred AS (
       |  SELECT grp, CASE WHEN sum(c) < 0 THEN -((-sum(c)) // count(*))
       |                   ELSE sum(c) // count(*) END AS pred_cents
       |  FROM base WHERE b <= 5 GROUP BY grp),
       |cal AS (
       |  SELECT base.grp, abs(c - pred_cents) AS nc
       |  FROM base JOIN pred USING (grp) WHERE b BETWEEN 6 AND 7),
       |ranked AS (
       |  SELECT grp, nc,
       |         row_number() OVER (PARTITION BY grp ORDER BY nc) AS rn,
       |         count(*) OVER (PARTITION BY grp) AS n_cal
       |  FROM cal),
       |qhat AS (
       |  SELECT grp, any_value(n_cal) AS n_cal,
       |         min(CASE WHEN rn = least(n_cal,
       |               ((n_cal + 1) * ${100 - alphaPct} + 99) // 100)
       |             THEN nc END) AS qhat_cents
       |  FROM ranked GROUP BY grp)
       |SELECT base.grp, any_value(pred_cents)::BIGINT AS pred_cents,
       |       any_value(n_cal)::BIGINT AS n_cal,
       |       any_value(qhat_cents)::BIGINT AS qhat_cents,
       |       count(*)::BIGINT AS n_test,
       |       count(CASE WHEN abs(c - pred_cents) <= qhat_cents THEN 1 END)
       |         ::BIGINT AS n_covered
       |FROM base JOIN pred USING (grp) JOIN qhat USING (grp)
       |WHERE b >= 8
       |GROUP BY base.grp""".stripMargin

  /** PRECISION-RECALL / ROC curve POINTS at every distinct score
    * threshold — the curve behind [[rocAuc]]'s and [[averagePrecision]]'s
    * single numbers: at threshold s ("positive if score ≥ s"),
    *   tp = positives at ≥ s     fp = negatives at ≥ s
    *   precision = tp·1e6 div (tp+fp)   recall = tp·1e6 div n_pos
    *   fpr = fp·1e6 div n_neg
    * All exact integer floors, so the whole table replays. One row per
    * distinct score — the operating-point table a threshold-picking
    * pipeline consumes directly.
    *
    * Scale shape: per-score counts (one hash aggregate), the TWO-LEVEL
    * bucketed prefix sum ([[cumBelow]] — never a global window), the
    * 1-row total broadcast. No per-row pass at all — strictly cheaper
    * than AP.
    */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    val rows = df.select(score.cast("long").as("s"),
        when(label, 1L).otherwise(0L).as("y"))
      .where(col("s").isNotNull)
      .transform(Caching.persist)
    val per = rows.groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("cnt"))
    val cum = cumBelow(per, "s", Seq("pos", "cnt"), bucketWidth = 1024L)
    val tot = rows.agg(sum(col("y")).as("n_pos"), count(lit(1)).as("n"))
    cum.crossJoin(broadcast(tot))
      .withColumn("tp", col("n_pos") - col("below_pos"))
      .withColumn("ge_cnt", col("n") - col("below_cnt"))
      .withColumn("fp", col("ge_cnt") - col("tp"))
      .withColumn("n_neg", col("n") - col("n_pos"))
      .select(col("s").as("threshold"), col("tp"), col("fp"),
        when(col("ge_cnt") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div ge_cnt"))
          .as("precision_micro"),
        when(col("n_pos") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div n_pos")).as("recall_micro"),
        when(col("n_neg") === 0, lit(0L))
          .otherwise(expr("(fp * 1000000) div n_neg")).as("fpr_micro"))
  }

  /** DuckDB replay of [[prCurve]] (same bucketed below-sums, same
    * floors).
    */
  def prCurveOracleSql(table: String, scoreExpr: String,
      labelPredSql: String): String =
    s"""WITH rows_t AS (
       |  SELECT ($scoreExpr)::BIGINT AS s,
       |         CASE WHEN $labelPredSql THEN 1 ELSE 0 END AS y
       |  FROM $table WHERE ($scoreExpr) IS NOT NULL),
       |per AS (
       |  SELECT s, sum(y)::BIGINT AS pos, count(*)::BIGINT AS cnt
       |  FROM rows_t GROUP BY s),
       |${cumBelowSql("per", "s", Seq("pos", "cnt"), 1024L, "cum")},
       |tot AS (SELECT coalesce(sum(y), 0)::BIGINT AS n_pos,
       |               count(*)::BIGINT AS n FROM rows_t),
       |pts AS (
       |  SELECT c.s AS threshold,
       |         t.n_pos - c.below_pos AS tp,
       |         (t.n - c.below_cnt) - (t.n_pos - c.below_pos) AS fp,
       |         t.n - c.below_cnt AS ge_cnt,
       |         t.n_pos AS n_pos, t.n - t.n_pos AS n_neg
       |  FROM cum c CROSS JOIN tot t)
       |SELECT threshold, tp, fp,
       |       CASE WHEN ge_cnt = 0 THEN 0
       |            ELSE (tp * 1000000) // ge_cnt END AS precision_micro,
       |       CASE WHEN n_pos = 0 THEN 0
       |            ELSE (tp * 1000000) // n_pos END AS recall_micro,
       |       CASE WHEN n_neg = 0 THEN 0
       |            ELSE (fp * 1000000) // n_neg END AS fpr_micro
       |FROM pts""".stripMargin

  /** Per-class PRECISION / RECALL / F1 from a (gold, pred) frame — the
    * classifier datasheet next to [[graft.operators.Profile
    * .agreementKappa]]'s single agreement score: which classes does the
    * model actually get right, and where does the confusion go? One row
    * per class (union of gold and pred label sets):
    *
    *   precision = tp·1e6 div n_pred      (0 when the class is never
    *   recall    = tp·1e6 div n_gold       predicted / never gold)
    *   f1        = 2e6·tp div (n_gold + n_pred)   — the EXACT count form
    *               2tp/(2tp+fp+fn), no compounding of rounded p and r
    *
    * All integer floors on exact counts, so every value replays.
    *
    * Scale shape: one hash aggregate to the (gold, pred) confusion cells
    * (≤ classes² rows — vocabulary-sized), then class-level arithmetic
    * on that aggregate; the corpus is scanned once.
    */
  def classificationReport(df: DataFrame, goldCol: String,
      predCol: String): DataFrame = {
    val base = df.select(col(goldCol).cast("string").as("g"),
        col(predCol).cast("string").as("p"))
      .where(col("g").isNotNull && col("p").isNotNull)
    val cells = Caching.persist(
      base.groupBy(col("g"), col("p")).agg(count(lit(1)).as("n")))
    val goldTot = cells.groupBy(col("g").as("cls"))
      .agg(sum(col("n")).as("n_gold"))
    val predTot = cells.groupBy(col("p").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    val tp = cells.where(col("g") === col("p"))
      .select(col("g").as("cls"), col("n").as("tp"))
    goldTot.join(predTot, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("n_gold"), col("n_pred"), col("tp"),
        when(col("n_pred") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div n_pred"))
          .as("precision_micro"),
        when(col("n_gold") === 0, lit(0L))
          .otherwise(expr("(tp * 1000000) div n_gold"))
          .as("recall_micro"),
        when(col("n_gold") + col("n_pred") === 0, lit(0L))
          .otherwise(expr("(2000000 * tp) div (n_gold + n_pred)"))
          .as("f1_micro"))
  }

  /** DuckDB replay of [[classificationReport]]; `predCtes` must define a
    * CTE `p` with columns (gold, pred) — e.g. [[graft.operators
    * .TextAnalysis.langIdPredCtes]].
    */
  def classificationReportOracleSql(predCtes: String): String =
    s"""WITH $predCtes,
       |base AS (SELECT gold::VARCHAR AS g, pred::VARCHAR AS pr FROM p
       |         WHERE gold IS NOT NULL AND pred IS NOT NULL),
       |cells AS (SELECT g, pr, count(*)::BIGINT AS n FROM base GROUP BY 1, 2),
       |gt AS (SELECT g AS cls, sum(n)::BIGINT AS n_gold FROM cells GROUP BY 1),
       |pt AS (SELECT pr AS cls, sum(n)::BIGINT AS n_pred FROM cells GROUP BY 1),
       |tp AS (SELECT g AS cls, n AS tp FROM cells WHERE g = pr),
       |j AS (
       |  SELECT cls, coalesce(n_gold, 0) AS n_gold,
       |         coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp
       |  FROM gt FULL JOIN pt USING (cls) LEFT JOIN tp USING (cls))
       |SELECT cls, n_gold, n_pred, tp,
       |       CASE WHEN n_pred = 0 THEN 0
       |            ELSE (tp * 1000000) // n_pred END AS precision_micro,
       |       CASE WHEN n_gold = 0 THEN 0
       |            ELSE (tp * 1000000) // n_gold END AS recall_micro,
       |       CASE WHEN n_gold + n_pred = 0 THEN 0
       |            ELSE (2000000 * tp) // (n_gold + n_pred) END AS f1_micro
       |FROM j""".stripMargin

  /** Micro-unit NDCG@k rank weights `round(1e6 / log2(i+1))` for ranks
    * 1..k, computed ONCE on the JVM and inlined as integer literals into
    * both the Spark plan and the oracle SQL — the [[Similarity
    * .portablePlaneSigns]] trick applied to the one transcendental NDCG
    * needs, so the whole metric stays integer-exact on both engines.
    */
  def ndcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))

  /** NDCG@k per group — THE graded-relevance ranking metric (Järvelin &
    * Kekäläinen 2002) next to the binary-relevance [[rocAuc]]/
    * [[averagePrecision]]: does the ranker put the HIGH-relevance items
    * first, with position discounted by the pinned [[ndcgWeights]]?
    *   dcg_micro  = Σ_{rank i ≤ k by (score desc, id)} rel_i · w_i
    *   idcg_micro = the same sum under the ideal (rel desc, id) order
    *   ndcg_micro = (dcg·1e6) div idcg   (0 when idcg = 0)
    * `rel` must be a non-negative integer grade. Ties pin on ascending
    * id in BOTH orders, so every value is a pure function of the data.
    *
    * Scale shape: one shuffle on the group key, two in-partition sorts
    * (real rank + ideal rank ride the same exchange), one hash aggregate
    * — no global window, no driver state; groups stream independently.
    */
  def ndcgAtK(df: DataFrame, groupCol: String, idCol: String,
      rel: Column, score: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 10000)
    val w = ndcgWeights(k)
    val base = df.select(col(groupCol).cast("string").as("grp"),
        col(idCol).as("id"), rel.cast("long").as("rel"),
        score.cast("long").as("score"))
      .where(col("rel").isNotNull && col("score").isNotNull)
    val byScore = Window.partitionBy(col("grp"))
      .orderBy(col("score").desc, col("id"))
    val byRel = Window.partitionBy(col("grp"))
      .orderBy(col("rel").desc, col("id"))
    val warr = array(w.map(lit): _*)
    base.select(col("grp"), col("rel"),
        row_number().over(byScore).as("rn"),
        row_number().over(byRel).as("irn"))
      .groupBy(col("grp"))
      .agg(
        sum(when(col("rn") <= k,
          col("rel") * element_at(warr, col("rn"))).otherwise(0L))
          .as("dcg_micro"),
        sum(when(col("irn") <= k,
          col("rel") * element_at(warr, col("irn"))).otherwise(0L))
          .as("idcg_micro"))
      .select(col("grp"), col("dcg_micro"), col("idcg_micro"),
        when(col("idcg_micro") === 0, lit(0L)).otherwise(
          expr("cast((cast(dcg_micro as decimal(38,0)) * 1000000)" +
            " div idcg_micro as bigint)")).as("ndcg_micro"))
  }

  /** DuckDB replay of [[ndcgAtK]] — identical inlined weight literals
    * (same JVM `ndcgWeights` call builds this string), same tie pins,
    * same floor division.
    */
  def ndcgOracleSql(table: String, groupExpr: String, idExpr: String,
      relExpr: String, scoreExpr: String, k: Int): String = {
    val values = ndcgWeights(k).zipWithIndex
      .map { case (wt, i) => s"(${i + 1}, ${wt})" }.mkString(", ")
    s"""WITH base AS (
       |  SELECT ($groupExpr)::VARCHAR AS grp, $idExpr AS id,
       |         ($relExpr)::BIGINT AS rel, ($scoreExpr)::BIGINT AS score
       |  FROM $table
       |  WHERE ($relExpr) IS NOT NULL AND ($scoreExpr) IS NOT NULL),
       |w(rn, wt) AS (VALUES $values),
       |ranked AS (
       |  SELECT grp, rel,
       |         row_number() OVER (PARTITION BY grp
       |                            ORDER BY score DESC, id) AS rn,
       |         row_number() OVER (PARTITION BY grp
       |                            ORDER BY rel DESC, id) AS irn
       |  FROM base),
       |agg AS (
       |  SELECT grp,
       |         sum(CASE WHEN r.rn <= $k THEN rel * w1.wt
       |             ELSE 0 END)::BIGINT AS dcg_micro,
       |         sum(CASE WHEN r.irn <= $k THEN rel * w2.wt
       |             ELSE 0 END)::BIGINT AS idcg_micro
       |  FROM ranked r
       |  LEFT JOIN w w1 ON w1.rn = r.rn
       |  LEFT JOIN w w2 ON w2.rn = r.irn
       |  GROUP BY grp)
       |SELECT grp, dcg_micro, idcg_micro,
       |       CASE WHEN idcg_micro = 0 THEN 0
       |            ELSE ((dcg_micro::HUGEINT * 1000000) // idcg_micro)::BIGINT
       |       END AS ndcg_micro
       |FROM agg""".stripMargin
  }

  /** Isotonic (PAV) probability calibration — the non-parametric
    * companion to temperature scaling and the per-bin reliability curve:
    * fit the best NON-DECREASING map from score buckets to label
    * frequency (Zadrozny & Elkan 2002; sklearn's
    * `IsotonicRegression`-based `CalibratedClassifierCV`). Computed by
    * the exact minimax identity — for occupied buckets b_1 < … < b_B,
    *   iso_i = max_{j ≤ i} min_{k ≥ i} mean(labels in buckets j..k)
    * — instead of the sequential pool-adjacent-violators sweep, so the
    * whole fit is joins + aggregates over the BUCKET table: B²/2 span
    * pairs, B³/6 triple rows, never a corpus-sized loop or window. Keep
    * B ≲ 256 (`bucketWidth` sizes it) — the bucket table is a model, and
    * the cube is the price of a windowless exact fit. Means are exact
    * micro floors ((ΣS)·1e6 div (ΣC)); the minimax over floored means is
    * engine-portable and within one micro of the real-valued fit.
    * Returns per occupied bucket: (bucket, n, mean_micro, iso_micro) —
    * iso_micro is the calibrated probability; monotonicity is
    * spec-pinned. Scores are bucketed by `score div bucketWidth`
    * (non-negative scores assumed — the usual micro-unit carrier).
    */
  def isotonicCalibrate(df: DataFrame, score: Column, label: Column,
      bucketWidth: Long = 1L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be positive")
    val base = df.select(score.cast("long").as("score"),
        label.cast("boolean").cast("long").as("y"))
      .where(col("score").isNotNull && col("y").isNotNull)
    val bt = Caching.persist(base
      .groupBy(expr(s"score div $bucketWidth").as("b"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s")))
    val spans = bt.select(col("b").as("j"))
      .join(bt.select(col("b").as("k")), col("j") <= col("k"))
      .join(bt.select(col("b").as("m"), col("n"), col("s")),
        col("m") >= col("j") && col("m") <= col("k"))
      .groupBy(col("j"), col("k"))
      .agg(expr("CAST(sum(s) * 1000000 DIV sum(n) AS BIGINT)")
        .as("mean_micro"))
    val iso = spans
      .join(bt.select(col("b").as("i")),
        col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("mean_micro")).as("inner"))
      .groupBy(col("i")).agg(max(col("inner")).as("iso_micro"))
    bt.join(iso, col("b") === col("i"))
      .select(col("b").as("bucket"), col("n"),
        expr("CAST(s * 1000000 DIV n AS BIGINT)").as("mean_micro"),
        col("iso_micro"))
  }

  /** DuckDB replay of [[isotonicCalibrate]] (same bucket floor, same
    * minimax over exact micro-floored span means).
    */
  def isotonicOracleSql(table: String, scoreExpr: String,
      labelExpr: String, bucketWidth: Long = 1L): String =
    s"""WITH base AS (
       |  SELECT ($scoreExpr)::BIGINT AS score,
       |         ($labelExpr)::BOOLEAN::BIGINT AS y
       |  FROM $table
       |  WHERE ($scoreExpr) IS NOT NULL AND ($labelExpr) IS NOT NULL),
       |bt AS MATERIALIZED (
       |  SELECT score // $bucketWidth AS b, count(*)::BIGINT AS n,
       |         sum(y)::BIGINT AS s
       |  FROM base GROUP BY 1),
       |spans AS MATERIALIZED (
       |  SELECT j.b AS j, k.b AS k,
       |         (sum(m.s) * 1000000 // sum(m.n))::BIGINT AS mean_micro
       |  FROM bt j
       |  JOIN bt k ON j.b <= k.b
       |  JOIN bt m ON m.b >= j.b AND m.b <= k.b
       |  GROUP BY 1, 2),
       |iso AS (
       |  SELECT i, max(inner_m)::BIGINT AS iso_micro FROM (
       |    SELECT i.b AS i, sp.j, min(sp.mean_micro) AS inner_m
       |    FROM spans sp JOIN bt i ON sp.j <= i.b AND sp.k >= i.b
       |    GROUP BY 1, 2)
       |  GROUP BY i)
       |SELECT bt.b AS bucket, bt.n,
       |       (bt.s * 1000000 // bt.n)::BIGINT AS mean_micro,
       |       iso.iso_micro
       |FROM bt JOIN iso ON iso.i = bt.b""".stripMargin

  /** Fixed-point scale for [[bradleyTerry]] strengths (1.0 == 1e6). */
  val BtScale = 1000000L

  /** Driver-side item cap for [[bradleyTerry]]: strengths live as a
    * per-round driver map and the BIGINT carrier doc assumes ≤ ~1e6 items
    * — enforced so a corpus-sized item column fails with a message, not a
    * driver OOM.
    */
  val MaxBtItems = 1000000

  /** Bradley–Terry preference-strength fit (Bradley & Terry 1952; the
    * model behind Chatbot-Arena-style Elo boards and RLHF preference-data
    * analysis): given pairwise outcomes (winner, loser), estimate a
    * positive strength per item such that P(i beats j) = p_i/(p_i+p_j),
    * via `iters` rounds of the MM algorithm (Hunter 2004):
    * p_i ← W_i / Σ_j n_ij/(p_i+p_j), then rescale to mean 1. All
    * arithmetic is BIGINT on the [[BtScale]] carrier — each round is a
    * per-edge integer division summed per item, so the fit is bit-stable
    * in any partition order and replays exactly in DuckDB
    * ([[bradleyTerryOracleSql]]). Items with zero wins (MLE diverges to 0)
    * and post-normalization underflows clamp to 1 micro-unit — the
    * documented floor, applied identically in both engines (including a
    * zero-floored denominator, which both engines clamp to 1 before
    * dividing). Carrier bounds: games-per-pair and item count ≤ ~1e6 keep
    * every product under 2^63; the item bound is enforced
    * ([[MaxBtItems]]) because the strength map is driver-side state.
    *
    * Scale shape: games aggregate once to an (i,j,n) edge table — the
    * model input is pair-count-sized, not game-count-sized — then each MM
    * round is two hash joins of the edge table against the ITEM-sized
    * strength table + one aggregate. Strengths live as a driver-side map
    * re-broadcast per round (the BPE-loop / logisticTrain posture: the
    * model is collected, the data never is) — items are models, domains,
    * or sources by construction, so the per-round collect is model-sized;
    * the lazy-lineage/checkpoint question disappears because each round's
    * plan starts from a literal local table. The final rank window is
    * global but runs on the item table — a model, not data. Un-partitioned
    * window bound: the driver-local strength table, one row per item, at
    * most [[MaxBtItems]] rows (enforced before the first round). Returns
    * (item, strength_u, rank).
    */
  def bradleyTerry(games: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 8): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val S = BtScale
    val g = games.select(col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .where(col("w").isNotNull && col("l").isNotNull &&
        col("w") =!= col("l"))
    val dir = Caching.persist(
      g.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n")))
    val edges = Caching.persist(
      dir.select(col("w").as("i"), col("l").as("j"), col("n"))
        .unionByName(dir.select(col("l").as("i"), col("w").as("j"),
          col("n")))
        .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n")))
    val items = edges.select(col("i").as("item")).distinct()
    val wins = Caching.persist(
      items.join(dir.groupBy(col("w").as("item"))
          .agg(sum(col("n")).as("wraw")), Seq("item"), "left")
        .select(col("item"), coalesce(col("wraw"), lit(0L)).as("wins")))
    val spark = games.sparkSession
    import spark.implicits._
    // model-sized state: (item, wins, strength) collected once, iterated
    // driver-side-broadcast per round — each round plans a flat local
    // table instead of growing lineage or paying a checkpoint. The item
    // domain must actually BE model-sized (the carrier-bound doc above):
    // fail fast instead of letting a corpus-sized item column OOM the
    // driver inside the collect
    val winsRows = {
      val capped = wins.limit(MaxBtItems + 1).collect()
      require(capped.length <= MaxBtItems,
        s"bradleyTerry saw more than $MaxBtItems distinct items — the " +
          "strength table is driver-side state and the BIGINT carrier " +
          "bound assumes a model-sized item domain (models/domains/" +
          "sources); aggregate the item column first")
      capped
    }
    var p: Map[String, Long] =
      winsRows.map(r => r.getString(0) -> S).toMap
    val winsMap: Map[String, Long] =
      winsRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    for (_ <- 1 to iters if winsMap.nonEmpty) {
      val pDf = broadcast(p.toSeq.toDF("item", "p"))
      val denom = edges
        .join(pDf.select(col("item").as("i"), col("p").as("pi")), Seq("i"))
        .join(pDf.select(col("item").as("j"), col("p").as("pj")), Seq("j"))
        .groupBy(col("i").as("item"))
        .agg(sum(expr(s"(n * $S * $S) DIV (pi + pj)")).as("denom"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // denom can floor to 0 near the carrier bound (every per-edge term
      // (n·S·S) DIV (pi+pj) truncates to 0 once pi+pj > n·S·S, e.g. 1e6
      // skewed items): clamp to 1 so the update degrades to the documented
      // micro-floor instead of throwing; the oracle applies the identical
      // greatest(denom, 1)
      val raw = winsMap.map { case (item, w) =>
        item -> math.max(w * S * S / math.max(denom(item), 1L), 1L) }
      val mean = math.max(raw.values.sum / raw.size, 1L)
      p = raw.map { case (item, v) => item -> math.max(v * S / mean, 1L) }
    }
    p.toSeq.toDF("item", "strength_u")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("strength_u").desc, col("item"))).cast("long"))
  }

  /** DuckDB SQL replaying [[bradleyTerry]] value-for-value: one chained
    * CTE pair (denominator, clamped-normalized update) per MM round over
    * the same BIGINT carrier. `gamesCte` must be a CTE fragment defining
    * `games(w, l)` — winner/loser as VARCHAR, already non-null and
    * w <> l (mirror the caller's derivation).
    */
  def bradleyTerryOracleSql(gamesCte: String, iters: Int = 8): String = {
    val S = BtScale
    val iterCtes = (1 to iters).map { t =>
      val prev = if (t == 1) "p0" else s"p${t - 1}"
      // MATERIALIZED: each round references the previous strength CTE
      // twice (p_i and p_j) and the normalizer re-reads r$t — default
      // CTE inlining would re-expand the whole chain per reference
      // (exponential in iters; same fix as pcaPowerOracleSql)
      s"""d$t AS MATERIALIZED (
         |  SELECT e.i AS item,
         |         sum((e.n * $S * $S) // (pi.p + pj.p))::BIGINT AS denom
         |  FROM edges e
         |  JOIN $prev pi ON pi.item = e.i
         |  JOIN $prev pj ON pj.item = e.j
         |  GROUP BY e.i),
         |r$t AS MATERIALIZED (
         |  SELECT w.item,
         |         greatest((w.wins * $S * $S) // greatest(d.denom, 1),
         |                  1)::BIGINT AS p
         |  FROM wins w JOIN d$t d USING (item)),
         |p$t AS MATERIALIZED (
         |  SELECT item,
         |         greatest((p * $S) // (SELECT sum(p) // count(*) FROM r$t),
         |                  1)::BIGINT AS p
         |  FROM r$t)"""
    }.mkString(",\n")
    s"""WITH $gamesCte,
       |dir AS (SELECT w, l, count(*)::BIGINT AS n FROM games GROUP BY 1, 2),
       |edges AS (
       |  SELECT i, j, sum(n)::BIGINT AS n FROM (
       |    SELECT w AS i, l AS j, n FROM dir
       |    UNION ALL SELECT l AS i, w AS j, n FROM dir)
       |  GROUP BY 1, 2),
       |items AS (SELECT DISTINCT i AS item FROM edges),
       |wins AS (
       |  SELECT it.item, coalesce(sum(d.n), 0)::BIGINT AS wins
       |  FROM items it LEFT JOIN dir d ON d.w = it.item GROUP BY 1),
       |p0 AS (SELECT item, $S::BIGINT AS p FROM items),
       |$iterCtes
       |SELECT item, p AS strength_u,
       |       row_number() OVER (ORDER BY p DESC, item)::BIGINT AS rank
       |FROM p$iters""".stripMargin
  }
}
