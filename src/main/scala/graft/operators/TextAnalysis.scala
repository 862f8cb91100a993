package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, n-gram shingling, token counting, quality scoring,
  * document fingerprinting, and a lightweight n-gram/stopword language-ID
  * heuristic.
  *
  * Everything here is built from `org.apache.spark.sql.functions` (codegen'd
  * higher-order functions — no UDFs), so filters/projections around these
  * columns stay inside whole-stage codegen and scale linearly with
  * executors. These are north-star additions (SURVEY.md §2c) — the reference
  * itself contains no text operators.
  */
object TextAnalysis {

  /** Whitespace tokens of lowercased text; empty array for blank text.
    * Empty segments are filtered AFTER the split rather than trimmed before
    * it: Spark's `trim` strips only space characters, so text bounded by
    * tabs/newlines (docs ending in "\n" are the common real-corpus case)
    * would otherwise emit phantom "" tokens into every downstream consumer
    * (token counts, tf-idf vocabulary, n-grams, BPE). The DuckDB oracles
    * apply the same `list_filter(..., t -> t <> '')`.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Word n-grams ("shingles") as space-joined strings; empty when fewer
    * than n tokens. Guarded so `sequence` never sees a negative bound.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))

  /** Character n-grams (byte-level dedup robustness — catches
    * token-boundary edits word shingles miss). Pass a plain column (or
    * materialize any derived expression in its own projection first): the
    * lambda references `text` once per character, so an inlined expression
    * would be recomputed O(len) times (see Dedup.shingleTable).
    */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token count: runs of letters, runs of digits, or single
    * non-alphanumeric symbols (the pre-tokenization split most BPE vocabs
    * assume). Pattern is RE2/Java-regex compatible for oracle parity.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    val p = length(regexp_replace(text, "[a-zA-Z0-9\\s]", ""))
    when(n === 0, lit(0.0)).otherwise(p.cast("double") / n.cast("double"))
  }

  /** English-ish stopwords present in the corpus domain; used by quality
    * scoring (a real pipeline would plug corpus-appropriate lists).
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for")

  /** Fraction of tokens that are stopwords (0 for empty docs). */
  def stopwordRatio(toks: Column): Column = {
    val sw = array(stopwords.map(lit): _*)
    val hits = size(filter(toks, t => array_contains(sw, t)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** Heuristic quality score in [0,1]: rewards mid-length docs, light
    * punctuation, and a moderate stopword rate. All-rational arithmetic →
    * bit-identical across engines for oracle checking.
    *
    * Null text scores like empty text (0.3, the punctuation-penalty floor),
    * NOT 0.7: without the coalesce each null sub-expression vanishes inside
    * `least(null, 1.0)` (least skips nulls), silently awarding null docs the
    * MAXIMAL length and stopword sub-scores — a corpus with null text cells
    * would rank its empty docs above most real ones in quality filtering.
    */
  def qualityScore(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val toks = tokens(t)
    val lenScore = least(length(t).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(t) * 4, lit(1.0))
    val swScore = least(stopwordRatio(toks) * 5, lit(1.0))
    (lenScore * 0.4) + (punctPenalty * 0.3) + (swScore * 0.3)
  }

  /** DuckDB expression replaying [[tokens]]`(textCol)` — THE shared
    * tokenizer replay (lowercase, whitespace split, phantom-empty filter,
    * blank text → []). Every oracle that tokenizes goes through this one
    * definition, so the Spark tokenizer and its replay cannot drift apart.
    */
  def toksSql(textCol: String): String =
    s"CASE WHEN trim($textCol) = '' THEN []::VARCHAR[] " +
      s"ELSE list_filter(string_split_regex(lower($textCol), '\\s+'), t -> t <> '') END"

  /** DuckDB expression replaying [[qualityScore]]`(textCol)` value-for-value
    * — ONE generator for the oracle SQL instead of hand-inlined copies (a
    * missed copy on a formula change surfaces only as a gate-time hash
    * mismatch). Includes the null-text coalesce, which the inlined copies
    * historically omitted: DuckDB's `least` also skips NULLs, so a null
    * text cell would silently score 0.7 instead of Spark's 0.3.
    */
  def qualitySql(textCol: String): String = {
    val t = s"coalesce($textCol, '')"
    val toks = s"list_filter(string_split_regex(lower($t), '\\s+'), t -> t <> '')"
    val sw = stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"(least(length($t)::DOUBLE / 500.0, 1.0) * 0.4)" +
      s" + ((1.0 - least((CASE WHEN length($t) = 0 THEN 0.0" +
      s" ELSE length(regexp_replace($t, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE / length($t)::DOUBLE END) * 4, 1.0)) * 0.3)" +
      s" + (least((CASE WHEN len($toks) = 0 THEN 0.0" +
      s" ELSE len(list_filter($toks, x -> list_contains($sw, x)))::DOUBLE / len($toks)::DOUBLE END) * 5, 1.0) * 0.3)"
  }

  /** WITH-fragment (no `WITH` keyword) replaying gold = `langCol`,
    * pred = [[langId]]`(textCol)` per document; the final CTE is
    * `p(gold, pred)`. Score lists and the tie-break CASE are GENERATED
    * from [[langProfiles]] (ties toward the later code, matching Spark's
    * `array_max` over struct(score, code)) so the Spark heuristic and its
    * replay cannot drift. Shared by the `q_text_langid` confusion oracle
    * and the Cohen's-kappa agreement oracle.
    */
  def langIdPredCtes(table: String = "documents", langCol: String = "lang",
      textCol: String = "text"): String = {
    val codes = langProfiles.keys.toSeq.sorted
    val scoreDefs = codes.map { c =>
      val lst = langProfiles(c).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> list_contains([$lst], x))) AS s_$c"
    }.mkString(",\n    ")
    val greatest = codes.map(c => s"s_$c").mkString(", ")
    val cases = codes.reverse.init.map { c =>
      val others = codes.filter(_ < c).map(o => s"s_$c >= s_$o")
        .mkString(" AND ")
      s"WHEN $others THEN '$c'"
    }.mkString("\n            ")
    s"""t AS (
       |  SELECT $langCol AS gold, $textCol AS text,
       |         ${toksSql(textCol)} AS toks
       |  FROM $table),
       |s AS (
       |  SELECT gold, text,
       |    $scoreDefs
       |  FROM t),
       |p AS (
       |  SELECT gold,
       |       CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |            WHEN greatest($greatest) = 0 THEN 'und'
       |            $cases
       |            ELSE '${codes.head}' END AS pred
       |  FROM s)""".stripMargin
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — corpus-level
    * keywords as the stationary distribution of a random walk over the
    * word-adjacency graph: content words (lowercase alphabetic, ≥ 3 chars,
    * non-stopword) that ever appear ADJACENT after filtering become an
    * undirected edge; [[graft.operators.Graph.pageRank]] runs its exact
    * BIGINT micro-unit iteration over that graph; the top-K words by rank
    * are the keywords. Unlike tf-idf (frequency against the corpus) this
    * scores CENTRALITY — a word co-occurring with many well-connected
    * words ranks high even at modest frequency, the classic
    * keyword-extraction complement.
    *
    * Scale shape: one generator pass emits adjacent pairs (no self-join —
    * the pair array is built per row and exploded), one distinct bounds
    * the edge table by VOCABULARY adjacency (not corpus size), and the
    * rank iteration inherits pageRank's k-bounded-shuffles-over-the-
    * persisted-edge-table shape; the final cut is a distributed partial
    * top-k. The whole run is replayed by the chained-CTE oracle
    * ([[textRankOracleSql]]).
    */
  def textRank(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, iters: Int = 5,
      topK: Int = 50): org.apache.spark.sql.DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    val kept = filter(tokens(col(textCol)),
      t => t.rlike("^[a-z]{3,}$") && !array_contains(sw, t))
    val pairs = df.select(kept.as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .where(col("w1") =!= col("w2"))
    val half = pairs
      .select(least(col("w1"), col("w2")).as("src"),
        greatest(col("w1"), col("w2")).as("dst"))
      .distinct()
    val edges = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Graph.pageRank(edges, iters, persistResult = false)
      .select(col("node").as("word"), col("rank_u"))
      .orderBy(col("rank_u").desc, col("word"))
      .limit(topK)
  }

  /** DuckDB replay of [[textRank]]: the adjacency edge build composed
    * with [[graft.operators.Graph.pageRankOverEdgesSql]]'s iteration CTEs.
    */
  def textRankOracleSql(iters: Int = 5, topK: Int = 50,
      table: String = "documents", textCol: String = "text"): String = {
    val sw = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val edgesCte =
      s"""tr_toks AS (
         |  SELECT list_filter(${toksSql(textCol)},
         |           t -> regexp_matches(t, '^[a-z]{3,}${"$"}')
         |                AND NOT list_contains($sw, t)) AS toks
         |  FROM $table),
         |tr_pairs AS (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
         |  FROM tr_toks WHERE len(toks) >= 2),
         |tr_half AS (
         |  SELECT DISTINCT least(p.w1, p.w2) AS src,
         |         greatest(p.w1, p.w2) AS dst
         |  FROM tr_pairs WHERE p.w1 <> p.w2),
         |edges AS (
         |  SELECT src, dst FROM tr_half
         |  UNION ALL SELECT dst AS src, src AS dst FROM tr_half)""".stripMargin
    graft.operators.Graph.pageRankOverEdgesSql(edgesCte, iters,
      finalSelect = s"""SELECT node AS word, rank_u::BIGINT AS rank_u
         |FROM r$iters
         |ORDER BY rank_u DESC, word LIMIT $topK""".stripMargin)
  }

  /** Logistic-regression quality/language classifier trained by batch
    * gradient descent ENTIRELY inside the engine, in exact integer
    * arithmetic — the learned upgrade of [[naiveBayes]] (discriminative
    * rather than generative, the fastText-classifier shape) with zero
    * float nondeterminism: the activation is the HARD SIGMOID
    * σ(z) = clamp(z/4 + 1/2, 0, 1) (the piecewise-linear form quantized
    * training uses), so every forward pass, gradient, and weight update
    * is integer micro-unit arithmetic with sign-safe division — a fixed
    * round count from the zero start replays bit-for-bit in any engine.
    *
    * Model: P(label = `posLabel`) ≈ σ((w·x) / 1e6) over three micro
    * features — intercept, the positive class's marker-word hit ratio,
    * and the combined other-language marker ratio (the [[langProfiles]]
    * lists, the same signals [[langId]] votes on).
    *
    * Per round (batch GD, learning rate `lrMicro`/1e6):
    *   z_i = sdiv(Σ_j w_j·x_ij, 1e6);  s_i = clamp(sdiv(z_i, 4) + 5e5, 0, 1e6)
    *   g_j = sdiv(Σ_i (s_i − y_i·1e6)·x_ij, n)
    *   w_j ← w_j − sdiv(lrMicro·g_j, 1e12)
    * where sdiv(a, b) = sign(a)·(|a| div b) — truncation toward zero on
    * both engines.
    *
    * Scale shape: features materialize ONCE (one tokenize pass, persisted);
    * each round is ONE corpus aggregate producing three gradient numbers
    * (map-side combine, a 1-row driver collect — the BPE-trainer loop
    * posture, bounded state, never a data collect). k rounds = k scans of
    * the persisted feature table. Returns (metric, value): the trained
    * micro weights plus training-set accuracy counts.
    */
  def logisticTrain(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String, posLabel: String = "en",
      iters: Int = 8,
      lrMicro: Long = 2000000L): org.apache.spark.sql.DataFrame = {
    require(iters >= 0 && lrMicro >= 0)
    val pos = langProfiles.getOrElse(posLabel,
      sys.error(s"no marker profile for $posLabel"))
    val others = langProfiles.filter(_._1 != posLabel).values.flatten.toSeq
      .distinct.sorted
    // features via the CANONICAL tokens() Column (no textual second
    // tokenizer definition to drift — the langIdPredCtes lesson); only
    // the plain integer arithmetic over the projected columns is textual
    def ratio(words: Seq[String], hitsName: String): Seq[Column] = {
      val toks = tokens(col(textCol))
      val profile = array(words.map(lit): _*)
      Seq(size(filter(toks, t => array_contains(profile, t)))
        .cast("long").as(hitsName))
    }
    val projected = df.select(Seq(
      when(col(labelCol) === posLabel, 1L).otherwise(0L).as("y"),
      lit(1000000L).as("x0"),
      size(tokens(col(textCol))).cast("long").as("ntok")) ++
      ratio(pos, "h1") ++ ratio(others, "h2"): _*)
    val feats = Caching.persist(projected.select(col("y"), col("x0"),
      expr("CASE WHEN ntok = 0 THEN 0L ELSE h1 * 1000000 div ntok END")
        .as("x1"),
      expr("CASE WHEN ntok = 0 THEN 0L ELSE h2 * 1000000 div ntok END")
        .as("x2")))
    def sdivB(a: BigInt, b: BigInt): BigInt = a.signum * (a.abs / b)
    var w = Array(0L, 0L, 0L)
    for (_ <- 1 to iters) {
      // forward + gradient in ONE aggregate with the weights inlined as
      // literals (no per-round join): z, s, err are per-row expressions.
      // Gradient sums ride DECIMAL(38,0): err·x is ~1e12 per row, so a
      // BIGINT sum overflows near 9e6 documents — far inside the
      // operator's target scale (driver math is BigInt, so the collected
      // decimals lose nothing)
      val dot = s"(${w(0)}L * x0 + ${w(1)}L * x1 + ${w(2)}L * x2)"
      val z = s"(CASE WHEN $dot < 0 THEN -1 ELSE 1 END * (abs($dot) div 1000000))"
      val zq = s"(CASE WHEN $z < 0 THEN -1 ELSE 1 END * (abs($z) div 4))"
      val sig = s"greatest(0L, least(1000000L, $zq + 500000))"
      val err = s"($sig - y * 1000000)"
      val g = feats.agg(
        expr(s"CAST(sum(CAST($err AS DECIMAL(38,0)) * x0) AS DECIMAL(38,0))").as("g0"),
        expr(s"CAST(sum(CAST($err AS DECIMAL(38,0)) * x1) AS DECIMAL(38,0))").as("g1"),
        expr(s"CAST(sum(CAST($err AS DECIMAL(38,0)) * x2) AS DECIMAL(38,0))").as("g2"),
        count(lit(1)).as("n")).collect()(0)
      val n = BigInt(math.max(g.getAs[Long]("n"), 1L))
      def big(name: String): BigInt =
        Option(g.getAs[java.math.BigDecimal](name))
          .map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
      val gs = Array(big("g0"), big("g1"), big("g2")).map(sdivB(_, n))
      w = w.zip(gs).map { case (wj, gj) =>
        wj - sdivB(BigInt(lrMicro) * gj, BigInt(1000000000000L)).toLong }
    }
    val dot = s"(${w(0)}L * x0 + ${w(1)}L * x1 + ${w(2)}L * x2)"
    val z = s"(CASE WHEN $dot < 0 THEN -1 ELSE 1 END * (abs($dot) div 1000000))"
    val zq = s"(CASE WHEN $z < 0 THEN -1 ELSE 1 END * (abs($z) div 4))"
    val sig = s"greatest(0L, least(1000000L, $zq + 500000))"
    val acc = feats.agg(
      expr(s"sum(CASE WHEN ($sig >= 500000) = (y = 1) THEN 1 ELSE 0 END)")
        .cast("long").as("n_correct"),
      count(lit(1)).as("n_rows")).collect()(0)
    val rows = Seq(
      ("w0_micro", w(0)), ("w1_micro", w(1)), ("w2_micro", w(2)),
      ("n_correct", acc.getAs[Long]("n_correct")),
      ("n_rows", acc.getAs[Long]("n_rows")))
    df.sparkSession.createDataFrame(rows).toDF("metric", "value")
  }

  /** DuckDB replay of [[logisticTrain]] — one CTE pair (gradient, weights)
    * per GD round over the materialized feature table; identical sdiv
    * arithmetic.
    */
  def logisticTrainOracleSql(labelCol: String = "lang",
      posLabel: String = "en", iters: Int = 8, lrMicro: Long = 2000000L,
      table: String = "documents", textCol: String = "text"): String = {
    val pos = langProfiles(posLabel)
    val others = langProfiles.filter(_._1 != posLabel).values.flatten.toSeq
      .distinct.sorted
    def ratioSql(words: Seq[String]): String = {
      val lst = words.map(w => s"'$w'").mkString(", ")
      val toks = toksSql(textCol)
      s"CASE WHEN len($toks) = 0 THEN 0 ELSE " +
        s"len(list_filter($toks, t -> list_contains([$lst], t)))::BIGINT " +
        s"* 1000000 // len($toks) END"
    }
    def sdiv(a: String, b: String): String =
      s"(CASE WHEN ($a) < 0 THEN -1 ELSE 1 END) * (abs($a) // ($b))"
    def forward(wRef: String): (String, String) = {
      val dot = s"($wRef.w0 * f.x0 + $wRef.w1 * f.x1 + $wRef.w2 * f.x2)"
      val z = sdiv(dot, "1000000")
      val zq = sdiv(s"($z)", "4")
      val sig = s"greatest(0, least(1000000, ($zq) + 500000))"
      (sig, s"(($sig) - f.y * 1000000)")
    }
    val roundCtes = (1 to iters).map { r =>
      val prev = s"w${r - 1}"
      val (_, err) = forward(prev)
      s"""g$r AS MATERIALIZED (
         |  SELECT ${sdiv(s"sum(($err) * f.x0)", "greatest(count(*), 1)")} AS g0,
         |         ${sdiv(s"sum(($err) * f.x1)", "greatest(count(*), 1)")} AS g1,
         |         ${sdiv(s"sum(($err) * f.x2)", "greatest(count(*), 1)")} AS g2
         |  FROM feats f, $prev),
         |w$r AS MATERIALIZED (
         |  SELECT p.w0 - ${sdiv(s"$lrMicro * g.g0", "1000000000000")} AS w0,
         |         p.w1 - ${sdiv(s"$lrMicro * g.g1", "1000000000000")} AS w1,
         |         p.w2 - ${sdiv(s"$lrMicro * g.g2", "1000000000000")} AS w2
         |  FROM $prev p, g$r g)""".stripMargin
    }.mkString(",\n")
    val (sigF, _) = forward(s"w$iters")
    s"""WITH feats AS MATERIALIZED (
       |  SELECT CASE WHEN $labelCol = '$posLabel' THEN 1 ELSE 0 END::BIGINT AS y,
       |         1000000::BIGINT AS x0,
       |         (${ratioSql(pos)})::BIGINT AS x1,
       |         (${ratioSql(others)})::BIGINT AS x2
       |  FROM $table),
       |w0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2),
       |$roundCtes,
       |acc AS (
       |  SELECT sum(CASE WHEN (($sigF) >= 500000) = (f.y = 1)
       |                  THEN 1 ELSE 0 END)::BIGINT AS n_correct,
       |         count(*)::BIGINT AS n_rows
       |  FROM feats f, w$iters)
       |SELECT 'w0_micro' AS metric, w0::BIGINT AS value FROM w$iters
       |UNION ALL SELECT 'w1_micro', w1::BIGINT FROM w$iters
       |UNION ALL SELECT 'w2_micro', w2::BIGINT FROM w$iters
       |UNION ALL SELECT 'n_correct', n_correct::BIGINT FROM acc
       |UNION ALL SELECT 'n_rows', n_rows::BIGINT FROM acc""".stripMargin
  }

  /** Canonical document fingerprint: md5 of lowercased text with
    * non-alphanumerics stripped and whitespace collapsed. Two docs that
    * differ only in case/punctuation/spacing collide — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Sliding-window document chunking: split each doc into token windows of
    * `size` tokens advancing by `stride` (overlap = size - stride), the
    * standard pre-training/RAG chunker. Emits (doc, chunk_id, chunk_text,
    * n_tokens); the final window is the shorter tail. One projection + one
    * generator — no shuffle, scales linearly.
    */
  def chunk(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && window >= stride, "need 0 < stride <= window")
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .withColumn("n_chunks",
        when(size(col("toks")) <= window, lit(1))
          .otherwise(expr(s"(size(toks) - $window + $stride - 1) div $stride") + 1))
      .select(col("doc"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"),
        col("toks"))
      .select(col("doc"), col("chunk_id").cast("long").as("chunk_id"),
        array_join(slice(col("toks"), col("chunk_id") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("toks"), col("chunk_id") * stride + 1, lit(window)))
          .cast("long").as("n_tokens"))
  }

  /** TF-IDF top-`topK` terms per document: raw term frequency × smoothed
    * inverse document frequency `ln((N+1)/(df+1))`, ranked per doc with a
    * deterministic (score desc, term) tiebreak.
    *
    * Fully distributed: explode → two hash aggregations (term counts, doc
    * frequencies) → broadcast of the 1-row corpus count and the term-df
    * table (term vocabulary ≪ corpus at scale; for web-scale vocabularies
    * the df join falls back to a shuffle hash join automatically).
    */
  def tfIdf(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(col("toks")).as("term"))
    val tf = terms.groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val n = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dft, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + 1).cast("double") / (col("df_t") + 1).cast("double")))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK)
      .select(col("doc"), col("term"), round(col("tfidf"), 6).as("score"),
        col("rn").cast("long").as("rank"))
  }

  /** Per-document Shannon entropy (bits) of the token distribution — the
    * repetition/diversity quality signal of a training-data pipeline
    * (spammy low-entropy docs score near 0, natural text 5-8). Exact and
    * partition-order-proof by construction: per-doc token counts are
    * sorted before a sequential in-row fold, so the FP summation order is
    * a pure function of the data — no cross-row double aggregation. The
    * result is rounded to 6 dp, the same tolerance the tf-idf logs use
    * against the DuckDB replay ([[entropyOracleSql]]).
    */
  /** Zipf rank-frequency fit — the corpus-health sanity check every
    * tokenizer/corpus paper plots: natural language's term frequencies
    * follow freq ∝ rank^s with s ≈ −1, and a corpus whose fitted slope
    * sits far from −1 (or fits badly, low r²) is template spam, OCR
    * noise, or a broken tokenizer upstream. OLS over (ln rank, ln freq)
    * of the `topN` terms (ties broken by term so the ranking is total).
    * Returns ONE row: (n_terms, slope, intercept, r2), 6 dp.
    *
    * Determinism: ranks and counts are exact integers; the five OLS sums
    * fold SEQUENTIALLY over rank-sorted arrays (the [[naiveBayes]]
    * sorted-fold idiom), so both engines add the same doubles in the same
    * order — no partition-order float drift. Scale shape: term counting
    * is the one corpus-sized aggregate; the top-N cut is a distributed
    * sort-limit (TakeOrderedAndProject), and the fit itself touches only
    * topN rows.
    */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
      topN: Int = 100): org.apache.spark.sql.DataFrame = {
    require(topN >= 2)
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(topN)
    val ranked = tf.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))).cast("long"))
      .select(col("r"), log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    olsFit(ranked).withColumnRenamed("n_points", "n_terms")
  }

  /** DuckDB SQL replaying [[zipfFit]] value-for-value: same total
    * ranking, same rank-ordered sequential list sums, same OLS algebra.
    */
  def zipfOracleSql(topN: Int = 100, table: String = "documents",
      textCol: String = "text"): String =
    s"""WITH tf AS (
       |  SELECT tok, count(*)::BIGINT AS c FROM (
       |    SELECT unnest(${toksSql(textCol)}) AS tok FROM $table)
       |  GROUP BY tok),
       |top AS (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
       |  FROM tf QUALIFY r <= $topN),
       |pts AS (
       |  SELECT count(*)::DOUBLE AS n,
       |         list(ln(r::DOUBLE) ORDER BY r) AS xs,
       |         list(ln(c::DOUBLE) ORDER BY r) AS ys,
       |         list(ln(r::DOUBLE) * ln(c::DOUBLE) ORDER BY r) AS xys,
       |         list(ln(r::DOUBLE) * ln(r::DOUBLE) ORDER BY r) AS xxs,
       |         list(ln(c::DOUBLE) * ln(c::DOUBLE) ORDER BY r) AS yys
       |  FROM top),
       |s AS (
       |  SELECT n, list_aggregate(xs, 'sum') AS sx,
       |         list_aggregate(ys, 'sum') AS sy,
       |         list_aggregate(xys, 'sum') AS sxy,
       |         list_aggregate(xxs, 'sum') AS sxx,
       |         list_aggregate(yys, 'sum') AS syy
       |  FROM pts),
       |m AS (
       |  SELECT n, sx, sy, sxy, sxx, syy,
       |         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
       |  FROM s)
       |SELECT n::BIGINT AS n_terms, round(slope, 6) AS slope,
       |       round((sy - slope * sx) / n, 6) AS intercept,
       |       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
       |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM m""".stripMargin

  /** Hill tail-index estimator (Hill 1975) over the token-frequency
    * distribution — the heavy-tail exponent companion to [[zipfFit]]'s
    * OLS slope: α̂ = k / Σᵢ₌₁..k ln(cᵢ / c₍k₊₁₎) over the top-k counts.
    * The OLS fit is dominated by the head; Hill measures the TAIL decay
    * directly and is the standard check that a tokenizer/corpus keeps the
    * expected power law (α ≈ 1/slope). Uses the actual top-(k+1) cut from
    * the total (count desc, token) order; if fewer terms exist the last
    * rank is the reference. Degenerate all-equal counts report α = 0.
    *
    * Shape: corpus-sized term count, a TakeOrderedAndProject top-(k+1)
    * cut, then a (k+1)-row rank-ordered sequential fold (the zipf
    * posture — the only window ranks k+1 rows, never the corpus).
    */
  def hillTailIndex(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int = 100): org.apache.spark.sql.DataFrame = {
    require(k >= 1)
    val tf = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(k + 1)
    val ranked = tf.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok"))).cast("long"))
    val ref = ranked.agg(max(col("r")).as("rmax"))
      .join(ranked.select(col("r").as("rmax"), col("c").as("cref")), "rmax")
    val s = ranked.crossJoin(broadcast(ref))
      .where(col("r") < col("rmax"))
      .agg(count(lit(1)).as("k_eff"),
        sort_array(collect_list(struct(col("r"),
          log(col("c").cast("double") / col("cref").cast("double"))
            .as("t")))).as("ts"))
      .select(col("k_eff"),
        aggregate(col("ts"), lit(0d), (acc, x) => acc + x.getField("t"))
          .as("slog"))
    s.select(col("k_eff"),
      when(col("slog") === 0d, lit(0d))
        .otherwise(round(col("k_eff").cast("double") / col("slog"), 6))
        .as("alpha"))
  }

  /** DuckDB replay of [[hillTailIndex]] (same cut, same rank-ordered
    * sequential sum, same IEEE tail).
    */
  def hillOracleSql(k: Int = 100, table: String = "documents",
      textCol: String = "text"): String =
    s"""WITH tf AS (
       |  SELECT tok, count(*)::BIGINT AS c FROM (
       |    SELECT unnest(${toksSql(textCol)}) AS tok FROM $table)
       |  GROUP BY tok),
       |top AS MATERIALIZED (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
       |  FROM tf QUALIFY r <= ${k + 1}),
       |ref AS (
       |  SELECT t.c AS cref FROM top t
       |  WHERE t.r = (SELECT max(r) FROM top)),
       |s AS (
       |  SELECT count(*)::BIGINT AS k_eff,
       |         list_aggregate(list(ln(t.c::DOUBLE / ref.cref::DOUBLE)
       |           ORDER BY t.r), 'sum') AS slog
       |  FROM top t, ref
       |  WHERE t.r < (SELECT max(r) FROM top))
       |SELECT k_eff,
       |       CASE WHEN slog = 0 THEN 0
       |            ELSE round(k_eff::DOUBLE / slog, 6) END AS alpha
       |FROM s""".stripMargin

  /** Kneser–Ney smoothed bigram probabilities (Kneser & Ney 1995) — THE
    * n-gram smoothing (the one Katz/Good-Turing pipelines graduated to,
    * and the `q_text_goodturing` companion): absolute discount D = 3/4
    * on the bigram count, with the stolen mass backed off to the
    * CONTINUATION unigram — how many distinct contexts a word completes,
    * not how often it occurs ("Francisco" is frequent but only ever
    * follows "San"; KN is the statistic that knows that).
    *
    *   p_KN(w2|w1) = max(c12−D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/T
    *
    * With D = 3/4 everything clears to one exact integer rational:
    *   num = (4·c12 − 3)·T + 3·N1+(w1·)·N1+(·w2),  den = 4·c1·T
    * (observed bigrams have c12 ≥ 1, so the max() never binds), shipped
    * as p_micro = num·1e6 div den for the `topN` bigrams by count.
    *
    * Shape: one bigram-count aggregate (the corpus-sized step), three
    * VOCABULARY-sized re-aggregates of that table (left totals, left
    * types, right continuation types), a 1-row type total broadcast, two
    * vocab-keyed joins, a TakeOrdered top-N cut. Carrier: BIGINT holds
    * c12·T to ~10¹⁸ — beyond that swap the two products to DECIMAL.
    */
  def kneserNey(df: org.apache.spark.sql.DataFrame, textCol: String,
      topN: Int = 100): org.apache.spark.sql.DataFrame = {
    val bi = Caching.persist(df.select(tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val left = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_left"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("cont_right"))
    val types = bi.agg(count(lit(1)).as("t"))
    bi.join(left, "w1").join(cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"),
        ((lit(4L) * col("c12") - 3L) * col("t")
          + lit(3L) * col("n1p_left") * col("cont_right")).as("num"),
        (lit(4L) * col("c1") * col("t")).as("den"))
      .select(col("w1"), col("w2"), col("c12"),
        expr("(num * 1000000) div den").as("p_micro"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** DuckDB replay of [[kneserNey]] (same cleared rational, same cut). */
  def kneserNeyOracleSql(topN: Int = 100, table: String = "documents",
      textCol: String = "text"): String =
    s"""WITH t0 AS (
       |  SELECT ${toksSql(textCol)} AS toks FROM $table),
       |bi AS MATERIALIZED (
       |  SELECT p.w1, p.w2, count(*)::BIGINT AS c12 FROM (
       |    SELECT unnest(list_transform(range(1, len(toks)),
       |             i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
       |    FROM t0 WHERE len(toks) >= 2)
       |  GROUP BY p.w1, p.w2),
       |lft AS (
       |  SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1p_left
       |  FROM bi GROUP BY w1),
       |cont AS (
       |  SELECT w2, count(*)::BIGINT AS cont_right FROM bi GROUP BY w2),
       |ty AS (SELECT count(*)::BIGINT AS t FROM bi)
       |SELECT bi.w1, bi.w2, bi.c12,
       |       (((4 * bi.c12 - 3) * t + 3 * n1p_left * cont_right)
       |        * 1000000 // (4 * c1 * t))::BIGINT AS p_micro
       |FROM bi JOIN lft USING (w1) JOIN cont USING (w2), ty
       |ORDER BY bi.c12 DESC, bi.w1, bi.w2
       |LIMIT $topN""".stripMargin

  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("c"))).as("cs"),
        sum(col("c")).cast("double").as("n"))
      .select(col("doc_id"),
        round(aggregate(col("cs"), lit(0.0), (acc, c) =>
          acc - (c.cast("double") / col("n")) * log2(c.cast("double") / col("n"))),
          6).as("entropy"))

  /** DuckDB SQL replaying [[tokenEntropy]] value-for-value (same sorted
    * fold over per-doc counts, same 6 dp rounding).
    */
  def entropyOracleSql(table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id,
       |         unnest(${toksSql(textCol)}) AS tok
       |  FROM $table),
       |counts AS (
       |  SELECT doc_id, tok, count(*)::BIGINT AS c FROM toks GROUP BY doc_id, tok),
       |agg AS (
       |  SELECT doc_id, list_sort(list(c)) AS cs, sum(c)::DOUBLE AS n
       |  FROM counts GROUP BY doc_id)
       |SELECT doc_id,
       |       round(list_sum(list_transform(cs,
       |         c -> -(c::DOUBLE / n) * log2(c::DOUBLE / n))), 6) AS entropy
       |FROM agg""".stripMargin

  /** Gopher-style repetition signals per document (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", App. A1.1 repetition filters): the fraction of word n-grams
    * that are duplicates of an earlier one, and the share taken by the
    * single most frequent n-gram. High values flag boilerplate/spam docs
    * that slip past length/punctuation quality gates. Distributed shape:
    * explode → two codegen'd hash aggregates keyed on (doc, gram) then
    * (doc) — map-side partial aggregation, no per-doc quadratic HOF, no
    * driver state; at 100 TB it is the same shuffle as any token count.
    * Emits (doc_id, n_grams, n_distinct, dup_frac, top_frac) for docs with
    * >= n tokens; fractions rounded to 6 dp for cross-engine comparison
    * (same tolerance as [[tokenEntropy]]).
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), explode(wordNgrams(col("toks"), n)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double")
          / col("n_grams").cast("double"), 6).as("dup_frac"),
        round(col("top_c").cast("double")
          / col("n_grams").cast("double"), 6).as("top_frac"))

  /** DuckDB SQL replaying [[repetitionStats]] value-for-value. */
  def repetitionOracleSql(n: Int = 3, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    val gram = (1 to n).map(j => s"toks[i + ${j - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id,
       |         ${toksSql(textCol)} AS toks
       |  FROM $table),
       |grams AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(toks) - ${n - 2}), i -> $gram)) AS g
       |  FROM toks WHERE len(toks) >= $n),
       |counts AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM grams GROUP BY doc_id, g)
       |SELECT doc_id, sum(c)::BIGINT AS n_grams, count(*)::BIGINT AS n_distinct,
       |       round(1 - count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS dup_frac,
       |       round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_frac
       |FROM counts GROUP BY doc_id""".stripMargin
  }

  /** Benchmark decontamination: per (document, probe) pair, the number of
    * distinct word n-grams of the probe ("benchmark") document found
    * verbatim in the training document — the standard n-gram-overlap
    * contamination check run before training (e.g. GPT-3's 13-gram scan,
    * Brown et al. 2020 App. C). Probe sets are benchmark-sized (thousands
    * of docs), so their exploded distinct-gram table is broadcast and the
    * corpus side never shuffles: one scan of the 100 TB side, a broadcast
    * hash join on the gram, then a map-side-combined count per pair. For
    * probe sets too large to broadcast, drop the hint and the same plan
    * degrades to a shuffle join — shape unchanged. Returns
    * (doc_id, probe_id, shared_ngrams), only pairs with >= 1 shared gram.
    */
  def contamination(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, probes: org.apache.spark.sql.DataFrame,
      probeIdCol: String, probeTextCol: String,
      n: Int = 5): org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame, id: String, text: String,
        outId: String) =
      df.select(col(id).as(outId), tokens(col(text)).as("toks"))
        .where(size(col("toks")) >= n)
        .select(col(outId),
          explode(array_distinct(wordNgrams(col("toks"), n))).as("g"))
    grams(docs, idCol, textCol, "doc_id")
      .join(broadcast(grams(probes, probeIdCol, probeTextCol, "probe_id")), "g")
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** DuckDB SQL replaying [[contamination]] for a probe set defined by a
    * SQL predicate over the id (bound as `id` in the CTE; gate setup:
    * every 20th doc plays the benchmark, the rest are the corpus).
    */
  def contaminationOracleSql(n: Int = 5, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      probePred: String = "id % 20 = 0"): String = {
    val gram = (1 to n).map(j => s"toks[i + ${j - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT $idCol AS id,
       |         ${toksSql(textCol)} AS toks
       |  FROM $table),
       |grams AS (
       |  SELECT id, unnest(list_distinct(
       |           list_transform(range(1, len(toks) - ${n - 2}), i -> $gram))) AS g
       |  FROM toks WHERE len(toks) >= $n),
       |docs AS (SELECT id AS doc_id, g FROM grams WHERE NOT ($probePred)),
       |probes AS (SELECT id AS probe_id, g FROM grams WHERE $probePred)
       |SELECT doc_id, probe_id, count(*)::BIGINT AS shared_ngrams
       |FROM docs JOIN probes USING (g)
       |GROUP BY doc_id, probe_id""".stripMargin
  }

  /** Corpus-LM perplexity scoring — the CCNet-style quality filter (Wenzek
    * et al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data"): score each document by the per-token cross-entropy of
    * a unigram language model fitted on the corpus itself (Laplace
    * smoothing: p(w) = (c(w)+1)/(T+V)). Outlier docs — boilerplate, spam,
    * wrong-language — sit far from the corpus distribution and score high.
    * Shape: one vocabulary aggregate, a token-keyed join of the exploded
    * corpus against it (shuffle scales with distinct tokens), then a
    * per-doc SORTED sequential fold of the log-probs (the [[tokenEntropy]]
    * pattern) so the double sum is partition-order-proof and
    * oracle-replayable. Emits (doc_id, n_tokens, cross_entropy) — nats per
    * token, 6 dp — for docs with >= 1 token.
    */
  def unigramCrossEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    toks.join(uni, "tok")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("c"))).as("cs"),
        count(lit(1)).as("n_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_tokens"),
        round(-aggregate(col("cs"), lit(0.0), (acc, c) =>
          acc + log((c + 1).cast("double") / (col("t") + col("v")).cast("double")))
          / col("n_tokens").cast("double"), 6).as("cross_entropy"))
  }

  /** DuckDB SQL replaying [[unigramCrossEntropy]] value-for-value (same
    * sorted fold, same Laplace smoothing, same 6 dp rounding).
    */
  def crossEntropyOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id,
       |         unnest(${toksSql(textCol)}) AS tok
       |  FROM $table),
       |uni AS (SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok),
       |tot AS (SELECT sum(c)::BIGINT AS t, count(*)::BIGINT AS v FROM uni),
       |per_doc AS (
       |  SELECT doc_id, list_sort(list(c)) AS cs, count(*)::BIGINT AS n_tokens
       |  FROM toks JOIN uni USING (tok) GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |       round(-list_sum(list_transform(cs,
       |           c -> ln((c + 1)::DOUBLE / (t + v)::DOUBLE)))
       |         / n_tokens::DOUBLE, 6) AS cross_entropy
       |FROM per_doc, tot""".stripMargin

  /** Bigram-LM cross-entropy scoring — the conditional upgrade of
    * [[unigramCrossEntropy]], one step closer to CCNet's actual KenLM
    * filter: each document scores the per-bigram mean of
    * −ln p(w2|w1) under the corpus' own Laplace-smoothed bigram model,
    * p(w2|w1) = (c(w1 w2)+1) / (c(w1·)+V). Word-order scrambles that a
    * unigram model cannot see (bag-of-words spam, shuffled boilerplate)
    * surface here. Distributed shape: one bigram aggregate and one
    * left-context aggregate (both vocabulary-sized shuffles), the (T, V)
    * one-row broadcast, then the per-doc SORTED fold of log terms
    * ([[tokenEntropy]] pattern) so the double sum is partition-order-proof
    * and replayable. Emits (doc_id, n_bigrams, cross_entropy) — nats per
    * bigram, 6 dp — for docs with >= 2 tokens.
    */
  def bigramCrossEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val bi = base.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(wordNgrams(col("toks"), 2)).as("bg"))
    val biCounts = bi.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val ctx = bi.select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // smoothing vocabulary = distinct unigram tokens of the whole corpus
    val vocab = base.select(explode(col("toks")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    bi.join(biCounts, "bg")
      .select(col("doc_id"), substring_index(col("bg"), " ", 1).as("w1"),
        col("c12"))
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("c12") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")).as("term"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("term"))).as("ts"),
        count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-aggregate(col("ts"), lit(0.0), (acc, t) => acc + t)
          / col("n_bigrams").cast("double"), 6).as("cross_entropy"))
  }

  /** DuckDB SQL replaying [[bigramCrossEntropy]] value-for-value (same
    * smoothing, same sorted fold, same 6 dp rounding).
    */
  def bigramCrossEntropyOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH t AS (
       |  SELECT $idCol AS doc_id, ${toksSql(textCol)} AS toks
       |  FROM $table),
       |bi AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(toks)),
       |           i -> toks[i] || ' ' || toks[i + 1])) AS bg
       |  FROM t WHERE len(toks) >= 2),
       |bc AS (SELECT bg, count(*)::BIGINT AS c12 FROM bi GROUP BY bg),
       |ctx AS (SELECT string_split(bg, ' ')[1] AS w1, count(*)::BIGINT AS c1
       |        FROM bi GROUP BY 1),
       |voc AS (SELECT count(DISTINCT tok)::BIGINT AS v
       |        FROM (SELECT unnest(toks) AS tok FROM t)),
       |terms AS (
       |  SELECT doc_id,
       |         ln((c12 + 1)::DOUBLE / (c1 + v)::DOUBLE) AS term
       |  FROM bi JOIN bc USING (bg)
       |  JOIN ctx ON string_split(bi.bg, ' ')[1] = ctx.w1, voc)
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |       round(-list_sum(list_sort(list(term))) / count(*)::DOUBLE, 6)
       |         AS cross_entropy
       |FROM terms GROUP BY doc_id""".stripMargin

  /** Collocation extraction: adjacent token pairs scored by pointwise
    * mutual information, PMI = log(p(w1,w2) / (p(w1)·p(w2))) — the standard
    * corpus-analytics pass for multiword expressions ("new york"-style
    * units a whitespace tokenizer splits). Distributed shape: one exploded
    * unigram aggregate, one exploded bigram aggregate, two keyed joins on
    * the token (vocabulary-sized — shuffle joins that scale with distinct
    * tokens, not corpus rows), totals as one-row broadcasts. `minCount`
    * floors the bigram count — PMI is noise below a handful of
    * observations. All counts exact; the final log is computed on an
    * identically-structured rational in both engines and rounded to 6 dp.
    */
  def collocations(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Int = 5): org.apache.spark.sql.DataFrame = {
    // both totals are derived from the per-key aggregates (sum of counts),
    // not fresh corpus scans — one tokenize pass per aggregate, two total
    val uni = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totalToks = uni.agg(sum(col("c")).as("t"))
    val bigramCounts = df.select(tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val totalPairs = bigramCounts.agg(sum(col("n12")).as("b"))
    bigramCounts
      .where(col("n12") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(totalPairs))
      .crossJoin(broadcast(totalToks))
      .select(col("w1"), col("w2"), col("n12"),
        round(log((col("n12").cast("double") / col("b")) /
          ((col("c1").cast("double") / col("t"))
            * (col("c2").cast("double") / col("t")))), 6).as("pmi"))
  }

  /** DuckDB SQL replaying [[collocations]] value-for-value. */
  def collocationsOracleSql(minCount: Int = 5, table: String = "documents",
      textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT ${toksSql(textCol)} AS toks
       |  FROM $table),
       |uni AS (
       |  SELECT tok, count(*)::BIGINT AS c FROM (SELECT unnest(toks) AS tok FROM toks)
       |  GROUP BY tok),
       |tt AS (SELECT sum(c) AS t FROM uni),
       |pairs AS (
       |  SELECT toks[i] AS w1, toks[i + 1] AS w2
       |  FROM toks, LATERAL unnest(range(1, len(toks))) AS r(i)
       |  WHERE len(toks) >= 2),
       |tb AS (SELECT count(*) AS b FROM pairs),
       |big AS (
       |  SELECT w1, w2, count(*)::BIGINT AS n12 FROM pairs GROUP BY w1, w2)
       |SELECT w1, w2, n12,
       |       round(ln((n12::DOUBLE / b) /
       |         ((c1.c::DOUBLE / t) * (c2.c::DOUBLE / t))), 6) AS pmi
       |FROM big
       |JOIN uni c1 ON big.w1 = c1.tok
       |JOIN uni c2 ON big.w2 = c2.tok, tb, tt
       |WHERE n12 >= $minCount""".stripMargin

  /** Skip-gram training-pair counts — the (center, context) co-occurrence
    * statistics word2vec SGNS trains on and GloVe aggregates: every token
    * pair within `window` positions of each other, counted in BOTH
    * directions over the corpus. This is the embedding-training
    * data-generation pass of a pipeline (the downstream trainer consumes
    * exactly this table); `minCount` floors the output the way word2vec's
    * min-count prunes the long tail.
    *
    * Map-only pair generation: a nested `transform(sequence)` inside the
    * token array emits the ≤`window` offsets per position in codegen (the
    * [[collocations]] bigram pattern generalized) — O(tokens · window)
    * rows, zero joins, then one (center, context) aggregate. No per-doc
    * token² blowup anywhere, so the pass is linear in corpus size.
    */
  def skipGrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      window: Int = 3, minCount: Int = 5): org.apache.spark.sql.DataFrame = {
    val ordered = df.select(tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("toks")) - 1), i =>
          transform(
            sequence(lit(1), least(lit(window), size(col("toks")) - i)),
            k => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + k).as("w2")))))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    ordered.select(col("w1").as("center"), col("w2").as("context"))
      .unionAll(ordered.select(col("w2").as("center"), col("w1").as("context")))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** DuckDB SQL replaying [[skipGrams]] value-for-value (`range` is
    * end-exclusive where Spark's `sequence` is inclusive — bounds shifted
    * accordingly).
    */
  def skipGramsOracleSql(window: Int = 3, minCount: Int = 5,
      table: String = "documents", textCol: String = "text"): String =
    s"""WITH t AS (SELECT ${toksSql(textCol)} AS toks FROM $table),
       |pairs AS (
       |  SELECT toks[i] AS w1, toks[i + k] AS w2
       |  FROM t,
       |       LATERAL unnest(range(1, len(toks))) AS r(i),
       |       LATERAL unnest(range(1, least($window, len(toks) - i) + 1))
       |         AS r2(k)
       |  WHERE len(toks) >= 2),
       |sg AS (SELECT w1 AS center, w2 AS context FROM pairs
       |       UNION ALL
       |       SELECT w2 AS center, w1 AS context FROM pairs)
       |SELECT center, context, count(*)::BIGINT AS n
       |FROM sg GROUP BY center, context
       |HAVING count(*) >= $minCount""".stripMargin

  /** χ² feature selection (Yang & Pedersen 1997's CHI, the scikit-learn
    * `chi2`/Manning-IR §13.5 statistic) — scores each (token, label) by
    * the 2×2 document-presence contingency:
    *   A = docs with token in label,  B = with token outside label,
    *   C = label docs without token,  D = the rest;
    *   χ² = N·(AD−BC)² / ((A+B)(C+D)(A+C)(B+D))
    * The vocabulary-pruning companion to [[naiveBayes]]: train the
    * classifier on the top-χ² tokens instead of the full vocabulary.
    *
    * Exact fixed-point: χ²_micro = N·(AD−BC)²·1e6 // denom, every product
    * on a DECIMAL(38,0) carrier (N·(AD−BC)²·1e6 ≤ N⁵·1e6 — safe in 38
    * digits to N ~ 2·10⁶ docs per run; DuckDB's HUGEINT has the same
    * headroom), so both engines floor-divide identical integers. Only
    * observed (token, label) cells are emitted (A ≥ 1) and `minDf` floors
    * the token document frequency — χ² is unstable below a handful of
    * observations, and the pruned tail is exactly what the consumer drops.
    *
    * Shape: one exploded distinct (doc, token) pass feeds both the
    * (token, label) and token aggregates (vocabulary-sized shuffles);
    * label totals and N broadcast as one-row/label-count tables.
    */
  def chi2Features(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String, minDf: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val docTok = df.select(col(idCol).as("id"), col(labelCol).as("label"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val tokLabel = docTok.groupBy("tok", "label")
      .agg(count(lit(1)).as("a"))
    val tokDf = tokLabel.groupBy("tok").agg(sum(col("a")).as("df_t"))
      .where(col("df_t") >= minDf)
    val labelN = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_l"))
    val total = df.agg(count(lit(1)).as("n"))
    tokLabel.join(tokDf, "tok")
      .join(broadcast(labelN), "label")
      .crossJoin(broadcast(total))
      // χ² is undefined (zero denominator) for a token present in every
      // doc or a label covering the whole corpus — both carry zero
      // selection information; excluded in BOTH engines
      .where(col("df_t") < col("n") && col("n_l") < col("n"))
      .select(col("label"), col("tok"), col("a"), col("df_t"), col("n_l"),
        expr("""cast(n as decimal(38,0))
               | * (a * (n - df_t - (n_l - a)) - (df_t - a) * (n_l - a))
               | * (a * (n - df_t - (n_l - a)) - (df_t - a) * (n_l - a))
               | * 1000000
               | div (cast(df_t as decimal(38,0))
               |      * (n - df_t) * n_l * (n - n_l))"""
          .stripMargin.replace("\n", " ")).as("chi2_micro"))
  }

  /** DuckDB SQL replaying [[chi2Features]] on the HUGEINT carrier. */
  def chi2OracleSql(labelCol: String = "lang", minDf: Int = 10,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH d AS (SELECT $idCol AS id, $labelCol AS label,
       |                  ${toksSql(textCol)} AS toks FROM $table),
       |dt AS (SELECT DISTINCT id, label, unnest(toks) AS tok FROM d),
       |tl AS (SELECT tok, label, count(*)::BIGINT AS a
       |       FROM dt GROUP BY tok, label),
       |tf AS (SELECT tok, sum(a)::BIGINT AS df_t FROM tl GROUP BY tok
       |       HAVING sum(a) >= $minDf),
       |ln AS (SELECT $labelCol AS label, count(*)::BIGINT AS n_l
       |       FROM $table GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n FROM $table)
       |SELECT tl.label, tl.tok, a, df_t, n_l,
       |       ((n::HUGEINT
       |          * (a * (n - df_t - (n_l - a)) - (df_t - a) * (n_l - a))
       |          * (a * (n - df_t - (n_l - a)) - (df_t - a) * (n_l - a))
       |          * 1000000)
       |        // (df_t::HUGEINT * (n - df_t) * n_l * (n - n_l)))::BIGINT
       |         AS chi2_micro
       |FROM tl JOIN tf USING (tok) JOIN ln ON ln.label = tl.label, tot
       |WHERE df_t < n AND n_l < n""".stripMargin

  /** Expected mutual information feature ranking (Manning-IR §13.5.1's MI,
    * the other canonical selector next to [[chi2Features]]) — scores each
    * (token, label) by the information the token's document presence
    * carries about the label:
    *   I = Σ_cells (cnt/N) · ln(cnt·N / (row·col))
    * over the same 2×2 presence contingency as χ² (A/B/C/D from a, df_t,
    * n_l, n). χ² ranks by deviation-from-independence significance; MI
    * ranks by information mass — rare-but-perfectly-predictive tokens score
    * high on χ², frequent-and-predictive ones on MI, which is why serious
    * vocabulary pruning reads both.
    *
    * Determinism contract: every count product stays BIGINT-exact
    * (cnt·N ≤ N² — safe to N ~ 3e9 docs), doubles appear only in the four
    * ln/divide terms, composed in a FIXED order and rounded at 6 dp — the
    * [[collocations]] PMI precedent both engines replay bit-for-bit.
    * Zero cells contribute exactly 0 (the x·ln x → 0 limit), which also
    * removes every division-by-zero case: a nonzero cell forces its row
    * and column totals nonzero.
    *
    * Shape: identical to [[chi2Features]] — one exploded distinct
    * (doc, token) pass, vocabulary-sized shuffles, broadcast label/total
    * tables.
    */
  def mutualInfo(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, labelCol: String, minDf: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val docTok = df.select(col(idCol).as("id"), col(labelCol).as("label"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
    val tokLabel = docTok.groupBy("tok", "label")
      .agg(count(lit(1)).as("a"))
    val tokDf = tokLabel.groupBy("tok").agg(sum(col("a")).as("df_t"))
      .where(col("df_t") >= minDf)
    val labelN = df.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_l"))
    val total = df.agg(count(lit(1)).as("n"))
    // cell term (cnt/N)·ln(cnt·N/(row·col)); cnt = 0 → 0 exactly
    def term(cnt: String, row: String, colT: String): String =
      s"CASE WHEN $cnt = 0 THEN 0.0 ELSE " +
        s"(CAST($cnt AS DOUBLE) / n) * ln(CAST($cnt AS DOUBLE) * n / " +
        s"(CAST($row AS DOUBLE) * ($colT))) END"
    tokLabel.join(tokDf, "tok")
      .join(broadcast(labelN), "label")
      .crossJoin(broadcast(total))
      .select(col("label"), col("tok"), col("a"), col("df_t"), col("n_l"),
        expr("df_t - a").as("b"), expr("n_l - a").as("c"),
        expr("n - df_t - (n_l - a)").as("d2"), col("n"))
      .select(col("label"), col("tok"), col("a"), col("df_t"), col("n_l"),
        round(
          expr(term("a", "df_t", "n_l")) +
            expr(term("b", "df_t", "n - n_l")) +
            expr(term("c", "n - df_t", "n_l")) +
            expr(term("d2", "n - df_t", "n - n_l")), 6).as("mi6"))
  }

  /** DuckDB SQL replaying [[mutualInfo]] term-for-term (same fixed
    * summation order, same 6-dp projection).
    */
  def mutualInfoOracleSql(labelCol: String = "lang", minDf: Int = 10,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    // (row)::DOUBLE, never row::DOUBLE: `::` binds tighter than `-`, so
    // "n - df_t::DOUBLE * x" would compute n − df_t·x
    def term(cnt: String, row: String, colT: String): String =
      s"CASE WHEN $cnt = 0 THEN 0.0 ELSE " +
        s"(($cnt)::DOUBLE / n) * ln(($cnt)::DOUBLE * n / " +
        s"(($row)::DOUBLE * ($colT))) END"
    s"""WITH d AS (SELECT $idCol AS id, $labelCol AS label,
       |                  ${toksSql(textCol)} AS toks FROM $table),
       |dt AS (SELECT DISTINCT id, label, unnest(toks) AS tok FROM d),
       |tl AS (SELECT tok, label, count(*)::BIGINT AS a
       |       FROM dt GROUP BY tok, label),
       |tf AS (SELECT tok, sum(a)::BIGINT AS df_t FROM tl GROUP BY tok
       |       HAVING sum(a) >= $minDf),
       |ln0 AS (SELECT $labelCol AS label, count(*)::BIGINT AS n_l
       |        FROM $table GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n FROM $table),
       |cells AS (
       |  SELECT tl.label, tl.tok, a, df_t, n_l,
       |         df_t - a AS b, n_l - a AS c,
       |         n - df_t - (n_l - a) AS d2, n
       |  FROM tl JOIN tf USING (tok) JOIN ln0 ON ln0.label = tl.label, tot)
       |SELECT label, tok, a, df_t, n_l,
       |       round(${term("a", "df_t", "n_l")}
       |             + ${term("b", "df_t", "n - n_l")}
       |             + ${term("c", "n - df_t", "n_l")}
       |             + ${term("d2", "n - df_t", "n - n_l")}, 6) AS mi6
       |FROM cells""".stripMargin
  }

  /** Corpus-pair unigram KL divergence — the TEXT drift detector next to
    * the numeric [[Profile.psiDrift]]/[[Profile.ksDrift]]: for each group
    * g ≠ `base`, KL(P_g ‖ P_base) over the shared vocabulary with add-one
    * smoothing,
    *   KL = Σ_t p_g(t) · ln(p_g(t)/p_b(t)),
    *   p_x(t) = (c_x(t)+1)/(n_x+V).
    * A rising KL between an incoming batch and the trusted corpus is the
    * "this crawl slice is not the distribution we trained the filters on"
    * alarm that token-level quality scores cannot raise.
    *
    * Determinism contract for the Σ: a distributed double sum is
    * partition-order-dependent, so each vocab term is projected to
    * fixed-point FIRST — round(term·1e9) → BIGINT — and the sum is exact
    * integer arithmetic in any order. Per-term doubles are composed from
    * exact counts in a fixed shape (cast-then-multiply, one ln, one
    * multiply), the same IEEE-determinism contract as [[collocations]].
    *
    * Scale shape: one token-count aggregate, a vocab×groups grid (groups
    * broadcast — group count is small by construction; vocab distributes),
    * two equi-joins, one final per-group sum. `minCount` floors the vocab
    * (V changes with it, deliberately — the smoothing mass follows the
    * kept vocabulary).
    */
  def corpusKl(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupCol: String, base: String, minCount: Long = 1L)
      : org.apache.spark.sql.DataFrame = {
    val cnt = Caching.persist(df
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c")))
    val vocab = Caching.persist(cnt.groupBy(col("tok"))
      .agg(sum(col("c")).as("ct")).where(col("ct") >= minCount)
      .select(col("tok")))
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val nTot = cnt.join(vocab, "tok").groupBy(col("g"))
      .agg(sum(col("c")).as("n_g"))
    val baseCnt = cnt.where(col("g") === base).join(vocab, "tok")
      .select(col("tok"), col("c").as("cb"))
    val baseTot = nTot.where(col("g") === base)
      .select(col("n_g").as("n_b"))
    val grid = vocab.crossJoin(broadcast(nTot.where(col("g") =!= base)))
    val term = expr(
      """(CAST(c + 1 AS DOUBLE) / (n_g + v)) *
        | ln((CAST(c + 1 AS DOUBLE) * (n_b + v)) /
        |     (CAST(cb + 1 AS DOUBLE) * (n_g + v)))""".stripMargin
        .replace("\n", " "))
    grid
      .join(cnt, Seq("g", "tok"), "left")
      .join(baseCnt, Seq("tok"), "left")
      .na.fill(0L, Seq("c", "cb"))
      .crossJoin(broadcast(vSize)).crossJoin(broadcast(baseTot))
      .groupBy(col("g"))
      .agg(max(col("n_g")).as("n_g"), max(col("v")).as("v"),
        sum(round(term * 1e9, 0).cast("long")).as("kl_nano"))
  }

  /** DuckDB replay of [[corpusKl]] (same smoothing, same per-term 1e9
    * fixed-point projection, exact integer sum).
    */
  def corpusKlOracleSql(groupExpr: String, base: String,
      minCount: Long = 1L, table: String = "documents",
      textCol: String = "text"): String =
    s"""WITH cnt AS (
       |  SELECT g, tok, count(*)::BIGINT AS c FROM (
       |    SELECT ($groupExpr) AS g, unnest(${toksSql(textCol)}) AS tok
       |    FROM $table)
       |  GROUP BY g, tok),
       |vocab AS (SELECT tok FROM cnt GROUP BY tok
       |          HAVING sum(c) >= $minCount),
       |vs AS (SELECT count(*)::BIGINT AS v FROM vocab),
       |ntot AS (SELECT g, sum(c)::BIGINT AS n_g
       |         FROM cnt JOIN vocab USING (tok) GROUP BY g),
       |bc AS (SELECT tok, c AS cb FROM cnt JOIN vocab USING (tok)
       |       WHERE g = '$base'),
       |bt AS (SELECT n_g AS n_b FROM ntot WHERE g = '$base'),
       |grid AS (SELECT v2.tok, n.g, n.n_g FROM vocab v2
       |         CROSS JOIN (SELECT * FROM ntot WHERE g <> '$base') n),
       |terms AS (
       |  SELECT grid.g, grid.n_g, vs.v,
       |         round(((coalesce(cnt.c, 0) + 1)::DOUBLE / (grid.n_g + vs.v)) *
       |               ln(((coalesce(cnt.c, 0) + 1)::DOUBLE * (bt.n_b + vs.v)) /
       |                  ((coalesce(bc.cb, 0) + 1)::DOUBLE * (grid.n_g + vs.v)))
       |               * 1e9)::BIGINT AS t_nano
       |  FROM grid
       |  LEFT JOIN cnt ON cnt.g = grid.g AND cnt.tok = grid.tok
       |  LEFT JOIN bc ON bc.tok = grid.tok, vs, bt)
       |SELECT g, max(n_g)::BIGINT AS n_g, max(v)::BIGINT AS v,
       |       sum(t_nano)::BIGINT AS kl_nano
       |FROM terms GROUP BY g""".stripMargin

  /** Pairwise JENSEN-SHANNON divergence between per-group token
    * distributions — the SYMMETRIC, bounded (<= ln 2) companion to
    * [[corpusKl]]'s base-relative divergence: the standard "how far apart
    * are these two corpus slices" number for mixture design and drift
    * monitoring, where KL's asymmetry and unboundedness get in the way.
    * Laplace add-1 smoothing over the shared `minCount` vocabulary (the
    * corpusKl smoothing), per-(pair, token) term
    *   t = 0.5 * (p*ln(2p/(p+q)) + q*ln(2q/(p+q)))
    * computed in ONE double expression, nano-rounded per term and summed
    * as exact BIGINTs — partition-order-proof like every log family here.
    * Emits (g_a < g_b, n_a, n_b, v, jsd_nano).
    *
    * Scale shape: one token aggregate, vocabulary x group-PAIRS grid
    * (pairs are a broadcast of the tiny per-group total table), two
    * vocabulary-keyed count joins, one hash aggregate — adding a group
    * re-reads nothing.
    */
  def corpusJsd(df: org.apache.spark.sql.DataFrame, textCol: String,
      groupCol: String, minCount: Long = 1L)
      : org.apache.spark.sql.DataFrame = {
    val cnt = Caching.persist(df
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c")))
    val vocab = Caching.persist(cnt.groupBy(col("tok"))
      .agg(sum(col("c")).as("ct")).where(col("ct") >= minCount)
      .select(col("tok")))
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val nTot = cnt.join(vocab, "tok").groupBy(col("g"))
      .agg(sum(col("c")).as("n_g"))
    val gp = nTot.as("a").crossJoin(nTot.as("b"))
      .where(col("a.g") < col("b.g"))
      .select(col("a.g").as("g_a"), col("a.n_g").as("n_a"),
        col("b.g").as("g_b"), col("b.n_g").as("n_b"))
    val term = expr(
      """0.5 * ((CAST(ca + 1 AS DOUBLE) / (n_a + v)) *
        |  ln(2.0 * (CAST(ca + 1 AS DOUBLE) / (n_a + v)) /
        |     ((CAST(ca + 1 AS DOUBLE) / (n_a + v)) +
        |      (CAST(cb + 1 AS DOUBLE) / (n_b + v)))) +
        | (CAST(cb + 1 AS DOUBLE) / (n_b + v)) *
        |  ln(2.0 * (CAST(cb + 1 AS DOUBLE) / (n_b + v)) /
        |     ((CAST(ca + 1 AS DOUBLE) / (n_a + v)) +
        |      (CAST(cb + 1 AS DOUBLE) / (n_b + v)))))""".stripMargin
        .replace("\n", " "))
    vocab.crossJoin(broadcast(gp))
      .join(cnt.select(col("g").as("g_a"), col("tok"), col("c").as("ca")),
        Seq("g_a", "tok"), "left")
      .join(cnt.select(col("g").as("g_b"), col("tok"), col("c").as("cb")),
        Seq("g_b", "tok"), "left")
      .na.fill(0L, Seq("ca", "cb"))
      .crossJoin(broadcast(vSize))
      .groupBy(col("g_a"), col("g_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("v")).as("v"),
        sum(round(term * 1e9, 0).cast("long")).as("jsd_nano"))
  }

  /** DuckDB replay of [[corpusJsd]] (same smoothing, same single-
    * expression per-term doubles, same 1e9 projection and integer sum).
    */
  def corpusJsdOracleSql(groupExpr: String, minCount: Long = 1L,
      table: String = "documents", textCol: String = "text"): String = {
    val p = s"((coalesce(ca.c, 0) + 1)::DOUBLE / (gp.n_a + vs.v))"
    val q = s"((coalesce(cb.c, 0) + 1)::DOUBLE / (gp.n_b + vs.v))"
    s"""WITH cnt AS (
       |  SELECT g, tok, count(*)::BIGINT AS c FROM (
       |    SELECT ($groupExpr) AS g, unnest(${toksSql(textCol)}) AS tok
       |    FROM $table)
       |  GROUP BY g, tok),
       |vocab AS (SELECT tok FROM cnt GROUP BY tok
       |          HAVING sum(c) >= $minCount),
       |vs AS (SELECT count(*)::BIGINT AS v FROM vocab),
       |ntot AS (SELECT g, sum(c)::BIGINT AS n_g
       |         FROM cnt JOIN vocab USING (tok) GROUP BY g),
       |gp AS (SELECT a.g AS g_a, a.n_g AS n_a, b.g AS g_b, b.n_g AS n_b
       |       FROM ntot a JOIN ntot b ON a.g < b.g),
       |terms AS (
       |  SELECT gp.g_a, gp.g_b, gp.n_a, gp.n_b, vs.v,
       |         round(0.5 * ($p * ln(2.0 * $p / ($p + $q)) +
       |                      $q * ln(2.0 * $q / ($p + $q))) * 1e9)::BIGINT
       |           AS t_nano
       |  FROM vocab v2 CROSS JOIN gp CROSS JOIN vs
       |  LEFT JOIN cnt ca ON ca.g = gp.g_a AND ca.tok = v2.tok
       |  LEFT JOIN cnt cb ON cb.g = gp.g_b AND cb.tok = v2.tok)
       |SELECT g_a, g_b, max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
       |       max(v)::BIGINT AS v, sum(t_nano)::BIGINT AS jsd_nano
       |FROM terms GROUP BY g_a, g_b""".stripMargin
  }

  /** Keyword/topic tagging against a broadcast dictionary — the
    * FlashText-style "which of my curated topic lexicons does this doc
    * hit" pass used for topic-targeted subsetting (pull all finance docs,
    * drop all adult-lexicon hits) without a trained classifier. Emits one
    * row per (doc, topic) with ≥1 hit: the hit count and whether that
    * topic is the doc's DOMINANT topic (argmax hits, ties to the
    * lexicographically smallest topic name — deterministic).
    *
    * Shape: exploded tokens equi-join the (topic, word) dictionary — a
    * few-hundred-row table Spark broadcasts, so the join is map-side at
    * any corpus size — then one (doc, topic) count and one per-doc
    * struct-max argmax (two-phase aggregates; the
    * [[graft.operators.Graph.labelPropagation]] tie-break pattern, no
    * window).
    */
  def keywordTag(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topics: Map[String, Seq[String]])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val spark = df.sparkSession
    val dict = spark.createDataFrame(
      spark.sparkContext.parallelize(
        topics.toSeq.flatMap { case (t, ws) => ws.map(w => Row(t, w)) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("topic",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType))))
    val hits = df
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .join(broadcast(dict), "tok")
      .groupBy("doc_id", "topic").agg(count(lit(1)).as("n_hits"))
    val dominant = hits.groupBy("doc_id")
      .agg(max(struct(col("n_hits"),
        // lexicographic struct-max picks the HIGHEST topic string on a
        // hit-count tie; invert by comparing on a "negated" key is not
        // possible for strings, so rank topics by their sorted index
        // instead — the dictionary is tiny and fixed
        (-array_position(
          array(topics.keys.toSeq.sorted.map(lit): _*), col("topic")))
          .as("nt"))).as("m"))
      .select(col("doc_id"),
        element_at(array(topics.keys.toSeq.sorted.map(lit): _*),
          (-col("m.nt")).cast("int")).as("dom_topic"))
    hits.join(dominant, "doc_id")
      .select(col("doc_id"), col("topic"), col("n_hits"),
        (col("topic") === col("dom_topic")).as("is_dominant"))
  }

  /** DuckDB SQL replaying [[keywordTag]]; the dictionary is inlined as
    * VALUES rows, the dominant-topic tie-break replays through the same
    * sorted-index struct max.
    */
  def keywordTagOracleSql(topics: Map[String, Seq[String]],
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val rows = topics.toSeq.sortBy(_._1)
      .flatMap { case (t, ws) => ws.map(w => s"('$t', '$w')") }
      .mkString(", ")
    val names = topics.keys.toSeq.sorted
    val idxCase = names.zipWithIndex
      .map { case (t, i) => s"WHEN '$t' THEN ${i + 1}" }
      .mkString("CASE topic ", " ", " END")
    val nameCase = names.zipWithIndex
      .map { case (t, i) => s"WHEN ${i + 1} THEN '$t'" }
      .mkString("CASE (-((max({'n': n_hits, 'nt': nt})).nt)) ",
        " ", " END")
    s"""WITH dict(topic, tok) AS (VALUES $rows),
       |t AS (SELECT $idCol AS doc_id, unnest(${toksSql(textCol)}) AS tok
       |      FROM $table),
       |h AS (
       |  SELECT doc_id, topic, count(*)::BIGINT AS n_hits
       |  FROM t JOIN dict USING (tok) GROUP BY doc_id, topic),
       |dom AS (
       |  SELECT doc_id, $nameCase AS dom_topic
       |  FROM (SELECT doc_id, n_hits, topic, -($idxCase) AS nt FROM h) x
       |  GROUP BY doc_id)
       |SELECT h.doc_id, h.topic, h.n_hits,
       |       h.topic = dom.dom_topic AS is_dominant
       |FROM h JOIN dom ON dom.doc_id = h.doc_id""".stripMargin
  }

  /** Per-language marker-word profiles for the language-ID heuristic.
    * Tiny on purpose: broadcast as literal arrays into codegen.
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "it", "that", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
  )

  /** N-gram/stopword language ID: score = fraction of tokens found in each
    * language's marker profile; CJK codepoints short-circuit to zh. Returns
    * the argmax language code, 'und' when nothing scores.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (code, words) =>
      val profile = array(words.map(lit): _*)
      struct(
        size(filter(toks, t => array_contains(profile, t))).cast("double").as("score"),
        lit(code).as("code"))
    }
    // array_max on struct(score, code) orders by score then code — ties
    // break deterministically toward the later code
    val best = array_max(array(scored: _*))
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(best.getField("score") > 0, best.getField("code"))
      .otherwise(lit("und"))
  }

  /** Multiplier for the portable rolling fingerprint. Kept under 2^31 so
    * `acc * B + h < 2^62` (acc, h < [[graft.operators.Dedup.PortablePrime]])
    * — no int64 overflow in any engine.
    */
  val PortableFpBase: Long = 1000003L

  /** BPE merge-pair statistics — the inner aggregation of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016, "Neural Machine Translation
    * of Rare Words with Subword Units"): count adjacent symbol pairs across
    * the corpus, weighted by word frequency, and rank the merge candidates.
    * This is one training iteration's candidate table over the initial
    * character vocabulary; a full trainer loops it, applying the top merge
    * and re-deriving symbol sequences.
    *
    * Scale shape: the corpus collapses to the DISTINCT-WORD frequency table
    * first (the standard trick — pair counting is per distinct word, not per
    * occurrence), so the pair explosion is bounded by vocabulary size, not
    * corpus size; both aggregations are plain hash groupBys and the ranking
    * is a TakeOrderedAndProject top-k, no global sort.
    *
    * Returns (sym1, sym2, pair_count) for the `topK` most frequent adjacent
    * character pairs; ties break on the pair itself for determinism.
    */
  def bpePairStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int = 50): org.apache.spark.sql.DataFrame = {
    val words = df
      .select(explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), posexplode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => struct(col("w").substr(i, lit(1)).as("sym1"),
            col("w").substr(i + 1, lit(1)).as("sym2")))))
      .select(col("freq"), col("col.sym1"), col("col.sym2"))
      .groupBy(col("sym1"), col("sym2"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("sym1"), col("sym2"))
      .limit(topK)
  }

  /** Apply ONE learned BPE merge (s1, s2) → s1+s2 to a symbol array, greedy
    * left-to-right over non-overlapping occurrences (the standard BPE apply
    * step): a sequential `aggregate` fold that either fuses the current
    * symbol into the accumulator's last element or appends it. "aaaa" under
    * merge (a,a) → [aa, aa], never the overlapping [aa, aa, a-leftover]
    * shapes.
    */
  private def applyMerge(syms: Column, s1: String, s2: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, cur) =>
      // try_element_at: the first fold step sees an empty accumulator, where
      // ANSI element_at(-1) errors; NULL === s1 is null → falls to otherwise
      when(try_element_at(acc, lit(-1)) === lit(s1) && cur === lit(s2),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(s1 + s2))))
        .otherwise(concat(acc, array(cur))))

  /** BPE tokenizer training — the full merge loop over [[bpePairStats]]'s
    * candidate aggregation: `numMerges` rounds of (count weighted adjacent
    * pairs over the distinct-word table) → (collect the single top pair to
    * the driver) → (fuse it into every word's symbol sequence). Returns the
    * ordered merge table (rank, sym1, sym2).
    *
    * Scale shape: all heavy work is per DISTINCT word (two hash aggregates
    * + an expression-only rewrite per round); only one (pair, count) row
    * crosses to the driver per round — the merge table IS driver-sized by
    * definition (a vocab is ~10⁴-10⁵ entries). Each round's rewritten word
    * table is eagerly checkpointed via [[Caching.checkpoint]], so plan
    * size stays constant in
    * round count (same lineage-truncation reasoning as
    * [[Dedup.connectedComponents]]).
    */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, numMerges: Int = 10): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var words = df.select(explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), split(col("w"), "").as("syms"))
      .transform(Caching.checkpoint(_, eager = true))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var done = false
    for (r <- 1 to numMerges if !done) {
      // fully-merged words (one symbol) contribute no pairs; without the
      // guard sequence(1, 0) DESCENDS and element_at(_, 0) errors (ANSI)
      val top = words
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("sym1"),
              element_at(col("syms"), i + 1).as("sym2")))).as("p"))
        .select(col("freq"), col("p.sym1").as("sym1"), col("p.sym2").as("sym2"))
        .groupBy(col("sym1"), col("sym2"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("sym1"), col("sym2"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (s1, s2) = (top(0).getString(0), top(0).getString(1))
        merges += ((r, s1, s2))
        words = words
          .select(col("freq"), applyMerge(col("syms"), s1, s2).as("syms"))
          .transform(Caching.checkpoint(_, eager = true))
      }
    }
    merges.toSeq.toDF("rank", "sym1", "sym2")
  }

  /** Distributed BPE ENCODING of the whole corpus with a freshly trained
    * merge table — the deploy half of the tokenizer lifecycle ([[bpeTrain]]
    * is the training half): per document, the word count and the total
    * subword count after applying all `numMerges` merges in rank order.
    *
    * Scale shape: merges apply to the DISTINCT-WORD vocabulary only (the
    * same trick as training — encode cost ∝ vocabulary size), then per-doc
    * counts come from joining each document's words to the encoded vocab: a
    * plain shuffled equi-join ∝ corpus size. The merge table itself is
    * vocab-sized by definition and rides in as literals. Documents with
    * zero tokens produce no row (they have nothing to encode).
    */
  def bpeEncodeCorpus(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, numMerges: Int = 10): org.apache.spark.sql.DataFrame = {
    val merges = bpeTrain(df, idCol, textCol, numMerges)
      .orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeWithMerges(df, idCol, textCol, merges)
  }

  /** [[bpeEncodeCorpus]] with an already-trained merge table — the deployed
    * tokenizer's shape: train once, encode every future batch against the
    * FROZEN table (retraining per batch would silently shift the
    * vocabulary between batches).
    */
  def bpeEncodeWithMerges(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val vocab = df.select(explode(tokens(col(textCol))).as("w")).distinct()
    val encoded = merges
      .foldLeft(vocab.select(col("w"), split(col("w"), "").as("syms"))) {
        case (acc, (s1, s2)) =>
          acc.select(col("w"), applyMerge(col("syms"), s1, s2).as("syms"))
      }
      .select(col("w"), size(col("syms")).cast("long").as("n_sub"))
    df.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
      .join(encoded, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }

  /** DuckDB replay of [[bpeEncodeCorpus]]: the shared trainer CTE chain
    * (identical merge table by construction), then the same replace chain
    * over the full distinct-word vocabulary — LEFT JOIN so a merge round
    * the trainer never reached (early stop) applies as a no-op, exactly
    * like the Spark fold over the collected (possibly shorter) merge list.
    */
  def bpeEncodeOracleSql(numMerges: Int = 10, table: String = "documents",
      textCol: String = "text", idCol: String = "doc_id"): String =
    s"""${bpeEncodeChainSql(numMerges, table, textCol, idCol)}
       |SELECT doc_id, count(*) AS n_words, sum(n_sub)::BIGINT AS n_subwords
       |FROM dw JOIN enc USING (w) GROUP BY doc_id""".stripMargin

  /** The shared WITH-chain behind [[bpeEncodeOracleSql]] and
    * [[fertilityOracleSql]]: trainer CTEs, the vocab replace chain, `enc`
    * (distinct word → subword count) and `dw` (doc → word occurrences).
    * ONE generator so the two consumers' replay chains cannot drift.
    */
  private def bpeEncodeChainSql(numMerges: Int, table: String,
      textCol: String, idCol: String): String = {
    val (u, uu) = (BpeSepSql, BpeSep2Sql)
    val sb = new StringBuilder
    sb ++= s"WITH ${bpeTrainCtes(numMerges, table, textCol)},\n"
    sb ++=
      s"""v0 AS (
         |  SELECT w, $uu || array_to_string(string_split(w, ''), $uu) || $uu AS syms
         |  FROM (SELECT DISTINCT unnest(${toksSql(textCol)}) AS w
         |        FROM $table WHERE trim($textCol) <> ''))""".stripMargin
    for (r <- 1 to numMerges) {
      sb ++=
        s""",
           |v$r AS (
           |  SELECT v.w,
           |         CASE WHEN m.sym1 IS NULL THEN v.syms
           |              ELSE replace(v.syms, $u || m.sym1 || $uu || m.sym2 || $u,
           |                           $u || m.sym1 || m.sym2 || $u) END AS syms
           |  FROM v${r - 1} v LEFT JOIN m$r m ON TRUE)""".stripMargin
    }
    sb ++=
      s"""
         |, enc AS (
         |  SELECT w, (len(string_split(syms, $uu)) - 2)::BIGINT AS n_sub
         |  FROM v$numMerges),
         |dw AS (
         |  SELECT $idCol AS doc_id, unnest(${toksSql(textCol)}) AS w
         |  FROM $table WHERE trim($textCol) <> '')""".stripMargin
    sb.toString
  }

  /** Per-stratum tokenizer FERTILITY (subwords emitted per word) of a
    * freshly trained BPE table — the standard multilingual tokenizer-equity
    * diagnostic (NLLB, Chung et al. 2023: languages the merge table
    * under-serves pay more subwords per word, i.e. more compute and
    * context per sentence, than the languages that dominated training).
    * One number per stratum (language/source) makes the inequity visible
    * before a token-budget allocator ([[graft.operators.Scale.unimaxAllocate]])
    * consumes it.
    *
    * Same scale shape as [[bpeEncodeCorpus]] (vocab-sized merge
    * application, corpus-sized count join) plus one broadcast-sized join
    * of the per-doc stratum label; the final aggregate is
    * stratum-cardinality rows. Fertility is a BIGINT ratio rounded to
    * 6 dp — deterministic in both engines.
    */
  def tokenizerFertility(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, stratumCol: String,
      numMerges: Int = 10): org.apache.spark.sql.DataFrame =
    bpeEncodeCorpus(df, idCol, textCol, numMerges)
      .join(df.select(col(idCol).as("doc_id"), col(stratumCol).as("stratum")),
        "doc_id")
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"))
      .withColumn("fertility",
        round(col("n_subwords").cast("double") / col("n_words").cast("double"), 6))

  /** DuckDB replay of [[tokenizerFertility]] — the [[bpeEncodeOracleSql]]
    * chain with the per-doc totals rolled up per stratum.
    */
  def fertilityOracleSql(stratumCol: String, numMerges: Int = 10,
      table: String = "documents", textCol: String = "text",
      idCol: String = "doc_id"): String =
    s"""${bpeEncodeChainSql(numMerges, table, textCol, idCol)},
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_words, sum(n_sub)::BIGINT AS n_subwords
       |  FROM dw JOIN enc USING (w) GROUP BY doc_id)
       |SELECT d.$stratumCol AS stratum, count(*)::BIGINT AS n_docs,
       |       sum(p.n_words)::BIGINT AS n_words,
       |       sum(p.n_subwords)::BIGINT AS n_subwords,
       |       round(sum(p.n_subwords)::DOUBLE / sum(p.n_words)::DOUBLE, 6)
       |         AS fertility
       |FROM per_doc p JOIN $table d ON d.$idCol = p.doc_id
       |GROUP BY 1""".stripMargin

  /** Unicode SCRIPT profile per document: code-point counts and ratios for
    * the major script blocks (Latin, digits, CJK ideographs, Cyrillic,
    * Arabic) — the script-mix signal that complements [[langId]] (a doc
    * claiming `en` with 40% CJK code points is mislabeled or bilingual;
    * script ratios catch it without any model). Block membership uses
    * explicit code-point RANGES, not named Unicode properties — property
    * tables drift between regex engines, code-point ranges cannot.
    *
    * Map-only: five codegen'd regexp counts per row, zero shuffles —
    * like [[gopherQuality]], a pure map over the scan at any scale.
    * Ratios are integer ratios over the non-whitespace code-point count,
    * rounded to 6 dp.
    */
  def scriptProfile(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    // explicit whitespace class, NOT \S: Java and RE2 disagree on \s
    // membership (e.g. \x0B is whitespace to Java but not to RE2), and
    // this operator's whole design is that both engines count the same
    // explicit code-point sets
    val total = regexp_count(t, lit("[^ \\t\\n\\x0B\\f\\r]"))
    def ratio(c: org.apache.spark.sql.Column) =
      when(total > 0, round(c.cast("double") / total.cast("double"), 6))
    val latin = regexp_count(t, lit("[A-Za-z]"))
    val digit = regexp_count(t, lit("[0-9]"))
    val cjk = regexp_count(t, lit("[\\u4e00-\\u9fff]"))
    val cyr = regexp_count(t, lit("[\\u0400-\\u04ff]"))
    val arab = regexp_count(t, lit("[\\u0600-\\u06ff]"))
    df.select(col(idCol).as("doc_id"),
      total.cast("long").as("n_chars"),
      latin.cast("long").as("n_latin"), digit.cast("long").as("n_digit"),
      cjk.cast("long").as("n_cjk"), cyr.cast("long").as("n_cyrillic"),
      arab.cast("long").as("n_arabic"),
      ratio(latin).as("latin_ratio"), ratio(cjk).as("cjk_ratio"))
  }

  /** DuckDB SQL replaying [[scriptProfile]] value-for-value (same
    * code-point ranges in RE2's `\\x{...}` spelling).
    */
  def scriptProfileOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    def cnt(cls: String) =
      s"len(regexp_extract_all(txt, '$cls'))::BIGINT"
    val (latin, digit) = (cnt("[A-Za-z]"), cnt("[0-9]"))
    val cjk = cnt("[\\x{4e00}-\\x{9fff}]")
    val cyr = cnt("[\\x{0400}-\\x{04ff}]")
    val arab = cnt("[\\x{0600}-\\x{06ff}]")
    val total = cnt("[^ \\t\\n\\x{0B}\\f\\r]")
    s"""WITH t AS (SELECT $idCol AS doc_id, coalesce($textCol, '') AS txt
       |           FROM $table),
       |c AS (
       |  SELECT doc_id, $total AS n_chars, $latin AS n_latin,
       |         $digit AS n_digit, $cjk AS n_cjk, $cyr AS n_cyrillic,
       |         $arab AS n_arabic
       |  FROM t)
       |SELECT doc_id, n_chars, n_latin, n_digit, n_cjk, n_cyrillic, n_arabic,
       |       CASE WHEN n_chars > 0
       |            THEN round(n_latin::DOUBLE / n_chars, 6) END AS latin_ratio,
       |       CASE WHEN n_chars > 0
       |            THEN round(n_cjk::DOUBLE / n_chars, 6) END AS cjk_ratio
       |FROM c""".stripMargin
  }

  /** Readability battery — Flesch reading ease, Flesch-Kincaid grade and
    * type-token ratio per document, the classic curriculum/quality axes a
    * difficulty-aware training mix sorts on (simple-english filtering,
    * difficulty binning via [[Profile.curriculumBuckets]] over
    * `flesch_milli`).
    *
    * Everything is FIXED-POINT integer arithmetic so both engines replay
    * the exact values (the PageRank carrier pattern — multiply by the
    * milli/ppm scale first, floor-divide second):
    *   flesch_milli   = 206835 − (1015·W)//S − (84600·Y)//max(W,1)
    *   fk_grade_milli = (390·W)//S + (11800·Y)//max(W,1) − 15590
    *   ttr_ppm        = (D·1e6)//max(W,1)
    * with W = whitespace tokens ([[tokens]]), S = sentence-terminator runs
    * `[.!?]+` floored at 1, Y = syllable heuristic (vowel-group runs
    * `[aeiouy]+` over the lowercased text, floored at W — at least one
    * syllable per word), D = distinct tokens. Syllables-by-vowel-groups is
    * the standard corpus-scale stand-in for dictionary syllabification;
    * the constants are the published Flesch/Kincaid coefficients ×1000.
    *
    * Map-only: two regexp counts + an `array_distinct` size per row, no
    * explode, no shuffle — a pure map over the scan at any corpus size
    * (D is per-document, so the distinct runs inside the row, never as a
    * grouping).
    */
  def readability(df: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    df.select(col(idCol).as("doc_id"), t.as("txt"),
        tokens(t).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        greatest(regexp_count(col("txt"), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        greatest(regexp_count(lower(col("txt")), lit("[aeiouy]+")),
          size(col("toks"))).cast("long").as("n_syll"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syll"),
        (lit(206835L) - expr("(1015 * n_words) div n_sentences")
          - expr("(84600 * n_syll) div greatest(n_words, 1L)"))
          .cast("long").as("flesch_milli"),
        (expr("(390 * n_words) div n_sentences")
          + expr("(11800 * n_syll) div greatest(n_words, 1L)")
          - lit(15590L)).cast("long").as("fk_grade_milli"),
        expr("(n_distinct * 1000000) div greatest(n_words, 1L)")
          .cast("long").as("ttr_ppm"))
  }

  /** DuckDB SQL replaying [[readability]] value-for-value — shares
    * [[toksSql]] so the tokenizer cannot drift, floor-divides the same
    * scaled integers.
    */
  def readabilityOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH d AS (SELECT $idCol AS doc_id, coalesce($textCol, '') AS txt
       |           FROM $table),
       |t AS (SELECT doc_id, txt, ${toksSql("txt")} AS toks FROM d),
       |m AS (
       |  SELECT doc_id,
       |         len(toks)::BIGINT AS n_words,
       |         greatest(len(regexp_extract_all(txt, '[.!?]+')), 1)::BIGINT
       |           AS n_sentences,
       |         greatest(len(regexp_extract_all(lower(txt), '[aeiouy]+')),
       |                  len(toks))::BIGINT AS n_syll,
       |         len(list_distinct(toks))::BIGINT AS n_distinct
       |  FROM t)
       |SELECT doc_id, n_words, n_sentences, n_syll,
       |       (206835 - (1015 * n_words) // n_sentences
       |         - (84600 * n_syll) // greatest(n_words, 1))::BIGINT
       |         AS flesch_milli,
       |       ((390 * n_words) // n_sentences
       |         + (11800 * n_syll) // greatest(n_words, 1)
       |         - 15590)::BIGINT AS fk_grade_milli,
       |       ((n_distinct * 1000000) // greatest(n_words, 1))::BIGINT
       |         AS ttr_ppm
       |FROM m""".stripMargin

  /** Encode a word with a learned merge table: character split, then each
    * merge applied in rank order. Driver-side (plain Scala) — the encode
    * step of a deployed tokenizer runs per row with the merge table
    * broadcast; this is the reference implementation the spec checks
    * [[applyMerge]]'s distributed fold against.
    */
  def bpeEncodeWord(word: String, merges: Seq[(String, String)]): Seq[String] =
    // split on CODE POINTS, not Java String.split("")'s UTF-16 code units:
    // the distributed fold's Spark split(w, '') keeps surrogate pairs whole,
    // and this reference implementation must agree on supplementary-plane
    // input (emoji, rare CJK)
    merges.foldLeft(
      word.codePoints().toArray.toSeq.map(cp => Character.toString(cp))) {
      case (syms, (s1, s2)) =>
      syms.foldLeft(Vector.empty[String]) { (acc, cur) =>
        if (acc.nonEmpty && acc.last == s1 && cur == s2)
          acc.init :+ (s1 + s2)
        else acc :+ cur
      }
    }

  /** DuckDB replay of [[bpePairStats]] value-for-value. */
  def bpeOracleSql(topK: Int = 50, table: String = "documents",
      textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT unnest(${toksSql(textCol)}) AS w
       |  FROM $table WHERE trim($textCol) <> ''),
       |words AS (
       |  SELECT w, count(*) AS freq FROM toks
       |  WHERE length(w) >= 2 GROUP BY w),
       |pairs AS (
       |  SELECT substr(w, i, 1) AS sym1, substr(w, i + 1, 1) AS sym2, freq
       |  FROM words, unnest(range(1, length(w)::INTEGER)) AS t(i))
       |SELECT sym1, sym2, sum(freq)::BIGINT AS pair_count
       |FROM pairs GROUP BY sym1, sym2
       |ORDER BY pair_count DESC, sym1, sym2 LIMIT $topK""".stripMargin

  /** DuckDB replay of the FULL [[bpeTrain]] merge loop, value-for-value —
    * `numMerges` chained CTE rounds of (pair count → top pair → apply
    * merge), the deterministic unrolling of the trainer's driver loop.
    *
    * Symbol sequences are carried as TAB-joined strings wrapped in double
    * tabs (`TT s1 TT s2 TT … TT`): tokens come from a `\s+` split, so no
    * symbol can ever contain a tab — the separator is collision-free by
    * construction, not by assumption. One merge application is a plain
    * left-to-right non-overlapping `replace` of `T s1 TT s2 T` with
    * `T s1·s2 T`: the double-tab boundaries mean each match consumes only
    * the INNER tab of each boundary, so adjacent occurrences ("aaaa" under
    * merge (a,a)) still match back-to-back — exactly [[applyMerge]]'s
    * greedy fold. A round whose word table has no pairs left yields an
    * empty top-1 CTE, which empties every later round via the cross join —
    * the same early-stop as the trainer's loop.
    */
  private val BpeSepSql = "chr(9)"
  private val BpeSep2Sql = "(chr(9)||chr(9))"

  /** The trainer's CTE chain (`w0, p1, m1, w1, … m_k, w_k`), shared by the
    * trainer and encoder oracles so the two can never train on different
    * merge tables.
    */
  private def bpeTrainCtes(numMerges: Int, table: String,
      textCol: String): String = {
    val (u, uu) = (BpeSepSql, BpeSep2Sql)
    val sb = new StringBuilder
    sb ++=
      s"""w0 AS (
         |  SELECT $uu || array_to_string(string_split(w, ''), $uu) || $uu AS syms,
         |         count(*) AS freq
         |  FROM (SELECT unnest(${toksSql(textCol)}) AS w
         |        FROM $table WHERE trim($textCol) <> '')
         |  WHERE length(w) >= 2 GROUP BY w)""".stripMargin
    for (r <- 1 to numMerges) {
      sb ++=
        s""",
           |p$r AS (
           |  SELECT l[i] AS sym1, l[i + 1] AS sym2, freq
           |  FROM (SELECT freq, string_split(syms, $uu) AS l FROM w${r - 1}),
           |       unnest(range(2, len(l) - 1)) AS t(i)),
           |m$r AS (
           |  SELECT sym1, sym2 FROM p$r GROUP BY sym1, sym2
           |  ORDER BY sum(freq) DESC, sym1, sym2 LIMIT 1),
           |w$r AS (
           |  SELECT replace(w.syms, $u || m.sym1 || $uu || m.sym2 || $u,
           |                 $u || m.sym1 || m.sym2 || $u) AS syms, w.freq
           |  FROM w${r - 1} w, m$r m)""".stripMargin
    }
    sb.toString
  }

  def bpeTrainOracleSql(numMerges: Int = 10, table: String = "documents",
      textCol: String = "text"): String =
    s"WITH ${bpeTrainCtes(numMerges, table, textCol)}" +
      (1 to numMerges)
        .map(r => s"SELECT $r::INTEGER AS rank, sym1, sym2 FROM m$r")
        .mkString("\n", "\nUNION ALL\n", "")

  /** PII redaction patterns shared by the Spark operator and the DuckDB
    * oracle: plain ASCII character classes, bounded quantifiers, and
    * alternation only (no lookarounds), so Java regex (Spark) and RE2
    * (DuckDB) match identically. Phone = dash/dot-separated NANP plus the
    * `(ddd) ddd-dddd` form — formats outside these pass through.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe =
    "(\\([0-9]{3}\\) ?|\\b[0-9]{3}[-.])[0-9]{3}[-.][0-9]{4}\\b"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction — the scrubbing step of a training-data pipeline: mask
    * emails, NANP-style phone numbers, and IPv4 addresses with typed
    * placeholders, and report per-document match counts (the audit trail a
    * compliance pass needs). Pure codegen'd `regexp_replace`/`regexp_count`
    * projection: one scan, no shuffle, no UDF — scale cost is the regex
    * engine on each row, nothing else.
    *
    * Replacement and counting both apply email → ip → phone, each stage
    * counting on the PREVIOUS stage's output, so every count equals the
    * number of placeholders of that type actually emitted — a phone- or
    * IP-shaped span consumed by an email match (e.g. `555-123-4567@x.com`)
    * is counted once, as an email. Placeholder text contains no digits, so
    * a replacement can never create a later-stage match out of its own
    * output.
    */
  def redactPii(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val noEmail = regexp_replace(col(textCol), EmailRe, "[EMAIL]")
    val noIp = regexp_replace(noEmail, Ipv4Re, "[IP]")
    df.select(col(idCol),
      regexp_replace(noIp, PhoneRe, "[PHONE]").as("redacted"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(noIp, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(noEmail, lit(Ipv4Re)).cast("long").as("n_ips"))
  }

  /** DuckDB replay of [[redactPii]] (RE2 needs the 'g' flag for global
    * replace; `regexp_extract_all` + len replays `regexp_count`). `expr`
    * is the text expression to scrub.
    */
  def redactOracleSql(expr: String, table: String = "documents",
      idCol: String = "doc_id"): String = {
    // single-quoted DuckDB literals pass backslashes through untouched, so
    // the shared pattern strings embed verbatim; staged counts replay the
    // counts-equal-placeholders contract
    val (em, ph, ip) = (EmailRe, PhoneRe, Ipv4Re)
    s"""WITH t AS (SELECT $idCol, $expr AS txt FROM $table),
       |s AS (SELECT $idCol, txt,
       |             regexp_replace(txt, '$em', '[EMAIL]', 'g') AS no_email
       |      FROM t),
       |u AS (SELECT $idCol, txt, no_email,
       |             regexp_replace(no_email, '$ip', '[IP]', 'g') AS no_ip
       |      FROM s)
       |SELECT $idCol,
       |       regexp_replace(no_ip, '$ph', '[PHONE]', 'g') AS redacted,
       |       len(regexp_extract_all(txt, '$em'))::BIGINT AS n_emails,
       |       len(regexp_extract_all(no_ip, '$ph'))::BIGINT AS n_phones,
       |       len(regexp_extract_all(no_email, '$ip'))::BIGINT AS n_ips
       |FROM u""".stripMargin
  }

  /** Order-sensitive Rabin–Karp fingerprint over a token array, portable
    * variant of [[graft.functions.SimHash.rollingHash64]]: token hashes are
    * md5-derived and the fold is mod 2^31-1, so any engine with md5()
    * replays it exactly ([[rollingFpOracleSql]] is the DuckDB replay).
    * Empty token array → 0.
    */
  def portableRollingFp(toks: Column): Column = {
    val P = Dedup.PortablePrime
    val hs = transform(toks,
      t => Dedup.portableHash(t) % P)
    aggregate(hs, lit(0L), (acc, h) => (acc * PortableFpBase + h) % P)
  }

  /** DuckDB SQL replaying [[portableRollingFp]] over `documents`
    * value-for-value (list_reduce needs a seeded first element, hence the
    * prepended 0 — which also makes the empty-token case yield 0).
    */
  def rollingFpOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    val P = Dedup.PortablePrime
    s"""WITH toks AS (
       |  SELECT $idCol AS id,
       |         ${toksSql(textCol)} AS toks
       |  FROM $table),
       |hs AS (
       |  SELECT id, list_transform(toks,
       |           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $P) AS hs
       |  FROM toks)
       |SELECT id AS doc_id,
       |       list_reduce([0::BIGINT] || hs,
       |         (acc, h) -> (acc * $PortableFpBase + h) % $P) AS fp_mod
       |FROM hs""".stripMargin
  }

  /** The Gopher rule-based document-quality battery (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", Appendix A1.1) — the standard pre-filter every web-scale
    * training corpus runs before the model-based filters: per-document
    * word-count bounds, mean word length bounds, symbol-to-word ratio
    * (hash marks + ellipses), bullet-started and ellipsis-ended line
    * fractions, the alphabetic-word fraction, and presence of common
    * English stop words. Emits every signal (so downstream consumers can
    * re-threshold without re-scanning) plus the composite `pass` verdict
    * under the paper's published thresholds.
    *
    * Distributed shape: a single projection over the corpus — token/line
    * HOFs fold entirely in-row (integer counts, exact under any execution
    * order), no joins, no shuffles, no state; at 100 TB this is a pure
    * map over the scan, the cheapest possible plan. Fractions are integer
    * ratios rounded to 6 dp ([[tokenEntropy]]'s cross-engine tolerance).
    */
  def gopherQuality(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val toks = tokens(t)
    val nw = size(toks).cast("long")
    // lines: trailing-whitespace-trimmed; blank lines kept in the
    // denominator (the paper counts raw lines)
    val lines = split(t, "\n")
    val nl = size(lines).cast("long")
    val bulletLines = size(filter(lines,
      l => ltrim(l).rlike("^[-*•‣◦]"))).cast("long")
    val ellipsisLines = size(filter(lines,
      l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("long")
    val alphaWords = size(filter(toks, w => w.rlike("[a-z]"))).cast("long")
    val symbols = (regexp_count(t, lit("#")) +
      regexp_count(t, lit("\\.\\.\\.")) + regexp_count(t, lit("…")))
      .cast("long")
    val charSum = aggregate(toks, lit(0L), (acc, w) => acc + length(w))
    val swHits = size(filter(array(GopherStopwords.map(lit): _*),
      s => array_contains(toks, s))).cast("long")
    val meanLen = when(nw > 0, round(charSum.cast("double") / nw, 6))
    val symbolRatio = when(nw > 0, round(symbols.cast("double") / nw, 6))
    val bulletFrac = when(nl > 0, round(bulletLines.cast("double") / nl, 6))
    val ellipsisFrac = when(nl > 0, round(ellipsisLines.cast("double") / nl, 6))
    val alphaFrac = when(nw > 0, round(alphaWords.cast("double") / nw, 6))
    df.select(col(idCol).as("doc_id"), nw.as("n_words"),
        meanLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
        bulletFrac.as("bullet_frac"), ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_frac"), swHits.as("stopword_hits"))
      .withColumn("pass",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("bullet_frac") <= maxBulletFrac &&
          col("ellipsis_frac") <= maxEllipsisFrac &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stopword_hits") >= minStopwords)
  }

  /** The Gopher battery's stop-word list (Rae et al. 2021 A1.1: "contains
    * at least 2 of the following English words"). Distinct from the
    * language-ID [[stopwords]] — the paper pins this exact set.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** DuckDB SQL replaying [[gopherQuality]] value-for-value. Every
    * threshold [[gopherQuality]] exposes is a parameter here too (same
    * defaults), so a non-default Spark call cannot silently drift from
    * its oracle.
    */
  def gopherOracleSql(minWords: Int = 50, maxWords: Int = 100000,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", minStopwords: Int = 2,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8): String = {
    val sw = GopherStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH t AS (
       |  SELECT $idCol AS doc_id, coalesce($textCol, '') AS txt,
       |         ${toksSql(s"coalesce($textCol, '')")} AS toks,
       |         string_split(coalesce($textCol, ''), chr(10)) AS lines
       |  FROM $table),
       |sig AS (
       |  SELECT doc_id,
       |         len(toks)::BIGINT AS n_words,
       |         len(lines)::BIGINT AS n_lines,
       |         len(list_filter(lines,
       |           l -> regexp_matches(ltrim(l), '^[-*•‣◦]')))::BIGINT AS bullet_lines,
       |         len(list_filter(lines,
       |           l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$')))::BIGINT AS ellipsis_lines,
       |         len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))::BIGINT AS alpha_words,
       |         (len(regexp_extract_all(txt, '#'))
       |          + len(regexp_extract_all(txt, '\\.\\.\\.'))
       |          + len(regexp_extract_all(txt, '…')))::BIGINT AS symbols,
       |         list_sum([0] || list_transform(toks, w -> length(w)))::BIGINT AS char_sum,
       |         len(list_filter($sw, s -> list_contains(toks, s)))::BIGINT AS sw_hits
       |  FROM t),
       |r AS (
       |  SELECT doc_id, n_words,
       |         CASE WHEN n_words > 0 THEN round(char_sum::DOUBLE / n_words, 6) END AS mean_word_len,
       |         CASE WHEN n_words > 0 THEN round(symbols::DOUBLE / n_words, 6) END AS symbol_ratio,
       |         CASE WHEN n_lines > 0 THEN round(bullet_lines::DOUBLE / n_lines, 6) END AS bullet_frac,
       |         CASE WHEN n_lines > 0 THEN round(ellipsis_lines::DOUBLE / n_lines, 6) END AS ellipsis_frac,
       |         CASE WHEN n_words > 0 THEN round(alpha_words::DOUBLE / n_words, 6) END AS alpha_frac,
       |         sw_hits AS stopword_hits
       |  FROM sig)
       |SELECT *,
       |       (n_words BETWEEN $minWords AND $maxWords
       |        AND mean_word_len BETWEEN $minMeanLen AND $maxMeanLen
       |        AND symbol_ratio <= $maxSymbolRatio
       |        AND bullet_frac <= $maxBulletFrac
       |        AND ellipsis_frac <= $maxEllipsisFrac
       |        AND alpha_frac >= $minAlphaFrac
       |        AND stopword_hits >= $minStopwords) AS pass
       |FROM r""".stripMargin
  }

  /** Multinomial Naive Bayes text classifier, trained and applied as one
    * DataFrame program — the classical fastText-class quality/language
    * classifier tier of a training-data pipeline (score every document
    * against per-label token distributions; the model IS two small
    * aggregate tables, no driver-side learning loop). Laplace-smoothed:
    * p(w|l) = (c(w,l)+1)/(T_l+V), prior p(l) = docs_l/docs. Every document
    * scores against every label (the label set is small — languages,
    * quality tiers) and the argmax wins with a deterministic (score desc,
    * label) tiebreak.
    *
    * Distributed shape: training = two hash aggregates over the exploded
    * corpus (per-(label, token) counts, per-label doc counts) — the same
    * shuffle as any token count; scoring = the exploded corpus left-joined
    * to the count table on (token, label) after a small-dimension label
    * broadcast, then a per-(doc, label) SORTED fold of log terms (the
    * [[tokenEntropy]] pattern) so the double sum is partition-order-proof
    * and DuckDB-replayable. Unseen (token, label) pairs coalesce to count
    * 0 — the ln(1/(T_l+V)) smoothing floor — rather than dropping.
    * Emits (doc_id, label, score, pred) for every (doc, label) with
    * >= 1 token; `pred` marks the winning row, so consumers get both the
    * decision and the full per-label score vector from one pass.
    */
  def naiveBayes(train: org.apache.spark.sql.DataFrame, labelCol: String,
      score: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val trainToks = train.select(col(labelCol).as("label"),
      explode(tokens(col(textCol))).as("tok"))
    val counts = trainToks.groupBy(col("label"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val labelTotals = counts.groupBy(col("label"))
      .agg(sum(col("c")).as("t_l"))
    val vocab = counts.agg(count_distinct(col("tok")).as("v"))
    val priors = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("docs_l"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("docs"))))
      .select(col("label"),
        log(col("docs_l").cast("double") / col("docs").cast("double"))
          .as("prior"))
    val docToks = score.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    // labels × corpus tokens: the label table is tiny (languages/tiers) —
    // broadcast it, then one (tok, label)-keyed join against the count
    // table (vocabulary-sized shuffle, not corpus²)
    val labels = labelTotals.join(priors, "label")
    val terms = docToks.crossJoin(broadcast(labels))
      .join(counts, Seq("tok", "label"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("label"), col("prior"),
        log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (col("t_l") + col("v")).cast("double")).as("term"))
    val scored = terms
      .groupBy(col("doc_id"), col("label"), col("prior"))
      .agg(sort_array(collect_list(col("term"))).as("ts"))
      .select(col("doc_id"), col("label"),
        round(col("prior") + aggregate(col("ts"), lit(0.0),
          (acc, t) => acc + t), 6).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    // persisted (r14): q_text_label_noise and q_text_nbayes call this
    // with the same arguments — the same canonical tree — so the second
    // cache-hits the whole train+score chain (docs × labels rows, small)
    Caching.persist(scored.withColumn("pred", row_number().over(w) === 1))
  }

  /** DuckDB SQL replaying [[naiveBayes]] trained and scored on the same
    * table value-for-value (same smoothing, same sorted fold, same 6 dp
    * rounding, same tiebreak).
    */
  def naiveBayesOracleSql(labelCol: String = "lang", table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id, $labelCol AS label,
       |         unnest(${toksSql(textCol)}) AS tok
       |  FROM $table),
       |counts AS (
       |  SELECT label, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       |lt AS (SELECT label, sum(c)::BIGINT AS t_l FROM counts GROUP BY 1),
       |voc AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM counts),
       |pri AS (
       |  SELECT $labelCol AS label,
       |         ln(count(*)::DOUBLE /
       |            (SELECT count(*) FROM $table)::DOUBLE) AS prior
       |  FROM $table GROUP BY 1),
       |dt AS (SELECT doc_id, tok FROM toks),
       |terms AS (
       |  SELECT dt.doc_id, l.label, pri.prior,
       |         ln((coalesce(c.c, 0) + 1)::DOUBLE / (l.t_l + voc.v)::DOUBLE)
       |           AS term
       |  FROM dt CROSS JOIN lt l
       |  JOIN pri ON pri.label = l.label
       |  LEFT JOIN counts c ON c.tok = dt.tok AND c.label = l.label, voc),
       |scored AS (
       |  SELECT doc_id, label,
       |         round(any_value(prior)
       |           + list_sum(list_sort(list(term))), 6) AS score
       |  FROM terms GROUP BY doc_id, label)
       |SELECT doc_id, label, score,
       |       row_number() OVER (PARTITION BY doc_id
       |                          ORDER BY score DESC, label) = 1 AS pred
       |FROM scored""".stripMargin

  /** BM25 lexical retrieval (Robertson–Spärck Jones; the Lucene-parameter
    * form with k1 = 1.2, b = 0.75) — the sparse half of a RAG serving
    * stack next to [[graft.operators.Similarity.retrieveChunks]]'s hashed
    * dense tier: probes query the corpus through an inverted-index
    * equi-join on the shared term, never a pairwise scan. idf uses the
    * +1-inside-the-log form, ln(1 + (N−df+0.5)/(df+0.5)) = ln((2N+2)/(2df+1))
    * — a log of one integer ratio, identical in any engine.
    *
    * Cross-engine exactness: the length-normalized denominator
    * tf + k1·(1−b+b·dl/avgdl) is algebraically cleared of fractions —
    * with k1 = 6/5, b = 3/4 and avgdl = totlen/N, multiplying through by
    * 20·totlen gives contribution =
    * idf · 44·tf·totlen / (20·tf·totlen + 6·totlen + 18·dl·N), an
    * all-BIGINT numerator/denominator, so each term's double is computed
    * from identical integers in Spark and DuckDB; per-term scores are then
    * rounded to nano precision and summed as BIGINTs (associative under
    * any partition order — no sorted-fold materialization), final score
    * rounded to 6 dp.
    *
    * Distributed shape: one corpus tokenize/aggregate pass (tf per
    * (doc, term), df + dl/totlen from it), probes' DISTINCT terms
    * broadcast onto the posting lists (probe set ≪ corpus), per-pair
    * fold, per-probe top-k window with a (score desc, doc) tiebreak —
    * work is Σ posting-list hits of the probes' terms, never N_docs ×
    * N_probes.
    */
  def bm25Retrieve(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, probes: org.apache.spark.sql.DataFrame,
      probeIdCol: String, probeTextCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docToks = corpus.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("term"))
    // ONE tokenize+explode pass (r15): tf is the only corpus-derived
    // aggregate — dl is its per-doc sum (dl = Σ_term tf, the identity the
    // DuckDB oracle already uses) and df its per-term row count, so the
    // old second docToks pass (a full re-tokenize of the corpus for dl)
    // is gone. tf is the persisted seam (referenced by dl, df_t and the
    // posting join); dl is doc-sized and broadcast into the posting list,
    // so the serving path below stays exclusively broadcast hash joins —
    // no corpus-sized shuffle happens per query batch. Values identical
    // term for term (same integers, same joins).
    // persisted REPARTITIONED ON doc (r15 session 2; the retrieveChunks
    // prefix-partitioning finding applied to the sparse tier): hash(doc)
    // co-locates every downstream group's rows — dl's (doc) groups and,
    // the one that matters, the scored fold's (probe_id, doc) groups
    // (a group's posting rows are exactly doc's terms). The probe
    // expansion below is dense (stop words connect every probe to nearly
    // every doc); with tf hash(doc, term)-spread each group arrived
    // term-scattered and the partial aggregate barely reduced it, so the
    // Exchange between partial and final carried the expansion nearly
    // unreduced — the query's dominant shuffle. Co-located, the partial
    // aggregate collapses each group to ONE row and the Exchange ships
    // final-sized data (≤ probes·docs rows, not Σ qdf·df). One narrow
    // posting-table shuffle buys it. Values unchanged (pure
    // partitioning); measured warm count 5.4 → 1.6-2.2 s at sf0.1/32.
    val tf = docToks.groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .repartition(col("doc"))
      .transform(Caching.persist)
    val dl = tf.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val postings = tf.join(broadcast(dl), "doc")
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("totlen"))
    val df_t = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = probes
      .select(col(probeIdCol).as("probe_id"),
        explode(tokens(col(probeTextCol))).as("term"))
      .distinct()
    // enrich the PROBE VOCABULARY (distinct terms across all probes) with
    // df: the vocabulary-sized df join runs once against that small set,
    // not against every posting hit
    val tdf = qterms.select(col("term")).distinct().join(df_t, "term")
    // per-(term, doc) nano contribution, computed ONCE per posting row:
    // the BM25 term score is probe-independent (idf, tf, dl, n, totlen —
    // nothing from the probe), so the log/divide/round happens on the
    // posting-list-sized table and the dense probe expansion below ships
    // one slim BIGINT per hit. Same arithmetic on the same integers as
    // rounding after the expansion — bit-identical scores, posting-count
    // many double ops instead of hit-count many.
    val cNano = postings.join(broadcast(tdf), "term")
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc"),
        round(
          (log((col("n") * 2 + 2).cast("double") / (col("df") * 2 + 1).cast("double"))
            * (lit(44L) * col("tf") * col("totlen")).cast("double")
            / (lit(20L) * col("tf") * col("totlen") + lit(6L) * col("totlen")
               + lit(18L) * col("dl") * col("n")).cast("double")) * lit(1e9), 0)
          .cast("long").as("c_nano"))
    // per-term nano scores sum as BIGINTs: associative (any partition
    // order), codegen'd hash aggregation — the sorted-fold pattern would
    // materialize a list per (probe, doc) pair, and BM25 pairs are dense
    // (stop words connect every probe to nearly every doc), which made
    // the fold the query's dominant cost
    val scored = cNano.join(broadcast(qterms), "term")
      .groupBy(col("probe_id"), col("doc"))
      .agg(sum(col("c_nano")).as("su"), count(lit(1)).as("n_terms"))
      .select(col("probe_id"), col("doc"), col("n_terms"),
        round(col("su").cast("double") / lit(1e9), 6).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("doc"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** DuckDB SQL replaying probe-pred-split [[bm25Retrieve]] over one table
    * value-for-value (same integer-cleared denominator, same sorted fold,
    * same 6 dp rounding, same tiebreak). `probePred` over the bound `id`
    * splits probes from corpus — the [[contaminationOracleSql]] pattern.
    */
  def bm25OracleSql(k: Int, probePred: String = "id % 20 = 0",
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT $idCol AS id, unnest(${toksSql(textCol)}) AS term
       |  FROM $table),
       |tf AS (
       |  SELECT id AS doc, term, count(*)::BIGINT AS tf
       |  FROM toks WHERE NOT ($probePred) GROUP BY 1, 2),
       |dl AS (SELECT doc, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS totlen FROM dl),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |qt AS (
       |  SELECT DISTINCT id AS probe_id, term FROM toks WHERE $probePred),
       |terms AS (
       |  SELECT qt.probe_id, tf.doc,
       |         ln((2 * n + 2)::DOUBLE / (2 * df + 1)::DOUBLE)
       |           * (44 * tf * totlen)::DOUBLE
       |           / (20 * tf * totlen + 6 * totlen + 18 * dl.dl * n)::DOUBLE
       |           AS term_score
       |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
       |  JOIN dl ON dl.doc = tf.doc, stats),
       |scored AS (
       |  SELECT probe_id, doc, count(*)::BIGINT AS n_terms,
       |         round(sum(round(term_score * 1e9)::BIGINT)::DOUBLE / 1e9, 6)
       |           AS score
       |  FROM terms GROUP BY 1, 2)
       |SELECT probe_id, doc, n_terms, score,
       |       rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |                               ORDER BY score DESC, doc)::BIGINT AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin

  /** Good-Turing frequency-of-frequencies table — the smoothing statistic
    * of classical LM estimation (Good 1953; Katz 1987) and a corpus-health
    * diagnostic in its own right: N_r = number of word types occurring
    * exactly r times. The adjusted count r* = (r+1)·N_{r+1}/N_r feeds
    * Katz back-off and Kneser-Ney discounting; N_1/N (the unseen-mass
    * estimate) says how much probability a LM should hold back for
    * vocabulary it has never seen — a direct measure of how "open" the
    * corpus vocabulary still is at this size.
    *
    * Exactness: everything is an integer count; r* is reported as an
    * exact RATIONAL (numerator (r+1)·N_{r+1}, denominator N_r) instead of
    * a double quotient, so both engines emit identical BIGINTs.
    *
    * Scale shape: one corpus-sized term-count aggregate (the same one
    * tf-idf/Zipf run), then a second aggregate over the VOCABULARY-sized
    * count table to the ≤maxR-row result; the r→r+1 lookup is a self-join
    * on that tiny table.
    */
  def goodTuring(df: org.apache.spark.sql.DataFrame, textCol: String,
      maxR: Int = 10, ngram: Int = 1): org.apache.spark.sql.DataFrame = {
    require(maxR >= 1 && ngram >= 1)
    val tf = df
      .select(tokens(col(textCol)).as("toks"))
      .select(explode(if (ngram == 1) col("toks")
        else wordNgrams(col("toks"), ngram)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("r"))
    val nr = tf.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      .where(col("r") <= maxR + 1)
    nr.as("a")
      .join(nr.as("b"), col("a.r") + 1 === col("b.r"), "left")
      .where(col("a.r") <= maxR)
      .select(col("a.r").as("r"), col("a.n_r").as("n_r"),
        coalesce(col("b.n_r"), lit(0L)).as("n_r_next"),
        ((col("a.r") + 1) * coalesce(col("b.n_r"), lit(0L))).as("rstar_num"),
        col("a.n_r").as("rstar_den"))
  }

  /** DuckDB replay of [[goodTuring]] (same tokenizer, same exact-rational
    * adjusted counts).
    */
  def goodTuringOracleSql(maxR: Int = 10, ngram: Int = 1,
      table: String = "documents", textCol: String = "text"): String = {
    val gramList = if (ngram == 1) "toks"
      else {
        val joined = (1 to ngram).map(j => s"toks[i + ${j - 1}]")
          .mkString(" || ' ' || ")
        s"list_transform(range(1, len(toks) - ${ngram - 2}), i -> $joined)"
      }
    s"""WITH toks AS (
       |  SELECT ${toksSql(textCol)} AS toks FROM $table),
       |tf AS (
       |  SELECT tok, count(*)::BIGINT AS r FROM (
       |    SELECT unnest($gramList) AS tok FROM toks
       |    WHERE len(toks) >= $ngram)
       |  GROUP BY tok),
       |nr AS (
       |  SELECT r, count(*)::BIGINT AS n_r FROM tf
       |  WHERE r <= ${maxR + 1} GROUP BY r)
       |SELECT a.r, a.n_r,
       |       coalesce(b.n_r, 0)::BIGINT AS n_r_next,
       |       ((a.r + 1) * coalesce(b.n_r, 0))::BIGINT AS rstar_num,
       |       a.n_r AS rstar_den
       |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
       |WHERE a.r <= $maxR""".stripMargin
  }

  /** Heaps'-law vocabulary-growth fit — the companion sanity plot to
    * [[zipfFit]]: distinct vocabulary V grows with corpus size n as
    * V ≈ K·n^β (β ≈ 0.7–0.8 for natural language). A β near 1 means the
    * corpus never stops minting new types (OCR noise, random ids, broken
    * tokenization); a β near 0 means template spam re-using a closed
    * vocabulary. Fitting it answers the practical curation question "will
    * doubling this corpus still buy new vocabulary?".
    *
    * The growth curve is computed over the doc-id order (the corpus's
    * canonical ingest order): per doc, its token count and the number of
    * word types whose globally FIRST occurrence is this doc; cumulative
    * sums give (n tokens seen, vocab seen) after each doc; every
    * `sampleEvery`-th doc becomes a fit point; OLS over (ln n, ln V) with
    * the [[zipfFit]] sequential-fold idiom returns (n_points, beta = the
    * Heaps exponent, intercept = ln K, r2), 6 dp.
    *
    * Scale shape: first-occurrence is one vocabulary-sized `min(doc)`
    * aggregate; the prefix sums are TWO-LEVEL (per-bucket totals, a
    * window over the bucket table of n_docs/bucketSize rows, then the
    * intra-bucket window partitioned by bucket) — the same
    * mega-partition-proof cumsum [[Scale.domainTokenCap]] uses, so no
    * window ever sees more than max(bucketSize, n_docs/bucketSize) rows.
    * Un-partitioned window bound: the bucket-total window reads one row
    * per non-empty `doc div bucketSize` bucket, an aggregate of at most
    * n_docs rows and n_docs/bucketSize + 1 for dense ids.
    */
  def heapsFit(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sampleEvery: Long = 8L,
      bucketSize: Long = 1024L): org.apache.spark.sql.DataFrame = {
    require(sampleEvery >= 1 && bucketSize >= 1)
    import org.apache.spark.sql.expressions.Window
    // persisted: perDoc (map) and newWords (explode) are sibling branches
    // of the same tokenize with no exchange above it, so without the cache
    // ReuseExchange cannot deduplicate them and the corpus is tokenized
    // twice; `d` likewise feeds both the bucket totals and the point join
    val toksDf = graft.operators.Caching.persist(
      df.select(col(idCol).cast("long").as("doc"),
        tokens(col(textCol)).as("toks")))
    val perDoc = toksDf.select(col("doc"),
      size(col("toks")).cast("long").as("n_tok"))
    val newWords = toksDf
      .select(col("doc"), explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc")).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("nw"))
    val d = graft.operators.Caching.persist(
      perDoc.join(newWords, Seq("doc"), "left")
        .select(col("doc"), col("n_tok"),
          coalesce(col("nw"), lit(0L)).as("nw"))
        .withColumn("b", expr(s"doc div $bucketSize")))
    val wB = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bPre = d.groupBy(col("b"))
      .agg(sum(col("n_tok")).as("bt"), sum(col("nw")).as("bw"))
      .select(col("b"),
        coalesce(sum(col("bt")).over(wB), lit(0L)).as("pre_t"),
        coalesce(sum(col("bw")).over(wB), lit(0L)).as("pre_w"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("doc"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pts = d.join(bPre, "b")
      .select(col("doc"),
        (col("pre_t") + sum(col("n_tok")).over(wIn)).as("cum_tok"),
        (col("pre_w") + sum(col("nw")).over(wIn)).as("cum_vocab"))
      .where(col("doc") % sampleEvery === 0 &&
        col("cum_tok") >= 1 && col("cum_vocab") >= 1)
      .select(col("doc").as("r"),
        log(col("cum_tok").cast("double")).as("x"),
        log(col("cum_vocab").cast("double")).as("y"))
    olsFit(pts).withColumnRenamed("slope", "beta")
  }

  /** One-row OLS over (x, y) points keyed by `r` — the shared tail of
    * [[zipfFit]] and [[heapsFit]]: sums fold SEQUENTIALLY over r-sorted
    * arrays so both engines add the same doubles in the same order.
    * Input: (r BIGINT, x DOUBLE, y DOUBLE); output
    * (n_points, slope, intercept, r2), 6 dp.
    */
  private[graft] def olsFit(
      pts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val agg = pts.agg(
      count(lit(1)).cast("double").as("n"),
      sort_array(collect_list(struct(col("r"), col("x")))).as("xs"),
      sort_array(collect_list(struct(col("r"), col("y")))).as("ys"))
    def fold(arr: Column, f: Column => Column): Column =
      aggregate(arr, lit(0.0), (acc, p) => acc + f(p.getField("x")))
    def fold2(xs: Column, ys: Column): Column =
      aggregate(zip_with(xs, ys, (a, b) =>
        a.getField("x") * b.getField("x")), lit(0.0), (acc, v) => acc + v)
    val ys = col("ys").cast("array<struct<r:bigint,x:double>>")
    agg.select(col("n"),
        fold(col("xs"), identity).as("sx"),
        fold(ys, identity).as("sy"),
        fold2(col("xs"), ys).as("sxy"),
        fold(col("xs"), v => v * v).as("sxx"),
        fold(ys, v => v * v).as("syy"))
      .select(col("n").cast("long").as("n_points"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("m"),
        col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
      .select(col("n_points"),
        round(col("m"), 6).as("slope"),
        round((col("sy") - col("m") * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(
          ((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** DuckDB replay of [[heapsFit]] (same first-occurrence counting, same
    * sampled points, same rank-ordered sequential OLS sums; the oracle's
    * single cumulative window equals the two-level Spark prefix sum).
    */
  def heapsOracleSql(sampleEvery: Long = 8L, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT $idCol::BIGINT AS doc, ${toksSql(textCol)} AS toks
       |  FROM $table),
       |perdoc AS (
       |  SELECT doc, len(toks)::BIGINT AS n_tok FROM toks),
       |firstocc AS (
       |  SELECT tok, min(doc) AS doc FROM (
       |    SELECT doc, unnest(toks) AS tok FROM toks)
       |  GROUP BY tok),
       |nw AS (
       |  SELECT doc, count(*)::BIGINT AS nw FROM firstocc GROUP BY doc),
       |d AS (
       |  SELECT p.doc, p.n_tok, coalesce(nw.nw, 0)::BIGINT AS nw
       |  FROM perdoc p LEFT JOIN nw USING (doc)),
       |c AS (
       |  SELECT doc,
       |         sum(n_tok) OVER (ORDER BY doc)::BIGINT AS cum_tok,
       |         sum(nw) OVER (ORDER BY doc)::BIGINT AS cum_vocab
       |  FROM d),
       |pts AS (
       |  SELECT doc AS r, ln(cum_tok::DOUBLE) AS x, ln(cum_vocab::DOUBLE) AS y
       |  FROM c WHERE doc % $sampleEvery = 0
       |    AND cum_tok >= 1 AND cum_vocab >= 1),
       |l AS (
       |  SELECT count(*)::DOUBLE AS n,
       |         list(x ORDER BY r) AS xs, list(y ORDER BY r) AS ys,
       |         list(x * y ORDER BY r) AS xys,
       |         list(x * x ORDER BY r) AS xxs,
       |         list(y * y ORDER BY r) AS yys
       |  FROM pts),
       |s AS (
       |  SELECT n, list_aggregate(xs, 'sum') AS sx,
       |         list_aggregate(ys, 'sum') AS sy,
       |         list_aggregate(xys, 'sum') AS sxy,
       |         list_aggregate(xxs, 'sum') AS sxx,
       |         list_aggregate(yys, 'sum') AS syy
       |  FROM l),
       |m AS (
       |  SELECT n, sx, sy, sxy, sxx, syy,
       |         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
       |  FROM s)
       |SELECT n::BIGINT AS n_points, round(slope, 6) AS beta,
       |       round((sy - slope * sx) / n, 6) AS intercept,
       |       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
       |             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
       |FROM m""".stripMargin

  /** Luhn (mod-10) checksum validity of a digit string — the checksum
    * every payment-card number satisfies, the standard precision filter
    * on top of a "run of 13–19 digits" PII regex: a random digit run
    * passes only 10% of the time, so Luhn-gating a card-number detector
    * cuts false positives 10× before redaction. Implemented as a codegen
    * higher-order fold (right-to-left positional doubling, subtract 9 on
    * overflow); behind an all-digits guard: any input
    * containing a non-digit (separators, letters, empty) is `false`
    * outright — the guard is load-bearing under Spark 4's default ANSI
    * mode, where an unguarded `cast('-' as int)` would THROW, not null
    * out. Callers strip separators first if "4111-1111-…" should
    * validate.
    */
  def luhnValid(digits: Column): Column = {
    val L = length(digits)
    val total = aggregate(sequence(lit(1), L), lit(0), (acc, i) => {
      val d = digits.substr(L - i + 1, lit(1)).cast("int")
      val dd = when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      acc + dd
    })
    when(digits.rlike("^[0-9]+$"), total % 10 === 0).otherwise(lit(false))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * curation dual of [[contamination]]: contamination asks "does this
    * training doc leak benchmark n-grams?", novelty asks "does this new
    * batch add anything the corpus doesn't already have?". Per probe doc:
    * its distinct word n-grams, how many are absent from the reference
    * corpus's n-gram vocabulary, and the novelty ratio in exact integer
    * micro-units (`unseen · 1e6 div total`). Incremental-ingest batches
    * scoring near 0 are redundant re-crawls; near 1e6 are genuinely new
    * material (or junk — route high-novelty docs through the quality
    * battery before keeping them).
    *
    * Scale shape: both sides reduce to distinct-gram tables (corpus-sized
    * aggregate, the same budget as vocabulary building); membership is
    * one gram-keyed LEFT join (no broadcast assumption — the reference
    * vocabulary at web scale exceeds driver memory) + one probe-keyed
    * aggregate. Probes with fewer than n tokens emit (0, 0, −1).
    */
  def ngramNovelty(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, probes: org.apache.spark.sql.DataFrame,
      probeIdCol: String, probeTextCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1)
    def grams(df: org.apache.spark.sql.DataFrame, id: String,
        text: String): org.apache.spark.sql.DataFrame =
      df.select(col(id).as("id"), tokens(col(text)).as("toks"))
        .select(col("id"),
          explode(if (n == 1) col("toks") else wordNgrams(col("toks"), n))
            .as("gram"))
        .distinct()
    val corpusGrams = grams(corpus, idCol, textCol)
      .select(col("gram")).distinct().withColumn("seen", lit(1))
    val probeGrams = grams(probes, probeIdCol, probeTextCol)
    val scored = probeGrams.join(corpusGrams, Seq("gram"), "left")
      .groupBy(col("id").as("probe_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("novelty_micro",
        expr("n_unseen * 1000000 div n_grams"))
    probes.select(col(probeIdCol).as("probe_id"))
      .join(scored, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("novelty_micro"), lit(-1L)).as("novelty_micro"))
  }

  /** DuckDB replay of probe-pred-split [[ngramNovelty]] over one table
    * (same gram builder, same floor-division micro-units; `probePred`
    * over the bound `id` splits probes from corpus — the
    * [[bm25OracleSql]] pattern).
    */
  def ngramNoveltyOracleSql(n: Int, probePred: String = "id % 20 = 0",
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val gramList = if (n == 1) "toks"
      else {
        val joined = (1 to n).map(j => s"toks[i + ${j - 1}]")
          .mkString(" || ' ' || ")
        s"list_transform(range(1, len(toks) - ${n - 2}), i -> $joined)"
      }
    s"""WITH toks AS (
       |  SELECT $idCol AS id, ${toksSql(textCol)} AS toks FROM $table),
       |grams AS (
       |  SELECT DISTINCT id, unnest($gramList) AS gram
       |  FROM toks WHERE len(toks) >= $n),
       |corpus AS (
       |  SELECT DISTINCT gram FROM grams WHERE NOT ($probePred)),
       |scored AS (
       |  SELECT g.id AS probe_id, count(*)::BIGINT AS n_grams,
       |         sum(CASE WHEN c.gram IS NULL THEN 1 ELSE 0 END)::BIGINT
       |           AS n_unseen
       |  FROM grams g LEFT JOIN corpus c ON c.gram = g.gram
       |  WHERE $probePred GROUP BY g.id)
       |SELECT p.id AS probe_id,
       |       coalesce(s.n_grams, 0)::BIGINT AS n_grams,
       |       coalesce(s.n_unseen, 0)::BIGINT AS n_unseen,
       |       coalesce((s.n_unseen * 1000000) // s.n_grams, -1)::BIGINT
       |         AS novelty_micro
       |FROM (SELECT $idCol AS id FROM $table WHERE $probePred) p
       |LEFT JOIN scored s ON s.probe_id = p.id""".stripMargin
  }

  /** DuckDB boolean expression replaying [[luhnValid]]`(digitsExpr)`. */
  def luhnSql(digitsExpr: String): String = {
    val L = s"length($digitsExpr)"
    val d = s"substr($digitsExpr, $L - i + 1, 1)::INT"
    "CASE WHEN regexp_matches(" + digitsExpr + ", '^[0-9]+$') " +
      s"THEN list_aggregate(list_transform(range(1, $L + 1), " +
      s"i -> CASE WHEN i % 2 = 0 THEN CASE WHEN $d * 2 > 9 " +
      s"THEN $d * 2 - 9 ELSE $d * 2 END ELSE $d END), 'sum') % 10 = 0 " +
      "ELSE false END"
  }

  /** Label-noise CONFUSION report — confident-learning's first step
    * (Northcutt et al. 2021): cross-predict every doc's label with the
    * corpus-trained [[naiveBayes]] classifier and tabulate (true label,
    * predicted label) counts. The off-diagonal mass estimates the label
    * error rate of the metadata (mislabeled language/source tags are
    * endemic in crawled corpora and silently poison per-language
    * sampling, tokenizer fertility and curriculum splits); each cell
    * carries its min doc id as a deterministic audit sample.
    *
    * Scale: the classifier pass (one vocabulary-sized join) + one
    * |labels|²-bounded aggregate.
    */
  def labelNoise(df: org.apache.spark.sql.DataFrame, labelCol: String,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val pred = naiveBayes(df, labelCol, df, idCol, textCol)
      .where(col("pred"))
      .select(col("doc_id"), col("label").as("pred_label"))
    df.select(col(idCol).as("doc_id"), col(labelCol).as("true_label"))
      .join(pred, Seq("doc_id"))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("sample_id"))
  }

  /** DuckDB replay of [[labelNoise]] (the full [[naiveBayesOracleSql]]
    * chain as a subquery, same argmax rows, same confusion cells).
    */
  def labelNoiseOracleSql(labelCol: String = "lang",
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH nb AS (
       |  SELECT * FROM (
       |    ${naiveBayesOracleSql(labelCol, table, idCol, textCol)
             .replace("\n", "\n    ")})
       |  WHERE pred)
       |SELECT d.$labelCol AS true_label, nb.label AS pred_label,
       |       count(*)::BIGINT AS n, min(d.$idCol)::BIGINT AS sample_id
       |FROM $table d JOIN nb ON nb.doc_id = d.$idCol
       |GROUP BY 1, 2""".stripMargin

  /** CONTENT-DEFINED chunking — rolling-hash boundaries instead of fixed
    * windows (the Rabin/FastCDC idea, applied at the token level): a
    * chunk ends wherever the w-token rolling fingerprint ≡ 0 mod
    * `divisor`, so boundaries are a pure function of local CONTENT.
    * Insert a sentence at the top of a doc and every [[chunk]] window
    * shifts (zero shared chunk fingerprints with the original); CDC
    * boundaries re-synchronize after ~w tokens, so all but the edited
    * chunk dedup away — the property incremental corpus dedup and
    * dedup-friendly storage both build on. Mean chunk length ≈ `divisor`
    * tokens (boundary probability 1/divisor per position).
    *
    * Emits (doc_id, chunk_id, n_tokens, chunk_text, chunk_fp) — chunk_fp
    * is the md5 of the chunk's lowercase tokens, the ready-made exact-
    * dedup key; chunk_text keeps original case ([[Dedup.dedupSegments]]'
    * contract: both tokenizers split on the same rule, positions align).
    *
    * Exactness: the boundary hash is the shared [[portableRollingFp]]
    * arithmetic over the last w md5 token hashes, assembled from w
    * codegen'd lag() terms (no per-position HOF refold); everything is
    * integer mod [[Dedup.PortablePrime]], so DuckDB replays boundaries
    * bit-for-bit. Scale shape: posexplode → per-doc lag/prefix windows
    * (bounded by document length, the funnel/sessionize hazard class,
    * not a corpus window) → one (doc, chunk) aggregate. O(total tokens).
    */
  def chunkCdc(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, w: Int = 4, divisor: Long = 16L):
      org.apache.spark.sql.DataFrame = {
    require(w >= 1 && divisor >= 1)
    import org.apache.spark.sql.expressions.Window
    val P = Dedup.PortablePrime
    val base = graft.operators.Caching.persist(df.select(
      col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("rtoks")))
    // ONE posexplode of the zipped token layouts: a (doc, pos) self-join
    // of two explodes would re-shuffle every token AND cross-match rows
    // if an id ever repeated; the zip is map-only and structurally
    // cannot (both arrays come from the same \s+ split, so they align)
    val pos = base.where(size(col("toks")) >= 1)
      .select(col("doc_id"),
        posexplode(arrays_zip(col("toks"), col("rtoks"))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col.toks").as("tok"), col("col.rtoks").as("rtok"))
      .withColumn("h", Dedup.portableHash(col("tok")) % P)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // fp(pos) = sum_{j=0..w-1} h(pos-j) * B^(w-1-j)  mod P — the same
    // polynomial portableRollingFp folds, spelled as w lag terms
    val terms = (0 until w).map { j =>
      // token lag(j) sits j-from-the-END of the window fold acc*B+h, so
      // its accumulated multiplier is B^j — matching portableRollingFp
      // over the same w tokens exactly
      val pw = (0 until j).foldLeft(1L)((a, _) =>
        (a * PortableFpBase) % P)
      (coalesce(lag(col("h"), j).over(wOrd), lit(0L)) * pw) % P
    }
    val withFp = pos.withColumn("fp",
        terms.reduce((a, b) => (a + b) % P))
      .withColumn("bnd",
        when(col("pos") >= w && col("fp") % divisor === 0, 1L)
          .otherwise(0L))
    val wPre = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = withFp.withColumn("chunk_id",
      coalesce(sum(col("bnd")).over(wPre), lit(0L)))
    chunked.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("rtok")))),
          x => x.getField("rtok")), " ").as("chunk_text"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("chunk_fp"))
  }

  /** DuckDB replay of [[chunkCdc]] (same md5 token hashes, same lag-term
    * polynomial, same boundary rule and prefix-sum chunk ids).
    */
  def chunkCdcOracleSql(w: Int = 4, divisor: Long = 16L,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val P = Dedup.PortablePrime
    val rawToks =
      s"CASE WHEN trim($textCol) = '' THEN []::VARCHAR[] " +
        s"ELSE list_filter(string_split_regex($textCol, '\\s+'), t -> t <> '') END"
    val terms = (0 until w).map { j =>
      val pw = (0 until j).foldLeft(1L)((a, _) =>
        (a * PortableFpBase) % P)
      s"(coalesce(lag(h, $j) OVER wo, 0) * $pw) % $P"
    }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT $idCol::BIGINT AS doc_id, ${toksSql(textCol)} AS toks,
       |         $rawToks AS rtoks
       |  FROM $table),
       |pos AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, len(toks)))::BIGINT AS pos,
       |         unnest(toks) AS tok, unnest(rtoks) AS rtok
       |  FROM base WHERE len(toks) >= 1),
       |h AS (
       |  SELECT doc_id, pos, tok, rtok,
       |         ('0x' || substr(md5(tok), 1, 15))::BIGINT % $P AS h
       |  FROM pos),
       |fp AS (
       |  SELECT doc_id, pos, tok, rtok,
       |         ($terms) % $P AS fp
       |  FROM h WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
       |bnd AS (
       |  SELECT doc_id, pos, tok, rtok,
       |         CASE WHEN pos >= $w AND fp % $divisor = 0 THEN 1
       |              ELSE 0 END AS bnd
       |  FROM fp),
       |chunked AS (
       |  SELECT doc_id, pos, tok, rtok,
       |         coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS chunk_id
       |  FROM bnd)
       |SELECT doc_id, chunk_id::BIGINT AS chunk_id,
       |       count(*)::BIGINT AS n_tokens,
       |       string_agg(rtok, ' ' ORDER BY pos) AS chunk_text,
       |       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
       |FROM chunked GROUP BY doc_id, chunk_id""".stripMargin
  }

  /** T5-style SPAN CORRUPTION training-pair generation (Raffel et al.
    * 2020): mask contiguous token spans, emit the corrupted text as
    * `input_text` (each span replaced by its `<extra_id_k>` sentinel) and
    * the dropped content as `target_text` (sentinel + span tokens, in
    * order) — the denoising-objective data prep of T5/UL2 pretraining,
    * as a corpus operator instead of a dataloader transform.
    *
    * Deterministic span rule (both engines replay it bit-for-bit):
    * position p starts a span iff md5-hash(doc:p) ≡ 0 mod `everyK` AND
    * the previous CANDIDATE start in the doc is ≥ `spanLen` back (one
    * lag() check — chains of near candidates thin to the first of each
    * run, a deliberately non-recursive simplification of greedy
    * selection; expected mask density ≈ spanLen/everyK). Spans cover
    * [p, p+spanLen) clipped at doc end.
    *
    * Scale shape: posexplode → per-doc lag window → span explode
    * (spanLen rows per span) → anti/semi joins on (doc, pos) → one
    * doc-keyed rebuild each for input and target. O(total tokens), the
    * per-doc windows are the bounded sessionize class.
    */
  def spanCorrupt(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, spanLen: Int = 3, everyK: Long = 20L):
      org.apache.spark.sql.DataFrame = {
    require(spanLen >= 1 && everyK >= 1)
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("tok"))
      .transform(graft.operators.Caching.persist)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cand = toks.withColumn("is_cand",
        Dedup.portableHash(concat(col("doc_id"), lit(":"), col("pos")))
          % everyK === 0)
      .where(col("is_cand"))
      .withColumn("prev", lag(col("pos"), 1).over(wOrd))
      .where(col("prev").isNull || col("pos") - col("prev") >= spanLen)
      .withColumn("k", (row_number().over(wOrd) - 1).cast("long"))
      .select(col("doc_id"), col("pos").as("start"), col("k"))
      .transform(graft.operators.Caching.persist)
    val covered = cand.select(col("doc_id"), col("k"),
        explode(sequence(col("start"), col("start") + (spanLen - 1)))
          .as("pos"))
    // input: uncovered tokens + one sentinel row at each span start
    // (the start position itself is covered, so no ordering collision)
    val inputRows = toks.join(covered.select(col("doc_id"), col("pos")),
        Seq("doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos"), col("tok").as("txt"))
      .unionAll(cand.select(col("doc_id"), col("start").as("pos"),
        concat(lit("<extra_id_"), col("k"), lit(">")).as("txt")))
    val input = inputRows.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("txt")))),
        x => x.getField("txt")), " ").as("input_text"))
    // target: per span the sentinel then its tokens — the secondary sort
    // key orders the sentinel (ord 0) before the start token (ord 1)
    val targetRows = cand.select(col("doc_id"),
        col("start").as("pos"), lit(0L).as("ord"),
        concat(lit("<extra_id_"), col("k"), lit(">")).as("txt"))
      .unionAll(covered.join(toks, Seq("doc_id", "pos"))
        .select(col("doc_id"), col("pos"), lit(1L).as("ord"),
          col("tok").as("txt")))
    val target = targetRows.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("ord"), col("txt")))),
        x => x.getField("txt")), " ").as("target_text"),
        sum(col("ord")).as("n_masked")) // ord=1 rows ARE the masked tokens
    input.join(target, Seq("doc_id"), "left")
      .select(col("doc_id"), col("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"))
  }

  /** DuckDB replay of [[spanCorrupt]] (same hash rule, same lag thinning,
    * same sentinel numbering and two-key rebuild order).
    */
  def spanCorruptOracleSql(spanLen: Int = 3, everyK: Long = 20L,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH toks AS (
       |  SELECT $idCol::BIGINT AS doc_id,
       |         unnest(generate_series(1, len(${toksSql(textCol)})))::BIGINT
       |           AS pos,
       |         unnest(${toksSql(textCol)}) AS tok
       |  FROM $table WHERE len(${toksSql(textCol)}) >= 1),
       |cand0 AS (
       |  SELECT doc_id, pos FROM toks
       |  WHERE ('0x' || substr(md5(doc_id || ':' || pos), 1, 15))::BIGINT
       |        % $everyK = 0),
       |cand AS (
       |  SELECT doc_id, pos AS start,
       |         (row_number() OVER w2 - 1)::BIGINT AS k
       |  FROM (
       |    SELECT doc_id, pos,
       |           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |    FROM cand0)
       |  WHERE prev IS NULL OR pos - prev >= $spanLen
       |  WINDOW w2 AS (PARTITION BY doc_id ORDER BY pos)),
       |covered AS (
       |  SELECT doc_id, k,
       |         unnest(generate_series(start, start + ${spanLen - 1}))::BIGINT
       |           AS pos
       |  FROM cand),
       |inrows AS (
       |  SELECT t.doc_id, t.pos, t.tok AS txt
       |  FROM toks t LEFT JOIN covered c
       |    ON c.doc_id = t.doc_id AND c.pos = t.pos
       |  WHERE c.doc_id IS NULL
       |  UNION ALL
       |  SELECT doc_id, start AS pos, '<extra_id_' || k || '>' FROM cand),
       |input AS (
       |  SELECT doc_id, string_agg(txt, ' ' ORDER BY pos) AS input_text
       |  FROM inrows GROUP BY doc_id),
       |trows AS (
       |  SELECT doc_id, start AS pos, 0::BIGINT AS ord,
       |         '<extra_id_' || k || '>' AS txt
       |  FROM cand
       |  UNION ALL
       |  SELECT c.doc_id, c.pos, 1::BIGINT, t.tok
       |  FROM covered c JOIN toks t
       |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
       |target AS (
       |  SELECT doc_id, string_agg(txt, ' ' ORDER BY pos, ord)
       |           AS target_text,
       |         sum(ord)::BIGINT AS n_masked
       |  FROM trows GROUP BY doc_id)
       |SELECT input.doc_id, input.input_text,
       |       coalesce(target.target_text, '') AS target_text,
       |       coalesce(target.n_masked, 0)::BIGINT AS n_masked
       |FROM input LEFT JOIN target ON target.doc_id = input.doc_id""".stripMargin

  /** FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle") — the code-LM
    * data prep that teaches infilling "for free": split each doc into
    * (prefix, middle, suffix) at two deterministic points and emit the
    * PSM re-ordering `<fim_pre> prefix <fim_suf> suffix <fim_mid>
    * middle`, plus the three token counts for mixture accounting. Docs
    * hash-selected out of the `fimRate` fraction — and docs too short to
    * cut (fewer than 2 tokens, including empty) — pass through with
    * fim = false as the canonical token re-join (lowercased,
    * whitespace-normalized: the SAME token stream the FIM branch
    * re-orders, so the two populations mix cleanly), the paper's 50/50
    * regime at rate 50. Every input doc emits exactly one row.
    *
    * Determinism: the apply decision and both cut points derive from the
    * shared portable md5 of (doc, salt) — cut1 ∈ [1, n−1], cut2 ∈
    * [cut1, n−1] via modular arithmetic on exact integers; a map-only
    * projection, no shuffle, the cheapest possible 100 TB plan.
    */
  def fimTransform(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, fimRatePct: Long = 50L):
      org.apache.spark.sql.DataFrame = {
    require(fimRatePct >= 0 && fimRatePct <= 100)
    val base = df
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("apply_fim",
        col("n") >= 2 &&
          Dedup.portableHash(concat(col("doc_id"), lit(":fim")))
            % 100 < fimRatePct)
      // the cut moduli are guarded by apply_fim (n >= 2): n - 1 = 0 for a
      // 1-token doc would be an ANSI modulo-by-zero in the taken branch
      .withColumn("c1",
        when(col("apply_fim"),
          Dedup.portableHash(concat(col("doc_id"), lit(":c1")))
            % (col("n") - 1) + 1).otherwise(lit(1L)))
      .withColumn("c2",
        when(col("apply_fim"),
          col("c1") + Dedup.portableHash(concat(col("doc_id"), lit(":c2")))
            % (col("n") - col("c1"))).otherwise(lit(1L)))
    base.select(col("doc_id"), col("apply_fim").as("fim"),
      when(col("apply_fim"),
        concat(lit("<fim_pre> "),
          array_join(slice(col("toks"), lit(1), col("c1").cast("int")), " "),
          lit(" <fim_suf> "),
          array_join(expr("slice(toks, c2 + 1, cast(n - c2 as int))"), " "),
          lit(" <fim_mid> "),
          array_join(expr("slice(toks, c1 + 1, cast(c2 - c1 as int))"), " ")))
        .otherwise(array_join(col("toks"), " ")).as("text_out"),
      when(col("apply_fim"), col("c1")).otherwise(col("n")).as("n_prefix"),
      when(col("apply_fim"), col("c2") - col("c1")).otherwise(lit(0L))
        .as("n_middle"),
      when(col("apply_fim"), col("n") - col("c2")).otherwise(lit(0L))
        .as("n_suffix"))
  }

  /** DuckDB replay of [[fimTransform]] (same hash decisions and cuts,
    * same PSM assembly; empty middle/suffix slices agg to '').
    */
  def fimOracleSql(fimRatePct: Long = 50L, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    def h(salt: String) =
      s"('0x' || substr(md5(doc_id || ':$salt'), 1, 15))::BIGINT"
    s"""WITH base AS (
       |  SELECT $idCol::BIGINT AS doc_id, ${toksSql(textCol)} AS toks,
       |         len(${toksSql(textCol)})::BIGINT AS n
       |  FROM $table),
       |cuts AS (
       |  SELECT doc_id, toks, n,
       |         n >= 2 AND ${h("fim")} % 100 < $fimRatePct AS apply_fim,
       |         CASE WHEN n >= 2 AND ${h("fim")} % 100 < $fimRatePct
       |              THEN ${h("c1")} % (n - 1) + 1 ELSE 1 END AS c1
       |  FROM base),
       |cuts2 AS (
       |  SELECT *, CASE WHEN apply_fim
       |            THEN c1 + ${h("c2")} % (n - c1) ELSE 1 END AS c2
       |  FROM cuts)
       |SELECT doc_id, apply_fim AS fim,
       |       CASE WHEN apply_fim THEN
       |         '<fim_pre> ' || coalesce(array_to_string(toks[1:c1], ' '), '')
       |         || ' <fim_suf> '
       |         || coalesce(array_to_string(toks[c2+1:n], ' '), '')
       |         || ' <fim_mid> '
       |         || coalesce(array_to_string(toks[c1+1:c2], ' '), '')
       |       ELSE coalesce(array_to_string(toks, ' '), '') END AS text_out,
       |       CASE WHEN apply_fim THEN c1 ELSE n END AS n_prefix,
       |       CASE WHEN apply_fim THEN c2 - c1 ELSE 0 END AS n_middle,
       |       CASE WHEN apply_fim THEN n - c2 ELSE 0 END AS n_suffix
       |FROM cuts2""".stripMargin
  }

  // --------------------------------------------------------------------
  // Unigram-LM (SentencePiece-style) tokenizer — the OTHER major subword
  // tokenizer next to the BPE lifecycle above (Kudo 2018, "Subword
  // Regularization"): a vocabulary of pieces with unigram probabilities,
  // words segmented by the maximum-likelihood piece sequence (Viterbi).
  // --------------------------------------------------------------------

  /** Frequency-seeded unigram vocabulary — SentencePiece's seeding step:
    * every single character plus the `topK` most frequent multi-character
    * substrings (length ≤ `maxPieceLen`) of the corpus vocabulary,
    * frequency-weighted by word occurrence counts. Returns (piece, freq)
    * — exact integers, top-K pinned by (freq desc, piece asc).
    *
    * Scale shape: substring explosion runs over the DISTINCT-WORD table
    * (the bpeTrain trick — cost ∝ vocabulary, not corpus), one keyed
    * aggregate, one TakeOrdered(topK). Nothing corpus-sized past the
    * first word count.
    */
  def unigramSeedVocab(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxPieceLen: Int = 5,
      topK: Int = 120): org.apache.spark.sql.DataFrame = {
    require(maxPieceLen >= 2 && topK >= 0)
    val words = Caching.persist(
      df.select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq")))
    val chars = words
      .select(explode(split(col("w"), "")).as("piece"), col("freq"))
      .where(col("piece") =!= "")
      .groupBy(col("piece")).agg(sum(col("freq")).as("freq"))
    val multi = words
      .select(col("freq"), explode(flatten(transform(
        sequence(lit(1), length(col("w"))), s => {
          val maxL = least(lit(maxPieceLen), length(col("w")) - s + 1)
          when(maxL >= 2,
            transform(sequence(lit(2), maxL), l => col("w").substr(s, l)))
            .otherwise(array().cast("array<string>"))
        }))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("freq"))
      .orderBy(col("freq").desc, col("piece"))
      .limit(topK)
    chars.unionByName(multi)
  }

  /** DuckDB replay of [[unigramSeedVocab]] (same distinct-word weighting,
    * same top-K pin; generate_series with stop < start is empty, so the
    * short-word guard is implicit).
    */
  /** The seed-vocabulary CTE list ending in `vocab(piece, freq)` — kept
    * at TOP level (CTE names prefixed `uv` to avoid collisions) because a
    * nested `WITH` inside a CTE body fails to resolve under an outer
    * `WITH RECURSIVE` ([[unigramTrainOracleSql]] needs RECURSIVE for the
    * walk).
    */
  private def seedVocabCtes(maxPieceLen: Int, topK: Int, table: String,
      textCol: String): String =
    s"""uvwords AS (
       |  SELECT w, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest(${toksSql(textCol)}) AS w FROM $table)
       |  GROUP BY w),
       |uvchars AS (
       |  SELECT c AS piece, sum(freq)::BIGINT AS freq FROM (
       |    SELECT unnest(string_split(w, '')) AS c, freq FROM uvwords)
       |  WHERE c <> '' GROUP BY c),
       |uvmulti AS (
       |  SELECT piece, freq FROM (
       |    SELECT substr(w, s, l) AS piece, sum(freq)::BIGINT AS freq FROM (
       |      SELECT w, freq, s,
       |             unnest(generate_series(2,
       |               least($maxPieceLen, len(w) - s + 1))) AS l
       |      FROM (SELECT w, freq,
       |              unnest(generate_series(1, len(w))) AS s
       |            FROM uvwords))
       |    GROUP BY 1)
       |  ORDER BY freq DESC, piece LIMIT $topK),
       |vocab AS MATERIALIZED (
       |  SELECT piece, freq FROM uvchars
       |  UNION ALL SELECT piece, freq FROM uvmulti)""".stripMargin

  def unigramSeedVocabOracleSql(maxPieceLen: Int = 5, topK: Int = 120,
      table: String = "documents", textCol: String = "text"): String =
    s"""WITH ${seedVocabCtes(maxPieceLen, topK, table, textCol)}
       |SELECT piece, freq FROM vocab""".stripMargin

  /** The shared unigram DP tables: (docWords, words, short, spans, edges,
    * seg) — [[unigramEncode]] reads the (0, len) entries off `seg`;
    * [[unigramTrain]] additionally extracts the canonical path through
    * `edges`. `seg` is the all-pairs min-plus closure of the packed
    * (cost·64 + pieces) edge keys.
    */
  private def unigramDp(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocab: org.apache.spark.sql.DataFrame,
      maxPieceLen: Int, maxWordLen: Int, unkCostMicro: Long):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    require(maxWordLen >= 2 && maxWordLen < 64,
      "packed (cost, pieces) key needs piece counts < 64")
    val costs = vocab.crossJoin(broadcast(
        vocab.agg(sum(col("freq")).cast("double").as("tot"))))
      .select(col("piece"),
        (-round(log(col("freq").cast("double") / col("tot")) * 1e6))
          .cast("long").as("cost"))
    val docWords = Caching.persist(
      df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("w")))
    val words = Caching.persist(
      docWords.groupBy(col("w")).agg(count(lit(1)).as("occ")))
    val short = words.where(length(col("w")) <= maxWordLen)
    // every (start, len ≤ maxPieceLen) substring of every distinct word;
    // persisted (r14): referenced by eChar, eMulti AND the EM step's
    // pathPieces join — one explode execution instead of three
    val spans = Caching.persist(short.select(col("w"), explode(flatten(transform(
        sequence(lit(1), length(col("w"))), s =>
          transform(sequence(lit(1),
            least(lit(maxPieceLen), length(col("w")) - s + 1)), l =>
            struct((s - 1).cast("long").as("j"), (s - 1 + l).cast("long").as("i"),
              col("w").substr(s, l).as("piece")))))).as("e"))
      .select(col("w"), col("e.j"), col("e.i"), col("e.piece")))
    // char edges always exist (UNK floor); multi-char edges need the vocab
    val eChar = spans.where(col("i") - col("j") === 1)
      .join(costs, Seq("piece"), "left")
      .select(col("w"), col("j"), col("i"),
        (coalesce(col("cost"), lit(unkCostMicro)) * 64 + 1).as("k"))
    val eMulti = spans.where(col("i") - col("j") > 1)
      .join(costs, Seq("piece"))
      .select(col("w"), col("j"), col("i"), (col("cost") * 64 + 1).as("k"))
    // r15: the min-plus DP runs IN-ROW per word instead of as
    // ceil(log2(maxWordLen)) distributed squaring rounds (each a
    // vocabulary-sized self-join + aggregate + checkpoint — 10 such jobs
    // for the 2-round EM query, its dominant measured cost at 7-11 s of
    // construct). A word's position DAG has <= maxWordLen(<64) positions
    // and <= maxWordLen*maxPieceLen edges, so the edge costs pack into
    // one map cell per word (key = j*64 + i, the r14 canonical-walk
    // pattern) and forward/backward Bellman over <= 33-slot long arrays
    // is a bounded per-row fold. Min-plus over a DAG is
    // order-independent: dpf[i]/dpb[i]/ktot are the SAME integers the
    // squaring closure produced at (0,i)/(i,len)/(0,len) — the packed
    // (cost, pieces) min is a value, not a path choice — so every
    // downstream consumer (encode read-off, tight-edge test, canonical
    // walk) sees bit-identical inputs and the DuckDB replays are
    // untouched. One exchange (hash(w) covers the (w,j,i) dedup AND the
    // per-word map build) replaces the edge checkpoint + 2 exchanges per
    // squaring round.
    val ec = eMulti.unionByName(eChar)
      .repartition(col("w"))
      .groupBy(col("w"), col("j"), col("i")).agg(min(col("k")).as("k"))
    val em = ec.groupBy(col("w"))
      .agg(map_from_entries(collect_list(struct(
        (col("j") * 64 + col("i")).cast("int").as("key"),
        col("k")))).as("cm"))
    val P = maxPieceLen
    val dpRow = short.join(em, "w")
      .withColumn("len", length(col("w")).cast("int"))
      // dpf[p+1] = min packed cost of segmenting w[1..p] (dp forward);
      // a single-char edge always exists (UNK floor), so every position
      // has at least one candidate and the fold never sees an empty min
      .withColumn("dpf", expr(s"""
        aggregate(sequence(1, len), array(0L), (acc, i) ->
          concat(acc, array(array_min(filter(
            transform(sequence(1, least(i, $P)), l ->
              element_at(acc, i - l + 1) +
              element_at(cm, CAST((i - l) * 64 + i AS INT))),
            x -> x IS NOT NULL)))))"""))
      // rb[t+1] = dpb at position len-t (backward closure, reversed)
      .withColumn("rb", expr(s"""
        aggregate(sequence(1, len), array(0L), (acc, x) ->
          concat(acc, array(array_min(filter(
            transform(sequence(1, least(x, $P)), l ->
              element_at(acc, x - l + 1) +
              element_at(cm, CAST((len - x) * 64 + (len - x + l) AS INT))),
            y -> y IS NOT NULL)))))"""))
      .withColumn("ktot", expr("element_at(dpf, len + 1)"))
      // chosen[i] = min j with a tight edge (j,i): dpf[j] + k + dpb[i] =
      // ktot — the same certificate the distributed tight-join tested
      .withColumn("chosen", expr(s"""
        map_from_entries(filter(transform(sequence(1, len), i ->
          named_struct('i', CAST(i AS BIGINT), 'j',
            array_min(filter(transform(sequence(1, least(i, $P)), l ->
              IF(element_at(cm, CAST((i - l) * 64 + i AS INT)) IS NOT NULL
                 AND element_at(dpf, i - l + 1) +
                     element_at(cm, CAST((i - l) * 64 + i AS INT)) +
                     element_at(rb, len - i + 1) = ktot,
                 CAST(i - l AS BIGINT), CAST(NULL AS BIGINT))),
              x -> x IS NOT NULL)))),
          e -> e.j IS NOT NULL))"""))
    (docWords, words, short, spans, dpRow)
  }

  /** Viterbi segmentation COST of the whole corpus under a unigram-LM
    * vocabulary — the E-step of SentencePiece training and the serving
    * metric of a deployed unigram tokenizer: per document, the word
    * count, the total piece count of the maximum-likelihood segmentation,
    * and its total negative log-likelihood in micro-nats. Piece cost =
    * −round(ln(freq/F)·1e6) (F = vocabulary total) — one deterministic
    * double ln per DISTINCT piece, then everything downstream is exact
    * BIGINT min-plus, so the optimum replays bit-for-bit in DuckDB
    * ([[unigramEncodeOracleSql]]).
    *
    * The per-word DP runs as min-plus PATH DOUBLING over the position
    * DAG: edge (j→i) for every vocabulary piece w[j+1..i], then
    * ceil(log2(maxWordLen)) squaring rounds of seg ⊕ seg — 5 rounds
    * reach any ≤32-piece path, vs ~maxWordLen rounds of Bellman-Ford.
    * Ties prefer FEWER PIECES via the packed key k = cost·64 + pieces
    * (piece counts < 64 by the maxWordLen cap, so packed addition is
    * exact lexicographic (cost, pieces) min-plus). The DP table is
    * (distinct word × position-pair)-sized — vocabulary work, never
    * corpus work; per-doc totals come from one corpus-sized equi-join of
    * exploded tokens to the word metrics.
    *
    * Robustness floors, applied identically in both engines: single
    * characters absent from `vocab` cost `unkCostMicro` (so unseen text
    * stays segmentable); words longer than `maxWordLen` (DP cap) fall
    * back to per-character UNK cost with pieces = length. Docs with zero
    * tokens produce no row ([[bpeEncodeCorpus]] posture).
    */
  def unigramEncode(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocab: org.apache.spark.sql.DataFrame,
      maxPieceLen: Int = 5, maxWordLen: Int = 32,
      unkCostMicro: Long = 30000000L): org.apache.spark.sql.DataFrame = {
    val (docWords, words, _, _, dpRow) =
      unigramDp(df, idCol, textCol, vocab, maxPieceLen, maxWordLen,
        unkCostMicro)
    // ktot IS seg's (0, len) closure value (see the unigramDp note)
    val wmShort = dpRow.select(col("w"), col("occ"),
      expr("ktot div 64").as("cost_micro"),
      pmod(col("ktot"), lit(64L)).as("pieces"))
    val wmLong = words.where(length(col("w")) > maxWordLen)
      .select(col("w"), col("occ"),
        (length(col("w")).cast("long") * unkCostMicro).as("cost_micro"),
        length(col("w")).cast("long").as("pieces"))
    val wm = wmShort.unionByName(wmLong)
    docWords.join(wm, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("pieces")).as("n_pieces"),
        sum(col("cost_micro")).as("cost_micro"))
  }

  /** DuckDB replay of [[unigramEncode]] ∘ [[unigramSeedVocab]] — the gate
    * composition. The squaring rounds and the edge table are MATERIALIZED:
    * each round references the previous seg CTE twice, and default
    * inlining would re-expand the chain exponentially (the
    * bradleyTerryOracleSql lesson).
    */
  /** The common oracle CTE chain (vocab → costs → docwords → words →
    * short → spans → seg0 → seg<rounds>) shared by
    * [[unigramEncodeOracleSql]] and [[unigramTrainOracleSql]]. Returns
    * (chainSql, rounds).
    */
  private def unigramChainSql(maxPieceLen: Int, topK: Int,
      maxWordLen: Int, unkCostMicro: Long, table: String,
      idCol: String, textCol: String): (String, Int) = {
    val rounds = math.ceil(math.log(maxWordLen) / math.log(2)).toInt
    val iterCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) "seg0" else s"seg${r - 1}"
      s"""seg$r AS MATERIALIZED (
         |  SELECT w, j, i, min(k)::BIGINT AS k FROM (
         |    SELECT w, j, i, k FROM $prev
         |    UNION ALL
         |    SELECT a.w, a.j, b.i, a.k + b.k AS k
         |    FROM $prev a JOIN $prev b ON b.w = a.w AND b.j = a.i)
         |  GROUP BY w, j, i)"""
    }.mkString(",\n")
    (s"""${seedVocabCtes(maxPieceLen, topK, table, textCol)},
       |costs AS MATERIALIZED (
       |  SELECT piece,
       |         (-round(ln(freq::DOUBLE / (SELECT sum(freq) FROM vocab))
       |                 * 1000000))::BIGINT AS cost
       |  FROM vocab),
       |docwords AS MATERIALIZED (
       |  SELECT $idCol AS doc_id, unnest(${toksSql(textCol)}) AS w
       |  FROM $table),
       |words AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS occ FROM docwords GROUP BY w),
       |short AS (SELECT * FROM words WHERE len(w) <= $maxWordLen),
       |spans AS (
       |  SELECT w, (s - 1)::BIGINT AS j, (s - 1 + l)::BIGINT AS i,
       |         substr(w, s, l) AS piece FROM (
       |    SELECT w, s,
       |           unnest(generate_series(1,
       |             least($maxPieceLen, len(w) - s + 1))) AS l
       |    FROM (SELECT w, unnest(generate_series(1, len(w))) AS s
       |          FROM short))),
       |seg0 AS MATERIALIZED (
       |  SELECT w, j, i, min(k)::BIGINT AS k FROM (
       |    SELECT sp.w, sp.j, sp.i,
       |           coalesce(c.cost, $unkCostMicro) * 64 + 1 AS k
       |    FROM spans sp LEFT JOIN costs c ON c.piece = sp.piece
       |    WHERE sp.i - sp.j = 1
       |    UNION ALL
       |    SELECT sp.w, sp.j, sp.i, c.cost * 64 + 1 AS k
       |    FROM spans sp JOIN costs c ON c.piece = sp.piece
       |    WHERE sp.i - sp.j > 1)
       |  GROUP BY w, j, i),
       |$iterCtes""".stripMargin, rounds)
  }

  def unigramEncodeOracleSql(maxPieceLen: Int = 5, topK: Int = 120,
      maxWordLen: Int = 32, unkCostMicro: Long = 30000000L,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val (chain, rounds) = unigramChainSql(maxPieceLen, topK, maxWordLen,
      unkCostMicro, table, idCol, textCol)
    s"""WITH $chain,
       |wm AS (
       |  SELECT s.w, s.occ, g.k // 64 AS cost_micro, g.k % 64 AS pieces
       |  FROM short s JOIN seg$rounds g
       |    ON g.w = s.w AND g.j = 0 AND g.i = len(s.w)
       |  UNION ALL
       |  SELECT w, occ, len(w)::BIGINT * $unkCostMicro AS cost_micro,
       |         len(w)::BIGINT AS pieces
       |  FROM words WHERE len(w) > $maxWordLen)
       |SELECT d.doc_id, count(*)::BIGINT AS n_words,
       |       sum(wm.pieces)::BIGINT AS n_pieces,
       |       sum(wm.cost_micro)::BIGINT AS cost_micro
       |FROM docwords d JOIN wm ON wm.w = d.w
       |GROUP BY d.doc_id""".stripMargin
  }

  /** One hard-EM round of SentencePiece unigram TRAINING: segment every
    * distinct word by the CANONICAL maximum-likelihood path under the
    * [[unigramSeedVocab]] seed (Viterbi; ties → fewer pieces, then the
    * longest-last-piece walk below), count the pieces actually used
    * weighted by word occurrences, and return the re-estimated vocabulary
    * (piece, freq) — the M-step counts. Pieces the optimum never uses
    * drop out (their EM count is zero); unknown characters that the UNK
    * floor had to cover ENTER with their observed counts — exactly how
    * hard EM heals a seed vocabulary. Iterating encode∘train converges
    * the classic way; one round is the documented default (soft EM's
    * forward-backward expectations are the refinement this trades away).
    *
    * The canonical path is extracted WITHOUT backpointer state: an edge
    * (j,i) is on some optimal path iff dpF[j] + k(j,i) + dpB[i] equals
    * the word total (dpF/dpB = forward/backward closures, all packed
    * (cost, pieces) keys, so "optimal" already means fewest-pieces-
    * among-cheapest); `chosen[i] = min tight j` makes the walk from the
    * word end deterministic, and the telescoping identity k = dpF[i] −
    * dpF[j] guarantees the walked path IS optimal. The walk frontier is
    * one row per distinct word, shrinking as words complete — at most
    * max-pieces rounds of vocabulary-sized joins; per-doc work never
    * enters the loop. Words over `maxWordLen` contribute their per-char
    * UNK fallback counts ([[unigramEncode]]'s floor, applied identically
    * here). Replays in DuckDB via a recursive-CTE walk over the same
    * `chosen` table ([[unigramTrainOracleSql]]).
    */
  def unigramTrain(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxPieceLen: Int = 5, topK: Int = 120,
      maxWordLen: Int = 32,
      unkCostMicro: Long = 30000000L): org.apache.spark.sql.DataFrame =
    unigramEmStep(df, idCol, textCol,
      unigramSeedVocab(df, idCol, textCol, maxPieceLen, topK),
      maxPieceLen, maxWordLen, unkCostMicro)

  /** One hard-EM round under an ARBITRARY (piece, freq) vocabulary — the
    * step [[unigramTrain]] runs once from the seed and
    * [[unigramTrainEm]] iterates (segment under vocab_r, count pieces
    * used → vocab_{r+1}). All semantics (canonical walk, UNK healing,
    * long-word fallback) as documented on [[unigramTrain]].
    */
  def unigramEmStep(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocab: org.apache.spark.sql.DataFrame,
      maxPieceLen: Int = 5, maxWordLen: Int = 32,
      unkCostMicro: Long = 30000000L): org.apache.spark.sql.DataFrame = {
    val (_, words, _, spans, dpRow) =
      unigramDp(df, idCol, textCol, vocab, maxPieceLen, maxWordLen,
        unkCostMicro)
    // r14: the canonical walk runs as a PER-WORD in-row fold instead of
    // up to maxWordLen sequential join rounds each paying a checkpoint
    // and an isEmpty driver action (the old loop was ~20-60 tiny jobs of
    // pure scheduling overhead). chosen is a successor FUNCTION i → j
    // per word with ≤ maxWordLen entries, so it packs into one map cell
    // per word; the walk from len(w) is then `aggregate` over a
    // maxWordLen-step sequence appending cm[last] while it exists —
    // exactly the sequential frontier iteration, word-locally. The
    // (i, cm[i]) pairs for visited i > 0 reproduce the old step-row
    // union bit-for-bit; per-word state is bounded by maxWordLen < 64
    // (the packed-key require), never corpus-sized.
    val used = dpRow
      .select(col("w"), col("len").cast("long").as("len"),
        col("chosen").as("cm"))
      .select(col("w"), explode(expr(s"""
        transform(
          filter(
            aggregate(sequence(1, $maxWordLen), array(len),
              (acc, x) -> IF(element_at(acc, -1) > 0 AND
                  element_at(cm, element_at(acc, -1)) IS NOT NULL,
                concat(acc, array(element_at(cm, element_at(acc, -1)))),
                acc)),
            p -> p > 0 AND element_at(cm, p) IS NOT NULL),
          p -> named_struct('i', p, 'j', element_at(cm, p)))""")).as("e"))
      .select(col("w"), col("e.i"), col("e.j"))
    val longChars = words.where(length(col("w")) > maxWordLen)
      .select(explode(split(col("w"), "")).as("piece"), col("occ"))
      .where(col("piece") =!= "")
    val pathPieces = used
      .join(spans, Seq("w", "j", "i"))
      .join(words, Seq("w"))
      .select(col("piece"), col("occ"))
    pathPieces.unionByName(longChars)
      .groupBy(col("piece")).agg(sum(col("occ")).as("freq"))
  }

  /** k-round hard-EM unigram-LM TRAINING — the full SentencePiece
    * lifecycle loop [[unigramTrain]]'s single round was missing (VERDICT
    * r13 item 4): seed ([[unigramSeedVocab]]), then `rounds` iterations
    * of vocab_{r+1} = M-step(Viterbi segmentation under vocab_r). Each
    * round's counts re-derive the piece costs, so pieces the optimum
    * stops using drop out and segmentations sharpen — classic hard-EM
    * convergence (rounds = 1 reproduces [[unigramTrain]] exactly,
    * spec-pinned). Piece-count conservation holds per round: summed over
    * a word's canonical path the pieces tile the word, so Σ freq·len(
    * piece) = total corpus characters of ≤maxWordLen words + the
    * long-word fallback chars — the invariant the spec pins per round.
    *
    * Scale shape: the BPE-trainer loop posture — each round is the
    * [[unigramEmStep]] DP (distinct-word-sized, never corpus-sized) with
    * the vocabulary eagerly checkpointed BETWEEN rounds (it is referenced
    * by every DP stage of the next round; an unchecked k-round chain
    * would re-canonicalize the full upstream plan per stage). Replays in
    * DuckDB round-for-round ([[unigramTrainEmOracleSql]]).
    */
  def unigramTrainEm(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, rounds: Int, maxPieceLen: Int = 5, topK: Int = 120,
      maxWordLen: Int = 32,
      unkCostMicro: Long = 30000000L): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var vocab = Caching.checkpoint(
      unigramSeedVocab(df, idCol, textCol, maxPieceLen, topK),
      eager = true)
    for (_ <- 1 to rounds)
      vocab = Caching.checkpoint(
        unigramEmStep(df, idCol, textCol, vocab, maxPieceLen, maxWordLen,
          unkCostMicro), eager = true)
    vocab
  }

  /** DuckDB replay of [[unigramTrain]] — the shared DP chain plus the
    * tight-edge/chosen tables and a recursive-CTE canonical walk.
    */
  def unigramTrainOracleSql(maxPieceLen: Int = 5, topK: Int = 120,
      maxWordLen: Int = 32, unkCostMicro: Long = 30000000L,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val (chain, rounds) = unigramChainSql(maxPieceLen, topK, maxWordLen,
      unkCostMicro, table, idCol, textCol)
    s"""WITH RECURSIVE $chain,
       |dpf AS MATERIALIZED (
       |  SELECT w, i AS pos, k FROM seg$rounds WHERE j = 0
       |  UNION ALL SELECT w, 0::BIGINT, 0::BIGINT FROM short),
       |dpb AS MATERIALIZED (
       |  SELECT g.w, g.j AS pos, g.k FROM seg$rounds g
       |  JOIN short s ON s.w = g.w AND g.i = len(s.w)
       |  UNION ALL SELECT w, len(w)::BIGINT, 0::BIGINT FROM short),
       |tot AS MATERIALIZED (
       |  SELECT g.w, g.k AS ktot FROM seg$rounds g
       |  JOIN short s ON s.w = g.w AND g.j = 0 AND g.i = len(s.w)),
       |tight AS MATERIALIZED (
       |  SELECT e.w, e.j, e.i FROM seg0 e
       |  JOIN dpf f ON f.w = e.w AND f.pos = e.j
       |  JOIN dpb b ON b.w = e.w AND b.pos = e.i
       |  JOIN tot t ON t.w = e.w
       |  WHERE f.k + e.k + b.k = t.ktot),
       |chosen AS MATERIALIZED (
       |  SELECT w, i, min(j)::BIGINT AS j FROM tight GROUP BY w, i),
       |walk(w, pos) AS (
       |  SELECT w, len(w)::BIGINT FROM short
       |  UNION
       |  SELECT c.w, c.j FROM walk k
       |  JOIN chosen c ON c.w = k.w AND c.i = k.pos
       |  WHERE k.pos > 0),
       |used AS (
       |  SELECT c.w, c.j, k.pos AS i FROM walk k
       |  JOIN chosen c ON c.w = k.w AND c.i = k.pos),
       |pathpieces AS (
       |  SELECT sp.piece, wd.occ FROM used u
       |  JOIN spans sp ON sp.w = u.w AND sp.j = u.j AND sp.i = u.i
       |  JOIN words wd ON wd.w = u.w),
       |longchars AS (
       |  SELECT c AS piece, occ FROM (
       |    SELECT unnest(string_split(w, '')) AS c, occ FROM words
       |    WHERE len(w) > $maxWordLen)
       |  WHERE c <> '')
       |SELECT piece, sum(occ)::BIGINT AS freq FROM (
       |  SELECT * FROM pathpieces UNION ALL SELECT * FROM longchars)
       |GROUP BY piece""".stripMargin
  }

  /** DuckDB replay of [[unigramTrainEm]] — the word/span base tables
    * once, then per EM round a full round-suffixed DP + canonical-walk
    * chain (costs from the previous round's vocabulary), round-for-round.
    * Every multiply-referenced CTE is MATERIALIZED (the inlining lesson).
    */
  def unigramTrainEmOracleSql(rounds: Int, maxPieceLen: Int = 5,
      topK: Int = 120, maxWordLen: Int = 32,
      unkCostMicro: Long = 30000000L, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    require(rounds >= 1)
    val sq = math.ceil(math.log(maxWordLen) / math.log(2)).toInt
    def roundCtes(r: Int): String = {
      val vp = if (r == 1) "vocab" else s"vem_r${r - 1}"
      val segs = (1 to sq).map { h =>
        val prev = if (h == 1) s"g0_r$r" else s"g${h - 1}_r$r"
        s"""g${h}_r$r AS MATERIALIZED (
           |  SELECT w, j, i, min(k)::BIGINT AS k FROM (
           |    SELECT w, j, i, k FROM $prev
           |    UNION ALL
           |    SELECT a.w, a.j, b.i, a.k + b.k AS k
           |    FROM $prev a JOIN $prev b ON b.w = a.w AND b.j = a.i)
           |  GROUP BY w, j, i)"""
      }.mkString(",\n")
      s"""c_r$r AS MATERIALIZED (
         |  SELECT piece,
         |         (-round(ln(freq::DOUBLE / (SELECT sum(freq) FROM $vp))
         |                 * 1000000))::BIGINT AS cost
         |  FROM $vp),
         |g0_r$r AS MATERIALIZED (
         |  SELECT w, j, i, min(k)::BIGINT AS k FROM (
         |    SELECT sp.w, sp.j, sp.i,
         |           coalesce(c.cost, $unkCostMicro) * 64 + 1 AS k
         |    FROM spans sp LEFT JOIN c_r$r c ON c.piece = sp.piece
         |    WHERE sp.i - sp.j = 1
         |    UNION ALL
         |    SELECT sp.w, sp.j, sp.i, c.cost * 64 + 1 AS k
         |    FROM spans sp JOIN c_r$r c ON c.piece = sp.piece
         |    WHERE sp.i - sp.j > 1)
         |  GROUP BY w, j, i),
         |$segs,
         |dpf_r$r AS MATERIALIZED (
         |  SELECT w, i AS pos, k FROM g${sq}_r$r WHERE j = 0
         |  UNION ALL SELECT w, 0::BIGINT, 0::BIGINT FROM short),
         |dpb_r$r AS MATERIALIZED (
         |  SELECT g.w, g.j AS pos, g.k FROM g${sq}_r$r g
         |  JOIN short s ON s.w = g.w AND g.i = len(s.w)
         |  UNION ALL SELECT w, len(w)::BIGINT, 0::BIGINT FROM short),
         |tot_r$r AS MATERIALIZED (
         |  SELECT g.w, g.k AS ktot FROM g${sq}_r$r g
         |  JOIN short s ON s.w = g.w AND g.j = 0 AND g.i = len(s.w)),
         |tight_r$r AS MATERIALIZED (
         |  SELECT e.w, e.j, e.i FROM g0_r$r e
         |  JOIN dpf_r$r f ON f.w = e.w AND f.pos = e.j
         |  JOIN dpb_r$r b ON b.w = e.w AND b.pos = e.i
         |  JOIN tot_r$r t ON t.w = e.w
         |  WHERE f.k + e.k + b.k = t.ktot),
         |chosen_r$r AS MATERIALIZED (
         |  SELECT w, i, min(j)::BIGINT AS j FROM tight_r$r GROUP BY w, i),
         |walk_r$r(w, pos) AS (
         |  SELECT w, len(w)::BIGINT FROM short
         |  UNION
         |  SELECT c.w, c.j FROM walk_r$r k
         |  JOIN chosen_r$r c ON c.w = k.w AND c.i = k.pos
         |  WHERE k.pos > 0),
         |used_r$r AS (
         |  SELECT c.w, c.j, k.pos AS i FROM walk_r$r k
         |  JOIN chosen_r$r c ON c.w = k.w AND c.i = k.pos),
         |pp_r$r AS (
         |  SELECT sp.piece, wd.occ FROM used_r$r u
         |  JOIN spans sp ON sp.w = u.w AND sp.j = u.j AND sp.i = u.i
         |  JOIN words wd ON wd.w = u.w),
         |vem_r$r AS MATERIALIZED (
         |  SELECT piece, sum(occ)::BIGINT AS freq FROM (
         |    SELECT * FROM pp_r$r UNION ALL SELECT * FROM longchars)
         |  GROUP BY piece)""".stripMargin
    }
    s"""WITH RECURSIVE ${seedVocabCtes(maxPieceLen, topK, table, textCol)},
       |docwords AS MATERIALIZED (
       |  SELECT $idCol AS doc_id, unnest(${toksSql(textCol)}) AS w
       |  FROM $table),
       |words AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS occ FROM docwords GROUP BY w),
       |short AS MATERIALIZED (
       |  SELECT * FROM words WHERE len(w) <= $maxWordLen),
       |spans AS MATERIALIZED (
       |  SELECT w, (s - 1)::BIGINT AS j, (s - 1 + l)::BIGINT AS i,
       |         substr(w, s, l) AS piece FROM (
       |    SELECT w, s,
       |           unnest(generate_series(1,
       |             least($maxPieceLen, len(w) - s + 1))) AS l
       |    FROM (SELECT w, unnest(generate_series(1, len(w))) AS s
       |          FROM short))),
       |longchars AS MATERIALIZED (
       |  SELECT c AS piece, occ FROM (
       |    SELECT unnest(string_split(w, '')) AS c, occ FROM words
       |    WHERE len(w) > $maxWordLen)
       |  WHERE c <> ''),
       |${(1 to rounds).map(roundCtes).mkString(",\n")}
       |SELECT piece, freq FROM vem_r$rounds""".stripMargin
  }
}
