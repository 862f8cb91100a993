package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over embedding columns (`array<float>`): exact cosine
  * top-k as the correctness baseline, and two sublinear scale paths —
  * random-hyperplane LSH bucketing and IVF-style coarse quantization
  * (north star, SURVEY.md §2c).
  *
  * Scale design:
  *  - the query vector is a one-row broadcast — a brute-force scan is one
  *    pass, no shuffle, `TakeOrdered(k)` on partial top-ks;
  *  - LSH/IVF cut the scanned fraction: candidates come from an equi-join
  *    on bucket/centroid id (hash shuffle on small keys), so the exact
  *    re-rank touches a constant fraction of a 100 TB corpus;
  *  - all arithmetic is `zip_with`/`aggregate` higher-order functions in
  *    double precision — codegen'd, no UDF, deterministic fold order.
  */
object Similarity {

  /** Driver-side candidate cap for [[mmrSelect]]: the greedy loop collects
    * a candN² pair-cosine matrix, so 10k candidates ≈ 50M pairs ≈ the most
    * a reranker window should ever ask a driver to hold. Larger candidate
    * sets belong in the retrieval tiers (IVF/LSH), not the MMR stage.
    */
  val MaxMmrCandidates = 10000

  /** Sequential left-fold dot product in double precision.
    *
    * Measured (Spark 4.1, 64-dim, sf0.1): this HOF fold beats an unrolled
    * `get(a,0)*get(b,0) + ... + get(a,63)*get(b,63)` chain ~2× on every
    * pair-scoring join (semdedup 1.6 s vs 3.4 s; neardup 0.95 s vs 1.83 s)
    * — the specialized array-lambda evaluator outruns the 250-node
    * expression tree. Don't "optimize" this into element_at/get chains.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine score from a precomputed dot product and norm product. The
    * zero-norm case (undefined cosine — an all-zero embedding from a failed
    * encode or a padding row) scores -infinity instead of 0/0 = NaN: Spark
    * orders NaN ABOVE every real double, so a NaN score would rank the
    * garbage vector FIRST in every descending top-k; -infinity ranks it
    * deterministically last. Finite scores are bit-identical to the plain
    * division.
    */
  def cosineScore(dp: Column, nrmProduct: Column): Column =
    when(nrmProduct === lit(0.0), lit(Double.NegativeInfinity))
      .otherwise(dp / nrmProduct)

  def cosine(a: Column, b: Column): Column =
    cosineScore(dot(a, b), norm(a) * norm(b))

  /** Exact top-k by cosine against the vector with id `queryId` (excluded
    * from results). Tie-broken by id for determinism.
    *
    * Norms are materialized once per side before the scoring join: `cosine`
    * inlined per pair would re-fold `norm(a)`/`norm(b)` for every candidate
    * (HOF folds are interpreted — 3 passes per pair instead of 1). The
    * arithmetic `dot/(sqrt·sqrt)` is unchanged, so scores stay bit-identical
    * to the one-shot [[cosine]].
    */
  def knnBrute(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Batch exact top-k: many query vectors at once — the realistic
    * retrieval shape (serve a query *set*, not one vector). `queries` is
    * (qid, qvec); the whole set broadcasts, the corpus is scanned once, and
    * a per-query window rank keeps k. Scales as one corpus pass per batch
    * regardless of |queries| (until the broadcast limit, then bucket the
    * query set).
    */
  def knnBatch(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"),
      norm(col(qvecCol)).as("qnrm"))
    val scored = df
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(q))
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** [[knnBatch]] for query sets too large to broadcast at once: queries
    * are assigned to ceil(|distinct qids|/chunkSize) chunks ENGINE-SIDE via
    * a salted hash of the qid (`xxhash64(qid) pmod nChunks` — a scan
    * predicate, never a collected id list), and each chunk runs one
    * broadcast + one corpus pass. The only driver traffic is the single
    * distinct-count scalar that sizes the chunk grid, so the function
    * stays a streaming shape even when someone points it at a corpus-sized
    * query set (kNN-graph build). Results are identical to a single
    * [[knnBatch]] call for ANY partition of the query set (per-query top-k
    * is independent across queries); wall-clock scales as nChunks corpus
    * passes — the standard batched-serving shape. Hash chunks are
    * approximately (not exactly) chunkSize — balanced in expectation,
    * which is what the broadcast-size bound cares about.
    */
  def knnBatchChunked(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      chunkSize: Int = 10000): DataFrame = {
    require(chunkSize >= 1)
    // cast to long up front (the caller's id column may be INT) and drop
    // null qids — they can never match a corpus row and would otherwise
    // all hash into one chunk
    val qid = col(qidCol).cast("long")
    val nq = queries.where(qid.isNotNull)
      .agg(count_distinct(qid).as("n")).head().getLong(0)
    // empty query set → empty knnBatch-shaped frame instead of crashing
    // reduce on zero chunks (ADVICE r02)
    if (nq == 0L)
      knnBatch(df, idCol, vecCol, queries.limit(0), qidCol, qvecCol, k)
    else {
      val nChunks = ((nq + chunkSize - 1) / chunkSize).toInt
      (0 until nChunks).map { i =>
        knnBatch(df, idCol, vecCol,
          queries.where(qid.isNotNull &&
            pmod(xxhash64(qid), lit(nChunks.toLong)) === i.toLong),
          qidCol, qvecCol, k)
      }.reduce(_ unionByName _)
    }
  }

  /** Random-hyperplane LSH signature (Charikar 2002): bit k is the sign of
    * the dot product with a pseudo-random ±1 hyperplane derived from
    * xxhash64(dim, k) — deterministic, no stored model. Returns an
    * integer bucket id with `bits` bits.
    */
  def hyperplaneBucket(vec: Column, bits: Int): Column =
    if (bits == 0) lit(0L) // degenerate: one bucket = exact all-pairs mode
    else (0 until bits).map { k =>
      val signedSum = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, d) =>
          when(xxhash64(d, lit(k)).bitwiseAND(lit(1L)) === 1L, x.cast("double"))
            .otherwise(-x.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
      when(signedSum > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k: candidates share the query's LSH bucket (plus all buckets at
    * Hamming distance 1 — multi-probe), exact cosine re-rank. Recall is
    * probabilistic; `SimilaritySpec` measures it against [[knnBrute]].
    */
  def knnLsh(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, bits: Int = 12): DataFrame = {
    val bucketed = df.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm"),
      hyperplaneBucket(col(vecCol), bits).as("bucket"))
    val q = bucketed.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), col("nrm").as("qnrm"),
        col("bucket").as("qbucket"))
    // multi-probe: query bucket + each single-bit flip
    val probes = q.select(col("qvec"), col("qnrm"),
      explode(array(col("qbucket") +:
        (0 until bits).map(b => col("qbucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
    bucketed.join(broadcast(probes), "bucket")
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style coarse quantization: `centroids` rows (deterministically, ids
    * divisible by `centroidEvery`) act as the codebook; every vector is
    * assigned to its nearest centroid by cosine (broadcast join + window
    * argmax). Returns (id, centroid_id) — the inverted index a 100 TB
    * deployment would write back partitioned by centroid.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long): DataFrame =
    // delegate to the general form: one argmax pipeline, one place to fix
    assignToCentroids(df, idCol, vecCol,
      df.where(col(idCol) % centroidEvery === 0)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec")))

  /** Nearest-centroid assignment against an explicit codebook
    * (centroid_id, cvec): broadcast join + window argmax. The general form
    * behind [[ivfAssign]].
    */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("centroid_id"), col("cvec"),
      norm(col("cvec")).as("cnrm"))
    val scored = df
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(cents))
      .select(col(idCol), col("centroid_id"),
        cosineScore(dot(col(vecCol), col("cvec")),
          col("nrm") * col("cnrm")).as("cscore"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cscore").desc, col("centroid_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("centroid_id"))
  }

  /** Capacity-balanced IVF assignment: [[ivfAssign]] with a hard cap on
    * every inverted-list's size. Natural nearest-centroid assignment is
    * skewed by the data distribution itself — dense regions pile onto few
    * centroids, and at serving time a probe of a fat list costs its length
    * (the IVF analogue of a skewed shuffle partition; FAISS deployments
    * rebalance for exactly this reason). One deterministic rebalance pass:
    * every vector keeps its top-2 centroids; within each primary list
    * members are ranked best-fit-first (cosine desc, id asc); rows past
    * `cap = ceil(n·slackPct / (100·k))` spill to their second-nearest
    * centroid. The spilled rows are by construction each list's WORST
    * fits, so the assignment-quality loss is the minimum a single-pass cap
    * can achieve. Primary lists are ≤ cap exactly; a receiving list can
    * exceed cap only via spill-ins (single-pass, no cascade — bounded by
    * cap + its own spill fan-in, documented rather than iterated because a
    * cascading rebalance is a convergence loop for marginal gain). With a
    * single centroid (nothing to spill to) every row stays primary.
    *
    * Scale shape: one broadcast codebook join (k centroids — model-sized),
    * one per-vector argmax window, one per-list ranking window partitioned
    * on centroid_id — the same key the inverted lists shuffle on anyway —
    * and two count aggregates for the cap. No pair enumeration; linear in
    * n·k like plain assignment. Returns (idCol, centroid_id, spilled) —
    * spilled ∈ {0,1} marks rows served from their second-nearest list.
    * Replayed value-for-value in DuckDB ([[balancedIvfAssignOracleSql]]).
    */
  def balancedIvfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long = 50, slackPct: Int = 110): DataFrame = {
    require(slackPct >= 100, "slackPct < 100 cannot hold all vectors")
    val cents = df.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnrm"))
    val scored = df
      .select(col(idCol).as("id"), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(cents))
      .select(col("id"), col("centroid_id"),
        cosineScore(dot(col(vecCol), col("cvec")),
          col("nrm") * col("cnrm")).as("cscore"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cscore").desc, col("centroid_id"))
    // persisted: the top-2 frame feeds both the primary ranking and the
    // spill-target lookup — without it the n·k scoring join runs twice
    val top2 = Caching.persist(
      scored.withColumn("rn", row_number().over(w)).where(col("rn") <= 2))
    val prim = top2.where(col("rn") === 1)
      .select(col("id"), col("centroid_id"), col("cscore"))
    val sec = top2.where(col("rn") === 2)
      .select(col("id"), col("centroid_id").as("alt_centroid"))
    val cap = prim.agg(count(lit(1)).as("n"))
      .crossJoin(cents.agg(count(lit(1)).as("kc")))
      .select(expr(
        s"CAST((n * $slackPct + kc * 100 - 1) DIV (kc * 100) AS BIGINT)")
        .as("cap"))
    val lw = Window.partitionBy(col("centroid_id"))
      .orderBy(col("cscore").desc, col("id"))
    prim.withColumn("lr", row_number().over(lw).cast("long"))
      .join(broadcast(cap))
      .join(sec, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("lr") <= col("cap") || col("alt_centroid").isNull,
          col("centroid_id")).otherwise(col("alt_centroid"))
          .as("centroid_id"),
        when(col("lr") <= col("cap") || col("alt_centroid").isNull, lit(0L))
          .otherwise(lit(1L)).as("spilled"))
  }

  /** DuckDB SQL replaying [[balancedIvfAssign]] value-for-value (same
    * every-Nth codebook, same top-2 windows, same integer cap).
    */
  def balancedIvfAssignOracleSql(centroidEvery: Long = 50,
      slackPct: Int = 110, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String =
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm
       |  FROM $table),
       |cents AS (
       |  SELECT id AS centroid_id, v AS cvec, nrm AS cnrm FROM vecs
       |  WHERE id % $centroidEvery = 0),
       |top2 AS (
       |  SELECT id, centroid_id, cscore, rn FROM (
       |    SELECT a.id, c.centroid_id,
       |           list_dot_product(a.v, c.cvec) / (a.nrm * c.cnrm) AS cscore,
       |           row_number() OVER (PARTITION BY a.id
       |             ORDER BY list_dot_product(a.v, c.cvec) / (a.nrm * c.cnrm)
       |               DESC, c.centroid_id) AS rn
       |    FROM vecs a CROSS JOIN cents c)
       |  WHERE rn <= 2),
       |prim AS (SELECT id, centroid_id, cscore FROM top2 WHERE rn = 1),
       |sec AS (SELECT id, centroid_id AS alt_centroid FROM top2 WHERE rn = 2),
       |cap AS (
       |  SELECT ((SELECT count(*) FROM vecs) * $slackPct
       |          + (SELECT count(*) FROM cents) * 100 - 1)
       |         // ((SELECT count(*) FROM cents) * 100) AS cap),
       |ranked AS (
       |  SELECT id, centroid_id, cscore,
       |         row_number() OVER (PARTITION BY centroid_id
       |           ORDER BY cscore DESC, id)::BIGINT AS lr
       |  FROM prim)
       |SELECT r.id AS $idCol,
       |       CASE WHEN r.lr <= cap.cap OR s.alt_centroid IS NULL
       |            THEN r.centroid_id ELSE s.alt_centroid END AS centroid_id,
       |       CASE WHEN r.lr <= cap.cap OR s.alt_centroid IS NULL
       |            THEN 0 ELSE 1 END::BIGINT AS spilled
       |FROM ranked r CROSS JOIN cap LEFT JOIN sec s ON s.id = r.id""".stripMargin

  /** Measured recall@k of the IVF tier against exact brute force — the
    * number an ANN deployment is actually tuned by (recall/cost at a given
    * `nprobe`), computed corpus-side over a deterministic query sample
    * (every `queryEvery`-th id). Ground truth is the exact top-k per query
    * ([[knnBatch]] shape); the approximate side replays [[knnIvf]]'s
    * probe-then-rerank for every query at once. Returns one row per query:
    * (query_id, hits, recall_pct) with recall_pct = hits·100 DIV k — all
    * integers, bit-stable across engines.
    *
    * Scale shape: the truth side is one corpus scan × |Q| broadcast
    * queries — recall is MEASURED on a sample precisely because exact
    * ground truth costs a scan per query; the approximate side touches
    * only probed lists. Both sides are broadcast joins + per-query
    * windows, no pair shuffle. The same sweep at production scale sizes
    * `nprobe`: raise it until recall_pct clears the product floor.
    */
  def annRecallIvf(df: DataFrame, idCol: String, vecCol: String,
      queryEvery: Long, k: Int, centroidEvery: Long = 50,
      nprobe: Int = 3): DataFrame = {
    val base = Caching.persist(df.select(col(idCol).as("id"),
      col(vecCol).as("v"), norm(col(vecCol)).as("nrm")))
    val queries = base.where(col("id") % queryEvery === 0)
      .select(col("id").as("qid"), col("v").as("qvec"),
        col("nrm").as("qnrm"))
    val qw = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id"))
    val truth = base.join(broadcast(queries))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosineScore(dot(col("v"), col("qvec")),
          col("nrm") * col("qnrm")).as("score"))
      .withColumn("rank", row_number().over(qw))
      .where(col("rank") <= k)
      .select(col("qid"), col("id"))
    val cents = base.where(col("id") % centroidEvery === 0)
      .select(col("id").as("centroid_id"), col("v").as("cvec"),
        col("nrm").as("cnrm"))
    val probes = cents.join(broadcast(queries))
      .select(col("qid"), col("centroid_id"),
        cosineScore(dot(col("cvec"), col("qvec")),
          col("cnrm") * col("qnrm")).as("cs"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cs").desc, col("centroid_id"))))
      .where(col("pr") <= nprobe)
      .select(col("qid"), col("centroid_id"))
    val assigned = ivfAssign(base, "id", "v", centroidEvery)
    val approx = base.join(assigned, "id")
      .join(broadcast(probes), Seq("centroid_id"))
      .join(broadcast(queries), Seq("qid"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosineScore(dot(col("v"), col("qvec")),
          col("nrm") * col("qnrm")).as("score"))
      .withColumn("rank", row_number().over(qw))
      .where(col("rank") <= k)
      .select(col("qid"), col("id"), lit(1L).as("hit"))
    truth.join(approx, Seq("qid", "id"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("qid").as("query_id"), col("hits"),
        expr(s"CAST(hits * 100 DIV $k AS BIGINT)").as("recall_pct"))
  }

  /** DuckDB SQL replaying [[annRecallIvf]] value-for-value (same query
    * sample, same exact truth, same probe-then-rerank approximation).
    */
  def annRecallIvfOracleSql(queryEvery: Long, k: Int,
      centroidEvery: Long = 50, nprobe: Int = 3,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String =
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm
       |  FROM $table),
       |qs AS (SELECT id AS qid, v AS qvec, nrm AS qnrm FROM vecs
       |       WHERE id % $queryEvery = 0),
       |truth AS (
       |  SELECT qid, id FROM (
       |    SELECT q.qid, a.id,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY list_dot_product(a.v, q.qvec) / (a.nrm * q.qnrm)
       |               DESC, a.id) AS rank
       |    FROM vecs a CROSS JOIN qs q WHERE a.id <> q.qid)
       |  WHERE rank <= $k),
       |cents AS (
       |  SELECT id AS centroid_id, v AS cvec, nrm AS cnrm FROM vecs
       |  WHERE id % $centroidEvery = 0),
       |probes AS (
       |  SELECT qid, centroid_id FROM (
       |    SELECT q.qid, c.centroid_id,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY list_dot_product(c.cvec, q.qvec)
       |               / (c.cnrm * q.qnrm) DESC, c.centroid_id) AS pr
       |    FROM cents c CROSS JOIN qs q)
       |  WHERE pr <= $nprobe),
       |assigned AS (
       |  SELECT id, centroid_id FROM (
       |    SELECT a.id, c.centroid_id,
       |           row_number() OVER (PARTITION BY a.id
       |             ORDER BY list_dot_product(a.v, c.cvec) / (a.nrm * c.cnrm)
       |               DESC, c.centroid_id) AS rn
       |    FROM vecs a CROSS JOIN cents c)
       |  WHERE rn = 1),
       |approx AS (
       |  SELECT qid, id FROM (
       |    SELECT p.qid, a.id,
       |           row_number() OVER (PARTITION BY p.qid
       |             ORDER BY list_dot_product(a.v, q.qvec) / (a.nrm * q.qnrm)
       |               DESC, a.id) AS rank
       |    FROM vecs a
       |    JOIN assigned s ON s.id = a.id
       |    JOIN probes p ON p.centroid_id = s.centroid_id
       |    JOIN qs q ON q.qid = p.qid
       |    WHERE a.id <> p.qid)
       |  WHERE rank <= $k)
       |SELECT t.qid AS query_id,
       |       count(x.id)::BIGINT AS hits,
       |       (count(x.id) * 100 // $k)::BIGINT AS recall_pct
       |FROM truth t LEFT JOIN approx x ON x.qid = t.qid AND x.id = t.id
       |GROUP BY t.qid""".stripMargin

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998) —
    * the diversification stage of the retrieval stack (retrieve → rerank
    * → DIVERSIFY): greedily pick `k` results maximizing
    *   λ·relevance(d, q) − (1−λ)·max_{s ∈ selected} sim(d, s)
    * so near-duplicate hits don't crowd the answer set. λ rides as the
    * integer `lambdaPct` and the combination is `lambdaPct·rel −
    * (100−lambdaPct)·maxSim` — two double cosines scaled by integer
    * literals, deterministic IEEE, ties by id — so the greedy sequence
    * replays value-for-value in DuckDB ([[mmrSelectOracleSql]]).
    *
    * Scale shape: one corpus pass takes the top-`candN` relevance
    * candidates (TakeOrdered — the serving bound), ONE candN² pair-cosine
    * self-join builds the model-sized similarity matrix, and the greedy
    * loop runs driver-side over that collected matrix (the BPE-loop
    * posture: the model is collected, the corpus never is). candN caps
    * driver state at candN² rows — size it like any reranker window.
    * Returns (idCol, rank, mmr_score) for the k picks in selection order.
    */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, candN: Int = 50,
      lambdaPct: Int = 70): DataFrame = {
    require(k >= 1 && candN >= k && lambdaPct >= 0 && lambdaPct <= 100)
    // the greedy loop holds a candN² pair matrix on the driver (the
    // documented reranker-window bound) — fail fast with a message
    // instead of letting a corpus-sized candN turn into a driver OOM
    require(candN <= Similarity.MaxMmrCandidates,
      s"mmrSelect candN=$candN exceeds the driver-side candidate bound " +
        s"${Similarity.MaxMmrCandidates} (the pair matrix is candN² rows " +
        "collected to the driver); shrink the candidate window")
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    val cands = Caching.persist(df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .join(broadcast(q))
      .where(col("id") =!= queryId)
      .select(col("id"), col("v"), col("nrm"),
        cosineScore(dot(col("v"), col("qvec")),
          col("nrm") * col("qnrm")).as("rel"))
      .orderBy(col("rel").desc, col("id"))
      .limit(candN))
    val rel = cands.select(col("id"), col("rel"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val relMap = rel.toMap
    val sims = cands.select(col("id").as("ida"), col("v").as("va"),
        col("nrm").as("na"))
      .join(broadcast(cands.select(col("id").as("idb"), col("v").as("vb"),
        col("nrm").as("nb"))))
      .where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        cosineScore(dot(col("va"), col("vb")),
          col("na") * col("nb")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    def sim(a: Long, b: Long): Double =
      if (a == b) 1.0 else sims(if (a < b) (a, b) else (b, a))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.SortedSet.empty[Long] ++
      relMap.keys
    for (_ <- 1 to math.min(k, rel.length)) {
      val pick = remaining.map { id =>
        val penalty =
          if (selected.isEmpty) 0.0
          else selected.map(s => sim(id, s._1)).max
        val score = lambdaPct * relMap(id) - (100 - lambdaPct) * penalty
        (id, score)
      }.maxBy { case (id, s) => (s, -id) }
      selected += pick
      remaining -= pick._1
    }
    val spark = df.sparkSession
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, s), i) => (id, (i + 1).toLong, s) }
      .toDF(idCol, "rank", "mmr_score")
  }

  /** DuckDB replay of [[mmrSelect]] — one MATERIALIZED chained CTE per
    * greedy round over the same candidate/similarity tables.
    */
  def mmrSelectOracleSql(queryId: Long, k: Int, candN: Int = 50,
      lambdaPct: Int = 70, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String = {
    val rounds = (2 to k).map { r =>
      val prev = s"sel${r - 1}"
      s"""sel$r AS MATERIALIZED (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT id, $r::BIGINT AS rank, score AS mmr_score FROM (
         |    SELECT c.id,
         |           $lambdaPct * c.rel - ${100 - lambdaPct} *
         |             (SELECT max(s.sim)
         |              FROM sims s JOIN $prev p
         |                ON (s.ida = c.id AND s.idb = p.id)
         |                OR (s.idb = c.id AND s.ida = p.id)) AS score
         |    FROM cands c
         |    WHERE c.id NOT IN (SELECT id FROM $prev)
         |    ORDER BY score DESC, c.id LIMIT 1))"""
    }.mkString(",\n")
    // k=1: the rounds fragment is empty — appending ",\n" unconditionally
    // would leave a dangling comma after sel1 and the SQL fails to parse
    val roundsSql = if (k > 1) ",\n" + rounds else ""
    s"""WITH q AS (
       |  SELECT $vecCol::DOUBLE[] AS qvec,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS qnrm
       |  FROM $table WHERE $idCol = $queryId),
       |cands AS MATERIALIZED (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm,
       |         list_dot_product($vecCol::DOUBLE[], q.qvec)
       |           / (sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[]))
       |              * q.qnrm) AS rel
       |  FROM $table, q WHERE $idCol <> $queryId
       |  ORDER BY rel DESC, id LIMIT $candN),
       |sims AS MATERIALIZED (
       |  SELECT a.id AS ida, b.id AS idb,
       |         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS sim
       |  FROM cands a JOIN cands b ON a.id < b.id),
       |sel1 AS MATERIALIZED (
       |  SELECT id, 1::BIGINT AS rank,
       |         ($lambdaPct * rel)::DOUBLE AS mmr_score
       |  FROM cands ORDER BY rel DESC, id LIMIT 1)$roundsSql
       |SELECT id AS $idCol, rank, mmr_score FROM sel$k""".stripMargin
  }

  /** Lloyd k-means over an embedding column, entirely in DataFrame ops:
    * assignment = broadcast join + window argmax; update = `posexplode` →
    * per-(centroid, dim) mean → re-assembled in dim order. The k centroids
    * (a model, not data) are collected to the driver between iterations and
    * re-broadcast — the standard big-data k-means shape: the corpus is only
    * ever scanned, never collected. Deterministic init: the `k` smallest
    * ids. Returns (centroid_id, cvec as array<double>).
    *
    * Note: per-dim `avg` folds in partition order, so trained centroids can
    * differ in final double bits across cluster layouts — fine for a
    * codebook (assignment is re-ranked exactly), but keep trained-IVF
    * queries out of the bit-exact correctness gate.
    */
  def ivfTrain(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val vecsAsDouble = df.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .transform(Caching.persist)
    var centroids = vecsAsDouble.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("centroid_id"), col("v").as("cvec"))
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(vecsAsDouble, idCol, "v", centroids)
      val updated = vecsAsDouble.join(assigned, idCol)
        .select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
      // collect the tiny (k × dim) model and rebuild a literal DataFrame so
      // the lineage doesn't grow by one full corpus scan per iteration.
      // Centroids that won ZERO assignments this round are absent from the
      // aggregate — carry them over unchanged instead of silently shrinking
      // the codebook below k (callers size nprobe against k)
      val rows = updated.collect()
      import spark.implicits._
      val newMeans = rows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val prev = centroids.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
      centroids = prev.map { case (id, v) =>
        (id, newMeans.getOrElse(id, v))
      }.toSeq.toDF("centroid_id", "cvec")
    }
    vecsAsDouble.unpersist()
    centroids
  }

  /** IVF ANN top-k against a trained codebook ([[ivfTrain]]): probe the
    * `nprobe` nearest centroids, exact cosine re-rank in their lists.
    */
  def knnIvfTrained(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryId: Long, k: Int, nprobe: Int = 3): DataFrame = {
    val assigned = assignToCentroids(df, idCol, vecCol, centroids)
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    val cents = centroids.select(col("centroid_id"), col("cvec"))
    val probeCents = cents.join(broadcast(q))
      .select(col("centroid_id"), cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id")).limit(nprobe)
      .select("centroid_id")
    df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(assigned, idCol)
      .join(broadcast(probeCents), "centroid_id")
      .join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF ANN top-k: probe the `nprobe` centroids nearest to the query, exact
    * re-rank inside their inverted lists.
    */
  def knnIvf(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, centroidEvery: Long = 50, nprobe: Int = 3): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, centroidEvery)
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    val cents = df.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"))
    val probeCents = cents.join(broadcast(q))
      .select(col("centroid_id"), cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id")).limit(nprobe)
      .select("centroid_id")
    df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(assigned, idCol)
      .join(broadcast(probeCents), "centroid_id")
      .join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Materialize the IVF index as a centroid-PARTITIONED parquet layout —
    * the serving-side half of the IVF lifecycle: [[ivfAssign]] labels every
    * vector with its inverted list, and `partitionBy(centroid_id)` turns
    * each list into its own partition directory. A probe then touches only
    * its `nprobe` directories (see [[knnIvfIndexed]]) — at 100 TB the index
    * is written once and every query's scan is bounded by the probed lists,
    * not the corpus, exactly like [[graft.operators.Scale.writeZordered]]
    * bounds range scans. Returns the re-read frame (partition column comes
    * back as its own column; cast to long for schema stability).
    *
    * Size `centroidEvery` with [[sizeCentroidEvery]] for corpus-scale
    * builds: a FIXED stride makes the assignment argmax n·centroids =
    * n²/stride and the partition-directory count linear in n (the
    * small-files trap) — sqrt(n) lists keep both the build and the
    * directory count at n^1.5 / sqrt(n) (measured in `ScaleStress`; the
    * gate entry keeps the oracle's fixed 50).
    */
  def writeIvfIndex(df: DataFrame, idCol: String, vecCol: String,
      path: String, centroidEvery: Long = 50): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, centroidEvery)
    df.join(assigned, idCol)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    // codebook sidecar written at build time: probe selection and batch
    // maintenance then read |centroids| rows instead of re-filtering the
    // index (the id-recipe derivation stays available as a fallback, so
    // a layout without the sidecar — e.g. pre-round-10 — still serves)
    df.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"))
      .write.mode("overwrite").parquet(ivfCodebookPath(path))
    df.sparkSession.read.parquet(path)
      .withColumn("centroid_id", col("centroid_id").cast("long"))
  }

  /** [[knnIvf]] served from a [[writeIvfIndex]] layout: identical answer
    * (same probe selection, same exact re-rank), but the inverted lists
    * live in a table PARTITIONED on `centroid_id` and the probe set is
    * pushed as a STATIC `isin` partition filter — the scan plans against
    * the `nprobe` probed directories only (PartitionFilters in the scan
    * node; measured in `SimilaritySpec`), never touching the other lists'
    * files. The probe ids come off a driver collect of `nprobe` rows —
    * bounded by the probe count, not data (the serving pattern: the probe
    * list IS the query plan). `centroidEvery` must match the value the
    * index was written with (the every-Nth-id centroid recipe is
    * re-derivable from ids alone, so the index needs no side metadata).
    *
    * Pass `codebook` (the [[ivfCodebook]] sidecar, written by
    * [[writeIvfIndex]] since round 10) to bound PROBE SELECTION input by
    * the centroid count too: without it the `id % centroidEvery` filter
    * is a data-column predicate that prunes no partitions, so selecting
    * nprobe probes scans the whole index — invisible at gate scale,
    * O(index) per query at 100 TB. Answers are identical either way
    * (spec-pinned): the sidecar holds exactly the recipe's rows.
    */
  def knnIvfIndexed(index: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, centroidEvery: Long = 50,
      nprobe: Int = 3, codebook: Option[DataFrame] = None): DataFrame = {
    val q = index.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    val cents = codebook
      .map(_.select(col("centroid_id"), col("cvec")))
      .getOrElse(index.where(col(idCol) % centroidEvery === 0)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec")))
    val probeIds = cents.join(broadcast(q))
      .select(col("centroid_id"), cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id")).limit(nprobe)
      .select("centroid_id").collect().map(_.getLong(0)).toSeq
    index.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"),
        col("centroid_id"))
      .where(col("centroid_id").isin(probeIds: _*))
      .join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** [[knnIvfIndexed]] for a LITERAL query vector — the online-serving
    * pattern where the query embedding arrives from outside the corpus
    * (a user query encoded at request time) instead of naming an indexed
    * id. With the `codebook` sidecar the whole request touches
    * O(centroids) + the nprobe probed partition directories — no step
    * scans the index. `excludeId` drops one known id from the result
    * (the self-exclusion [[knnIvfIndexed]] performs when the query IS a
    * corpus vector), letting the two paths answer identically for the
    * same vector — spec-pinned, and gate-checked against the same DuckDB
    * oracle as `q_knn_ivf`.
    */
  def knnIvfIndexedVec(index: DataFrame, idCol: String, vecCol: String,
      qvec: Seq[Float], k: Int, centroidEvery: Long = 50,
      nprobe: Int = 3, codebook: Option[DataFrame] = None,
      excludeId: Option[Long] = None): DataFrame = {
    val q = index.sparkSession.range(1)
      .select(typedLit(qvec).as("qvec"))
      .select(col("qvec"), norm(col("qvec")).as("qnrm"))
    val cents = codebook
      .map(_.select(col("centroid_id"), col("cvec")))
      .getOrElse(index.where(col(idCol) % centroidEvery === 0)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec")))
    val probeIds = cents.join(broadcast(q))
      .select(col("centroid_id"), cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id")).limit(nprobe)
      .select("centroid_id").collect().map(_.getLong(0)).toSeq
    val lists = index.select(col(idCol), col(vecCol),
        norm(col(vecCol)).as("nrm"), col("centroid_id"))
      .where(col("centroid_id").isin(probeIds: _*))
    excludeId.fold(lists)(id => lists.where(col(idCol) =!= id))
      .join(broadcast(q))
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Sidecar location of the persisted codebook for an IVF layout at
    * `path`. The `_` prefix keeps it INSIDE the index directory yet
    * invisible to `spark.read.parquet(path)` (parquet discovery skips
    * `_`/`.`-prefixed children), so serving reads are unchanged while
    * maintenance gets an O(centroids) codebook read.
    */
  private def ivfCodebookPath(path: String): String =
    path.stripSuffix("/") + "/_graft_codebook"

  /** The codebook frame maintenance reads: the persisted sidecar when one
    * exists, else ONE bootstrap derivation from the index's id recipe
    * (ids divisible by `centroidEvery`) that is written to the sidecar so
    * every later call reads |centroids| rows instead of scanning the
    * index. `dropDuplicates(centroid_id)` makes the read idempotent under
    * replayed sidecar appends (duplicate rows carry identical vectors, so
    * the pick is value-deterministic).
    */
  private[graft] def ivfCodebook(spark: SparkSession, path: String,
      idCol: String, vecCol: String, centroidEvery: Long): DataFrame = {
    val cbPath = ivfCodebookPath(path)
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(cbPath)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) {
      spark.read.parquet(path)
        .where(col(idCol) % centroidEvery === 0)
        .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"))
        .write.mode("overwrite").parquet(cbPath)
    }
    spark.read.parquet(cbPath).dropDuplicates("centroid_id")
  }

  /** One micro-batch of IVF index maintenance: assign the batch's vectors
    * to their nearest centroid and APPEND them to the [[writeIvfIndex]]
    * partition layout — the index stays serveable by [[knnIvfIndexed]]
    * throughout (readers see whole parquet files; an append never
    * rewrites existing lists). The codebook is the layout's standard
    * id-derived recipe (ids divisible by `centroidEvery`) over existing ∪
    * incoming rows, so a batch that carries a NEW centroid-eligible id
    * self-assigns and opens its own list immediately — [[knnIvfIndexed]],
    * which re-derives centroids from ids, then probes it consistently.
    *
    * Scale shape: the codebook comes from the [[ivfCodebook]] SIDECAR —
    * |corpus|/centroidEvery rows, bootstrapped once and updated
    * incrementally below — so per-batch input is O(batch + centroids),
    * never O(index) (the pre-round-10 shape re-filtered the whole index
    * every batch; at 100 TB that made maintenance cost scale with the
    * index, spec-pinned bounded now in StreamingSpec). Assignment is the
    * [[assignToCentroids]] broadcast argmax over the batch only, and the
    * write is a dynamic-partition append touching just the batch's
    * centroid directories. New centroid-eligible ids in the batch are
    * appended to the sidecar BEFORE the data append (a crash between the
    * two leaves a centroid whose list is empty — harmless: serving
    * re-derives centroids from index ids, and the sidecar read dedups).
    */
  def appendIvfBatch(batch: DataFrame, idCol: String, vecCol: String,
      path: String, centroidEvery: Long = 50): Unit = {
    val spark = batch.sparkSession
    val existingCb = ivfCodebook(spark, path, idCol, vecCol, centroidEvery)
    val newCents = batch.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"))
      .transform(Caching.persist)
    if (newCents.limit(1).count() > 0)
      newCents.write.mode("append").parquet(ivfCodebookPath(path))
    val codebook = existingCb.unionByName(newCents)
      .dropDuplicates("centroid_id")
    val assigned = assignToCentroids(batch, idCol, vecCol, codebook)
    batch.join(assigned, idCol)
      .write.mode("append").partitionBy("centroid_id").parquet(path)
    newCents.unpersist()
  }

  /** Marker directory recording committed maintenance batch ids (same
    * `_`-prefix trick as the codebook sidecar: lives inside the layout,
    * invisible to serving reads). Markers are NAMESPACED by the stream's
    * checkpoint identity (`ns`): foreachBatch batch ids are
    * checkpoint-scoped, so a bare `<batchId>` key collides across
    * checkpoints — a new checkpoint against a previously-maintained index
    * would reuse ids 0..N, find the old markers, and silently SKIP real
    * data (the round-10 ADVICE high finding). `_graft_batches/<ns>/<id>`
    * keys the replay contract to the only scope in which a batch id means
    * anything.
    */
  private def ivfBatchMarker(path: String, ns: String, batchId: Long)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + s"/_graft_batches/$ns/$batchId")

  /** Checkpoint-identity namespace for [[ivfBatchMarker]]: a durable
    * checkpoint hashes its LOCATION (restarts from the same checkpoint —
    * the only case where the engine replays a batch id with the same
    * data — land in the same namespace; a different checkpoint gets its
    * own). With no checkpoint there IS no cross-restart replay contract
    * (a temp checkpoint is new every start and re-reads the source from
    * scratch), so each start gets a fresh random namespace: markers then
    * dedup only intra-run retries, and can never mask new data.
    */
  private[graft] def ivfBatchNamespace(
      checkpointLocation: Option[String]): String =
    checkpointLocation match {
      case Some(loc) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        "ckpt-" + md.digest(loc.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)
      case None => "run-" + java.util.UUID.randomUUID().toString
    }

  /** Streaming IVF refresh: keep a [[writeIvfIndex]] layout current as
    * vectors arrive — `readStream` → [[appendIvfBatch]] per micro-batch
    * via foreachBatch. Queries keep hitting [[knnIvfIndexed]] on the same
    * path and see each batch's vectors as soon as its append commits.
    *
    * Restart contract (spec-pinned in StreamingSpec): foreachBatch
    * replays a batch id after an uncommitted failure, and a plain parquet
    * append is NOT idempotent — so each committed batch writes a marker
    * (`_graft_batches/<ns>/<batchId>`, `ns` = [[ivfBatchNamespace]] of
    * the checkpoint) after its append, and a replayed id whose marker
    * exists is SKIPPED. Markers are scoped to the CHECKPOINT because
    * batch ids are: the same durable `checkpointLocation` must be used
    * across restarts against a given index path (then kill-and-restart
    * is duplicate-free), while a NEW checkpoint — whose ids restart at 0
    * — gets a fresh namespace and can never be silently skipped by a
    * previous stream's markers (both directions spec-pinned). With
    * `checkpointLocation = None` there is no cross-restart replay
    * contract at all (temp checkpoints re-read the source), so markers
    * dedup only intra-run retries.
    *
    * The residual window is a crash BETWEEN the parquet commit and the
    * marker write: the replay appends that one batch twice. This is
    * inherent to a two-store commit (the batch's files land in many
    * centroid directories; no single rename can publish data + marker
    * atomically on a plain filesystem — that is the manifest-commit
    * problem table formats exist to solve), so the contract is pinned
    * EXACTLY rather than papered over: at-least-once for precisely that
    * window, duplicates carry identical (idCol, vector) values, and a
    * downstream `dropDuplicates(idCol)` — or the anti-join pattern of
    * [[graft.streaming.EventStreams.dedupedParquetSink]] — heals the
    * layout. StreamingSpec injects the crash (commit-log entry + marker
    * both deleted) and asserts both the duplicate outcome and the heal.
    */
  def streamingIvfRefresh(stream: DataFrame, idCol: String, vecCol: String,
      path: String, centroidEvery: Long = 50,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = ivfBatchNamespace(checkpointLocation)
    val w = stream.writeStream
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = ivfBatchMarker(path, ns, batchId)
        val fs = marker.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          appendIvfBatch(batch, idCol, vecCol, path, centroidEvery)
          fs.mkdirs(marker)
        }
        ()
      }
      .start()
  }

  /** Day-2 maintenance for a streaming-maintained IVF layout (VERDICT r10
    * item 2): every [[appendIvfBatch]] micro-batch appends one small
    * parquet file per touched centroid directory and one small file to
    * the `_graft_codebook` sidecar, so a long-running
    * [[streamingIvfRefresh]] accumulates the classic small-file problem —
    * read amplification on every probe, and a sidecar whose
    * `dropDuplicates` read re-pays the whole append history. This pass
    * rewrites both:
    *
    *  - each centroid directory's files are bin-packed by
    *    [[Scale.compactionPlan]] (FFD over file METADATA — one row per
    *    file, never data rows) and rewritten as one file per bin
    *    (≤ `targetBytes` each, oversize files alone in their bin);
    *    directories already at one file are left untouched (no write
    *    amplification on quiet lists);
    *  - the sidecar is rewritten deduped — row count returns to exactly
    *    the centroid count.
    *
    * Rows, values and the serving path are unchanged — [[knnIvfIndexed]]
    * answers byte-identically before/after (spec-pinned). Each directory
    * is swapped via write-to-temp + rename, so a concurrent reader sees
    * either the old files or the new ones per directory; run it from the
    * maintenance side of the house (between batches of the stream it
    * serves — the same slot a lakehouse OPTIMIZE occupies), not
    * concurrently with an in-flight [[appendIvfBatch]] to the same
    * directory. Work is one metadata listing plus a read+write of only
    * the multi-file directories — O(fragmented bytes), independent of
    * how many well-compacted bytes the index holds.
    */
  def compactIvfIndex(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path.stripSuffix("/"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val isData = (p: Path) => {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        isData(s.getPath)) // never re-compact a failed run's _-leftovers
      .foreach { d =>
        val files = fs.listStatus(d.getPath)
          .filter(f => f.isFile && isData(f.getPath))
        if (files.length > 1) {
          import spark.implicits._
          val inv = files.toSeq
            .map(f => (f.getPath.toString, f.getLen))
            .toDF("file_id", "size_bytes")
          val nBins = Scale.compactionPlan(inv, "file_id", "size_bytes",
              targetBytes)
            .agg(max(col("bin"))).collect()(0).getLong(0).toInt
          // leaf-directory read: partition column lives in the dir name,
          // the files carry only data columns — the rewrite must keep
          // that exact on-disk schema, so read/write the leaf directly
          val tmp = new Path(root, "_graft_compact_tmp_" + d.getPath.getName)
          spark.read.parquet(d.getPath.toString)
            .repartition(math.max(nBins, 1))
            .write.mode("overwrite").parquet(tmp.toString)
          val swap = new Path(root,
            "_graft_compact_old_" + d.getPath.getName)
          if (!fs.rename(d.getPath, swap))
            throw new java.io.IOException(s"compact: cannot swap out ${d.getPath}")
          if (!fs.rename(tmp, d.getPath)) {
            fs.rename(swap, d.getPath) // roll back — old data intact
            throw new java.io.IOException(s"compact: cannot swap in ${d.getPath}")
          }
          fs.delete(swap, true)
        }
      }
    val cb = new Path(ivfCodebookPath(path))
    if (fs.exists(cb)) {
      val tmp = new Path(root, "_graft_codebook_compact_tmp")
      spark.read.parquet(cb.toString).dropDuplicates("centroid_id")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(cb, true)
      if (!fs.rename(tmp, cb))
        throw new java.io.IOException("compact: cannot swap in codebook")
    }
  }

  /** ±1 hyperplane sign table derived from md5 (computed once on the JVM,
    * inlined as literals on both engines) — the portable analogue of
    * [[hyperplaneBucket]]'s xxhash planes.
    */
  def portablePlaneSigns(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (k, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${k}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 1L) 1.0
      else -1.0
    }

  /** Embedding near-dup pairs, portable variant of [[nearDupPairs]]: the
    * hyperplane signs are md5-derived literals, all arithmetic is sequential
    * double folds (Spark `aggregate(zip_with(...))` ≡ DuckDB
    * `list_dot_product` bit-for-bit), so the full bucket → pair → cosine
    * pipeline replays in DuckDB ([[nearDupOracleSql]]). `dim` must match the
    * embedding length (fixed-length vectors, FIXTURES.md).
    */
  def nearDupPairsPortable(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 6, dim: Int = 64,
      maxBucket: Int = 10000): DataFrame = {
    val signs = portablePlaneSigns(bits, dim)
    val bucketed = Dedup.capBuckets(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"),
        portableBucketExpr(col(vecCol), signs).as("bucket")),
      Seq("bucket"), maxBucket)
      .transform(Caching.persist)
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
      .where(col("score") >= threshold)
  }

  /** Spark bucket expression over md5-derived plane signs (shared by the
    * portable LSH operators).
    */
  private def portableBucketExpr(vec: Column, signs: Array[Array[Double]]): Column =
    signs.indices.map { k =>
      val signed = aggregate(
        zip_with(vec, typedLit(signs(k).toSeq),
          (x, sgn) => x.cast("double") * sgn),
        lit(0.0), (acc, v) => acc + v)
      when(signed > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB bucket expression over the same sign literals. */
  private def portableBucketSql(vecExpr: String, signs: Array[Array[Double]]): String =
    signs.indices.map { k =>
      val lst = signs(k).map(v => if (v > 0) "1" else "-1")
        .mkString("[", ",", "]::DOUBLE[]")
      s"(CASE WHEN list_dot_product($vecExpr, $lst) > 0 THEN ${1L << k} ELSE 0 END)"
    }.mkString(" + ")

  /** ANN top-k with md5-portable hyperplanes, portable variant of [[knnLsh]]
    * (same multi-probe: query bucket + all single-bit flips, exact cosine
    * re-rank). Deterministic end to end → DuckDB replay via
    * [[knnLshOracleSql]].
    */
  def knnLshPortable(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, bits: Int = 8, dim: Int = 64): DataFrame = {
    val signs = portablePlaneSigns(bits, dim)
    val bucketed = df.select(col(idCol), col(vecCol),
      norm(col(vecCol)).as("nrm"),
      portableBucketExpr(col(vecCol), signs).as("bucket"))
    val q = bucketed.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), col("nrm").as("qnrm"),
        col("bucket").as("qbucket"))
    val probes = q.select(col("qvec"), col("qnrm"),
      explode(array(col("qbucket") +:
        (0 until bits).map(b => col("qbucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
    bucketed.join(broadcast(probes), "bucket")
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")), col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB SQL replaying [[knnLshPortable]] value-for-value. */
  def knnLshOracleSql(queryId: Long, k: Int, bits: Int = 8, dim: Int = 64,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String = {
    val signs = portablePlaneSigns(bits, dim)
    val probeList = ("q.qbucket" +:
      (0 until bits).map(b => s"xor(q.qbucket, ${1L << b})")).mkString("[", ", ", "]")
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm,
       |         ${portableBucketSql(s"$vecCol::DOUBLE[]", signs)} AS bucket
       |  FROM $table),
       |q AS (SELECT v AS qvec, nrm AS qnrm, bucket AS qbucket FROM vecs
       |      WHERE id = $queryId),
       |probes AS (SELECT qvec, qnrm, unnest($probeList) AS bucket FROM q)
       |SELECT id AS $idCol, score FROM (
       |  SELECT a.id, list_dot_product(a.v, p.qvec) / (a.nrm * p.qnrm) AS score
       |  FROM vecs a JOIN probes p USING (bucket)
       |  WHERE a.id <> $queryId)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** DuckDB SQL replaying [[nearDupPairsPortable]] value-for-value over the
    * `embeddings` table (same sign literals, same fold order, same cap).
    */
  def nearDupOracleSql(threshold: Double, bits: Int = 6, dim: Int = 64,
      maxBucket: Int = 10000, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String = {
    val signs = portablePlaneSigns(bits, dim)
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm
       |  FROM $table),
       |bucketed AS (
       |  SELECT id, v, nrm, ${portableBucketSql("v", signs)} AS bucket FROM vecs
       |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $maxBucket)
       |SELECT id_a, id_b, score FROM (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS score
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.id < b.id)
       |WHERE score >= $threshold""".stripMargin
  }

  /** Symmetric int8 quantization of an embedding column:
    * `q_i = round(v_i / (max|v| / 127))` — 4× smaller storage/shuffle than
    * float32, the standard codebook-free compression for 100 TB vector
    * corpora. Cosine over quantized vectors is scale-invariant, so ranking
    * needs no dequantize step. All-zero vectors quantize to all zeros.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val m = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.select(col(idCol), m.as("m"), col(vecCol).as("v"))
      .select(col(idCol),
        when(col("m") === 0.0,
          transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => round(x.cast("double") / (col("m") / 127.0)).cast("int")))
          .as("qvec"))
  }

  /** Exact top-k by cosine over int8-quantized vectors (integer dot/norm
    * sums are exact, so the pipeline is deterministic and oracle-replayable
    * via [[knnQuantizedOracleSql]]). Scores differ from full-precision
    * cosine only by quantization error; `SimilaritySpec` checks rank
    * agreement with [[knnBrute]].
    */
  def knnQuantized(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val quantized = quantizeInt8(df, idCol, vecCol)
    val scored = quantized.select(col(idCol), col("qvec"),
      sqrt(aggregate(transform(col("qvec"), x => (x * x).cast("double")),
        lit(0.0), (acc, v) => acc + v)).as("nrm"))
    val q = scored.where(col(idCol) === queryId)
      .select(col("qvec").as("qv"), col("nrm").as("qnrm"))
    scored.join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        cosineScore(aggregate(zip_with(col("qvec"), col("qv"),
          (x, y) => (x * y).cast("double")), lit(0.0), (acc, v) => acc + v),
          col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB SQL replaying [[knnQuantized]] value-for-value. */
  def knnQuantizedOracleSql(queryId: Long, k: Int,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String =
    s"""WITH quant AS (
       |  SELECT $idCol AS id,
       |    CASE WHEN m = 0 THEN list_transform(v, x -> 0)
       |         ELSE list_transform(v, x -> round(x / (m / 127.0))::INTEGER)
       |    END AS qv
       |  FROM (SELECT $idCol, $vecCol::DOUBLE[] AS v,
       |               list_max(list_transform($vecCol::DOUBLE[], x -> abs(x))) AS m
       |        FROM $table)),
       |scored AS (
       |  SELECT id, qv,
       |         sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) AS nrm
       |  FROM quant),
       |q AS (SELECT qv AS qqv, nrm AS qnrm FROM scored WHERE id = $queryId)
       |SELECT id AS $idCol, score FROM (
       |  SELECT a.id,
       |         list_dot_product(a.qv::DOUBLE[], q.qqv::DOUBLE[])
       |           / (a.nrm * q.qnrm) AS score
       |  FROM scored a, q WHERE a.id <> $queryId)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  /** Binary-quantized (1-bit-per-dimension) encoding of an embedding
    * column — the 32× compression rung of the ladder between
    * [[quantizeInt8]] (4×) and [[pqEncode]] (~64×), and the sketch modern
    * vector stores serve Hamming pre-filters from. Bit i is "dimension i
    * above the corpus per-dimension mean" (mean-thresholded binary scalar
    * quantization — sign bits alone collapse for non-centered embedding
    * models), packed 32 bits per BIGINT word.
    *
    * Exactness: thresholds compare in pure integers — `v_fx·n > Σ v_fx`
    * (v_fx = round(v·1e6), n = corpus rows) is the mean test with no
    * double division, so the encoding is partition-order-proof and
    * replays bit-for-bit in the oracle engine (a parallel double mean
    * would be neither). Bound: |v|·1e6·n must stay under 2^63 —
    * n ≤ ~9·10¹² rows at |v| ≤ 1, far past any corpus. Scale shape: one
    * posexplode aggregate for the (dim)-row threshold table (broadcast),
    * one encode scan; 32 bits/word keeps every packed word positive, so
    * no sign-bit edge case crosses engines.
    */
  private[graft] def bqEncoded(df: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame = {
    val words = (dim + 31) / 32
    val fx = df.select(col(idCol).as("id"),
      expr(s"transform($vecCol, x -> " +
        "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))").as("vfx"))
    val sums = fx.select(posexplode(col("vfx")).as(Seq("i", "v")))
      .groupBy(col("i")).agg(sum(col("v")).as("sfx"), count(lit(1)).as("nn"))
      .agg(expr("transform(array_sort(collect_list(struct(i, sfx))), " +
        "s -> s.sfx)").as("sums"), max(col("nn")).as("n"))
    fx.join(broadcast(sums))
      .select(col("id"),
        expr(s"""transform(sequence(0, ${words - 1}), w ->
          aggregate(sequence(0, 31), 0L, (acc, b) ->
            acc + IF(w * 32 + b < $dim AND
                     element_at(vfx, w * 32 + b + 1) * n >
                       element_at(sums, w * 32 + b + 1),
                     shiftleft(1L, b), 0L)))""").as("bits"))
  }

  /** ANN top-k through the binary sketch: Hamming distance over the
    * packed [[bqEncoded]] words (one `bit_count(xor)` per word — `dim/32`
    * integer ops per candidate instead of `dim` multiplies, on 32× less
    * data) picks `k·oversample` candidates, which an exact full-precision
    * cosine re-ranks to the final k. The standard two-phase serving
    * pattern for 100 TB vector corpora: the Hamming scan is the cheap
    * full pass (or rides a bit-sliced index), the float vectors are
    * touched only for the bounded candidate set. Deterministic end to
    * end (integer Hamming, id ties, exact re-rank on the same fold as
    * [[knnBrute]]) → [[knnBqOracleSql]] replays it value-for-value;
    * recall vs [[knnBrute]] is measured in SimilaritySpec.
    */
  def knnBq(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, dim: Int = 64, oversample: Int = 4): DataFrame = {
    val enc = Caching.persist(bqEncoded(df, idCol, vecCol, dim))
    val qb = enc.where(col("id") === queryId).select(col("bits").as("qbits"))
    val cands = enc.join(broadcast(qb))
      .where(col("id") =!= queryId)
      .select(col("id"),
        expr("aggregate(zip_with(bits, qbits, " +
          "(x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), " +
          "0L, (acc, h) -> acc + h)").as("ham"))
      .orderBy(col("ham").asc, col("id"))
      .limit(k * oversample)
      .select(col("id").as(idCol))
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(q))
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")),
          col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB SQL replaying [[knnBq]] value-for-value (same integer mean
    * threshold, same 32-bit word packing, same Hamming + exact-cosine
    * two-phase).
    */
  def knnBqOracleSql(queryId: Long, k: Int, dim: Int = 64,
      oversample: Int = 4, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String = {
    val words = (dim + 31) / 32
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm,
       |         list_transform($vecCol::DOUBLE[],
       |           x -> round(x * 1000000)::BIGINT) AS vfx
       |  FROM $table),
       |sums AS (
       |  SELECT g.i AS i, sum(vfx[g.i + 1])::BIGINT AS sfx,
       |         count(*)::BIGINT AS nn
       |  FROM vecs, generate_series(0, ${dim - 1}) g(i) GROUP BY g.i),
       |sarr AS (SELECT list(sfx ORDER BY i) AS sums, max(nn) AS n FROM sums),
       |enc AS (
       |  SELECT id, list_transform(generate_series(0, ${words - 1}), w ->
       |    list_sum(list_transform(generate_series(0, 31), b ->
       |      CASE WHEN w * 32 + b < $dim
       |                AND vfx[w * 32 + b + 1] * n > sums[w * 32 + b + 1]
       |           THEN 1::BIGINT << b ELSE 0::BIGINT END))::BIGINT) AS bits
       |  FROM vecs, sarr),
       |q AS (SELECT bits AS qbits FROM enc WHERE id = $queryId),
       |cand AS (
       |  SELECT e.id,
       |         list_sum(list_transform(generate_series(1, $words), j ->
       |           bit_count(xor(e.bits[j], q.qbits[j]))::BIGINT))::BIGINT AS ham
       |  FROM enc e, q WHERE e.id <> $queryId
       |  ORDER BY ham, e.id LIMIT ${k * oversample}),
       |qv AS (SELECT v AS qvec, nrm AS qnrm FROM vecs WHERE id = $queryId)
       |SELECT id AS $idCol, score FROM (
       |  SELECT a.id,
       |         list_dot_product(a.v, qv.qvec) / (a.nrm * qv.qnrm) AS score
       |  FROM vecs a JOIN cand c ON c.id = a.id, qv)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** Matryoshka-style prefix-dimension retrieval (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): MRL-trained encoders front-load
    * information, so cosine over the FIRST `mDim` dimensions is a faithful
    * coarse ranking at `mDim/dim` of the scan cost — the serving pattern
    * is coarse top-(k·oversample) on the prefix, exact full-dimension
    * re-rank of just those candidates. Works as a (weaker) candidate
    * generator on non-MRL embeddings too; recall vs [[knnBrute]] is
    * measured in SimilaritySpec, and with `mDim = dim` the result equals
    * [[knnBrute]] exactly (spec-pinned).
    *
    * Exactness: the coarse phase ranks by prefix cosine computed from
    * EXACT integer sums — cfx / (√pn2_a · √pn2_q) where cfx = Σ v_fx·q_fx
    * and pn2 = Σ v_fx² on the round(v·1e6) carrier — one deterministic
    * double division per candidate, no parallel double accumulation, so
    * the candidate set and the final k replay bit-for-bit in DuckDB
    * ([[knnMatryoshkaOracleSql]]). The re-rank is [[knnBrute]]'s fold.
    */
  def knnMatryoshka(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, mDim: Int = 16,
      oversample: Int = 4): DataFrame = {
    val fx = df.select(col(idCol).as("id"),
      expr(s"transform(slice($vecCol, 1, $mDim), x -> " +
        "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))").as("pfx"))
      .select(col("id"), col("pfx"),
        expr("aggregate(transform(pfx, x -> x * x), 0L, " +
          "(acc, v) -> acc + v)").as("pn2"))
    val qp = fx.where(col("id") === queryId)
      .select(col("pfx").as("qpfx"), col("pn2").as("qpn2"))
    val cands = fx.join(broadcast(qp))
      .where(col("id") =!= queryId)
      .select(col("id"),
        cosineScore(
          expr("aggregate(zip_with(pfx, qpfx, (x, y) -> x * y), 0L, " +
            "(acc, v) -> acc + v)").cast("double"),
          sqrt(col("pn2").cast("double")) * sqrt(col("qpn2").cast("double")))
          .as("cscore"))
      .orderBy(col("cscore").desc, col("id"))
      .limit(k * oversample)
      .select(col("id").as(idCol))
    val q = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), norm(col(vecCol)).as("qnrm"))
    df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(cands), Seq(idCol))
      .join(broadcast(q))
      .select(col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")),
          col("nrm") * col("qnrm")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB SQL replaying [[knnMatryoshka]] value-for-value (same integer
    * prefix carrier, same single-division prefix cosine, same re-rank).
    */
  def knnMatryoshkaOracleSql(queryId: Long, k: Int, mDim: Int = 16,
      oversample: Int = 4, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String =
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm,
       |         list_transform(($vecCol::DOUBLE[])[1 : $mDim],
       |           x -> round(x * 1000000)::BIGINT) AS pfx
       |  FROM $table),
       |pre AS (
       |  SELECT id, pfx,
       |         list_sum(list_transform(pfx, x -> x * x))::BIGINT AS pn2
       |  FROM vecs),
       |qp AS (SELECT pfx AS qpfx, pn2 AS qpn2 FROM pre WHERE id = $queryId),
       |cand AS (
       |  SELECT id FROM (
       |    SELECT p.id,
       |           CASE WHEN sqrt(p.pn2::DOUBLE) * sqrt(qp.qpn2::DOUBLE) = 0
       |                THEN '-infinity'::DOUBLE
       |                ELSE list_sum(list_transform(
       |                       generate_series(1, $mDim), j ->
       |                       p.pfx[j] * qp.qpfx[j]))::DOUBLE
       |                     / (sqrt(p.pn2::DOUBLE) * sqrt(qp.qpn2::DOUBLE))
       |           END AS cscore
       |    FROM pre p, qp WHERE p.id <> $queryId
       |    ORDER BY cscore DESC, p.id LIMIT ${k * oversample})),
       |qv AS (SELECT v AS qvec, nrm AS qnrm FROM vecs WHERE id = $queryId)
       |SELECT id AS $idCol, score FROM (
       |  SELECT a.id,
       |         list_dot_product(a.v, qv.qvec) / (a.nrm * qv.qnrm) AS score
       |  FROM vecs a JOIN cand c ON c.id = a.id, qv)
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  /** Product-quantization codebook (Jégou/Douze/Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search"): split the `dim`-dimensional
    * space into `m` subspaces of `dim/m` dims; each subspace's code vectors
    * are the corresponding subvectors of the `codes` smallest-id rows — a
    * deterministic sampled codebook (same posture as [[ivfAssign]]'s
    * every-Nth-id centroids: no trained state, so the whole pipeline is
    * replayable by the oracle engine). Returns (sub, code, csub).
    */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
      m: Int, dim: Int, codes: Int): DataFrame = {
    val subDim = dim / m
    val base = df.orderBy(col(idCol)).limit(codes)
      .select(col(idCol).cast("long").as("code"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
    base.select(col("code"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          i => struct(i.cast("int").as("sub"),
            slice(col("v"), i * subDim + 1, lit(subDim)).as("csub")))).as("e"))
      .select(col("e.sub").as("sub"), col("code"), col("e.csub").as("csub"))
  }

  /** PQ encoding: each vector becomes `m` code ids — per subspace, the
    * codebook entry minimizing L2² distance (ties toward the lower code id).
    * `dim/m · log₂(codes)` bits per vector instead of `32·dim`: the standard
    * 100 TB-corpus compression (a 64-dim float32 corpus shrinks 64× at
    * m=8, codes=16). Shape: explode by subspace → broadcast-join the (tiny)
    * codebook → window argmin — one corpus scan, no driver state. Distances
    * are composed from sequential-fold dot products so the oracle engine
    * reproduces every double bit-for-bit. Returns (id, sub, code).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    // materialize the double vector once — slicing the cast expression
    // inside the per-subspace lambda would re-cast the full array per
    // subspace (lambda bodies don't CSE against the outer scope)
    val vecs = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val subs = vecs.select(col("id"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          i => struct(i.cast("int").as("sub"),
            slice(col("v"), i * subDim + 1, lit(subDim)).as("sv")))).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv"))
    // argmin over codes doesn't need the full L2²: sv·sv is constant within
    // each (id, sub) window, so ranking by csub·csub − 2·sv·csub (with
    // csub·csub precomputed once per codebook row) picks the same code with
    // one fold per pair instead of three — this is the per-row hot loop
    // (|corpus|·m·codes pairs)
    val cb = codebook.withColumn("cnorm2", dot(col("csub"), col("csub")))
    val scored = subs.join(broadcast(cb), "sub")
      .select(col("id"), col("sub"), col("code"),
        (col("cnorm2") - lit(2.0) * dot(col("sv"), col("csub"))).as("d2"))
    // argmin as a hash aggregate (min_by over the (d2, code) tuple — the
    // code tiebreak keeps it deterministic) rather than a row_number
    // window: no per-partition sort of the |corpus|·m·codes scored rows,
    // and partial aggregation shrinks them map-side before the exchange
    scored.groupBy(col("id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
  }

  /** PQ ANN top-k by asymmetric distance computation (ADC): the query stays
    * full-precision; per subspace a (codes)-entry lookup table of L2²
    * distances to each code vector is built once, and a candidate's
    * approximate distance is the sum of its codes' table entries — `m` table
    * lookups per candidate instead of `dim` multiplies. The per-subspace
    * partial distances are summed in subspace order via a sequential double
    * fold (sorted collect_list), keeping the result independent of partition
    * layout and bit-identical to the oracle replay ([[knnPqOracleSql]]).
    * Returns the `k` nearest (vec_id, adist), ascending distance.
    */
  /** Query subvectors (sub, qsv) for ADC: the query vector sliced into the
    * `m` PQ subspaces at full precision.
    */
  private def querySubvectors(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, m: Int, subDim: Int): DataFrame =
    df.where(col(idCol) === queryId)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(explode(transform(sequence(lit(0), lit(m - 1)),
        i => struct(i.cast("int").as("sub"),
          slice(col("v"), i * subDim + 1, lit(subDim)).as("qsv")))).as("e"))
      .select(col("e.sub").as("sub"), col("e.qsv").as("qsv"))

  /** ADC scoring shared by [[knnPq]] and [[knnIvfPq]]: per-subspace LUT of
    * query↔code L2² partials (tiny — broadcast), then per-candidate sum in
    * subspace order via a sequential double fold (sorted collect_list) so
    * the result is partition-layout-independent and oracle-replayable.
    */
  private def pqAdcTopK(encoded: DataFrame, cb: DataFrame, qsubs: DataFrame,
      queryId: Long, k: Int): DataFrame = {
    val lut = cb.join(broadcast(qsubs), "sub")
      .select(col("sub"), col("code"),
        (dot(col("qsv"), col("qsv")) - lit(2.0) * dot(col("qsv"), col("csub"))
          + dot(col("csub"), col("csub"))).as("pd"))
    encoded.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("id"))
      .agg(aggregate(
        transform(array_sort(collect_list(struct(col("sub"), col("pd")))),
          s => s.getField("pd")),
        lit(0.0), (acc, v) => acc + v).as("adist"))
      .where(col("id") =!= queryId)
      .orderBy(col("adist").asc, col("id"))
      .limit(k)
      .select(col("id").as("vec_id"), col("adist"))
  }

  def knnPq(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, m: Int = 8, dim: Int = 64, codes: Int = 16): DataFrame = {
    val subDim = dim / m
    val cb = pqCodebook(df, idCol, vecCol, m, dim, codes)
    val encoded = pqEncode(df, idCol, vecCol, cb, m, dim)
    pqAdcTopK(encoded, cb,
      querySubvectors(df, idCol, vecCol, queryId, m, subDim), queryId, k)
  }

  /** IVF-PQ composite ANN — the standard billion-scale index layout (Jégou,
    * Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
    * Search", §V "IVFADC"): the IVF coarse quantizer prunes the corpus to
    * the `nprobe` cells nearest the query, then PQ ADC scores only the
    * surviving vectors. At 100 TB the two stages compose their savings —
    * the cell join cuts the scan to nprobe/k_cells of the corpus and PQ
    * cuts per-vector cost/memory ~64×; here only the pruned cells are
    * PQ-encoded, standing in for the encoded-at-ingest corpus an index
    * build would persist. Deterministic end to end (modular centroids,
    * first-`codes` codebook, lower-code/lower-id ties) →
    * [[knnIvfPqOracleSql]] replays it value-for-value in DuckDB.
    */
  def knnIvfPq(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, centroidEvery: Long = 50, nprobe: Int = 3,
      m: Int = 8, dim: Int = 64, codes: Int = 16): DataFrame = {
    val subDim = dim / m
    val assigned = ivfAssign(df, idCol, vecCol, centroidEvery)
    val q = df.where(col(idCol) === queryId).select(col(vecCol).as("qvec"))
    val cents = df.where(col(idCol) % centroidEvery === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cvec"))
    val probeCents = cents.join(broadcast(q))
      .select(col("centroid_id"), cosine(col("cvec"), col("qvec")).as("cs"))
      .orderBy(col("cs").desc, col("centroid_id")).limit(nprobe)
      .select("centroid_id")
    val pruned = df.select(col(idCol), col(vecCol))
      .join(assigned, idCol)
      .join(broadcast(probeCents), "centroid_id")
      .select(col(idCol), col(vecCol))
    val cb = pqCodebook(df, idCol, vecCol, m, dim, codes)
    val encoded = pqEncode(pruned, idCol, vecCol, cb, m, dim)
    pqAdcTopK(encoded, cb,
      querySubvectors(df, idCol, vecCol, queryId, m, subDim), queryId, k)
  }

  /** DuckDB SQL replaying [[knnPq]] value-for-value (same sampled codebook,
    * same three-dot L2² composition, same sub-ordered sequential sum —
    * `list_reduce`'s first-element seed equals Spark's 0.0 seed exactly for
    * finite doubles).
    */
  def knnPqOracleSql(queryId: Long, k: Int, m: Int = 8, dim: Int = 64,
      codes: Int = 16, table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String = {
    val subDim = dim / m
    s"""WITH base AS (
       |  SELECT $idCol AS code, $vecCol::DOUBLE[] AS v FROM $table
       |  ORDER BY $idCol LIMIT $codes),
       |cb AS (
       |  SELECT g.i AS sub, code, v[g.i*$subDim+1 : g.i*$subDim+$subDim] AS csub
       |  FROM base, generate_series(0, ${m - 1}) g(i)),
       |vecs AS (SELECT $idCol AS id, $vecCol::DOUBLE[] AS v FROM $table),
       |subs AS (
       |  SELECT id, g.i AS sub, v[g.i*$subDim+1 : g.i*$subDim+$subDim] AS sv
       |  FROM vecs, generate_series(0, ${m - 1}) g(i)),
       |encoded AS (
       |  SELECT id, sub, code FROM (
       |    SELECT id, sub, code,
       |           row_number() OVER (PARTITION BY id, sub ORDER BY
       |             list_dot_product(csub, csub)
       |               - 2.0 * list_dot_product(sv, csub), code) AS rn
       |    FROM subs JOIN cb USING (sub))
       |  WHERE rn = 1),
       |q AS (SELECT sub, sv AS qsv FROM subs WHERE id = $queryId),
       |lut AS (
       |  SELECT sub, code,
       |         list_dot_product(qsv, qsv) - 2.0 * list_dot_product(qsv, csub)
       |           + list_dot_product(csub, csub) AS pd
       |  FROM cb JOIN q USING (sub))
       |SELECT id AS $idCol, adist FROM (
       |  SELECT id, list_reduce(list(pd ORDER BY sub), (a, b) -> a + b) AS adist
       |  FROM encoded JOIN lut USING (sub, code)
       |  GROUP BY id)
       |WHERE id <> $queryId
       |ORDER BY adist, id LIMIT $k""".stripMargin
  }

  /** DuckDB SQL replaying [[knnIvfPq]] value-for-value: the IVF
    * prune CTEs of the `q_knn_ivf` replay feeding the PQ encode/ADC CTEs
    * of [[knnPqOracleSql]], with encoding restricted to the probed cells.
    */
  def knnIvfPqOracleSql(queryId: Long, k: Int, centroidEvery: Long = 50,
      nprobe: Int = 3, m: Int = 8, dim: Int = 64, codes: Int = 16,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String = {
    val subDim = dim / m
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm
       |  FROM $table),
       |cents AS (
       |  SELECT id AS centroid_id, v AS cvec, nrm AS cnrm FROM vecs
       |  WHERE id % $centroidEvery = 0),
       |assigned AS (
       |  SELECT id, centroid_id FROM (
       |    SELECT a.id, c.centroid_id,
       |           row_number() OVER (PARTITION BY a.id
       |             ORDER BY list_dot_product(a.v, c.cvec) / (a.nrm * c.cnrm) DESC,
       |                      c.centroid_id) AS rn
       |    FROM vecs a CROSS JOIN cents c)
       |  WHERE rn = 1),
       |qv AS (SELECT v AS qvec, nrm AS qnrm FROM vecs WHERE id = $queryId),
       |probe AS (
       |  SELECT centroid_id FROM cents, qv
       |  ORDER BY list_dot_product(cvec, qvec) / (cnrm * qnrm) DESC, centroid_id
       |  LIMIT $nprobe),
       |pruned AS (
       |  SELECT a.id, a.v FROM vecs a
       |  JOIN assigned USING (id) JOIN probe USING (centroid_id)),
       |base AS (
       |  SELECT $idCol AS code, $vecCol::DOUBLE[] AS v FROM $table
       |  ORDER BY $idCol LIMIT $codes),
       |cb AS (
       |  SELECT g.i AS sub, code, v[g.i*$subDim+1 : g.i*$subDim+$subDim] AS csub
       |  FROM base, generate_series(0, ${m - 1}) g(i)),
       |subs AS (
       |  SELECT id, g.i AS sub, v[g.i*$subDim+1 : g.i*$subDim+$subDim] AS sv
       |  FROM pruned, generate_series(0, ${m - 1}) g(i)),
       |encoded AS (
       |  SELECT id, sub, code FROM (
       |    SELECT id, sub, code,
       |           row_number() OVER (PARTITION BY id, sub ORDER BY
       |             list_dot_product(csub, csub)
       |               - 2.0 * list_dot_product(sv, csub), code) AS rn
       |    FROM subs JOIN cb USING (sub))
       |  WHERE rn = 1),
       |q AS (
       |  SELECT g.i AS sub, v[g.i*$subDim+1 : g.i*$subDim+$subDim] AS qsv
       |  FROM (SELECT v FROM vecs WHERE id = $queryId), generate_series(0, ${m - 1}) g(i)),
       |lut AS (
       |  SELECT sub, code,
       |         list_dot_product(qsv, qsv) - 2.0 * list_dot_product(qsv, csub)
       |           + list_dot_product(csub, csub) AS pd
       |  FROM cb JOIN q USING (sub))
       |SELECT id AS $idCol, adist FROM (
       |  SELECT id, list_reduce(list(pd ORDER BY sub), (a, b) -> a + b) AS adist
       |  FROM encoded JOIN lut USING (sub, code)
       |  GROUP BY id)
       |WHERE id <> $queryId
       |ORDER BY adist, id LIMIT $k""".stripMargin
  }

  /** Embedding near-duplicate pairs: LSH-bucketed candidate generation,
    * exact cosine verification at `threshold`. Same shape as
    * [[Dedup.minhashPairs]] but over vectors.
    *
    * Cache lifecycle: the bucketed table is persisted because the returned
    * plan reads it twice (both sides of the self-join) — the cache entry
    * lives until the caller is done with the RESULT, so the operator cannot
    * unpersist it itself. A long-lived driver calling this per corpus
    * should `spark.catalog.clearCache()` (or unpersist via the plan) between
    * corpora; in the gate/bench session the shared entry is reused, which is
    * the desired behavior.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, maxBucket: Int = 10000): DataFrame = {
    // norms materialized per vector (not per pair — see knnBrute note) and
    // the bucketed table persisted: the self-join consumes it twice, and the
    // hyperplane signature (bits HOF folds per row) is the expensive part
    val bucketed = Dedup.capBuckets(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"),
        hyperplaneBucket(col(vecCol), bits).as("bucket")),
      Seq("bucket"), maxBucket)
      .transform(Caching.persist)
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("score"))
      .where(col("score") >= threshold)
  }

  /** LSH bit-width for a corpus of `n` vectors targeting `targetBucket`
    * expected vectors per bucket: `ceil(log2(n / targetBucket))`, clamped
    * to [minBits, maxBits]. THE sizing rule that keeps bucket self-joins
    * linear — at fixed bits the pair count grows as 2^bits·(n/2^bits)² =
    * n²/2^bits, i.e. quadratic in corpus size (measured 16× at 10× in
    * ScaleStress); growing bits with log n holds expected bucket occupancy
    * (and so pairs per vector) constant.
    */
  def sizeBits(n: Long, targetBucket: Long = 256L, minBits: Int = 4,
      maxBits: Int = 24): Int = {
    require(targetBucket >= 1)
    val ratio = math.max(1.0, n.toDouble / targetBucket)
    math.min(maxBits, math.max(minBits,
      math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /** IVF sizing rule, the centroid-count analogue of [[sizeBits]]:
    * `centroidEvery = √n` gives k = √n cells, so assignment work n·k grows
    * as n^1.5 — a FIXED stride makes k a constant fraction of the corpus
    * and assignment quadratic (measured 14× at 10× in ScaleStress; the
    * sized run is the adjacent row). Probe count stays a tuning knob:
    * recall per probe falls as cells shrink, so nprobe grows ~√ too.
    */
  def sizeCentroidEvery(n: Long): Long =
    math.max(1L, math.round(math.sqrt(n.toDouble)))

  /** [[nearDupPairs]] with [[sizeBits]]-chosen bit width: one cheap
    * count() sizes the signature to the corpus, so a 10× (or 1000×)
    * re-run keeps near-linear cost without retuning. The count is the
    * only extra pass — at 100 TB it comes from table stats instead.
    */
  def nearDupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetBucket: Long = 256L,
      maxBucket: Int = 10000): DataFrame =
    nearDupPairs(df, idCol, vecCol, threshold,
      bits = sizeBits(df.count(), targetBucket), maxBucket = maxBucket)

  /** Hard-negative mining for contrastive embedding-model training
    * (Karpukhin et al. 2020 DPR; Xiong et al. 2021 ANCE): per query vector,
    * the top-`k` most-similar corpus vectors that are neither the query
    * itself nor one of its labeled positives — the near-miss negatives
    * that actually move a contrastive loss, mined from the corpus the
    * model will train on. Same scale shape as [[knnBatch]] (query set
    * broadcast, ONE corpus pass) with the positive pairs removed by a
    * (qid, id) anti-join BEFORE the ranking window, so every query still
    * yields a full k negatives. `positives` is (qidCol, posIdCol) —
    * typically the training pairs file, tiny next to the corpus, broadcast
    * by AQE in the anti-join.
    */
  def mineHardNegatives(df: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      positives: DataFrame, posQidCol: String, posIdCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qvec"),
      norm(col(qvecCol)).as("qnrm"))
    val scored = df
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .join(broadcast(q))
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol),
        cosineScore(dot(col(vecCol), col("qvec")),
          col("nrm") * col("qnrm")).as("score"))
    val pos = positives.select(col(posQidCol).as("qid"),
      col(posIdCol).as(idCol))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol))
    scored.join(pos, Seq("qid", idCol), "left_anti")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Feature-hashed bag-of-words embedding (the "hashing trick", Weinberger
    * et al. 2009, "Feature Hashing for Large Scale Multitask Learning"):
    * token t contributes sign(h(t)) at index h(t) mod dim, summed per key —
    * a fixed-dim lexical embedding with no vocabulary table, computable in
    * one pass at any corpus size. Both index and sign come from the single
    * [[Dedup.portableHash]] md5 (sign = the bit above the index bits), so
    * the whole embedding replays bit-for-bit in DuckDB — integer-valued
    * components, exact under any summation order. Returns `keyCols` + a
    * dense `vec` array<double>. Rows whose text has no tokens are absent
    * (no features → no row), mirroring the tokenizer-side filters.
    */
  def hashEmbed(df: DataFrame, keyCols: Seq[String], textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    // densify sparseFeatures' rows — ONE definition of the hashing recipe,
    // so the dense and sparse (retrieveChunks) consumers cannot drift
    sparseFeatures(df, keyCols.map(k => k -> k), textCol, dim)
      .groupBy(keyCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("idx"), col("v"))))
        .as("__m"))
      .select(keyCols.map(col) :+
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i.cast("int")), lit(0.0)))
          .as("vec"): _*)
  }

  /** Retrieval over a chunked corpus — the RAG serving shape: embed every
    * chunk and every probe with [[hashEmbed]], score all (probe, chunk)
    * pairs by cosine with the probe table broadcast (probes ≪ corpus), and
    * keep each probe's top `k` chunks outside its own source document.
    * Deterministic ranking (score DESC, doc, chunk_id) and exact arithmetic
    * (integer-valued vectors) make the full chunk → embed → retrieve
    * pipeline DuckDB-replayable ([[retrieveOracleSql]]). One corpus pass,
    * one per-probe window for the top-k; for probe sets too large to
    * broadcast, the same pattern chunks the probe set
    * ([[knnBatchChunked]]).
    */
  def retrieveChunks(chunks: DataFrame, docCol: String, chunkCol: String,
      textCol: String, probes: DataFrame, probeIdCol: String,
      probeTextCol: String, dim: Int, k: Int): DataFrame = {
    // SPARSE (inverted-index) form, not dense-vector folds: hash features
    // stay as (key, idx, v) rows, the dot product is an equi join on idx +
    // a sum — every step whole-stage-codegen'd joins/aggregates, whereas a
    // dense `aggregate(zip_with(...))` per (probe, chunk) pair is an
    // interpreted HOF fold (measured ~5× slower at 500k pairs). This IS
    // the inverted index of classical sparse retrieval; scores are
    // identical to the dense [[hashEmbed]] cosine (integer-exact sums in
    // any order).
    // repartition the chunk features by (doc, chunk_id) BEFORE the probe
    // join: the join itself is broadcast (probes ≪ corpus, no shuffle), and
    // hash-partitioning on a PREFIX of every downstream group key —
    // (probe, doc, chunk) dots, (doc, chunk) norms — satisfies their
    // clustered distribution, so both aggregates run shuffle-free in place.
    // Without it the features sit hash(doc, chunk, idx)-spread, every
    // partition touches nearly every (probe, doc, chunk) group, and the
    // partial-aggregate output (≈ groups × partitions rows — measured as
    // the query's dominant cost at dim=64, where the "sparse" join is
    // effectively dense) gets shuffled; with it the map-side aggregate IS
    // the final one. One narrow-row shuffle of the feature table replaces
    // a groups×partitions-row shuffle of the join output.
    val cf = sparseFeatures(chunks,
      Seq(docCol -> "doc", chunkCol -> "chunk_id"), textCol, dim)
      .repartition(col("doc"), col("chunk_id"))
      .transform(Caching.persist)
    val pf = sparseFeatures(probes, Seq(probeIdCol -> "probe_id"),
      probeTextCol, dim)
    val cnrm = cf.groupBy(col("doc"), col("chunk_id"))
      .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
    val pnrm = pf.groupBy(col("probe_id"))
      .agg(sqrt(sum(col("v") * col("v"))).as("qnrm"))
    val dots = cf.join(broadcast(pf.withColumnRenamed("v", "qv")), "idx")
      .groupBy(col("probe_id"), col("doc"), col("chunk_id"))
      .agg(sum(col("v") * col("qv")).as("dp"))
    // pairs sharing no index LEFT-join to dot 0 — they can still out-rank
    // negative scores, so they must exist in the scored set
    val scored = cnrm.join(broadcast(pnrm))
      .where(col("doc") =!= col("probe_id"))
      .join(dots, Seq("probe_id", "doc", "chunk_id"), "left")
      .select(col("probe_id"), col("doc"), col("chunk_id"),
        cosineScore(coalesce(col("dp"), lit(0.0)),
          col("nrm") * col("qnrm")).as("score"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("doc"), col("chunk_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** The (keys..., idx, v) sparse feature rows behind [[hashEmbed]] — same
    * hash, same sign, kept un-densified for join-based consumers.
    */
  private def sparseFeatures(df: DataFrame, keys: Seq[(String, String)],
      text: String, dim: Int): DataFrame = {
    val h = Dedup.portableHash(col("__tok"))
    val outNames = keys.map(_._2)
    df.select(keys.map { case (src, out) => col(src).as(out) } :+
        explode(graft.operators.TextAnalysis.tokens(col(text))).as("__tok"): _*)
      .select(outNames.map(col) :+ (h % dim).cast("int").as("idx") :+
        when(h % (2 * dim) < dim, lit(1.0)).otherwise(lit(-1.0)).as("__s"): _*)
      .groupBy((outNames :+ "idx").map(col): _*)
      .agg(sum(col("__s")).as("v"))
  }

  /** DuckDB replay of chunk → [[hashEmbed]] → [[retrieveChunks]] over
    * `documents`, sparse form: the dot product joins the two feature tables
    * on the hashed index (pairs sharing no index LEFT-join to dot 0 — they
    * can still out-rank negative scores), norms/dots are integer-exact, and
    * the zero-norm guard mirrors [[cosineScore]].
    */
  def retrieveOracleSql(window: Int, stride: Int, dim: Int, k: Int,
      probePred: String, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      probesOverrideSql: String = ""): String = {
    val hash = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
    // probe set override ([[Eval.needleEvalOracleSql]]): any SELECT
    // producing (probe_id, ptoks); default = whole probe docs, the
    // original inline shape, value-identical to the pre-override SQL
    val probesSql =
      if (probesOverrideSql.nonEmpty) probesOverrideSql
      else s"SELECT doc AS probe_id, toks AS ptoks FROM t WHERE $probePred"
    s"""WITH t AS (
       |  SELECT $idCol AS doc,
       |         ${graft.operators.TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |c AS (
       |  SELECT doc, toks,
       |         CASE WHEN len(toks) <= $window THEN 1
       |              ELSE (len(toks) - $window + $stride - 1) // $stride + 1 END AS n_chunks
       |  FROM t WHERE len(toks) > 0),
       |chunks AS (
       |  SELECT doc, i AS chunk_id,
       |         toks[i * $stride + 1 : i * $stride + $window] AS ctoks
       |  FROM c, unnest(generate_series(0, n_chunks - 1)) AS u(i)),
       |cfeat AS (
       |  SELECT doc, chunk_id, idx, sum(s) AS v FROM (
       |    SELECT doc, chunk_id, $hash % $dim AS idx,
       |           CASE WHEN $hash % ${2 * dim} < $dim THEN 1.0 ELSE -1.0 END AS s
       |    FROM (SELECT doc, chunk_id, unnest(ctoks) AS tok FROM chunks))
       |  GROUP BY 1, 2, 3),
       |probes AS ($probesSql),
       |pfeat AS (
       |  SELECT probe_id, idx, sum(s) AS v FROM (
       |    SELECT probe_id, $hash % $dim AS idx,
       |           CASE WHEN $hash % ${2 * dim} < $dim THEN 1.0 ELSE -1.0 END AS s
       |    FROM (SELECT probe_id, unnest(ptoks) AS tok FROM probes))
       |  GROUP BY 1, 2),
       |cnrm AS (SELECT doc, chunk_id, sqrt(sum(v * v)) AS nrm
       |         FROM cfeat GROUP BY 1, 2),
       |pnrm AS (SELECT probe_id, sqrt(sum(v * v)) AS qnrm
       |         FROM pfeat GROUP BY 1),
       |dots AS (
       |  SELECT p.probe_id, f.doc, f.chunk_id, sum(p.v * f.v) AS dp
       |  FROM pfeat p JOIN cfeat f USING (idx)
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT pnrm.probe_id, cnrm.doc, cnrm.chunk_id,
       |         CASE WHEN cnrm.nrm * pnrm.qnrm = 0 THEN '-Infinity'::DOUBLE
       |              ELSE coalesce(dots.dp, 0.0) / (cnrm.nrm * pnrm.qnrm)
       |         END AS score
       |  FROM cnrm CROSS JOIN pnrm
       |  LEFT JOIN dots ON dots.probe_id = pnrm.probe_id
       |    AND dots.doc = cnrm.doc AND dots.chunk_id = cnrm.chunk_id
       |  WHERE cnrm.doc <> pnrm.probe_id)
       |SELECT probe_id, doc, chunk_id, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY score DESC, doc, chunk_id)::BIGINT AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin
  }

  /** Late-interaction MaxSim RE-RANKING (the ColBERT architecture, Khattab
    * & Zaharia 2020) over the [[retrieveChunks]] first stage — the
    * retrieve-then-rerank shape production retrieval actually ships: a
    * cheap bag-of-words first pass pulls `firstK` candidates per probe,
    * then each candidate is re-scored token-by-token:
    *   score = Σ_{query tokens} max(0, max_{chunk tokens} cos(q_t, c_t))
    * so a candidate wins by covering EVERY query token somewhere, not by
    * aggregate bag overlap — word-order-free but token-coverage-aware,
    * exactly what the single-vector stage cannot distinguish.
    *
    * Token vectors here are hashed CHAR-TRIGRAM features (one
    * [[Dedup.portableHash]] per gram, ±1 signs — token cosine = trigram
    * overlap, a real fuzzy-token similarity), which keeps the whole chain
    * integer-exact and DuckDB-replayable; a trained token encoder drops in
    * behind the same (keys, pos, idx, v) shape, the
    * [[Multimodal.pairAlignment]] stub-tower convention.
    *
    * Determinism: per-(query-token) maxima are order-free; each token's
    * contribution is floored at 0 and projected to micro BEFORE the sum
    * (the [[graft.operators.TextAnalysis.corpusKl]] fixed-point rule), so
    * the per-candidate Σ is exact integers in any order. Candidates whose
    * tokens share no trigram bucket with the query drop out of the re-rank
    * (score 0 — strictly below any matched candidate by construction).
    *
    * Scale shape: all work is bounded by the candidate set — token
    * features join through (probe, doc, chunk) equi-keys then the hashed
    * index, never corpus×corpus; the first stage bounds candidates at
    * probes × firstK.
    */
  def rerankMaxSim(chunks: DataFrame, docCol: String, chunkCol: String,
      textCol: String, probes: DataFrame, probeIdCol: String,
      probeTextCol: String, dim: Int, firstK: Int, k: Int): DataFrame = {
    require(firstK >= k && k >= 1)
    val cand = retrieveChunks(chunks, docCol, chunkCol, textCol,
        probes, probeIdCol, probeTextCol, dim, firstK)
      .select(col("probe_id"), col("doc"), col("chunk_id"))
      .transform(Caching.persist)
    def tokFeats(df: DataFrame, keys: Seq[(String, String)], text: String,
        posName: String): (DataFrame, DataFrame) = {
      val outKeys = keys.map(_._2)
      val toks = df.select(keys.map { case (s2, o) => col(s2).as(o) } :+
        posexplode(graft.operators.TextAnalysis.tokens(col(text)))
          .as(Seq(posName, "__tok")): _*)
      val grams = toks.select(outKeys.map(col) :+ col(posName) :+
        explode(graft.operators.TextAnalysis.charNgrams(col("__tok"), 3))
          .as("__g"): _*)
      val h = Dedup.portableHash(col("__g"))
      val feats = grams
        .select(outKeys.map(col) :+ col(posName) :+
          (h % dim).cast("int").as("idx") :+
          when(h % (2 * dim) < dim, lit(1.0)).otherwise(lit(-1.0))
            .as("__s"): _*)
        .groupBy((outKeys :+ posName :+ "idx").map(col): _*)
        .agg(sum(col("__s")).as("v"))
        // sign-cancelled buckets (v = 0) carry nothing and would make an
        // all-cancelled token a 0/0 cosine — dropped in BOTH engines
        .where(col("v") =!= 0.0)
        .transform(Caching.persist)
      val norms = feats.groupBy((outKeys :+ posName).map(col): _*)
        .agg(sqrt(sum(col("v") * col("v"))).as("nrm"))
      (feats, norms)
    }
    val (pf, pn) = tokFeats(probes, Seq(probeIdCol -> "probe_id"),
      probeTextCol, "ppos")
    // token features ONLY for candidate chunks — the first stage bounds
    // the set at probes × firstK, so the gram explode must never run
    // corpus-wide (it was the dominant cost when it did: 8 s → ~1 s at
    // sf0.1). Value-neutral: the dot space below only touches candidates.
    val candChunks = chunks
      .select(col(docCol).as("doc"), col(chunkCol).as("chunk_id"),
        col(textCol).as("__ctext"))
      .join(cand.select(col("doc"), col("chunk_id")).distinct(),
        Seq("doc", "chunk_id"), "left_semi")
    val (cf, cn) = tokFeats(candChunks,
      Seq("doc" -> "doc", "chunk_id" -> "chunk_id"), "__ctext", "cpos")
    val dots = cand
      .join(pf.withColumnRenamed("v", "vp"), "probe_id")
      .join(cf.withColumnRenamed("v", "vc"), Seq("doc", "chunk_id", "idx"))
      .groupBy(col("probe_id"), col("doc"), col("chunk_id"), col("ppos"),
        col("cpos"))
      .agg(sum(col("vp") * col("vc")).as("dp"))
    val sims = dots
      .join(pn, Seq("probe_id", "ppos"))
      .join(cn.withColumnRenamed("nrm", "cnrm"),
        Seq("doc", "chunk_id", "cpos"))
      .select(col("probe_id"), col("doc"), col("chunk_id"), col("ppos"),
        (col("dp") / (col("nrm") * col("cnrm"))).as("sim"))
    val perTok = sims
      .groupBy(col("probe_id"), col("doc"), col("chunk_id"), col("ppos"))
      .agg(max(col("sim")).as("best"))
      .select(col("probe_id"), col("doc"), col("chunk_id"),
        round(greatest(col("best"), lit(0.0)) * 1e6, 0).cast("long")
          .as("c_micro"))
    val scored = perTok
      .groupBy(col("probe_id"), col("doc"), col("chunk_id"))
      .agg(sum(col("c_micro")).as("maxsim_micro"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("maxsim_micro").desc, col("doc"), col("chunk_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** DuckDB replay of [[rerankMaxSim]]: the [[retrieveOracleSql]] first
    * stage (at `firstK`) as the candidate CTE, then the identical
    * trigram-feature MaxSim chain.
    */
  def rerankOracleSql(window: Int, stride: Int, dim: Int, firstK: Int,
      k: Int, probePred: String, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      probeSkip: Int = 0, probeTake: Int = 0): String = {
    val h = "('0x' || substr(md5(g), 1, 15))::BIGINT"
    // probeTake > 0: probes are short mid-doc token slices (the realistic
    // query length — and the work bound: the MaxSim group space is
    // candidates × query tokens × chunk tokens)
    val sliceHi = probeSkip + probeTake
    val probesOverride =
      if (probeTake > 0)
        s"""SELECT doc + 0 AS probe_id, toks[${probeSkip + 1}:$sliceHi] AS ptoks
           |  FROM t WHERE ($probePred) AND len(toks) >= $sliceHi""".stripMargin
      else ""
    val first = retrieveOracleSql(window, stride, dim, firstK, probePred,
      table, idCol, textCol, probesOverrideSql = probesOverride)
    val ptokSrc =
      if (probeTake > 0)
        s"""SELECT doc AS probe_id, ppos, sl[ppos] AS tok FROM (
           |    SELECT doc, toks[${probeSkip + 1}:$sliceHi] AS sl FROM t2
           |    WHERE ($probePred) AND len(toks) >= $sliceHi),
           |       unnest(generate_series(1, len(sl))) AS p(ppos)""".stripMargin
      else
        s"""SELECT doc AS probe_id, ppos, toks[ppos] AS tok
           |  FROM t2, unnest(generate_series(1, len(toks))) AS p(ppos)
           |  WHERE $probePred""".stripMargin
    s"""WITH cand AS (
       |  SELECT probe_id, doc, chunk_id FROM ($first)),
       |t2 AS (
       |  SELECT $idCol AS doc,
       |         ${graft.operators.TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |c2 AS (
       |  SELECT doc, toks,
       |         CASE WHEN len(toks) <= $window THEN 1
       |              ELSE (len(toks) - $window + $stride - 1) // $stride + 1 END AS n_chunks
       |  FROM t2 WHERE len(toks) > 0),
       |chunks2 AS (
       |  SELECT doc, i AS chunk_id,
       |         toks[i * $stride + 1 : i * $stride + $window] AS ctoks
       |  FROM c2, unnest(generate_series(0, n_chunks - 1)) AS u(i)),
       |ctok AS (
       |  SELECT doc, chunk_id, cpos, ctoks[cpos] AS tok FROM chunks2,
       |       unnest(generate_series(1, len(ctoks))) AS p(cpos)),
       |ptok AS (
       |  $ptokSrc),
       |cgram AS (
       |  SELECT doc, chunk_id, cpos, substr(tok, i, 3) AS g FROM ctok,
       |       unnest(generate_series(1, len(tok) - 2)) AS gi(i)
       |  WHERE len(tok) >= 3),
       |pgram AS (
       |  SELECT probe_id, ppos, substr(tok, i, 3) AS g FROM ptok,
       |       unnest(generate_series(1, len(tok) - 2)) AS gi(i)
       |  WHERE len(tok) >= 3),
       |cfeat2 AS (
       |  SELECT doc, chunk_id, cpos, idx, sum(s) AS v FROM (
       |    SELECT doc, chunk_id, cpos, $h % $dim AS idx,
       |           CASE WHEN $h % ${2 * dim} < $dim THEN 1.0 ELSE -1.0 END AS s
       |    FROM cgram)
       |  GROUP BY 1, 2, 3, 4 HAVING sum(s) <> 0),
       |pfeat2 AS (
       |  SELECT probe_id, ppos, idx, sum(s) AS v FROM (
       |    SELECT probe_id, ppos, $h % $dim AS idx,
       |           CASE WHEN $h % ${2 * dim} < $dim THEN 1.0 ELSE -1.0 END AS s
       |    FROM pgram)
       |  GROUP BY 1, 2, 3 HAVING sum(s) <> 0),
       |cn2 AS (SELECT doc, chunk_id, cpos, sqrt(sum(v * v)) AS cnrm
       |        FROM cfeat2 GROUP BY 1, 2, 3),
       |pn2 AS (SELECT probe_id, ppos, sqrt(sum(v * v)) AS nrm
       |        FROM pfeat2 GROUP BY 1, 2),
       |dots2 AS (
       |  SELECT cand.probe_id, cand.doc, cand.chunk_id, p.ppos, f.cpos,
       |         sum(p.v * f.v) AS dp
       |  FROM cand
       |  JOIN pfeat2 p ON p.probe_id = cand.probe_id
       |  JOIN cfeat2 f ON f.doc = cand.doc AND f.chunk_id = cand.chunk_id
       |    AND f.idx = p.idx
       |  GROUP BY 1, 2, 3, 4, 5),
       |per_tok AS (
       |  SELECT probe_id, doc, chunk_id,
       |         round(greatest(max(dp / (pn2.nrm * cn2.cnrm)), 0.0)
       |               * 1e6)::BIGINT AS c_micro
       |  FROM dots2
       |  JOIN pn2 USING (probe_id, ppos)
       |  JOIN cn2 USING (doc, chunk_id, cpos)
       |  GROUP BY probe_id, doc, chunk_id, ppos),
       |scored2 AS (
       |  SELECT probe_id, doc, chunk_id,
       |         sum(c_micro)::BIGINT AS maxsim_micro
       |  FROM per_tok GROUP BY 1, 2, 3)
       |SELECT probe_id, doc, chunk_id, maxsim_micro, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |            ORDER BY maxsim_micro DESC, doc, chunk_id)::BIGINT AS rank
       |  FROM scored2)
       |WHERE rank <= $k""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): partition the embedding
    * space into clusters, then inside each cluster drop every vector whose
    * cosine similarity to a LOWER-id cluster member reaches `threshold` —
    * the semantic near-duplicates (paraphrases, templated rewrites,
    * translations) that textual dedup can't see. Keep rule: the min-id
    * member of each near-dup neighborhood survives (the paper keeps an
    * arbitrary member; min-id is the deterministic choice of it). Returns
    * the KEPT rows as (id, centroid_id).
    *
    * Clustering is the paper's own scale trick: candidate pairs exist only
    * within a cluster, so the pair space is O(Σ bucket²) instead of O(n²),
    * with [[Dedup.capBuckets]] dropping pathological clusters from pairing
    * (their members then all survive — a conservative, never-lossy guard).
    * The drop step is one distinct + left_anti join; nothing driver-sized
    * anywhere.
    */
  def semDedupAssigned(df: DataFrame, idCol: String, vecCol: String,
      assigned: DataFrame, threshold: Double,
      maxBucket: Int = 10000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
      .join(assigned.select(col(idCol).as("id"), col("centroid_id")), "id")
      .transform(Caching.persist)
    // the cap only excludes oversized clusters from PAIRING; their members
    // still reach the kept output below (base, not clustered, is the
    // left side of the anti-join)
    val clustered = Dedup.capBuckets(base, Seq("centroid_id"), maxBucket)
    val dropped = clustered.as("a").join(clustered.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") < col("b.id"))
      .where(cosineScore(dot(col("a.v"), col("b.v")),
        col("a.nrm") * col("b.nrm")) >= threshold)
      .select(col("b.id").as("id")).distinct()
    base.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("centroid_id"))
  }

  /** [[semDedupAssigned]] with a Lloyd-trained codebook ([[ivfTrain]]) —
    * the paper's actual configuration. Trained centroids carry the per-dim
    * `avg` partition-order caveat (see [[ivfTrain]]), so this tier is
    * spec-tested (planted-duplicate recall), while [[semDedupFixed]] is the
    * bit-exact gate tier.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double, iters: Int = 3, maxBucket: Int = 10000): DataFrame =
    semDedupAssigned(df, idCol, vecCol,
      assignToCentroids(df, idCol, vecCol, ivfTrain(df, idCol, vecCol, k, iters)),
      threshold, maxBucket)

  /** [[semDedupAssigned]] with the deterministic every-Nth-id codebook
    * ([[ivfAssign]]): every arithmetic step is a sequential double fold, so
    * the whole cluster → pair → drop pipeline replays bit-for-bit in DuckDB
    * ([[semDedupOracleSql]]).
    */
  def semDedupFixed(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long, threshold: Double,
      maxBucket: Int = 10000): DataFrame =
    semDedupAssigned(df, idCol, vecCol,
      ivfAssign(df, idCol, vecCol, centroidEvery), threshold, maxBucket)

  /** Per-dimension z-score standardization of an embedding column — the
    * preprocessing step before distance-based anything (ANN, k-means,
    * SemDeDup): dimensions with large raw variance otherwise dominate
    * every cosine/L2. Exactness design: raw floats enter the ×1e6
    * fixed-point BIGINT carrier (the [[graft.queries.MonoidQueries]]
    * `q_embed_centroids` pattern), per-dim moments are EXACT integer sums
    * (sum-of-squares on a DECIMAL(38,0) carrier — BIGINT would overflow at
    * ~1e11 rows × 1e14 squares), and the z-score is computed as
    * z = (v·n − s) / sqrt(n·ss − s²) — numerator and radicand are exact
    * integers (the fx scale cancels algebraically), so both engines
    * convert the same integers to double, take the same IEEE sqrt, and
    * round identically. Constant dimensions (radicand 0) standardize to 0
    * instead of NaN. Returns (id, pos, z) exploded — one row per
    * (vector, dimension), z rounded to 6 dp.
    *
    * Scale shape: one explode + one dims-sized aggregate, moments
    * broadcast back onto the exploded table — the corpus shuffles once
    * (the per-pos aggregate's partial rows), never the vectors.
    */
  def standardizeEmbeddings(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val f = df.select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        expr("CAST(ROUND(CAST(col AS DOUBLE) * 1000000, 0) AS BIGINT)")
          .as("v"))
      .transform(Caching.persist) // consumed by moments AND the join
    val m = f.groupBy("pos").agg(
      count(lit(1)).as("n"),
      sum(col("v")).cast("decimal(38,0)").as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("ss"))
    val num = (col("v").cast("decimal(38,0)") * col("n") - col("s"))
      .cast("double")
    val rad = (col("n") * col("ss") - col("s") * col("s")).cast("double")
    f.join(broadcast(m), "pos")
      .select(col(idCol), col("pos"),
        when(rad === 0d, lit(0d))
          .otherwise(round(num / sqrt(rad), 6)).as("z"))
  }

  /** DuckDB replay of [[standardizeEmbeddings]] value-for-value (HUGEINT
    * carries the exact moments; the same integer algebra feeds the same
    * IEEE sqrt).
    */
  def standardizeOracleSql(table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String =
    s"""WITH f AS (
       |  SELECT $idCol, generate_subscripts($vecCol, 1)::BIGINT AS pos,
       |         round(unnest($vecCol::DOUBLE[]) * 1000000)::BIGINT AS v
       |  FROM $table),
       |m AS (
       |  SELECT pos, count(*)::BIGINT AS n, sum(v)::HUGEINT AS s,
       |         sum(v::HUGEINT * v)::HUGEINT AS ss
       |  FROM f GROUP BY pos)
       |SELECT f.$idCol, f.pos,
       |       CASE WHEN n * ss - s * s = 0 THEN 0
       |            ELSE round((v::HUGEINT * n - s)::DOUBLE
       |                       / sqrt((n * ss - s * s)::DOUBLE), 6) END AS z
       |FROM f JOIN m USING (pos)""".stripMargin

  /** Dimension-correlation matrix of an embedding column — Pearson corr
    * for every dimension pair (i ≤ j), the redundancy/collapse diagnostic
    * run before PCA/whitening decisions: blocks of |corr| ≈ 1 mean the
    * encoder wastes capacity, an identity-like matrix means the space is
    * already decorrelated. ([[standardizeEmbeddings]]'s exact-moment
    * recipe generalized from per-dimension to pairwise.)
    *
    * Exactness: values quantize to 1e-6 fixed-point BIGINTs, all five
    * moments (n, Σx, Σy, Σxy, Σxx, Σyy) accumulate EXACTLY on
    * DECIMAL(38,0)/HUGEINT carriers, and
    *   corr = (n·Σxy − Σx·Σy) / √((n·Σxx − Σx²)·(n·Σyy − Σy²))
    * is one identical IEEE divide/sqrt on both engines, rounded to 6 dp.
    * Zero-variance dimensions pin corr = 0.
    *
    * Shape: the d(d+1)/2 pair products are generated INSIDE each row by a
    * nested `transform(sequence)` in codegen (no posexplode self-join —
    * the join would shuffle d copies of the corpus), then one two-phase
    * aggregate reduces them: map-side combine collapses every partition
    * to ≤ d² rows, so the shuffle moves partials, not pair rows. Linear
    * sums ride a second d-row aggregate, broadcast twice. At 100 TB this
    * is one corpus scan + two tiny shuffles.
    */
  /** The (i ≤ j, n, sxy) upper-triangle gram table shared by
    * [[correlationMatrix]] and [[pcaPower]] — ONE implementation so the
    * two queries' persisted entries stay canonically identical (whichever
    * runs first pays the corpus pair pass, the other cache-hits it).
    *
    * r15 repack (VERDICT r14 item 6, the ANF finding applied to the pair
    * pass): the struct-explode shape fans every row out to d(d+1)/2
    * (i, j, p) rows — 16.6M interpreted struct constructions + hash-agg
    * probes with DECIMAL sums at the gate point, the single slowest
    * oracle-able query of r14. When a cheap driver probe (one bounded
    * 4-column aggregate over the — cached — corpus) proves the fast path
    * EXACT, each row instead carries its products as one dense
    * array<long> in (i ≤ j) row-major order and the corpus reduces
    * through [[graft.functions.ArrayReduceAgg]] (element-wise long sum,
    * ObjectHashAggregate with map-side partial merge, tight primitive
    * loops) to a single d²-row read-off. Exactness conditions, all
    * checked, any failure falls back to the original shape:
    *  - every vector non-null with the same length d ≥ 1 and no null
    *    elements → every row contributes every (i, j) pair, so n = row
    *    count and array index ↔ (i, j) is a bijection;
    *  - rows · maxAbs² < 2^62 → every partial and final sum fits a
    *    BIGINT, so the UDAF's saturating add never saturates and equals
    *    the DECIMAL(38,0) sum term for term.
    * The probe is model-bounded driver trivia (the BFS-seed precedent);
    * values and output schema are identical on both paths, so the DuckDB
    * replays are untouched.
    */
  private[operators] def upperGram(q2: DataFrame): DataFrame = {
    val slow = () => q2.select(explode(flatten(transform(
        sequence(lit(1), size(col("q"))), i => transform(
          sequence(i, size(col("q"))), j => struct(
            i.cast("long").as("i"), j.cast("long").as("j"),
            (element_at(col("q"), i) * element_at(col("q"), j)).as("p"))))))
        .as("e"))
      .select(col("e.i"), col("e.j"), col("e.p"))
      .groupBy("i", "j").agg(count(lit(1)).as("n"),
        sum(col("p").cast("decimal(38,0)")).as("sxy"))
    val pr = q2.where(col("q").isNotNull)
      .agg(min(size(col("q"))).as("mn"), max(size(col("q"))).as("mx"),
        count(lit(1)).as("cnt"),
        max(when(exists(col("q"), x => x.isNull), 1).otherwise(0))
          .as("anyNull"),
        max(greatest(abs(coalesce(array_min(col("q")), lit(0L))),
          abs(coalesce(array_max(col("q")), lit(0L))))).as("mabs"))
      .head()
    val uniform = !pr.isNullAt(0) && pr.getInt(0) == pr.getInt(1) &&
      pr.getInt(0) >= 1 && pr.getInt(3) == 0
    val gram = if (!uniform ||
        BigInt(pr.getLong(2)) * BigInt(pr.getLong(4)).pow(2) >= (BigInt(1) << 62)) {
      slow()
    } else {
      val d = pr.getInt(0)
      val prods = q2.where(col("q").isNotNull)
        .select(flatten(transform(sequence(lit(1), lit(d)), i => transform(
          sequence(i, lit(d)),
          j => element_at(col("q"), i) * element_at(col("q"), j)))).as("pr"))
      val red = prods.agg(
        graft.functions.ArrayReduceAgg.arrayReduce("sum", col("pr")).as("s"),
        count(lit(1)).as("n"))
      val idxArr = flatten(transform(sequence(lit(1), lit(d)), i =>
        transform(sequence(i, lit(d)), j => struct(
          i.cast("long").as("i"), j.cast("long").as("j")))))
      red.select(col("n"), explode(zip_with(idxArr, col("s"),
          (ij, v) => struct(ij.getField("i").as("i"),
            ij.getField("j").as("j"), v.as("p")))).as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("n"),
          col("e.p").cast("decimal(38,0)").as("sxy"))
    }
    graft.operators.Caching.persist(gram)
  }

  def correlationMatrix(df: DataFrame, vecCol: String): DataFrame = {
    val q2 = df.select(transform(col(vecCol),
      x => round(x.cast("double") * 1000000, 0).cast("long")).as("q"))
    val gram = upperGram(q2) // persisted: feeds diag AND output
    val mom = q2.select(posexplode(col("q")))
      .select((col("pos") + 1).cast("long").as("pos"),
        col("col").cast("decimal(38,0)").as("v"))
      .groupBy("pos").agg(sum(col("v")).as("s"))
      // persisted (r14): shared canonically with pcaPower's mom — the
      // second of q_embed_corr / q_embed_pca cache-hits this corpus pass
      .transform(graft.operators.Caching.persist)
    val diag = gram.where(col("i") === col("j"))
      .select(col("i").as("pos"), col("sxy").as("sxx"))
    val mi = broadcast(mom.join(diag, "pos")
      .select(col("pos").as("i"), col("s").as("si"), col("sxx").as("sxxi")))
    val mj = broadcast(mom.join(diag, "pos")
      .select(col("pos").as("j"), col("s").as("sj"), col("sxx").as("sxxj")))
    gram.join(mi, "i").join(mj, "j")
      .select(col("i"), col("j"), col("n"),
        (col("n") * col("sxy") - col("si") * col("sj")).cast("double")
          .as("num"),
        (col("n") * col("sxxi") - col("si") * col("si")).cast("double")
          .as("radi"),
        (col("n") * col("sxxj") - col("sj") * col("sj")).cast("double")
          .as("radj"))
      .select(col("i"), col("j"), col("n"),
        when(col("radi") === 0d || col("radj") === 0d, lit(0d))
          .otherwise(round(col("num") / sqrt(col("radi") * col("radj")), 6))
          .as("corr"))
  }

  /** DuckDB replay of [[correlationMatrix]] value-for-value (HUGEINT
    * moments, identical IEEE tail).
    */
  def correlationMatrixOracleSql(table: String = "embeddings",
      vecCol: String = "embedding"): String =
    s"""WITH q AS (
       |  SELECT list_transform($vecCol::DOUBLE[],
       |           x -> round(x * 1000000)::BIGINT) AS q
       |  FROM $table),
       |pairs AS (
       |  SELECT i::BIGINT AS i, j::BIGINT AS j, q[i] * q[j] AS p
       |  FROM q,
       |       LATERAL unnest(range(1, len(q) + 1)) AS r(i),
       |       LATERAL unnest(range(i, len(q) + 1)) AS r2(j)),
       |g AS (
       |  SELECT i, j, count(*)::BIGINT AS n, sum(p)::HUGEINT AS sxy
       |  FROM pairs GROUP BY i, j),
       |f AS (SELECT generate_subscripts(q, 1)::BIGINT AS pos,
       |             unnest(q) AS v FROM q),
       |m AS (SELECT pos, sum(v)::HUGEINT AS s FROM f GROUP BY pos),
       |d AS (SELECT i AS pos, sxy AS sxx FROM g WHERE i = j),
       |x AS (
       |  SELECT g.i, g.j, g.n,
       |         (g.n * g.sxy - mi.s * mj.s)::DOUBLE AS num,
       |         (g.n * di.sxx - mi.s * mi.s)::DOUBLE AS radi,
       |         (g.n * dj.sxx - mj.s * mj.s)::DOUBLE AS radj
       |  FROM g
       |  JOIN m mi ON mi.pos = g.i JOIN m mj ON mj.pos = g.j
       |  JOIN d di ON di.pos = g.i JOIN d dj ON dj.pos = g.j)
       |SELECT i, j, n,
       |       CASE WHEN radi = 0 OR radj = 0 THEN 0
       |            ELSE round(num / sqrt(radi * radj), 6) END AS corr
       |FROM x""".stripMargin

  /** Top principal component by fixed-iteration POWER METHOD on the exact
    * integer scatter matrix — the PCA companion to [[correlationMatrix]]
    * (which diagnoses redundancy; this EXTRACTS the dominant direction,
    * the vector whitening/anisotropy-correction recipes remove first —
    * Mu & Viswanath 2018 strip exactly this component before retrieval).
    *
    * Exact arithmetic end-to-end: inputs quantize to 1e-6 fixed point,
    * the scatter S[i,j] = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ accumulates on
    * DECIMAL(38,0)/HUGEINT, and each power round w = S·v renormalizes by
    * the L∞ norm with INTEGER division (micro units, sign·abs form so
    * Spark's truncating `div` and DuckDB's flooring `//` agree) — no
    * sqrt, no doubles, so a fixed iteration count from the fixed uniform
    * start replays bit-for-bit in any engine. Output: the direction in
    * micro units plus the Rayleigh quotient of the LAST iterate as an
    * exact num/den pair (λ ≈ ray_num/ray_den of the scatter matrix;
    * callers divide by n·1e12 for the covariance eigenvalue).
    *
    * Scale shape: the corpus is touched ONCE (the d²-bounded pair-product
    * aggregate — map-side combine ships partials, the
    * [[correlationMatrix]] shape); every power round then runs on the
    * d²-row matrix table — join + aggregate costs independent of corpus
    * size, lineage truncated per round (the kCore guard). At 100 TB
    * the scatter build is one scan + one tiny shuffle; iterations are
    * driver-side trivia.
    */
  def pcaPower(df: DataFrame, vecCol: String, iters: Int = 6): DataFrame = {
    require(iters >= 1)
    val q2 = df.select(transform(col(vecCol),
      x => round(x.cast("double") * 1000000, 0).cast("long")).as("q"))
    // persisted inside [[upperGram]] (r14/r15): gram and mom are
    // canonically identical to correlationMatrix's over the same input —
    // whichever of q_embed_corr / q_embed_pca runs first pays the corpus
    // pair pass, the other cache-hits it (values unchanged)
    val gram = upperGram(q2)
    val mom = q2.select(posexplode(col("q")))
      .select((col("pos") + 1).cast("long").as("pos"),
        col("col").cast("decimal(38,0)").as("v"))
      .groupBy("pos").agg(sum(col("v")).as("s"))
      .transform(graft.operators.Caching.persist)
    val mi = broadcast(mom.select(col("pos").as("i"), col("s").as("si")))
    val mj = broadcast(mom.select(col("pos").as("j"), col("s").as("sj")))
    val upper = gram.join(mi, "i").join(mj, "j")
      .select(col("i"), col("j"),
        (col("n") * col("sxy") - col("si") * col("sj"))
          .cast("decimal(38,0)").as("sv"))
    // ONE checkpoint flattens the corpus-pass pair pipeline: every round's
    // planning otherwise re-optimizes the full explode+gram subtree, and
    // every per-round lazy checkpoint is a planner pass + eager AQE stage
    // materialization (the Scratch6 finding — this loop's 13 checkpoints
    // measured 46 s of construction at sf0.1). smat is dim² rows (tiny).
    val smat = Caching.checkpoint(upper.unionAll(
      upper.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("sv"))))
    // r14: the power rounds run DRIVER-SIDE on the collected d²-row
    // scatter — a bounded collect (d = embedding dimension, model-sized;
    // the k-row-codebook pattern, never corpus data). As Spark jobs the 6
    // rounds were ~18 tiny jobs (per-round join + max + broadcast +
    // checkpoint) of pure scheduling (~3 s at the gate point) for
    // arithmetic on 4096 integers. BigInt reproduces the DECIMAL(38,0)
    // semantics exactly: sums are exact, and `(abs(w) * 1000000) div mx`
    // is a non-negative truncating divide = BigInt `/`. ray_num/ray_den
    // stay digit strings (the q_pipeline_linreg precedent).
    val spark2 = df.sparkSession
    import spark2.implicits._
    val entries = smat.collect().map { r =>
      (r.getLong(0), r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))
    }
    val poss = entries.map(_._1).distinct.sorted
    if (poss.isEmpty) {
      Seq.empty[(Long, Long, String, String)]
        .toDF("pos", "v_micro", "ray_num", "ray_den")
    } else {
      val byRow = entries.groupBy(_._1)
      var v: Map[Long, BigInt] = poss.map(_ -> BigInt(1000000L)).toMap
      var rayNum = BigInt(0)
      var rayDen = BigInt(0)
      for (r <- 1 to iters) {
        val prev = v
        val w: Map[Long, BigInt] = byRow.map { case (i, rs) =>
          i -> rs.iterator.map { case (_, j, sv) => sv * prev(j) }
            .foldLeft(BigInt(0))(_ + _)
        }
        val mx = w.valuesIterator.map(_.abs).max
        v = w.map { case (p, wv) =>
          p -> (if (mx == 0) BigInt(0)
                else (if (wv < 0) BigInt(-1) else BigInt(1)) *
                  ((wv.abs * 1000000) / mx))
        }
        if (r == iters) {
          // Rayleigh at the LAST iterate's input: num = v_{k-1}ᵀ·S·v_{k-1}
          // = Σ w·v_{k-1}, den = Σ v_{k-1}² — exact integer carriers
          rayNum = w.iterator.map { case (p, wv) => wv * prev(p) }
            .foldLeft(BigInt(0))(_ + _)
          rayDen = prev.valuesIterator.map(x => x * x)
            .foldLeft(BigInt(0))(_ + _)
        }
      }
      poss.map(p => (p, v(p).toLong, rayNum.toString, rayDen.toString))
        .toSeq.toDF("pos", "v_micro", "ray_num", "ray_den")
    }
  }

  /** DuckDB replay of [[pcaPower]] (chained CTE per power round, HUGEINT
    * carriers, the same sign·abs integer renormalization). Multiply-
    * referenced CTEs are MATERIALIZED: DuckDB INLINES plain CTEs, and each
    * round references its `w` three times (normalizer twice + the
    * renormalize itself), so without materialization the pair-generation
    * subtree re-expands 3^iters times — the SQL twin of the exponential
    * plan of a loop that reads its previous round more than once.
    */
  def pcaPowerOracleSql(iters: Int = 6, table: String = "embeddings",
      vecCol: String = "embedding"): String = {
    val roundCtes = (1 to iters).map { r =>
      val prev = if (r == 1) "v0" else s"v${r - 1}"
      s"""w$r AS MATERIALIZED (
         |  SELECT s.i AS pos, sum(s.sv * p.vm)::HUGEINT AS w
         |  FROM smat s JOIN $prev p ON p.pos = s.j
         |  GROUP BY s.i),
         |n$r AS (SELECT max(abs(w)) AS mx FROM w$r),
         |v$r AS MATERIALIZED (
         |  SELECT pos,
         |         CASE WHEN (SELECT mx FROM n$r) = 0 THEN 0
         |              ELSE (CASE WHEN w < 0 THEN -1 ELSE 1 END)
         |                   * ((abs(w) * 1000000) // (SELECT mx FROM n$r))
         |         END AS vm
         |  FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT list_transform($vecCol::DOUBLE[],
       |           x -> round(x * 1000000)::BIGINT) AS q
       |  FROM $table),
       |pairs AS (
       |  SELECT i::BIGINT AS i, j::BIGINT AS j, q[i] * q[j] AS p
       |  FROM q,
       |       LATERAL unnest(range(1, len(q) + 1)) AS r(i),
       |       LATERAL unnest(range(i, len(q) + 1)) AS r2(j)),
       |g AS MATERIALIZED (
       |  SELECT i, j, count(*)::BIGINT AS n, sum(p)::HUGEINT AS sxy
       |  FROM pairs GROUP BY i, j),
       |f AS (SELECT generate_subscripts(q, 1)::BIGINT AS pos,
       |             unnest(q) AS v FROM q),
       |m AS MATERIALIZED (SELECT pos, sum(v)::HUGEINT AS s FROM f GROUP BY pos),
       |up AS (
       |  SELECT g.i, g.j, (g.n * g.sxy - mi.s * mj.s)::HUGEINT AS sv
       |  FROM g JOIN m mi ON mi.pos = g.i JOIN m mj ON mj.pos = g.j),
       |smat AS MATERIALIZED (
       |  SELECT i, j, sv FROM up
       |  UNION ALL SELECT j AS i, i AS j, sv FROM up WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS pos, 1000000::HUGEINT AS vm FROM smat),
       |$roundCtes,
       |ray AS (
       |  SELECT sum(w.w * p.vm)::HUGEINT AS ray_num,
       |         sum(p.vm * p.vm)::HUGEINT AS ray_den
       |  FROM w$iters w JOIN v${iters - 1} p USING (pos))
       |SELECT pos, vm::BIGINT AS v_micro,
       |       ray_num::DECIMAL(38,0)::VARCHAR AS ray_num,
       |       ray_den::DECIMAL(38,0)::VARCHAR AS ray_den
       |FROM v$iters, ray""".stripMargin
  }

  /** Cluster-balanced diversity sampling — the "cluster, then take evenly
    * per cluster" coreset recipe (the prototype-sampling step of DataComp/
    * SSL curation): embeddings are assigned to the deterministic every-Nth
    * codebook ([[ivfAssign]], the bit-exact tier), then each cluster
    * contributes at most `perCluster` members chosen in content-stable
    * md5-hash order. Unlike a global top-k (which concentrates wherever
    * the corpus is densest), every populated region of embedding space is
    * represented — the sample preserves coverage, not density. Returns
    * (centroid_id, id, rank) with rank 1..perCluster inside each cluster.
    *
    * Scale shape: assignment is one broadcast join + per-id argmax; the
    * quota is a rank-limited window, which Spark's WindowGroupLimit
    * physical rule executes as per-partition PARTIAL top-k before the
    * cluster shuffle (pinned in SimilaritySpec) — a mega-cluster ships at
    * most perCluster rows per input partition, never its full population.
    */
  def diversitySample(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long, perCluster: Int): DataFrame = {
    require(perCluster > 0)
    val assigned = ivfAssign(df, idCol, vecCol, centroidEvery)
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    assigned.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= perCluster)
      .select(col("centroid_id"), col(idCol), col("rank"))
  }

  /** DuckDB replay of [[diversitySample]] value-for-value: same codebook
    * + argmax as [[semDedupOracleSql]], same md5 quota order.
    */
  def diversityOracleSql(centroidEvery: Long, perCluster: Int,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String = {
    def cos(dp: String, np: String): String =
      s"CASE WHEN $np = 0 THEN '-Infinity'::DOUBLE ELSE $dp / $np END"
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm
       |  FROM $table),
       |cents AS (
       |  SELECT id AS centroid_id, v AS cv, nrm AS cnrm FROM vecs
       |  WHERE id % $centroidEvery = 0),
       |assigned AS (
       |  SELECT id, centroid_id FROM (
       |    SELECT vecs.id, cents.centroid_id,
       |           ${cos("list_dot_product(vecs.v, cents.cv)", "(vecs.nrm * cents.cnrm)")} AS cscore
       |    FROM vecs, cents)
       |  QUALIFY row_number() OVER (PARTITION BY id
       |            ORDER BY cscore DESC, centroid_id) = 1)
       |SELECT centroid_id, id AS $idCol, rank FROM (
       |  SELECT centroid_id, id,
       |         row_number() OVER (PARTITION BY centroid_id
       |           ORDER BY md5(id::VARCHAR), id)::BIGINT AS rank
       |  FROM assigned)
       |WHERE rank <= $perCluster""".stripMargin
  }

  /** DuckDB replay of [[semDedupFixed]] value-for-value: same every-Nth
    * codebook, same argmax tie-break (score DESC, centroid_id ASC), same
    * zero-norm -infinity guard as [[cosineScore]], same min-id drop rule.
    */
  def semDedupOracleSql(centroidEvery: Long, threshold: Double,
      maxBucket: Int = 10000, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String = {
    def cos(dp: String, np: String): String =
      s"CASE WHEN $np = 0 THEN '-Infinity'::DOUBLE ELSE $dp / $np END"
    s"""WITH vecs AS (
       |  SELECT $idCol AS id, $vecCol::DOUBLE[] AS v,
       |         sqrt(list_dot_product($vecCol::DOUBLE[], $vecCol::DOUBLE[])) AS nrm
       |  FROM $table),
       |cents AS (
       |  SELECT id AS centroid_id, v AS cv, nrm AS cnrm FROM vecs
       |  WHERE id % $centroidEvery = 0),
       |assigned AS (
       |  SELECT id, centroid_id FROM (
       |    SELECT vecs.id, cents.centroid_id,
       |           ${cos("list_dot_product(vecs.v, cents.cv)", "(vecs.nrm * cents.cnrm)")} AS cscore
       |    FROM vecs, cents)
       |  QUALIFY row_number() OVER (PARTITION BY id
       |            ORDER BY cscore DESC, centroid_id) = 1),
       |clustered AS (
       |  SELECT vecs.id, vecs.v, vecs.nrm, assigned.centroid_id
       |  FROM vecs JOIN assigned USING (id)
       |  QUALIFY count(*) OVER (PARTITION BY centroid_id) <= $maxBucket),
       |dropped AS (
       |  SELECT DISTINCT b.id
       |  FROM clustered a JOIN clustered b
       |    ON a.centroid_id = b.centroid_id AND a.id < b.id
       |  WHERE ${cos("list_dot_product(a.v, b.v)", "(a.nrm * b.nrm)")} >= $threshold)
       |SELECT id, centroid_id FROM (
       |  SELECT vecs.id, assigned.centroid_id
       |  FROM vecs JOIN assigned USING (id))
       |WHERE id NOT IN (SELECT id FROM dropped)""".stripMargin
  }

  /** Johnson–Lindenstrauss random-sign projection of an embedding column
    * to `outDim` dimensions — the standard cheap dimensionality reduction
    * in front of ANN indexing / clustering (Achlioptas 2003: a ±1 sign
    * matrix preserves pairwise distances w.h.p. as well as a Gaussian
    * one). The sign matrix is DERIVED, not stored: sign(i, j) = parity of
    * the shared portable md5 hash of "jl:i:j", so any engine — and any
    * re-run — regenerates the identical projection without shipping
    * matrix state.
    *
    * Exactness: inputs are fixed-pointed to micro-units first
    * (`round(v·1e6)::BIGINT`, the [[q_embed_centroids]] carrier), so the
    * projected coordinates are exact BIGINT sums in any partition order.
    * Output is (id, j, out_fx) exploded rows — out_fx/1e6 is the
    * projected coordinate.
    *
    * Scale shape: one generator explode to (id, i, v) rows, one
    * BROADCAST join against the d·outDim sign matrix (a few thousand
    * rows however large the corpus), one (id, j)-keyed aggregate —
    * the dense matmul cost, linear in corpus × outDim, no corpus-sized
    * shuffle beyond the aggregate.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int): DataFrame = {
    require(dim >= 1 && outDim >= 1)
    // `dim` is an explicit parameter (like the oracle's): probing it from
    // an arbitrary first row NPEs on a null vector, silently truncates
    // ragged corpora, and runs an eager job at plan-construction time.
    // Positions >= dim of longer vectors don't join the sign matrix and
    // are deliberately ignored; shorter vectors contribute their length.
    val spark = df.sparkSession
    val signs = spark.range(dim.toLong).select(col("id").cast("int").as("i"))
      .crossJoin(spark.range(outDim.toLong)
        .select(col("id").cast("int").as("j")))
      .select(col("i"), col("j"),
        (when(Dedup.portableHash(
          concat(lit("jl:"), col("i"), lit(":"), col("j"))) % 2 === 0,
          1L).otherwise(-1L)).as("sign"))
    val flat = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("i", "v")))
      .select(col("id"), col("i"),
        expr("CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)")
          .as("v_fx"))
    flat.join(broadcast(signs), "i")
      .groupBy(col("id"), col("j"))
      .agg(sum(col("sign") * col("v_fx")).as("out_fx"))
      .select(col("id"), col("j").cast("long").as("j"), col("out_fx"))
  }

  /** DuckDB replay of [[jlProject]] over the embeddings table (same
    * derived sign matrix, same fixed-point carrier).
    */
  def jlProjectOracleSql(dim: Int, outDim: Int,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String =
    s"""WITH signs AS (
       |  SELECT i.range::INT AS i, j.range::INT AS j,
       |         CASE WHEN ('0x' || substr(md5('jl:' || i.range || ':' || j.range), 1, 15))::BIGINT % 2 = 0
       |              THEN 1 ELSE -1 END AS sign
       |  FROM range($dim) i, range($outDim) j),
       |flat AS (
       |  SELECT $idCol AS id,
       |         unnest(generate_series(0, len($vecCol) - 1))::INT AS i,
       |         round(unnest($vecCol::DOUBLE[]) * 1000000)::BIGINT AS v_fx
       |  FROM $table)
       |SELECT flat.id, signs.j::BIGINT AS j,
       |       sum(signs.sign * flat.v_fx)::BIGINT AS out_fx
       |FROM flat JOIN signs ON signs.i = flat.i
       |GROUP BY flat.id, signs.j""".stripMargin

  /** Grid-blocked exact DBSCAN (Ester et al. 1996) over the 2-D
    * [[jlProject]] sketch of an embedding column — DENSITY clustering
    * next to the centroid family ([[ivfTrain]]/k-means finds convex
    * cells; DBSCAN finds arbitrarily-shaped dense regions and, crucially
    * for curation, labels sparse points NOISE instead of forcing them
    * into a cluster — the outlier-vs-mode split a diversity/pruning pass
    * wants). Distances are Chebyshev (L∞) balls on the exact BIGINT
    * projected coordinates, so every step — neighbor test, core test,
    * cluster merge — is integer-exact and replays bit-for-bit.
    *
    * Semantics (classic DBSCAN, deterministic tie-handling):
    *   - neighbor: |Δx| ≤ epsFx AND |Δy| ≤ epsFx (L∞ ball, self included
    *     in the count — the standard minPts convention)
    *   - core: ≥ minPts neighbors; clusters = connected components of
    *     the core-core neighbor graph (min-id family label via
    *     [[Dedup.connectedComponents]]; an edge-less core is its own
    *     cluster)
    *   - border: non-core adjacent to ≥ 1 core — joins the SMALLEST
    *     adjacent core cluster (border assignment is order-dependent in
    *     the original algorithm; min-label pins it)
    *   - noise: cluster −1
    *
    * Scale shape: the JL sketch is one broadcast matmul; the neighbor
    * join is GRID-BLOCKED — each point joins only its 3×3 cell
    * neighborhood (cell = floor(coord/eps) via pmod, exact for
    * negatives), generated HALF-PLANE (4 forward offsets + same-cell
    * id<, symmetrized by one union) so each unordered pair is tested
    * once — work is Σ cell-occupancy²/2, never corpus², and a uniform
    * eps grid
    * admits no hub cells (density caps occupancy ≈ eps²·max-density);
    * components run the checkpointed min-label iteration. All shuffles
    * are keyed; no BNLJ (PlanSpec).
    */
  def dbscanGrid(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      epsFx: Long, minPts: Int,
      pruneEmptyCells: Boolean = false): DataFrame = {
    require(epsFx >= 1 && minPts >= 1)
    val proj = jlProject(df, idCol, vecCol, dim, outDim = 2)
    // persist-then-checkpoint (r14 plan-collapse): pts/nbrs/cores are each
    // referenced 4-6× downstream; without flat bases the composed plan
    // (probe explode × neighbor join × CC input × border/noise anti-joins)
    // re-expands every upstream tree per reference — explain ran to 88k
    // lines and construction measured ~7 s against ~2.5 s of execution
    val pts = Caching.checkpoint(Caching.persist(proj.groupBy(col("id"))
      .agg(max(when(col("j") === 0, col("out_fx"))).as("x"),
        max(when(col("j") === 1, col("out_fx"))).as("y"))
      .select(col("id"), col("x"), col("y"),
        expr(s"(x - pmod(x, ${epsFx}L)) div ${epsFx}L").as("cx"),
        expr(s"(y - pmod(y, ${epsFx}L)) div ${epsFx}L").as("cy"))))
    // HALF-PLANE probe: each unordered cell pair is generated exactly once
    // — the 4 forward offsets cover all 8 neighbor directions when the
    // result is symmetrized (O ∪ −O = the 8-neighborhood), and same-cell
    // pairs use id_a < id_b. Probe explode is 5× instead of 9× and the
    // distance filter runs on half the join output; the final union swap
    // reconstructs the directed neighbor table bit-for-bit.
    val fwd = Seq((0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
    // `pruneEmptyCells` pre-aggregates the occupied-cell set and explodes
    // the forward offsets over CELLS, semi-joined to drop offsets landing
    // in empty cells, so points probe only occupied neighbors — the
    // SPARSE-grid shape (corpus spread over many more cells than points
    // have neighbors). MEASURED OFF by default: at gate SFs the grid is
    // dense (~4 pts per occupied cell, most forward neighbors occupied),
    // and the two extra cell joins + persist serialize more stages than
    // the pruned probes save (16.7 s vs 13.7 s solo at sf0.1). Values
    // are identical either way — pruned probes are exactly the join's
    // zero-output rows — pinned by a spec.
    val probes = if (pruneEmptyCells) {
      val cellKeys = Caching.persist(
        pts.select(col("cx"), col("cy")).distinct())
      val nbrCells = cellKeys.select(col("cx").as("scx"), col("cy").as("scy"),
          explode(array(fwd.map { case (dx, dy) =>
            struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy")) }: _*))
            .as("c"))
        .select(col("scx"), col("scy"), col("c.cx"), col("c.cy"))
        .join(cellKeys, Seq("cx", "cy"), "left_semi")
      pts.select(col("id").as("id_a"), col("x").as("xa"),
          col("y").as("ya"), col("cx").as("scx"), col("cy").as("scy"))
        .join(nbrCells, Seq("scx", "scy"))
        .select(col("id_a"), col("xa"), col("ya"), col("cx"), col("cy"))
    } else pts.select(col("id"), col("x"), col("y"),
      explode(array(fwd.map { case (dx, dy) =>
        struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy")) }: _*))
        .as("c"))
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        col("c.cx"), col("c.cy"))
    val ptsB = pts.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    val inBall = abs(col("xa") - col("xb")) <= epsFx &&
      abs(col("ya") - col("yb")) <= epsFx
    // distinct cells → distinct points, no id check needed
    val cross = probes.join(ptsB, Seq("cx", "cy")).where(inBall)
      .select(col("id_a"), col("id_b"))
    val same = pts.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"), col("cx"), col("cy"))
      .join(ptsB, Seq("cx", "cy"))
      .where(col("id_a") < col("id_b") && inBall)
      .select(col("id_a"), col("id_b"))
    val half = Caching.persist(cross.unionAll(same))
    // checkpoint, not persist: nbrs is referenced 4× (core count, core
    // edges, border assignment twice) — the flat base is what keeps those
    // consumers' plans small; half's persist above still dedups the
    // cross+same execution inside this one materialization
    val nbrs = Caching.checkpoint(half.unionAll(
      half.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
    // +1: the point itself counts toward minPts (standard convention).
    // LEFT join from pts, not a groupBy over nbrs: a point with ZERO
    // neighbors has no nbrs row at all, yet at minPts = 1 its self-count
    // alone makes it a (singleton) core — the groupBy form silently
    // demoted such points to noise
    val cores = Caching.checkpoint(pts.select(col("id"))
      .join(nbrs.groupBy(col("id_a").as("id"))
        .agg(count(lit(1)).as("nn")), Seq("id"), "left")
      .where(coalesce(col("nn"), lit(0L)) + 1 >= minPts)
      .select(col("id")))
    // NOTE (measured, round 9): a cell-clique contraction (same-cell
    // cores are always mutual neighbors → contract each cell to its min
    // core id before CC) preserves values exactly and removes the
    // dense-ball quadratic from the CC input, but benched 30-60% SLOWER
    // here — the extra rep joins serialize more stages than the tiny CC
    // input saves at any SF the gate runs. Revisit only if a corpus with
    // genuinely dense eps-balls makes coreEdges the bottleneck.
    val coreEdges = nbrs
      .join(cores.withColumnRenamed("id", "id_a"), "id_a")
      .join(cores.withColumnRenamed("id", "id_b"), "id_b")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // engineDefault = tworule: grid-adjacency core graphs are DEEP
    // (round-13 A/B: 14 min-label rounds vs 5 two-rule rounds here;
    // 2.2× faster at 10× data) — unlike the shallow dedup families,
    // where min-label's seed fold converges immediately. Identical
    // output either way (engine-equality spec in DedupSpec); override
    // with spark.graft.cc.
    val fams = Dedup.connectedComponents(coreEdges,
        engineDefault = "tworule")
      .select(col("doc_id").as("id"), col("family_id"))
    val coreOut = cores.join(fams, Seq("id"), "left")
      .select(col("id"), coalesce(col("family_id"), col("id")).as("cluster"),
        lit("core").as("role"))
    val borderOut = nbrs
      .join(cores.withColumnRenamed("id", "id_b"), "id_b") // b must be core
      .join(cores.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_anti")
      .join(coreOut.select(col("id").as("id_b"),
        col("cluster").as("bcluster")), "id_b")
      .groupBy(col("id_a").as("id"))
      .agg(min(col("bcluster")).as("cluster"))
      .select(col("id"), col("cluster"), lit("border").as("role"))
    val assigned = coreOut.unionByName(borderOut)
    val noiseOut = pts.select(col("id"))
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit(-1L).as("cluster"), lit("noise").as("role"))
    assigned.unionByName(noiseOut)
  }

  /** DuckDB replay of [[dbscanGrid]] (the JL CTEs + grid neighbor join +
    * recursive-closure components — per-component quadratic, fine at
    * oracle scale; the Spark side is the one built for big corpora).
    */
  def dbscanGridOracleSql(dim: Int, epsFx: Long, minPts: Int,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String =
    s"""WITH RECURSIVE signs AS (
       |  SELECT i.range::INT AS i, j.range::INT AS j,
       |         CASE WHEN ('0x' || substr(md5('jl:' || i.range || ':' || j.range), 1, 15))::BIGINT % 2 = 0
       |              THEN 1 ELSE -1 END AS sign
       |  FROM range($dim) i, range(2) j),
       |flat AS (
       |  SELECT $idCol AS id,
       |         unnest(generate_series(0, len($vecCol) - 1))::INT AS i,
       |         round(unnest($vecCol::DOUBLE[]) * 1000000)::BIGINT AS v_fx
       |  FROM $table),
       |proj AS (
       |  SELECT flat.id, signs.j,
       |         sum(signs.sign * flat.v_fx)::BIGINT AS out_fx
       |  FROM flat JOIN signs ON signs.i = flat.i
       |  GROUP BY flat.id, signs.j),
       |pts AS MATERIALIZED (
       |  SELECT id, x, y,
       |         (x - ((x % $epsFx + $epsFx) % $epsFx)) // $epsFx AS cx,
       |         (y - ((y % $epsFx + $epsFx) % $epsFx)) // $epsFx AS cy
       |  FROM (SELECT id,
       |          max(CASE WHEN j = 0 THEN out_fx END) AS x,
       |          max(CASE WHEN j = 1 THEN out_fx END) AS y
       |        FROM proj GROUP BY id)),
       |nbrs AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM pts a JOIN pts b
       |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       |   AND a.id <> b.id
       |  WHERE abs(a.x - b.x) <= $epsFx AND abs(a.y - b.y) <= $epsFx),
       |cores AS MATERIALIZED (
       |  SELECT p.id FROM pts p
       |  LEFT JOIN (SELECT id_a AS id, count(*)::BIGINT AS nn
       |             FROM nbrs GROUP BY id_a) c USING (id)
       |  WHERE coalesce(c.nn, 0) + 1 >= $minPts),
       |ce AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM nbrs
       |  WHERE id_a IN (SELECT id FROM cores)
       |    AND id_b IN (SELECT id FROM cores)),
       |reach(a, b) AS (
       |  SELECT src, dst FROM ce
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN ce e ON r.b = e.src),
       |fams AS MATERIALIZED (
       |  SELECT a AS id, least(a, min(b)) AS family_id
       |  FROM reach GROUP BY a),
       |core_out AS MATERIALIZED (
       |  SELECT c.id, coalesce(f.family_id, c.id) AS cluster,
       |         'core' AS role
       |  FROM cores c LEFT JOIN fams f USING (id)),
       |border_out AS (
       |  SELECT n.id_a AS id, min(co.cluster) AS cluster,
       |         'border' AS role
       |  FROM nbrs n
       |  JOIN core_out co ON co.id = n.id_b
       |  WHERE n.id_a NOT IN (SELECT id FROM cores)
       |  GROUP BY n.id_a),
       |assigned AS MATERIALIZED (
       |  SELECT * FROM core_out UNION ALL SELECT * FROM border_out)
       |SELECT id, cluster, role FROM assigned
       |UNION ALL
       |SELECT id, -1::BIGINT AS cluster, 'noise' AS role
       |FROM pts WHERE id NOT IN (SELECT id FROM assigned)""".stripMargin

  /** Corpus ANISOTROPY report — the embedding-health diagnostic of
    * Ethayarajh 2019 ("How Contextual are Contextualized Word
    * Representations?"): in a well-spread embedding space the expected
    * cosine between UNRELATED vectors is near 0; collapsed/anisotropic
    * spaces (every vector crammed into a narrow cone) show a high
    * baseline cosine, which silently inflates every downstream
    * similarity threshold (SemDeDup, near-dup, retrieval). This reports
    * (n_pairs, mean/min/max cosine) over a deterministic random pairing.
    *
    * Pairing without a global shuffle-sort: vectors land in one of
    * `buckets` md5-hash buckets and pair with their id-order neighbor
    * INSIDE the bucket — bounded windows of ~n/buckets rows, and the
    * hash makes neighbors content-unrelated (id-adjacency would bias
    * toward crawl-order near-dups).
    *
    * Exactness: dot and norms fold the fixed-point BIGINT carriers
    * (products ≤1e12·dims ≪ 2^53, exact in both engines); cosine goes
    * double only at the final sqrt/divide, is micro-rounded per pair,
    * and the corpus mean aggregates those BIGINTs — no
    * partition-order float drift anywhere.
    */
  def anisotropy(df: DataFrame, idCol: String, vecCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1)
    val w = Window.partitionBy(col("b")).orderBy(col("id"))
    val prepared = df.select(col(idCol).as("id"),
        transform(col(vecCol),
          x => round(x.cast("double") * 1000000d, 0).cast("long")).as("fx"))
      .withColumn("nrm", aggregate(col("fx"), lit(0L), (a, v) => a + v * v))
      .withColumn("b", Dedup.portableHash(col("id").cast("string")) % buckets)
    val paired = prepared
      .withColumn("pfx", lag(col("fx"), 1).over(w))
      .withColumn("pnrm", lag(col("nrm"), 1).over(w))
      .where(col("pfx").isNotNull)
      .withColumn("dot",
        aggregate(zip_with(col("fx"), col("pfx"), (a, c) => a * c),
          lit(0L), (a, v) => a + v))
      .withColumn("cos_micro",
        // a zero-norm (dead/padded) vector would make 0.0/0.0 = NaN and
        // the BIGINT cast throw under ANSI — define cos(0⃗, ·) = 0
        when(col("nrm") === 0 || col("pnrm") === 0, lit(0L)).otherwise(
          round(col("dot").cast("double") /
            (sqrt(col("nrm").cast("double")) * sqrt(col("pnrm").cast("double")))
            * 1000000d, 0).cast("long")))
    paired.agg(count(lit(1)).as("n_pairs"),
        sum(col("cos_micro")).as("s"),
        min(col("cos_micro")).as("min_cos_micro"),
        max(col("cos_micro")).as("max_cos_micro"))
      .select(col("n_pairs"),
        // n_pairs = 0 (singleton/empty corpus) must not hit ANSI div-by-0
        when(col("n_pairs") === 0, lit(0L))
          .otherwise(expr("s div n_pairs")).as("mean_cos_micro"),
        col("min_cos_micro"), col("max_cos_micro"))
  }

  /** DuckDB replay of [[anisotropy]] (same hash buckets, same in-bucket
    * neighbor pairing, same exact-integer folds and micro rounding).
    */
  def anisotropyOracleSql(buckets: Int = 64, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String =
    s"""WITH v AS (
       |  SELECT $idCol AS id,
       |         list_transform($vecCol::DOUBLE[],
       |                        x -> round(x * 1000000)::BIGINT) AS fx,
       |         ('0x' || substr(md5($idCol::VARCHAR), 1, 15))::BIGINT
       |           % $buckets AS b
       |  FROM $table),
       |n AS (
       |  SELECT id, fx, b,
       |         list_aggregate(list_transform(fx, x -> x * x), 'sum') AS nrm
       |  FROM v),
       |p AS (
       |  SELECT id, fx, nrm,
       |         lag(fx) OVER (PARTITION BY b ORDER BY id) AS pfx,
       |         lag(nrm) OVER (PARTITION BY b ORDER BY id) AS pnrm
       |  FROM n),
       |c AS (
       |  SELECT CASE WHEN nrm = 0 OR pnrm = 0 THEN 0
       |         ELSE round(
       |           list_aggregate(list_transform(range(1, len(fx) + 1),
       |             i -> fx[i] * pfx[i]), 'sum')::DOUBLE
       |           / (sqrt(nrm::DOUBLE) * sqrt(pnrm::DOUBLE)) * 1000000
       |         )::BIGINT END AS cos_micro
       |  FROM p WHERE pfx IS NOT NULL)
       |SELECT count(*)::BIGINT AS n_pairs,
       |       (sum(cos_micro) // count(*))::BIGINT AS mean_cos_micro,
       |       min(cos_micro)::BIGINT AS min_cos_micro,
       |       max(cos_micro)::BIGINT AS max_cos_micro
       |FROM c""".stripMargin

  /** Pairwise LINEAR-KERNEL MMD² between embedding groups — the
    * distribution-shift detector of the embedding family (Gretton et al.
    * 2012): with the linear kernel, MMD²(A,B) collapses to
    * ||μ_A − μ_B||², the squared gap between group mean vectors, which a
    * shifted data source / drifted encoder moves long before any scalar
    * quality stat does. Emits every (group_a < group_b) pair with
    *
    *   mmd2_micro = floor(Σ_j (s_Aj·n_B − s_Bj·n_A)² · 1e6
    *                      / (n_A·n_B)²)
    *
    * on the 1e-6 fixed-point carrier (s = per-dim coordinate sums) —
    * exact integer arithmetic end to end, so every value replays in the
    * HUGEINT oracle. Units: (fixed-point quanta)² × 1e6; comparisons
    * across pairs — the use case — need no rescaling.
    *
    * Scale shape: one explode + hash aggregate to (group × dim) rows
    * (vocabulary-sized: |groups|·dim, tiny), then the pair join runs on
    * that aggregate, never on the corpus — adding a group costs one more
    * slice of the same single corpus pass.
    */
  def mmdByGroup(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val flat = df.select(col(groupCol).cast("string").as("g"),
        posexplode(transform(col(vecCol),
          x => round(x.cast("double") * 1000000, 0).cast("long")))
          .as(Seq("dim", "q")))
    val sums = flat.groupBy(col("g"), col("dim"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    sums.as("a").join(sums.as("b"),
        col("a.dim") === col("b.dim") && col("a.g") < col("b.g"))
      .select(col("a.g").as("group_a"), col("b.g").as("group_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        (col("a.s").cast("decimal(38,0)") * col("b.n") -
          col("b.s").cast("decimal(38,0)") * col("a.n")).as("d"))
      .groupBy(col("group_a"), col("group_b"), col("n_a"), col("n_b"))
      .agg(sum(col("d") * col("d")).as("num"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        expr("cast((num * 1000000) div (cast(n_a as decimal(38,0)) * n_b" +
          " * n_a * n_b) as bigint)").as("mmd2_micro"))
  }

  /** DuckDB replay of [[mmdByGroup]] (same fixed-point sums, HUGEINT
    * products, floor division).
    */
  def mmdOracleSql(groupExpr: String, table: String = "embeddings",
      vecCol: String = "embedding"): String =
    s"""WITH flat AS (
       |  SELECT ($groupExpr)::VARCHAR AS g,
       |         unnest(generate_series(0, len($vecCol) - 1))::BIGINT AS dim,
       |         round(unnest($vecCol::DOUBLE[]) * 1000000)::BIGINT AS q
       |  FROM $table),
       |sums AS (
       |  SELECT g, dim, sum(q)::BIGINT AS s, count(*)::BIGINT AS n
       |  FROM flat GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
       |         (a.s::HUGEINT * b.n - b.s::HUGEINT * a.n) AS d
       |  FROM sums a JOIN sums b ON a.dim = b.dim AND a.g < b.g)
       |SELECT group_a, group_b, n_a, n_b,
       |       ((sum(d * d) * 1000000)
       |        // (n_a::HUGEINT * n_b * n_a * n_b))::BIGINT AS mmd2_micro
       |FROM pairs GROUP BY 1, 2, 3, 4""".stripMargin

  /** K-CENTER CORESET by Gonzalez's greedy farthest-point traversal (2-
    * approximation to the k-center cover) — the geometry-preserving
    * counterpart to [[diversitySample]]'s quota sampling: each pick is
    * the point FARTHEST from everything chosen so far, so k points cover
    * the corpus with (provably) at most 2× the optimal radius. The
    * coreset/active-learning selection step: k prototypes that span the
    * embedding space's extremes, not its densest mode.
    *
    * Deterministic, integer-exact: coordinates quantize to 1e-6 fixed
    * point (the [[pcaPower]] carrier), distances are exact BIGINT squared
    * L2, the start is the minimum id, and every argmax breaks ties on
    * minimum id. Returns (rank, center_id, best_sq) where best_sq is the
    * pick's squared distance to the already-chosen set — i.e. the
    * covering radius² of the first rank−1 centers (0 for rank 1). The
    * whole trace replays value-for-value in any engine.
    *
    * Scale shape: k rounds, each ONE corpus pass — the newly-picked
    * center (a single row) broadcasts into a per-row distance update
    * (running min), and the argmax is a TakeOrdered(1), never a global
    * sort. Driver state is k rows (the picked centers) — the same
    * bounded 1-row-per-round collect as the BPE trainer. The per-round
    * frontier rides a lazy local checkpoint so lineage stays flat.
    */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val ptsPlan = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("q"))
    // the result below is a driver-local k-row trace, so — uniquely among
    // the gate operators — every intermediate can be released before
    // returning; only skip the pts entry if some earlier caller already
    // cached the same canonicalized plan (shared-entry footgun)
    val ptsShared = org.apache.spark.sql.graftshim.GraftShim.isCached(ptsPlan)
    val pts = Caching.persist(ptsPlan)
    val checkpoints = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val first = pts.orderBy(col("id")).limit(1)
      .select(col("id"), col("q")).collect()
    // empty corpus → empty trace (same shape the oracle's empty CTEs
    // yield); release the just-created pts cache on this path too — the
    // normal-path release at the bottom is never reached from here
    if (first.isEmpty) {
      if (!ptsShared) pts.unpersist(blocking = false)
      return spark.emptyDataset[(Long, Long, Long)]
        .toDF("rank", "center_id", "best_sq")
    }
    // Contract for k > |pts|: once every point is chosen all residuals are
    // 0 and the (best DESC, id ASC) argmax re-picks the minimum id each
    // remaining round — duplicate center_id rows with best_sq = 0. The
    // oracle replays the same rule, so the trace stays value-identical.
    val c1 = first.head
    // exact squared L2 against the broadcast literal center in column `c`
    val dist = expr(
      "aggregate(zip_with(q, c, (a, b) -> (a - b) * (a - b)), 0L," +
        " (acc, x) -> acc + x)")
    var picks = List((1L, c1.getLong(0), 0L))
    var centerQ = c1.getSeq[Long](1)
    var best = pts
      .withColumn("c", array(centerQ.map(lit): _*))
      .withColumn("best", dist)
      .select(col("id"), col("q"), col("best"))
      .transform(Caching.checkpoint(_))
    checkpoints += best
    for (r <- 2 to k) {
      val next = best.orderBy(col("best").desc, col("id"))
        .limit(1).head()
      picks ::= (r.toLong, next.getLong(0), next.getLong(2))
      centerQ = next.getSeq[Long](1)
      best = best
        .withColumn("c", array(centerQ.map(lit): _*))
        .withColumn("best", least(col("best"), dist))
        .select(col("id"), col("q"), col("best"))
        .transform(Caching.checkpoint(_))
      checkpoints += best
    }
    // all picks are on the driver; nothing reads the frontier chain or
    // pts again — release the k checkpoint RDDs and (if this call created
    // it) the pts cache so a long bench session doesn't carry them
    checkpoints.foreach(
      org.apache.spark.sql.graftshim.GraftShim.releaseLocalCheckpoint)
    if (!ptsShared) pts.unpersist(blocking = false)
    picks.reverse.toDF("rank", "center_id", "best_sq")
  }

  /** DuckDB SQL replaying [[kCenterCoreset]] (chained CTE per greedy
    * round: argmax by (best DESC, id), running-min distance update —
    * the [[pcaPowerOracleSql]] pattern).
    */
  def kCenterOracleSql(k: Int, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String = {
    // DuckDB rejects subqueries inside lambdas, so the 1-row center CTE
    // is cross-joined into FROM and referenced as a plain column (the
    // pcaPowerOracleSql pattern).
    val dist =
      "list_sum(list_transform(range(1, len(p.q) + 1)," +
        " i -> (p.q[i] - c.q[i]) * (p.q[i] - c.q[i])))"
    val rounds = (2 to k).map { r =>
      val prev = s"b${r - 1}"
      s"""c$r AS MATERIALIZED (
         |  SELECT id, q, best FROM $prev ORDER BY best DESC, id LIMIT 1),
         |b$r AS MATERIALIZED (
         |  SELECT p.id, p.q, least(p.best, $dist) AS best
         |  FROM $prev p, c$r c)""".stripMargin
    }.mkString(",\n")
    val outRows = (2 to k).map(r =>
      s"SELECT $r::BIGINT AS rank, id::BIGINT AS center_id," +
        s" best::BIGINT AS best_sq FROM c$r").mkString("\nUNION ALL ")
    // k=1: rounds/outRows are empty — unconditional ",\n"/"UNION ALL"
    // would leave a dangling comma after b1 and a bare UNION ALL
    val roundsSql = if (k > 1) ",\n" + rounds else ""
    val outRowsSql = if (k > 1) "\nUNION ALL " + outRows else ""
    s"""WITH pts AS MATERIALIZED (
       |  SELECT $idCol::BIGINT AS id,
       |         list_transform($vecCol::DOUBLE[],
       |           x -> round(x * 1000000)::BIGINT) AS q
       |  FROM $table),
       |c1 AS MATERIALIZED (SELECT id, q FROM pts ORDER BY id LIMIT 1),
       |b1 AS MATERIALIZED (
       |  SELECT p.id, p.q, $dist AS best
       |  FROM pts p, c1 c)$roundsSql
       |SELECT 1::BIGINT AS rank, id::BIGINT AS center_id, 0::BIGINT AS best_sq
       |FROM c1$outRowsSql""".stripMargin
  }

  /** SIMPLIFIED SILHOUETTE (Hruschka et al. 2004) per cluster of the fixed
    * codebook — the clustering-quality audit for the centroid family: for
    * each point, a = squared L2 to its OWN (nearest) centroid, b = squared
    * L2 to the nearest OTHER centroid, s = (b − a)/max(a, b) ∈ [−1, 1].
    * Unlike the classic silhouette (mean pairwise distance — corpus² work)
    * the simplified form is one point×centroid pass, which is why it's the
    * variant that exists at 100 TB. Distances stay exact BIGINT squared L2
    * on 1e-6 fixed-point coordinates and s is a single integer division,
    * so every row replays in any engine.
    *
    * Returns per cluster: (cluster, n, mean_sil_micro, min_sil_micro,
    * max_sil_micro) — k rows, silhouette in micro units. A degenerate
    * point equidistant-0 from two centroids defines s = 0.
    *
    * Scale shape: one broadcast codebook join (k × corpus scored rows),
    * one per-point window argmin (bounded by k), one k-row aggregate — no
    * pair join anywhere. Assignment tiebreak: (distance, centroid_id).
    */
  def simplifiedSilhouette(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long): DataFrame = {
    require(centroidEvery >= 1)
    val pts = df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("fx"))
    val cents = pts.where(col("id") % centroidEvery === 0)
      .select(col("id").as("cid"), col("fx").as("cfx"))
    val scored = pts.join(broadcast(cents))
      .select(col("id"), col("cid"),
        expr("aggregate(zip_with(fx, cfx, (a, b) -> (a - b) * (a - b))," +
          " 0L, (acc, x) -> acc + x)").as("d"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("d"), col("cid"))
    val perPoint = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("b", lead(col("d"), 1).over(w))
      .where(col("rn") === 1 && col("b").isNotNull)
      .select(col("id"), col("cid").as("cluster"), col("d").as("a"), col("b"))
      .withColumn("s_micro",
        when(greatest(col("a"), col("b")) === 0, lit(0L)).otherwise(
          expr("((b - a) * 1000000) div greatest(a, b)")))
    perPoint.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("s_micro")).as("ss"),
        min(col("s_micro")).as("min_sil_micro"),
        max(col("s_micro")).as("max_sil_micro"))
      .select(col("cluster"), col("n"),
        expr("ss div n").as("mean_sil_micro"),
        col("min_sil_micro"), col("max_sil_micro"))
  }

  /** DuckDB replay of [[simplifiedSilhouette]] (same codebook, same BIGINT
    * squared L2, same (d, cid) argmin tiebreak, same micro division).
    */
  def silhouetteOracleSql(centroidEvery: Long, table: String = "embeddings",
      idCol: String = "vec_id", vecCol: String = "embedding"): String =
    s"""WITH pts AS MATERIALIZED (
       |  SELECT $idCol::BIGINT AS id,
       |         list_transform($vecCol::DOUBLE[],
       |           x -> round(x * 1000000)::BIGINT) AS fx
       |  FROM $table),
       |cents AS (SELECT id AS cid, fx AS cfx FROM pts
       |          WHERE id % $centroidEvery = 0),
       |scored AS (
       |  SELECT p.id, c.cid,
       |         list_sum(list_transform(range(1, len(p.fx) + 1),
       |           i -> (p.fx[i] - c.cfx[i]) * (p.fx[i] - c.cfx[i]))) AS d
       |  FROM pts p, cents c),
       |pp AS (
       |  SELECT id, cid AS cluster, d AS a,
       |         lead(d) OVER (PARTITION BY id ORDER BY d, cid) AS b,
       |         row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
       |  FROM scored
       |  QUALIFY rn = 1 AND b IS NOT NULL),
       |s AS (
       |  SELECT cluster,
       |         CASE WHEN greatest(a, b) = 0 THEN 0
       |              ELSE ((b - a) * 1000000) // greatest(a, b) END AS s_micro
       |  FROM pp)
       |SELECT cluster, count(*)::BIGINT AS n,
       |       (sum(s_micro) // count(*))::BIGINT AS mean_sil_micro,
       |       min(s_micro)::BIGINT AS min_sil_micro,
       |       max(s_micro)::BIGINT AS max_sil_micro
       |FROM s GROUP BY cluster""".stripMargin

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, the ratio
    * margin) — the parallel-corpus mining step of a multilingual training
    * pipeline: candidate (src, tgt) pairs are scored not by raw cosine
    * (which hub vectors inflate) but by cosine NORMALIZED by the mean
    * cosine of each side's k nearest candidates:
    *   margin(x, y) = 2·cos(x, y) / (meanK(x) + meanK(y))
    * so a pair only ranks high when it is similar *relative to what each
    * side considers similar* — the hubness correction that made
    * margin-mined bitext usable. Sides here are vec_id parity (even =
    * src, odd = tgt), the established synthetic split.
    *
    * Deterministic and replayable: cosines are the [[anisotropy]]
    * fixed-point micro carrier, kNN sets are pinned by (cos DESC, id)
    * windows, means are floor divisions, and the ratio is one integer
    * division; ties at the final cut break on (src, tgt).
    *
    * Scale shape: candidates are generated per fixed-codebook cluster
    * (nearest centroid by exact squared L2 — one broadcast join + window
    * argmin), so pair work is Σ cluster², never corpus²; clusters larger
    * than `maxCluster` points are DROPPED whole (the LSH bucket-cap rule:
    * deterministic, never sampled). Per-side kNN means are window top-k
    * inside the candidate table — no second pair join. Pairs whose mean
    * neighborhood cosine sum is ≤ 0 carry no usable margin signal and are
    * filtered (documented, replayed).
    */
  def marginMining(df: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long, kNn: Int = 4, topN: Int = 50,
      maxCluster: Int = 1024): DataFrame = {
    require(centroidEvery >= 1 && kNn >= 1 && topN >= 1)
    val pts = Caching.persist(df.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => round(x.cast("double") * 1000000, 0).cast("long")).as("fx"))
      .withColumn("nrm",
        expr("aggregate(fx, 0L, (acc, x) -> acc + x * x)")))
    val cents = pts.where(col("id") % centroidEvery === 0)
      .select(col("id").as("cid"), col("fx").as("cfx"))
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("d"), col("cid"))
    val assigned = pts.join(broadcast(cents))
      .select(col("id"), col("fx"), col("nrm"), col("cid"),
        expr("aggregate(zip_with(fx, cfx, (a, b) -> (a - b) * (a - b))," +
          " 0L, (acc, x) -> acc + x)").as("d"))
      .withColumn("rn", row_number().over(wAssign))
      .where(col("rn") === 1)
      .select(col("id"), col("fx"), col("nrm"), col("cid").as("cluster"))
    // bucket cap: whole oversize clusters are dropped, never sampled
    val sized = assigned
      .withColumn("cn",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .where(col("cn") <= maxCluster)
    val src = sized.where(col("id") % 2 === 0)
      .select(col("cluster"), col("id").as("src"), col("fx").as("sfx"),
        col("nrm").as("snrm"))
    val tgt = sized.where(col("id") % 2 === 1)
      .select(col("cluster"), col("id").as("tgt"), col("fx").as("tfx"),
        col("nrm").as("tnrm"))
    val pairs = Caching.persist(src.join(tgt, "cluster")
      .withColumn("dot",
        expr("aggregate(zip_with(sfx, tfx, (a, b) -> a * b)," +
          " 0L, (acc, x) -> acc + x)"))
      .withColumn("cos_micro",
        when(col("snrm") === 0 || col("tnrm") === 0, lit(0L)).otherwise(
          round(col("dot").cast("double") /
            (sqrt(col("snrm").cast("double")) *
              sqrt(col("tnrm").cast("double"))) * 1000000d, 0)
            .cast("long")))
      .select(col("src"), col("tgt"), col("cos_micro")))
    // sign·abs divisions throughout: Spark's div truncates toward zero,
    // DuckDB's // floors — identical only for non-negative operands, and
    // cosines (hence means and the margin numerator) can be negative
    def sideMean(keyCol: String, other: String) = pairs
      .withColumn("rn", row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(col("cos_micro").desc, col(other))))
      .where(col("rn") <= kNn)
      .groupBy(col(keyCol))
      .agg(expr("CASE WHEN sum(cos_micro) < 0" +
        " THEN -((-sum(cos_micro)) div count(1))" +
        " ELSE sum(cos_micro) div count(1) END").as(s"mean_$keyCol"))
    pairs
      .join(sideMean("src", "tgt"), "src")
      .join(sideMean("tgt", "src"), "tgt")
      .withColumn("denom", col("mean_src") + col("mean_tgt"))
      .where(col("denom") > 0)
      .select(col("src"), col("tgt"), col("cos_micro"),
        expr("CASE WHEN cos_micro < 0" +
          " THEN -((2 * (-cos_micro) * 1000000) div denom)" +
          " ELSE (2 * cos_micro * 1000000) div denom END")
          .as("margin_micro"))
      .orderBy(col("margin_micro").desc, col("src"), col("tgt"))
      .limit(topN)
  }

  /** DuckDB replay of [[marginMining]] (same codebook argmin, cluster cap,
    * parity split, micro cosines, window kNN means and floor ratio).
    */
  def marginMiningOracleSql(centroidEvery: Long, kNn: Int = 4,
      topN: Int = 50, maxCluster: Int = 1024,
      table: String = "embeddings", idCol: String = "vec_id",
      vecCol: String = "embedding"): String =
    s"""WITH pts AS MATERIALIZED (
       |  SELECT $idCol::BIGINT AS id,
       |         list_transform($vecCol::DOUBLE[],
       |           x -> round(x * 1000000)::BIGINT) AS fx
       |  FROM $table),
       |n AS (SELECT id, fx,
       |             list_sum(list_transform(fx, x -> x * x)) AS nrm
       |      FROM pts),
       |cents AS (SELECT id AS cid, fx AS cfx FROM pts
       |          WHERE id % $centroidEvery = 0),
       |assigned AS (
       |  SELECT p.id, p.fx, p.nrm, c.cid AS cluster
       |  FROM n p, cents c
       |  QUALIFY row_number() OVER (PARTITION BY p.id ORDER BY
       |    list_sum(list_transform(range(1, len(p.fx) + 1),
       |      i -> (p.fx[i] - c.cfx[i]) * (p.fx[i] - c.cfx[i]))), c.cid) = 1),
       |sized AS (
       |  SELECT * FROM assigned
       |  QUALIFY count(*) OVER (PARTITION BY cluster) <= $maxCluster),
       |pairs AS MATERIALIZED (
       |  SELECT s.id AS src, t.id AS tgt,
       |         CASE WHEN s.nrm = 0 OR t.nrm = 0 THEN 0
       |         ELSE round(
       |           list_sum(list_transform(range(1, len(s.fx) + 1),
       |             i -> s.fx[i] * t.fx[i]))::DOUBLE
       |           / (sqrt(s.nrm::DOUBLE) * sqrt(t.nrm::DOUBLE)) * 1000000
       |         )::BIGINT END AS cos_micro
       |  FROM sized s JOIN sized t USING (cluster)
       |  WHERE s.id % 2 = 0 AND t.id % 2 = 1),
       |ms AS (
       |  SELECT src,
       |         (CASE WHEN sum(cos_micro) < 0
       |               THEN -((-sum(cos_micro)) // count(*))
       |               ELSE sum(cos_micro) // count(*) END)::BIGINT AS mean_src
       |  FROM (
       |    SELECT src, cos_micro FROM pairs
       |    QUALIFY row_number() OVER (PARTITION BY src
       |      ORDER BY cos_micro DESC, tgt) <= $kNn) GROUP BY src),
       |mt AS (
       |  SELECT tgt,
       |         (CASE WHEN sum(cos_micro) < 0
       |               THEN -((-sum(cos_micro)) // count(*))
       |               ELSE sum(cos_micro) // count(*) END)::BIGINT AS mean_tgt
       |  FROM (
       |    SELECT tgt, cos_micro FROM pairs
       |    QUALIFY row_number() OVER (PARTITION BY tgt
       |      ORDER BY cos_micro DESC, src) <= $kNn) GROUP BY tgt)
       |SELECT p.src, p.tgt, p.cos_micro,
       |       (CASE WHEN p.cos_micro < 0
       |             THEN -((2 * (-p.cos_micro) * 1000000)
       |                    // (ms.mean_src + mt.mean_tgt))
       |             ELSE (2 * p.cos_micro * 1000000)
       |                  // (ms.mean_src + mt.mean_tgt) END)::BIGINT
       |         AS margin_micro
       |FROM pairs p JOIN ms USING (src) JOIN mt USING (tgt)
       |WHERE ms.mean_src + mt.mean_tgt > 0
       |ORDER BY margin_micro DESC, p.src, p.tgt LIMIT $topN""".stripMargin
}
