package graft.operators

import graft.functions.SimHash
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines (north star,
  * SURVEY.md §2c): exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (the point is 100 TB, not 60k rows):
  *  - every candidate-generation step is a hash-partitioned `groupBy`/join on
  *    a bucket key — no cross joins, no driver-side state;
  *  - LSH bucket joins bound the pair space; oversized buckets (degenerate
  *    keys, skew) are capped with `maxBucket` before the self-join, which is
  *    the standard guard against quadratic blowup on skewed shards;
  *  - signatures are computed with codegen'd higher-order functions
  *    (`transform`/`aggregate`), one scan, no UDF boxing, no shuffle until
  *    the bucket key exists;
  *  - verification joins are on doc-id pairs (sort-merge/shuffle-hash on
  *    long keys) and broadcast nothing, so they survive arbitrary corpus
  *    size.
  */
object Dedup {

  /** Skew guard shared by every bucket-joined pipeline: drop buckets larger
    * than `maxBucket` via a count aggregate + broadcast anti-join. Cheaper
    * than the window-function form (no Sort+Window stages), and the
    * oversized-bucket list is tiny by construction (each entry represents
    * > maxBucket rows).
    */
  private[operators] def capBuckets(df: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val oversized = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsize"))
      .where(col("bsize") > maxBucket)
      .select(keys.map(col): _*)
    df.join(broadcast(oversized), keys, "left_anti")
  }

  /** Exact duplicate groups by a key column (e.g. raw text, or
    * [[TextAnalysis.fingerprint]] for canonicalized-exact dedup): one row
    * per distinct key with the representative (min) id and the copy count.
    * A plain hash `groupBy` — fully distributed, map-side partial agg.
    */
  def exactGroups(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("copies"))

  /** Incremental ingest dedup: keep only the rows of `incoming` whose `key`
    * is absent from the already-ingested fingerprint store `seen` (a
    * one-column frame, e.g. the fingerprints materialized by earlier
    * batches), deduping within the batch too (min-id representative per
    * key). The batch face of the streaming `dedupedParquetSink`: at 100 TB
    * the store is a parquet table of fingerprints, `LEFT ANTI` plans as a
    * plain shuffled hash join on the key — no driver state, and no
    * re-reading of previously ingested *content*, only its fingerprints.
    */
  def incremental(incoming: DataFrame, id: Column, key: Column,
      seen: DataFrame): DataFrame =
    batchKeyed(incoming, id, key)
      .join(seenKeySet(seen), Seq("dup_key"), "left_anti")
      .select(col("keep_id"), col("dup_key"))

  /** The seen store as a normalized (dup_key) frame. Null keys are excluded
    * by contract on both sides of the ingest: a null fingerprint identifies
    * nothing, and engines disagree on null-key set semantics (anti-join
    * keeps null probes, NOT IN drops everything) — excluding them makes the
    * operator's answer well-defined everywhere. Shared by [[incremental]]
    * and [[incrementalBloom]] so the two stay answer-identical by
    * construction.
    */
  private def seenKeySet(seen: DataFrame): DataFrame =
    seen.toDF("dup_key").where(col("dup_key").isNotNull)

  /** Batch-internal dedup of the incoming rows: min-id representative per
    * non-null key — the shared first stage of both ingest variants. */
  private def batchKeyed(incoming: DataFrame, id: Column,
      key: Column): DataFrame =
    incoming.select(id.as("keep_id"), key.as("dup_key"))
      .where(col("dup_key").isNotNull)
      .groupBy(col("dup_key")).agg(min(col("keep_id")).as("keep_id"))

  /** Bloom-prefiltered incremental ingest dedup — [[incremental]]'s exact
    * answer with a different scale shape. The seen-store's keys fold into a
    * Bloom filter via Spark's native `BloomFilterAggregate` (the expression
    * behind runtime bloom-filter join pruning): executors build partial
    * filters map-side and merge them through the standard two-phase
    * aggregate, and the probe is the codegen'd `BloomFilterMightContain` —
    * no Scala-UDF boxing anywhere in the plan. The incoming batch then
    * splits on the probe:
    *  - probe-NEGATIVE rows are definitely new (Bloom filters have no false
    *    negatives) → kept with no join at all. For a mostly-novel batch this
    *    is the bulk of the data, and it never shuffles against the store;
    *  - probe-POSITIVE rows (true dups + ~fpp false positives) go through
    *    [[incremental]]'s exact anti-join — but only this thin candidate
    *    slice pays the shuffle.
    * The union is exactly [[incremental]]'s output (the Bloom filter only
    * routes rows, it never decides membership), which is what the DuckDB
    * oracle asserts. Prefer this when the batch is large relative to its
    * true-dup rate; prefer plain [[incremental]] when the store is small
    * enough that one shuffled anti-join is cheap anyway.
    *
    * Memory contract at 100 TB: the filter's size is bounded by `maxBits`
    * (default 2^26 bits = 8 MB — Spark's own
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` default, which the
    * aggregate additionally clamps to), NOT by the store's cardinality. A 1e11-key store
    * therefore cannot OOM anything; past the optimal sizing the fpp
    * degrades instead, routing more rows into the exact anti-join — a
    * throughput knob, never a correctness one. (The driver-built
    * `stat.bloomFilter` predecessor sized the filter by key count — ~1.1 GB
    * at 1e9 keys — and shipped it in a UDF closure, an actual ceiling.)
    *
    * `expectedItems` sizes the filter; a maintained store knows its key
    * count, and passing it saves a full counting scan of the store per
    * batch. Left at the -1 default, the operator counts the store itself.
    *
    * Cache lifecycle: the routed batch is persisted (both output branches
    * read it) and, as with [[graft.operators.Similarity.nearDupPairs]],
    * lives until the caller is done with the result — a long-lived driver
    * ingesting many batches should `spark.catalog.clearCache()` between
    * them (each batch's bloom literal differs, so entries never canonicalize
    * equal and would otherwise accumulate).
    */
  def incrementalBloom(incoming: DataFrame, id: Column, key: Column,
      seen: DataFrame, fpp: Double = 0.01,
      expectedItems: Long = -1L, maxBits: Long = 1L << 26): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.types.BinaryType
    val seenKeys = seenKeySet(seen)
    val nSeen =
      if (expectedItems > 0) expectedItems
      else math.max(1L, seenKeys.count())
    // optimal bit count for (n, fpp), capped: -n ln p / (ln 2)^2
    val optimalBits =
      math.ceil(-nSeen * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val numBits = math.max(64L, math.min(optimalBits, maxBits))
    // build AND probe on xxhash64 of the key's STRING form:
    // BloomFilterMightContain only probes BIGINT, so both sides go through
    // the same explicit hash — exactly how Spark's runtime-filter injection
    // handles non-long join keys, and type-proof for any key column
    def keyHash(k: Column): Column = xxhash64(k.cast("string"))
    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(
        GraftShim.expression(keyHash(col("dup_key"))),
        Literal(nSeen), Literal(numBits)).toAggregateExpression())
    // the merged filter is one capped-size binary row (≤ maxBits/8 bytes);
    // inlining it as a literal is exactly what Spark's runtime bloom join
    // pruning does with its scalar-subquery result
    val bloomBytes = seenKeys.select(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    // an EMPTY store aggregates to a NULL filter (BloomFilterAggregate has no
    // zero-cardinality serialization) — and a NULL probe would route every row
    // to NEITHER branch (both `where`s drop NULL). Nothing is seen yet, so the
    // answer is exactly [[incremental]]'s batch-internal dedup, no probe at all
    if (bloomBytes == null)
      return batchKeyed(incoming, id, key).select(col("keep_id"), col("dup_key"))
    // coalesce(…, false) guards the same NULL-eats-both-branches hazard for
    // any other path to a NULL probe result: a missed row must surface as
    // "definitely new" (checked exactly), never vanish
    def mightContain(k: Column): Column = coalesce(GraftShim.column(
      BloomFilterMightContain(Literal(bloomBytes, BinaryType),
        GraftShim.expression(k))), lit(false))
    // the probe column is materialized once and the routed batch persisted:
    // both branches read it, and without the persist the batch's full
    // scan + min-id shuffle would run twice per ingest
    val batch = batchKeyed(incoming, id, key)
      .withColumn("__hit", mightContain(keyHash(col("dup_key"))))
      .transform(Caching.persist)
    val definitelyNew = batch.where(!col("__hit"))
    val candidates = batch.where(col("__hit"))
      .join(seenKeys, Seq("dup_key"), "left_anti")
    definitelyNew.unionByName(candidates)
      .select(col("keep_id"), col("dup_key"))
  }

  /** Per-family min-hash aggregate columns for the classic MinHash signature
    * (Broder 1997, "On the resemblance and containment of documents"): family
    * j's hash of a shingle is xxhash64(shingle, j) — the family index as an
    * extra hash input gives independent families without precomputed
    * coefficients. Shaped as explode + `min` AGGREGATES (the caller groups by
    * doc id) rather than a per-row `transform`/`array_min` fold: Spark's
    * higher-order functions are CodegenFallback (interpreted), so numHashes
    * nested-lambda passes per row are the slow path (measured 8× vs this
    * form on the portable twin), while min() over the exploded shingles stays
    * in whole-stage codegen with map-side partial aggregation — the shuffle
    * carries numHashes longs per doc per partition, fine at any scale.
    */
  private def minhashAggCols(h: Column, numHashes: Int): Seq[Column] =
    (1 to numHashes).map(j => min(xxhash64(h, lit(j))).as(s"mh$j"))

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows each and hash each band to a bucket key.
    * Docs sharing any band bucket become candidate pairs
    * (P[candidate] = 1-(1-J^r)^b).
    */
  def lshBands(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * r + 1, r), lit(b)).as("bucket"))): _*)
  }

  /** Candidate near-duplicate pairs via MinHash+LSH over word `ngram`
    * shingles, then exact-Jaccard verification at `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  /** Tokenize into its own projection before shingling: `wordNgrams` refers
    * to the token array once per element, and feeding it the raw
    * tokenization *expression* would inline that expression into every
    * lambda element — O(tokens²) regex splits per document (measured 9s for
    * 5k docs). Materializing the attribute makes each reference an O(1)
    * array read. CollapseProject keeps the stages separate because split()
    * is non-cheap.
    */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
      ngram: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      // `sh` is empty exactly when there are fewer than n tokens, so filter
      // on the cheap token count — filtering on size(sh) would let predicate
      // pushdown re-inline the shingle expression below the projection,
      // reintroducing the quadratic evaluation
      .where(size(col("toks")) >= ngram)
      .select(col("id"),
        array_distinct(TextAnalysis.wordNgrams(col("toks"), ngram)).as("sh"))

  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 2, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    // same guard as the portable twin: r = 0 buckets everything together
    // (then the skew cap drops it all → zero pairs, silently) and a
    // non-dividing count silently ignores trailing signature hashes
    require(numHashes % bands == 0 && numHashes / bands > 0,
      "bands must divide numHashes")
    // shingles are carried as 64-bit hashes from here on: the signature only
    // needs hash values, and Jaccard over hashed sets equals Jaccard over
    // the sets (collisions are ~n²/2⁶⁴) — long arrays shuffle ~10x smaller
    // than string arrays and intersect without string comparison.
    // Persisted: consumed three times (signature path + both sides of the
    // verification join); at 100 TB this materialization is the standard
    // "write the shingle table once" step of a dedup pipeline. Lifecycle:
    // repeated calls over the same input build plan-identical DataFrames, so
    // Spark's cache-manager canonicalization reuses one entry rather than
    // accumulating; callers that are done can spark.catalog.clearCache().
    val shingled = shingleTable(df, idCol, textCol, ngram)
      .select(col("id"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("shingles"))
      .transform(Caching.persist)

    val minCols = minhashAggCols(col("h"), numHashes)
    val sig = shingled
      .select(col("id"), explode(col("shingles")).as("h"))
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((1 to numHashes).map(j => col(s"mh$j")): _*).as("sig"))

    val banded = sig
      .select(col("id"), explode(lshBands(col("sig"), numHashes, bands)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))

    // skew guard: drop degenerate buckets before the quadratic self-join.
    // Persisted because the self-join consumes it twice — otherwise the
    // whole signature pipeline runs twice.
    val bucketed = capBuckets(banded, Seq("band", "bucket"), maxBucket)
      .transform(Caching.persist)

    val candidates = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    verifyJaccard(candidates, shingled, threshold)
  }

  /** Append exact-Jaccard over (sh_a, sh_b) and keep pairs >= threshold.
    * Pairs are pre-pruned on set sizes before the O(|a|+|b|) intersect:
    * J = |∩|/|∪| ≤ min/max, so `min < threshold·max` cannot pass — an exact
    * bound, not a heuristic, and the dominant cost saver when the candidate
    * window pairs many dissimilar docs.
    */
  private def jaccardFilter(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .where(least(size(col("sh_a")), size(col("sh_b"))).cast("double")
        >= lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact Jaccard over distinct shingle sets for given candidate pairs. */
  private def verifyJaccard(pairs: DataFrame, shingled: DataFrame,
      threshold: Double): DataFrame = {
    val sa = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    jaccardFilter(pairs.join(sa, "id_a").join(sb, "id_b"), threshold)
  }

  /** Exact word-ngram Jaccard for all pairs within `idWindow` of each other
    * (deterministic, oracle-expressible). The window predicate is turned
    * into an *equi*-join on block keys (block = id / idWindow; the left side
    * explodes into its own and the next block, which covers every pair with
    * id_b - id_a <= idWindow) — a plain range predicate would plan as a
    * BroadcastNestedLoopJoin over all O(n²) pairs, which is exactly the
    * quadratic scan this operator exists to avoid.
    */
  /** The id-window → equi-block-join rewrite shared by every windowed
    * *Pairs tier: all (id_a < id_b, id_b - id_a <= idWindow) row pairs of
    * `table` (which must carry an `id` column; every other column is
    * payload, suffixed _a/_b in the output), WITHOUT a range predicate —
    * block = id div idWindow, the left side explodes into its own and the
    * next block, which covers every in-window pair. A plain range predicate
    * would plan as an O(n²) BroadcastNestedLoopJoin (PlanSpec pins its
    * absence). Integer (not FP) block math: ids may exceed 2^53 in a real
    * corpus.
    */
  private def blockedPairs(table: DataFrame, idWindow: Long): DataFrame = {
    val payload = table.columns.filter(_ != "id").toSeq
    val blk = expr(s"id div ${idWindow}L")
    val a = table.select(col("id").as("id_a") +:
      explode(array(blk, blk + 1)).as("blk") +:
      payload.map(c => col(c).as(c + "_a")): _*)
    val b = table.select(col("id").as("id_b") +: blk.as("blk") +:
      payload.map(c => col(c).as(c + "_b")): _*)
    a.join(b, Seq("blk"))
      .where(col("id_a") < col("id_b") && col("id_b") - col("id_a") <= idWindow)
  }

  /** Prefix-filtered in-window candidate pairs — [[blockedPairs]] with the
    * AllPairs/PPJoin prefix-filtering principle layered on top, LOSSLESSLY
    * cutting the pairs that reach the exact `array_intersect` verify (the
    * bench's top cost pre-r5). For Jaccard ≥ t, |A∩B| ≥ t·|A∪B| ≥
    * t·max(|A|,|B|), so taking each set's first ℓ_X = |X| − ⌈t·|X|⌉ + 1
    * elements in a global total order (numeric order of the 64-bit gram
    * codes), the SMALLEST common element x₁ must sit inside BOTH prefixes:
    * were rank_A(x₁) > ℓ_A, all |A∩B| common elements would fit in A's last
    * ⌈t·|A|⌉ − 1 slots < t·|A| ≤ |A∩B| — a contradiction (same argument on
    * B). A qualifying pair therefore always shares a prefix element, and
    * dropping pairs that share none cannot change the exact tier's answer —
    * a theorem, not a heuristic, so the DuckDB oracle replays unchanged.
    *
    * Shape: prefixes explode to (gram, block) keyed rows and candidates come
    * from an equi-join on (pe, blk) — never a nested loop, and per join key
    * both sides are bounded by the block width (≤ idWindow rows), so a
    * corpus-wide common gram cannot recreate the quadratic bucket (the key
    * includes blk). The exploded rows are (long, long, id, size) — a far
    * smaller shuffle than the full gram arrays the old shape carried for
    * every in-window pair; full arrays are fetched only for the surviving
    * candidates. The exact size bound (min ≥ t·max, same predicate
    * [[jaccardFilter]] re-applies) prunes at the candidate join already.
    * `plen` floors with a +1e-6 guard: FP rounding may only ever LENGTHEN
    * the prefix (safe), never shorten it below ℓ_X.
    */
  private def prefixFilteredPairs(table: DataFrame, idWindow: Long,
      threshold: Double, sorted: Boolean): DataFrame = {
    val blk = expr(s"id div ${idWindow}L")
    val sortedSh = if (sorted) col("sh") else array_sort(col("sh"))
    val plen = (floor(lit(1.0 - threshold) * size(col("sh")).cast("double")
      + lit(1e-6)) + 1).cast("int")
    def side(idName: String, szName: String): DataFrame =
      table.select(col("id"), size(col("sh")).as(szName), blk.as("blk"),
          explode(slice(sortedSh, lit(1), plen)).as("pe"))
        .withColumnRenamed("id", idName)
    val a = side("id_a", "sz_a")
      .select(col("id_a"), col("sz_a"), col("pe"),
        explode(array(col("blk"), col("blk") + 1)).as("blk"))
    val b = side("id_b", "sz_b")
    val cand = a.join(b, Seq("blk", "pe"))
      .where(col("id_a") < col("id_b") &&
        col("id_b") - col("id_a") <= idWindow &&
        least(col("sz_a"), col("sz_b")).cast("double")
          >= lit(threshold) * greatest(col("sz_a"), col("sz_b")).cast("double"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(table.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(table.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, ngram: Int,
      idWindow: Long, threshold: Double): DataFrame = {
    // empty shingle sets would make the Jaccard denominator 0 (an error
    // under Spark 4's default ANSI mode) — J is undefined there anyway;
    // shingleTable drops them. Shingles are compared as 64-bit hashes:
    // |A∩B| over hashed distinct sets equals the string-set value up to a
    // ~n²/2⁶⁴ collision chance, and the pair join shuffles/intersects long
    // arrays instead of string arrays (~10x cheaper).
    val nonEmpty = shingleTable(df, idCol, textCol, ngram)
      .select(col("id"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("sh"))
      .transform(Caching.persist)
    // result persisted (r15): three gate queries run this exact tier over
    // the same corpus — q_dedup_band_sweep's and q_dedup_minhash_recall's
    // truth sets and q_dedup_jaccard itself — and the verify join behind
    // it measured ~1.3 s each; CacheManager's canonical matching now runs
    // it once per session. Pair output is near-dup-sized (tiny), so the
    // entry is cheap to hold.
    Caching.persist(jaccardFilter(
      prefixFilteredPairs(nonEmpty, idWindow, threshold, sorted = false),
      threshold))
  }

  /** Exact CONTAINMENT pairs within an id window — Broder's asymmetric
    * companion to Jaccard: C(A→B) = |A∩B|/|A| ≥ t flags A as (near-)
    * contained in B, the shape of quote-inclusion and page-within-crawl
    * duplication that the symmetric Jaccard tiers systematically miss (a
    * small doc inside a large one has high containment but low Jaccard —
    * the union swamps the intersection). Emits one row per directed
    * containment with both directions' scores computable from the same
    * intersection; pairs where BOTH directions pass are exact-duplicate
    * candidates, one-direction pairs are subset dups. Same equi-block join
    * as [[jaccardPairs]] (never a nested loop); the prefix filter does NOT
    * apply (containment bounds only the contained side's set size), so the
    * tier relies on the window bound — appropriate, since containment
    * candidates are exactly the pairs the size-ratio prune would discard.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      ngram: Int, idWindow: Long, threshold: Double): DataFrame = {
    val nonEmpty = shingleTable(df, idCol, textCol, ngram)
      .select(col("id"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("sh"))
      .transform(Caching.persist)
    blockedPairs(nonEmpty, idWindow)
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("cont_ab",
        col("inter").cast("double") / size(col("sh_a")).cast("double"))
      .withColumn("cont_ba",
        col("inter").cast("double") / size(col("sh_b")).cast("double"))
      .where(col("cont_ab") >= threshold || col("cont_ba") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cont_ab"), 6).as("cont_ab"),
        round(col("cont_ba"), 6).as("cont_ba"))
  }

  /** DuckDB replay of [[containmentPairs]] value-for-value (string
    * shingles — hashing only changes collision odds, identical at oracle
    * scale).
    */
  def containmentOracleSql(ngram: Int = 2, idWindow: Long = 25L,
      threshold: Double = 0.8, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH t AS (
       |  SELECT $idCol AS id,
       |         ${graft.operators.TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |sh AS (
       |  SELECT id, list_distinct(CASE WHEN len(toks) < $ngram THEN []::VARCHAR[]
       |    ELSE list_transform(generate_series(1, len(toks) - ${ngram - 1}),
       |      i -> ${(0 until ngram).map(o => s"toks[i+$o]").mkString(" || ' ' || ")}) END) AS sh
       |  FROM t),
       |ne AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
       |a AS (SELECT id AS id_a, sh AS sh_a,
       |             unnest([id // $idWindow, id // $idWindow + 1]) AS blk FROM ne),
       |b AS (SELECT id AS id_b, sh AS sh_b, id // $idWindow AS blk FROM ne),
       |p AS (
       |  SELECT id_a, id_b, len(list_intersect(sh_a, sh_b)) AS inter,
       |         len(sh_a) AS la, len(sh_b) AS lb
       |  FROM a JOIN b USING (blk)
       |  WHERE id_a < id_b AND id_b - id_a <= $idWindow)
       |SELECT id_a, id_b,
       |       round(inter::DOUBLE / la::DOUBLE, 6) AS cont_ab,
       |       round(inter::DOUBLE / lb::DOUBLE, 6) AS cont_ba
       |FROM p
       |WHERE inter::DOUBLE / la::DOUBLE >= $threshold
       |   OR inter::DOUBLE / lb::DOUBLE >= $threshold""".stripMargin

  /** Exact character-n-gram Jaccard within an id window: byte-level dedup
    * robustness (catches token-boundary edits word shingles miss — see
    * [[TextAnalysis.charNgrams]]). Same equi-block join as [[jaccardPairs]].
    *
    * Each n-gram is encoded as the base-131 polynomial of its char codes —
    * injective on ASCII (codes < 131, so it's the base-131 representation:
    * an exact encoding, not a hash) and computable identically in any SQL
    * engine (`ascii`/`unicode` + arithmetic). Intersections then run over
    * longs, ~5× cheaper to shuffle and compare than the 5-char strings.
    * For n=5 the value stays < 2^51 even for full unicode code points, so
    * both engines compute it exactly in int64 (non-ASCII corpora merely
    * lose injectivity, identically on both sides).
    */
  def jaccardPairsChar(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, idWindow: Long = 10L, threshold: Double = 0.6): DataFrame = {
    // gram building is one codegen'd expression (CharGrams: compiled
    // primitive-long loop, no per-gram allocation) — the column-level
    // formulation (split → transform(ascii) → n-wide element_at polynomial)
    // is CodegenFallback end to end and was the single most expensive query
    // of the sf0.1 bench (13 s) despite an identical join plan
    val nonEmpty = df
      .select(col(idCol).as("id"), lower(col(textCol)).as("t"))
      .where(length(col("t")) >= n)
      .select(col("id"),
        graft.functions.CharGrams.charGrams(col("t"), n).as("sh"))
      .transform(Caching.persist)
    // CharGrams emits sorted-distinct grams, so the prefix filter slices
    // directly (sorted = true), no per-row re-sort
    jaccardFilter(
      prefixFilteredPairs(nonEmpty, idWindow, threshold, sorted = true),
      threshold)
  }

  /** Edit-distance (Levenshtein) near-dup pairs within an id window — the
    * fuzzy-matching tier of record linkage: catches small in-place edits
    * (typos, single-word swaps) whose n-gram overlap may still pass the
    * Jaccard tiers but that exact dedup misses entirely. Comparison runs on
    * a fixed-length lowercased prefix: Levenshtein is O(len²) PER PAIR, so
    * unbounded operands make the blocked join quadratic in document length
    * — trimming to `prefixLen` is the standard field-restriction of fuzzy
    * linkage and bounds per-pair cost by a constant. Same equi-block join
    * as [[jaccardPairs]] (block = id div window, left side explodes into
    * its own + next block) — never a nested-loop over all pairs.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      idWindow: Long = 25L, maxDist: Int = 12, prefixLen: Int = 48): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      substring(lower(col(textCol)), 1, prefixLen).as("t"))
    // thresholded levenshtein: banded DP, O(len·maxDist) per pair instead of
    // O(len²), returning -1 above the bound — the exact distance is only
    // computed for pairs that can pass, which is the standard trick when the
    // verify predicate is `dist <= k` (the oracle's plain `<= maxDist`
    // replays the identical row set and distances)
    blockedPairs(base, idWindow)
      .withColumn("dist",
        levenshtein(col("t_a"), col("t_b"), maxDist).cast("long"))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** DuckDB SQL replaying [[fuzzyPairs]]: the window predicate stays a
    * plain range join (quadratic is fine at oracle scale); `levenshtein`
    * is the same unit-cost edit distance in both engines.
    */
  def fuzzyOracleSql(idWindow: Long = 25L, maxDist: Int = 12,
      prefixLen: Int = 48, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH t AS (
       |  SELECT $idCol AS id, substr(lower($textCol), 1, $prefixLen) AS t
       |  FROM $table)
       |SELECT a.id AS id_a, b.id AS id_b,
       |       levenshtein(a.t, b.t)::BIGINT AS dist
       |FROM t a JOIN t b ON b.id > a.id AND b.id - a.id <= $idWindow
       |WHERE levenshtein(a.t, b.t) <= $maxDist""".stripMargin

  /** DuckDB SQL replaying [[jaccardPairsChar]] value-for-value. */
  def jaccardCharOracleSql(n: Int = 5, idWindow: Long = 10L,
      threshold: Double = 0.6, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    val poly = (1 to n).map(j => s"unicode(substr(s, $j, 1))::BIGINT")
      .reduce((acc, c) => s"($acc * 131 + $c)")
    s"""WITH sh AS (
       |  SELECT $idCol AS id,
       |         list_distinct(list_transform(
       |           list_transform(range(1, length(lower($textCol)) - ${n - 2}),
       |             i -> substr(lower($textCol), i, $n)),
       |           s -> $poly)) AS sh
       |  FROM $table WHERE length($textCol) >= $n),
       |a AS (SELECT id AS id_a, sh AS sh_a,
       |             unnest([id // $idWindow, id // $idWindow + 1]) AS blk FROM sh),
       |b AS (SELECT id AS id_b, sh AS sh_b, id // $idWindow AS blk FROM sh)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |         inter::DOUBLE / (la + lb - inter)::DOUBLE AS jaccard FROM (
       |    SELECT id_a, id_b, len(list_intersect(sh_a, sh_b)) AS inter,
       |           len(sh_a) AS la, len(sh_b) AS lb
       |    FROM a JOIN b USING (blk)
       |    WHERE id_a < id_b AND id_b - id_a <= $idWindow))
       |WHERE jaccard >= $threshold""".stripMargin
  }

  /** Connected components over near-duplicate pairs — the last step of a
    * dedup pipeline: pairs → duplicate FAMILIES, one representative (the
    * minimum id) per family. Returns (doc_id, family_id) for every
    * endpoint of `pairs`.
    *
    * Min-label propagation: each round every node takes the minimum label
    * among itself, its neighbors, and its label's label (the
    * pointer-jumping hop — doubles propagation distance per round, so
    * O(log diameter) rounds); each round one shuffled join + aggregate —
    * the standard large-graph CC shape, no driver-side graph state.
    *
    * Two engines, identical output (DedupSpec pins them equal), each the
    * one engine its consumer runs — PLANS.md round 13 "CC engine A/B":
    *  - this one, for the dedup families ([[duplicationProfile]],
    *    [[keepBest]], [[leakSafeSplit]], `q_dedup_components`): shallow
    *    families converge in 1 min-label round, where two-rule needs 2;
    *  - [[connectedComponentsTwoRule]], for [[Similarity.dbscanGrid]]:
    *    deep grid-adjacency graphs run 14 min-label rounds vs 5 two-rule
    *    rounds, 2.2× faster under two-rule at 10× data.
    *
    * Every round is truncated through [[Caching.checkpoint]]:
    * `localCheckpoint` by default (blocks on executors only — a lost
    * executor kills the job), a reliable storage-backed checkpoint that
    * survives executor loss under `spark.graft.reliableCheckpoints=true`,
    * written to the SparkContext's checkpoint dir (`spark.checkpoint.dir`
    * or `SparkContext.setCheckpointDir`); the iteration shape is the same.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // checkpoint rather than persist: it truncates LINEAGE, not just
    // recomputation. With persist, every round's logical plan still
    // embeds the full upstream pair-pipeline tree per reference, and each
    // (re)plan walks the session's CacheManager — in a session with ~80
    // cached plans that lookup dominated (17 s in-suite vs 2 s solo). A
    // checkpointed round is a flat LogicalRDD: planning cost is constant in
    // both round count and cache-pool size.
    // LAZY truncation (eager = false): every round's checksum action runs
    // immediately after the checkpoint and materializes it as a side
    // effect — one job per round instead of an explicit materialize job
    // PLUS the checksum job.
    // persist (not checkpoint) the input pairs: they are referenced twice
    // below (forward + reversed), which would execute the upstream pair
    // pipeline twice in the edges job; a persisted plan also stays
    // canonicalized, so plan-identical pair queries elsewhere in the
    // session share the cache entry
    val p = pairs.transform(Caching.persist)
    val edges = Caching.checkpoint(p
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct())
    // seed = min(self, neighbors): the first propagation round folded into
    // label init — one aggregate over edges instead of a distinct + a full
    // join round (edges are symmetrized, so every node appears as src)
    var labels = Caching.checkpoint(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("node"), col("label")))
    // convergence witness: labels only ever decrease, so the label sum is
    // strictly monotone — equal sums mean a fixpoint (one tiny agg per
    // round instead of a join-and-compare). Each round MUST be materialized
    // (the eager checkpoint does it): the round expression references the
    // previous labels three times, so an unmaterialized k-round chain is a
    // ~4^k-node plan — measured as a planner OOM at k = 3.
    def round(ls: DataFrame): DataFrame = {
      val fromNeighbors = edges
        .join(ls.withColumnRenamed("node", "dst"), "dst")
        .select(col("src").as("node"), col("label"))
      // pointer-jumping hop (label-of-label): doubles propagation distance
      // each round → O(log diameter) rounds instead of O(diameter)
      val viaPointer = ls
        .join(ls.select(col("node").as("label"), col("label").as("label2")),
          Seq("label"))
        .select(col("node"), col("label2").as("label"))
      Caching.checkpoint(ls.unionByName(fromNeighbors)
        .unionByName(viaPointer)
        .groupBy(col("node")).agg(min(col("label")).as("label")))
    }
    // coalesce: sum(label) is NULL on an empty label set (zero near-dup
    // pairs in the corpus) — without it the fixpoint loop NPEs (ADVICE r02).
    // DECIMAL(38,0) carrier: raw int64 label sums overflow Long for large
    // hashed/snowflake ids (ANSI mode raises, killing the job mid-loop);
    // 38 digits holds sum(2^63-scale ids) up to ~10^19 rows. Compared as a
    // string so no precision is lost on the driver.
    def checksum(df: DataFrame): String =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).cast("string"))
        .collect()(0).getString(0)
    var prev = checksum(labels)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val next = round(labels)
      val cur = checksum(next)
      labels = next
      converged = cur == prev
      prev = cur
      i += 1
    }
    labels.select(col("node").as("doc_id"), col("label").as("family_id"))
  }

  /** Alternating two-rule CC (Kiveris et al. 2014, "Connected Components
    * in MapReduce and Beyond"): the round state is the EDGE SET, rewritten
    * toward stars —
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node attaches its smaller neighbors (and
    *    itself) to their minimum.
    * Both rules preserve connectivity and strictly shrink the potential,
    * converging in O(log²) rounds (2–4 in practice on shallow dedup/grid
    * graphs); at the fixpoint the edges ARE (node, component-min) star
    * edges — no label table, no pointer-jumping join. Per round: two
    * groupBy-min aggregates + two equi-joins over the current edge set,
    * which SHRINKS monotonically toward |V| rows (the min-label engine's
    * per-round work stays Θ(|E|+|V|) throughout) — the reason to A/B the
    * two on heavy CC consumers. Same contract/levers as
    * [[connectedComponents]]: per-round lineage truncation through
    * [[Caching.checkpoint]] (reliable under its session confs), EXACT
    * fixpoint detection — a count compare every round plus an
    * `exceptAll`-emptiness check on count-equal rounds (ADVICE r13: the
    * former count+shifted-sum checksum was not an injective multiset
    * encoding and, unlike the min-label engine's monotone label sum, had
    * no monotonicity proof across a star round, so a cross-round
    * collision could terminate pre-fixpoint). Both sides of the compare
    * are distinct edge SETS, so equal counts + empty difference ⇒ equal
    * sets; the exceptAll job only runs on count-equal rounds (≈ the 1–2
    * rounds around the fixpoint, over the already-shrunken ≈|V|-row star
    * set) and both operands are checkpointed, so the check is flat-plan.
    */
  def connectedComponentsTwoRule(pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val p = pairs.transform(Caching.persist)
    // canonical directed (u > v) edges, self-loops dropped
    var edges = Caching.checkpoint(p.select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    // exact fixpoint witness (see scaladoc): the count() doubles as the
    // checkpoint-materializing action each round (the role the old
    // checksum agg played); the set-difference probe fires only on
    // count-equal rounds
    var prevEdges = edges
    var prevCount = edges.count()
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // large-star over the symmetrized view: for each center src,
      // m = min(Γ(src) ∪ {src}); larger neighbors re-attach to m
      val sym = edges.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
      val minsL = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      // r14 shuffle elision: repartition on u BEFORE the distinct — hash(u)
      // satisfies the distinct's (u, v) clustering, keeps the frame
      // partitioned by u for the small-star aggregate AND its self-join,
      // and the same trick on `small` pre-partitions the next round's
      // truncated frame. Saves 2 exchanges per round (guide §2.4); the
      // row sets are untouched.
      // SKEW BOUND (VERDICT r14 item 8, guide §2.5): hash(u) concentrates
      // a star center's edges on one partition, so on a skewed 100 TB
      // graph the elided exchange trades a shuffle for a potential
      // straggler. The alternating rules bound it STRUCTURALLY: large-star
      // keys every (u, v) by the LARGER endpoint, so a component's edges
      // spread across its non-minimum nodes (a size-g star contributes ≤
      // deg(u) ≤ g rows per key but across g distinct keys), and
      // small-star's per-u group is bounded by u's current smaller-
      // neighbor count, which large-star just shrank toward the single
      // component minimum — the hot key holds ≤ |component| rows for ONE
      // round before collapsing to star edges. If a single component
      // approaches partition-sized |V| (the pathological all-connected
      // corpus), re-enable AQE skew handling by keying the repartition on
      // (u, pmod(xxhash64(v), salt)) and letting the distinct re-shuffle —
      // the elision is an optimization, never a correctness dependency
      // (checked on the 10× ScaleStress CC row: no single-partition
      // straggler, OPTIMIZATION_r15.md; `Probe time` re-times the 1×/10×
      // q_dedup_components and q_embed_dbscan pairs, PLANS.md 10× table).
      val large = sym.join(minsL, "src").where(col("dst") > col("src"))
        .select(col("dst").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .repartition(col("u")).distinct()
      // small-star over the directed result (all edges u > v): each
      // center u attaches its smaller neighbors AND itself to their min
      val minsS = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(minsS, "u")
        .select(col("v").as("x"), col("m"))
        .unionByName(minsS.select(col("u").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v"))
        .repartition(col("u")).distinct()
      edges = Caching.checkpoint(small)
      val curCount = edges.count()
      converged = curCount == prevCount &&
        edges.exceptAll(prevEdges).isEmpty
      prevEdges = edges
      prevCount = curCount
      i += 1
    }
    // at the fixpoint edges are (node, root) stars; roots (and any
    // endpoint that became one) label themselves. The defensive min-agg
    // keeps one row per node even when maxIter truncates pre-fixpoint
    // (same partial-result semantics as the min-label engine).
    val allNodes = p.select(col("id_a").as("doc_id"))
      .unionByName(p.select(col("id_b").as("doc_id"))).distinct()
    val attached = edges.groupBy(col("u")).agg(min(col("v")).as("family_id"))
      .select(col("u").as("doc_id"), col("family_id"))
    allNodes.join(attached, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("family_id"), col("doc_id")).as("family_id"))
  }

  /** Corpus DUPLICATION PROFILE — the family-size histogram every dedup
    * paper reports (how much of the corpus is duplicated, and in how large
    * clusters): near-dup families from [[connectedComponents]] plus every
    * unpaired document as a singleton family, rolled up to one row per
    * family size: (family_size, n_families, n_docs). Duplicate fraction,
    * shrink-after-dedup, and the long-tail "one doc repeated 10k times"
    * pathology all read directly off this table.
    *
    * Shape: the CC rounds dominate; the profile itself is two bounded
    * aggregates (family-keyed, then size-keyed — output rows = distinct
    * family sizes) and one anti-join for the singleton count. No new
    * scale surface beyond the components it consumes.
    */
  def duplicationProfile(df: DataFrame, pairs: DataFrame, idCol: String,
      maxIter: Int = 20): DataFrame = {
    val fam = connectedComponents(pairs, maxIter)
      .transform(Caching.persist)
    val famSizes = fam.groupBy(col("family_id"))
      .agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size"))
      .agg(count(lit(1)).as("n_families"))
    val nSingles = df.select(col(idCol).as("doc_id"))
      .join(fam.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_families"))
      .select(lit(1L).as("family_size"), col("n_families"))
      .where(col("n_families") > 0)
    famSizes.unionByName(nSingles)
      .groupBy(col("family_size"))
      .agg(sum(col("n_families")).as("n_families"))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"))
  }

  /** DuckDB replay of [[duplicationProfile]] over `pairsSql`'s pairs. */
  def duplicationProfileOracleSql(pairsSql: String,
      table: String = "documents", idCol: String = "doc_id"): String =
    s"""WITH fam AS (${componentsOracleSql(pairsSql)}),
       |fs AS (SELECT family_id, count(*)::BIGINT AS family_size
       |       FROM fam GROUP BY family_id),
       |hist AS (
       |  SELECT family_size, count(*)::BIGINT AS n_families
       |  FROM fs GROUP BY family_size
       |  UNION ALL
       |  SELECT 1::BIGINT, count(*)::BIGINT FROM $table t
       |  WHERE NOT EXISTS (SELECT 1 FROM fam WHERE fam.doc_id = t.$idCol)
       |  HAVING count(*) > 0)
       |SELECT family_size, sum(n_families)::BIGINT AS n_families,
       |       (family_size * sum(n_families))::BIGINT AS n_docs
       |FROM hist GROUP BY family_size""".stripMargin

  /** Quality-aware dedup retention: [[connectedComponents]] families with
    * the BEST-quality member as the keeper (ties to the lower doc id)
    * instead of the min-id default — what a curation pass actually wants
    * when near-duplicates differ in cleanliness. `quality` is (doc_id,
    * score); returns every family member as (doc_id, family_id, keep_id,
    * score). One window over families (tiny by construction — duplicate
    * clusters, not the corpus), full-frame `first` so keeper and members
    * come out of a single pass.
    *
    * "Every family member" is honored even when the quality frame misses
    * some of them: members without a quality row are LEFT-joined in with a
    * −Inf default score (never the keeper unless the whole family is
    * unscored, ties still to the lower doc id) instead of silently vanishing
    * — an inner join here would both drop rows and, worse, silently change
    * the keeper when the missing member would have won.
    */
  def keepBest(pairs: DataFrame, quality: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val fam = connectedComponents(pairs, maxIter)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("family_id"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    fam.join(quality, Seq("doc_id"), "left")
      .withColumn("score", coalesce(col("score"), lit(Double.NegativeInfinity)))
      .select(col("doc_id"), col("family_id"),
        first(col("doc_id")).over(w).as("keep_id"),
        round(col("score"), 6).as("score"))
  }

  /** Leakage-safe train/val/test split: hash-bucket assignment keyed by the
    * near-duplicate FAMILY representative instead of the document id, so a
    * family can never straddle the train/eval boundary — the split-time
    * guard against near-duplicate leakage (a training doc's near-copy in
    * the validation set silently inflates eval scores; family-keying is how
    * production corpora close it). Documents in no family key by their own
    * id, reproducing the plain content-stable split for them; percentages
    * are cut points on the same md5 bucket in [0, 100). Returns `df`'s
    * rows + (family_id — null when unpaired, split). One [[connectedComponents]]
    * run + a broadcast-sized left join of the family table (families are
    * duplicate clusters, not the corpus); no extra corpus shuffle beyond it.
    */
  def leakSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10,
      maxIter: Int = 20): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      "need 0 < trainPct, 0 <= valPct, trainPct + valPct < 100")
    val fam = connectedComponents(pairs, maxIter)
      .select(col("doc_id").as("__fid_doc"), col("family_id"))
    val keyed = df.join(fam, col(idCol) === col("__fid_doc"), "left")
      .drop("__fid_doc")
      .withColumn("__skey",
        coalesce(col("family_id"), col(idCol)).cast("string"))
    keyed
      .withColumn("__b", portableHash(col("__skey")) % 100L)
      .withColumn("split",
        when(col("__b") < trainPct, "train")
          .when(col("__b") < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("__skey", "__b")
  }

  /** DuckDB replay of [[leakSafeSplit]] over `pairsSql`'s pairs: the same
    * recursive-closure families, the same family-keyed md5 bucket.
    */
  def leakSafeSplitOracleSql(pairsSql: String, trainPct: Int = 80,
      valPct: Int = 10, table: String = "documents",
      idCol: String = "doc_id"): String =
    s"""WITH fam AS (${componentsOracleSql(pairsSql)}),
       |k AS (
       |  SELECT t.*, fam.family_id,
       |         coalesce(fam.family_id, t.$idCol)::VARCHAR AS skey
       |  FROM $table t LEFT JOIN fam ON fam.doc_id = t.$idCol),
       |b AS (SELECT k.*, ('0x' || substr(md5(skey), 1, 15))::BIGINT % 100 AS bk
       |      FROM k)
       |SELECT * EXCLUDE (skey, bk),
       |       CASE WHEN bk < $trainPct THEN 'train'
       |            WHEN bk < ${trainPct + valPct} THEN 'val'
       |            ELSE 'test' END AS split
       |FROM b""".stripMargin

  /** DuckDB replay of [[keepBest]] over `pairsSql`'s pair output.
    * `scoreExpr` must compute the same per-document quality the Spark call
    * was given.
    */
  def keepBestOracleSql(pairsSql: String, scoreExpr: String,
      table: String = "documents", idCol: String = "doc_id"): String =
    s"""WITH fam AS (${componentsOracleSql(pairsSql)}),
       |q AS (SELECT $idCol AS doc_id, ($scoreExpr)::DOUBLE AS score
       |      FROM $table)
       |SELECT f.doc_id, f.family_id,
       |       first_value(f.doc_id) OVER (
       |         PARTITION BY f.family_id ORDER BY q.score DESC, f.doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |         AS keep_id,
       |       round(q.score, 6) AS score
       |FROM fam f JOIN q USING (doc_id)""".stripMargin

  /** DuckDB SQL: connected components of `pairsSql`'s (id_a, id_b) output
    * via a recursive transitive closure, label = min reachable node. Fine at
    * oracle scale (closure is per-component quadratic; duplicate families
    * are tiny); the Spark side is the one built for big graphs.
    */
  def componentsOracleSql(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($pairsSql)),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
       |SELECT a AS doc_id, least(a, min(b)) AS family_id
       |FROM reach GROUP BY a""".stripMargin

  /** SimHash near-dup pairs: 64-bit simhash per doc (custom codegen'd
    * Catalyst expression), 4×16-bit band blocking (a pair within Hamming
    * distance ≤ 3 of a 64-bit key shares at least one of 4 bands — the
    * pigeonhole guarantee), then exact Hamming verification via
    * `bit_count(xor)`.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val hashed = df.select(col(idCol).as("id"),
      SimHash.simhash64(TextAnalysis.tokens(col(textCol))).as("sh"))
    hammingBandPairs(hashed, bands = 4, bandBits = 16, hashBits = 64,
      maxHamming = maxHamming, maxBucket = maxBucket)
  }

  /** Generic Hamming band-blocking over any (id, sh) 64-bit-or-narrower
    * fingerprint table — the blocking step [[simhashPairs]],
    * [[simhashPairsPortable]], and the image dHash near-dup share: a pair
    * within Hamming distance < `bands` of a `bands`×`bandBits` key shares
    * at least one band (pigeonhole), so candidates come from band-key
    * equi-joins (never all-pairs), skewed band buckets are DROPPED whole
    * by [[capBuckets]] (deterministic, never sampled), and the exact
    * `bit_count(xor)` verify runs only on candidates. Emits verified
    * (id_a, id_b, hamming) with id_a < id_b.
    *
    * `hashBits` is the caller's declared fingerprint width: the pigeonhole
    * argument only holds when the bands COVER the fingerprint — banding
    * just the low 32 bits of a 64-bit hash silently loses every pair whose
    * differing bits all sit in the unbanded half, so under-coverage is a
    * hard error rather than a recall leak.
    */
  def hammingBandPairs(hashed: DataFrame, bands: Int, bandBits: Int,
      hashBits: Int, maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming < bands,
      s"$bands-band blocking only guarantees recall for hamming < $bands")
    require(bands * bandBits >= hashBits,
      s"$bands bands x $bandBits bits cover ${bands * bandBits} bits < " +
        s"the $hashBits-bit fingerprint; unbanded high bits break the " +
        "pigeonhole recall guarantee")
    require(hashBits >= 1 && hashBits <= 64 && bandBits >= 1 && bandBits <= 64,
      "fingerprints ride a 64-bit carrier")
    val banded = hashed.select(col("id"), col("sh"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sh"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("key"))): _*)).as("bb"))
      .select(col("id"), col("sh"), col("bb.band"), col("bb.key"))

    // persisted: the self-join reads it twice (otherwise the signature
    // pipeline upstream executes twice)
    val bucketed = capBuckets(banded, Seq("band", "key"), maxBucket)
      .transform(Caching.persist)

    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------------------------------------------------------------------
  // Portable (oracle-checkable) MinHash: every hash is md5-derived, so the
  // *identical* pipeline replays in any SQL engine with md5() — the driver
  // can hash-check candidate generation + verification end to end, not just
  // recall-test it. Same scale design as [[minhashPairs]].
  // ---------------------------------------------------------------------

  /** Modulus for the portable hash family: 2^31-1 (Mersenne prime). Base
    * hashes are reduced mod P *before* the affine step so `a*h+b < 2^62` —
    * portable to engines where int64 overflow is an error, not a wrap.
    */
  val PortablePrime: Long = 2147483647L

  /** THE portable md5 → int64 recipe every cross-engine tier shares: the
    * first 15 hex digits of md5 as a long — replayed in DuckDB as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. One definition so the
    * Spark side can never drift from the oracles' inlined SQL form (15
    * digits keeps the value < 2^60, inside exact int64 on both engines).
    */
  def portableHash(c: Column): Column =
    // one compiled digest→long expression; value-identical to
    // conv(substring(md5(c), 1, 15), 16, 10)::long (the pre-r15
    // formulation — see [[graft.functions.PortableHash60]], whose spec
    // pins the identity). The SQL chain materialized three intermediate
    // strings per row on the hot path of every portable operator.
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.PortableHash60(
        org.apache.spark.sql.graftshim.GraftShim.expression(
          c.cast("string"))))

  /** Deterministic affine-family coefficients (a_j, b_j) from a fixed
    * MINSTD generator, so the Spark pipeline and the generated oracle SQL
    * share the exact same hash family.
    */
  def portableCoefficients(numHashes: Int): IndexedSeq[(Long, Long)] = {
    var x = 1103515245L % PortablePrime
    def next(): Long = { x = (x * 48271L) % PortablePrime; x }
    (1 to numHashes).map(_ => (next(), next()))
  }

  /** md5-derived shingle-hash sets: (id, hs: array<long>) with
    * hs = distinct (first 60 md5 bits mod P) of each word-ngram shingle.
    * Persisted: consumed by the signature and verification paths of
    * [[minhashPairsPortable]] AND by [[minhashBandClaims]] — plan-identical
    * builds share one cache entry via cache-manager canonicalization.
    */
  private def portableShingleHashes(df: DataFrame, idCol: String,
      textCol: String, ngram: Int): DataFrame =
    shingleTable(df, idCol, textCol, ngram)
      .select(col("id"), array_distinct(transform(col("sh"),
        s => portableHash(s)
          % PortablePrime)).as("hs"))
      .transform(Caching.persist)

  /** MinHash+LSH near-dup pairs, portable-hash variant of [[minhashPairs]]:
    * shingle → md5 hash set → affine minhash signature → band equi-join
    * (bucket key = the band's r signature values, joined as an array) →
    * exact-Jaccard verification. Deterministic end to end; DuckDB replay
    * comes from [[minhashOracleSql]] with the same constants.
    */
  def minhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 2, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val cs = portableCoefficients(numHashes)
    val hashed = portableShingleHashes(df, idCol, textCol, ngram) // persisted

    // signature via explode + hash-aggregate rather than per-row HOF folds:
    // Spark's higher-order functions are CodegenFallback (interpreted), so
    // numHashes array_min(transform(...)) passes are the slow path, while
    // min() aggregates over the exploded hashes stay in whole-stage codegen
    // with map-side partial aggregation (the shuffle carries numHashes longs
    // per doc per partition — fine at any scale)
    val minCols = cs.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % PortablePrime).as(s"mh$j")
    }
    val sig = hashed
      .select(col("id"), explode(col("hs")).as("h"))
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(j => col(s"mh$j")): _*).as("sig"))

    val banded = sig
      .select(col("id"), posexplode(array((0 until bands).map(bd =>
        slice(col("sig"), bd * r + 1, r)): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))

    val bucketed = capBuckets(banded, Seq("band", "bucket"), maxBucket)
      .transform(Caching.persist)

    val candidates = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    verifyJaccard(candidates,
      hashed.select(col("id"), col("hs").as("shingles")), threshold)
  }

  /** Batch analogue of
    * [[graft.streaming.EventStreams.streamingMinhashDedup]]'s claim
    * semantics: per (band, bucket) the winning (minimum) doc id and the
    * claim count — what the streaming dedup's state would contain after the
    * whole corpus passed. Ties the streaming operator's semantics into the
    * batch correctness gate via [[bandClaimsOracleSql]].
    */
  def minhashBandClaims(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 2, numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val cs = portableCoefficients(numHashes)
    val minCols = cs.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % PortablePrime).as(s"mh$j")
    }
    val sig = portableShingleHashes(df, idCol, textCol, ngram)
      .select(col("id"), explode(col("hs")).as("h"))
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(j => col(s"mh$j")): _*).as("sig"))
    sig
      .select(col("id"), posexplode(array((0 until bands).map(bd =>
        concat_ws(",", transform(slice(col("sig"), bd * r + 1, r),
          x => x.cast("string")))): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket_key"))
      .groupBy(col("band"), col("bucket_key"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_claims"))
  }

  /** DuckDB SQL replaying [[minhashBandClaims]] value-for-value. */
  def bandClaimsOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 16, bands: Int = 8): String = {
    val P = PortablePrime
    val r = numHashes / bands
    val sigExprs = portableCoefficients(numHashes).map { case (a, b) =>
      s"list_aggregate(list_transform(hs, h -> ($a * h + $b) % $P), 'min')"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { bd =>
      val lo = bd * r + 1
      s"SELECT id, $bd AS band, array_to_string(sig[$lo:${lo + r - 1}], ',') AS bucket_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT $idCol AS id,
       |         ${TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |strsh AS (
       |  SELECT id, list_distinct(list_transform(range(1, len(toks)),
       |                i -> toks[i] || ' ' || toks[i + 1])) AS strsh
       |  FROM toks WHERE len(toks) >= 2),
       |hs AS (
       |  SELECT id, list_distinct(list_transform(strsh,
       |                s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $P)) AS hs
       |  FROM strsh),
       |sig AS (
       |  SELECT id, [$sigExprs] AS sig FROM hs),
       |banded AS (
       |  $bandSelects)
       |SELECT band, bucket_key, min(id) AS keep_id, count(*) AS n_claims
       |FROM banded GROUP BY band, bucket_key""".stripMargin
  }

  /** Bit width of the portable SimHash (60 = the bits in 15 md5 hex chars).
    * Width buys precision: at hamming ≤ 3, 60 bits kept 13 truly-near pairs
    * on the sf0.01 corpus where 32 bits passed 1327 — and narrower widths
    * measured no codegen/compile savings, so full width wins.
    */
  val PortableSimhashBits: Int = 60

  /** SimHash near-dup pairs, portable-hash variant of [[simhashPairs]]:
    * token hashes are the first 60 md5 bits, the per-bit ±1 vote is folded
    * with `aggregate`/`zip_with` (codegen'd, one pass over the tokens), and
    * blocking is 4 bands × 15 bits (pigeonhole guarantee for hamming ≤ 3).
    * Deterministic and engine-portable → oracle via [[simhashOracleSql]].
    * Docs with no tokens are dropped (a signature over zero tokens is
    * meaningless, and it keeps the engines' group sets identical).
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    val bits = PortableSimhashBits
    // explode + codegen'd hash-aggregate (±1 vote sum per bit) rather than a
    // per-row HOF fold: higher-order functions are CodegenFallback, while 60
    // sum() columns over the exploded tokens stay in whole-stage codegen
    // with map-side partial aggregation. Docs with no tokens drop out of the
    // explode — same group set as the oracle's unnest.
    val tok = df
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .select(col("id"),
        portableHash(col("t")).as("h"))
    val voteCols = (0 until bits).map(b =>
      sum(shiftrightunsigned(col("h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"c$b"))
    val sig = tok.groupBy(col("id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("id"),
        (0 until bits).map(b =>
          when(col(s"c$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
    hammingBandPairs(sig, bands = 4, bandBits = bits / 4, hashBits = bits,
      maxHamming = maxHamming, maxBucket = maxBucket)
  }

  /** DuckDB SQL replaying [[simhashPairsPortable]] value-for-value: same
    * md5 token hashes, same ±1 votes (one `sum` per bit), same band keys,
    * same hamming verify.
    */
  def simhashOracleSql(table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      maxBucket: Int = 10000): String = {
    val bits = PortableSimhashBits
    val bandWidth = bits / 4
    val cntExprs = (0 until bits).map(b =>
      s"sum(((h >> $b) & 1) * 2 - 1) AS c$b").mkString(",\n    ")
    val sigExpr = (0 until bits).map(b =>
      s"(CASE WHEN c$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val bandSelects = (0 until 4).map { b =>
      s"SELECT id, sh, $b AS band, (sh >> ${b * bandWidth}) & ${(1L << bandWidth) - 1} AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT $idCol AS id,
       |         ${TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |h AS (
       |  SELECT id, ('0x' || substr(md5(unnest(toks)), 1, 15))::BIGINT AS h
       |  FROM toks WHERE len(toks) >= 1),
       |cnt AS (
       |  SELECT id,
       |    $cntExprs
       |  FROM h GROUP BY id),
       |sig AS (
       |  SELECT id, $sigExpr AS sh FROM cnt),
       |banded AS (
       |  $bandSelects),
       |bucketed AS (
       |  SELECT id, sh, band, key FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $maxBucket),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
       |  FROM pairs)
       |WHERE hamming <= $maxHamming""".stripMargin
  }

  /** DuckDB SQL replaying [[minhashPairsPortable]] value-for-value (same
    * md5 base hash, same coefficients, same banding, same exact-Jaccard
    * verify). `ngram` is fixed at 2 — the word-bigram shingler is inlined.
    */
  def minhashOracleSql(table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 1000): String = {
    val P = PortablePrime
    val r = numHashes / bands
    val sigExprs = portableCoefficients(numHashes).map { case (a, b) =>
      s"list_aggregate(list_transform(hs, h -> ($a * h + $b) % $P), 'min')"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { bd =>
      val lo = bd * r + 1
      s"SELECT id, $bd AS band, sig[$lo:${lo + r - 1}] AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT $idCol AS id,
       |         ${TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |strsh AS (
       |  SELECT id, list_distinct(list_transform(range(1, len(toks)),
       |                i -> toks[i] || ' ' || toks[i + 1])) AS strsh
       |  FROM toks WHERE len(toks) >= 2),
       |hs AS (
       |  SELECT id, list_distinct(list_transform(strsh,
       |                s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % $P)) AS hs
       |  FROM strsh),
       |sig AS (
       |  SELECT id, [$sigExprs] AS sig FROM hs),
       |banded AS (
       |  $bandSelects),
       |bucketed AS (
       |  SELECT id, band, bucket FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= $maxBucket),
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |j AS (
       |  SELECT id_a, id_b,
       |         len(list_intersect(ha.hs, hb.hs)) AS inter,
       |         len(ha.hs) AS la, len(hb.hs) AS lb
       |  FROM pairs
       |  JOIN hs ha ON ha.id = pairs.id_a
       |  JOIN hs hb ON hb.id = pairs.id_b)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |         inter::DOUBLE / (la + lb - inter)::DOUBLE AS jaccard FROM j)
       |WHERE jaccard >= $threshold""".stripMargin
  }

  /** Cross-document duplicated-span detection — the exact-substring tier of
    * corpus dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": verbatim long spans repeated across documents
    * drive memorization, and document-level dedup misses them when the
    * surrounding text differs). Every length-`spanLen` token window is
    * fingerprinted with [[portableHash]] of the space-joined span, and a
    * span occurring in at least `minDocs` DISTINCT documents marks every
    * position where it appears. Fingerprints keep [[portableHash]]'s full
    * 60-bit space — a mod-2^31 narrowing would collide unrelated spans
    * corpus-wide at 1e12-span scale. Emits (doc_id, pos, span_fp, n_docs) —
    * pos is the 1-based token index — exactly the input a downstream
    * strip/mask pass needs.
    *
    * Scale shape: positions are exploded FIRST and the md5 fingerprint
    * computed per exploded row, so the hot path is whole-stage-codegen'd
    * scalar hashing, not an interpreted higher-order fold (the
    * minhashAggCols lesson). The occurrence table is O(total tokens) rows
    * of three longs — the same order of work as tokenizing the corpus —
    * followed by one fingerprint-keyed groupBy (two-phase count-distinct,
    * map-side partials) and an equi self-join on span_fp that AQE
    * broadcasts whenever the duplicated-span set is small (the usual
    * case). No pair enumeration, no quadratic step anywhere; skew is
    * bounded because a span fingerprint's fan-in is the number of its
    * occurrences, already capped by the corpus itself.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int, minDocs: Long = 2L): DataFrame = {
    require(spanLen >= 2, "spanLen must be at least 2")
    // persisted: consumed twice (the dup aggregate and the join-back), and
    // compositions like stripSpans read the result again — without this
    // the tokenize + shingle + md5 pass re-executes per consumer. Same
    // cache-manager canonicalization note as minhashPairs' shingle table.
    val occ = df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= spanLen)
      .select(col("doc_id"),
        posexplode(TextAnalysis.wordNgrams(col("toks"), spanLen)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        portableHash(col("col")).as("span_fp"))
      .transform(Caching.persist)
    val dup = occ.groupBy(col("span_fp"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    occ.join(dup, "span_fp")
      .select(col("doc_id"), col("pos"), col("span_fp"), col("n_docs"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    * algorithm): hash every k-token gram, slide a w-hash window, keep each
    * window's minimum — the selected set is a position-robust document
    * sketch with the guarantee that any shared run of ≥ w+k-1 tokens
    * shares at least one fingerprint. The density-vs-guarantee dial
    * ([[dupSpans]] keeps every gram; winnowing keeps ~2/(w+1) of them) for
    * corpora where storing all-gram fingerprints is too much index.
    *
    * Shape: grams posexplode to (doc, i, h) rows, the window minimum is a
    * codegen'd `min() OVER (ROWS CURRENT..w-1 FOLLOWING)` — NOT a nested
    * `transform(slice)` lambda (interpreted, O(n·w) per doc) — then
    * distinct per doc. One per-doc sort (the window), one distinct
    * aggregate; linear in token count. Docs with at least one gram but
    * fewer than w of them contribute their global-min gram (the standard
    * short-doc degeneration). Returns distinct (doc_id, fp) rows.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, "k and w must be positive")
    val grams = df.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(TextAnalysis.wordNgrams(col("toks"), k)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        portableHash(col("col")).as("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    val part = Window.partitionBy(col("doc_id"))
    grams.select(col("doc_id"), col("i"),
        min(col("h")).over(win).as("fp"),
        count(lit(1)).over(part).as("n"))
      // windows that would run past the last gram select a suffix minimum
      // already covered by the last FULL window — drop them, except the
      // degenerate short doc (n < w) which keeps its single global min
      .where(col("i") <= greatest(col("n") - w, lit(0L)))
      .select(col("doc_id"), col("fp")).distinct()
  }

  /** DuckDB replay of [[winnowFingerprints]] value-for-value (same window
    * frame, same full-width md5 gram hash).
    */
  def winnowOracleSql(k: Int = 3, w: Int = 4, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String = {
    val gram = (1 to k).map(j => s"toks[i + ${j - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id, ${TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |grams AS (
       |  SELECT doc_id,
       |         unnest(range(1, len(toks) - ${k - 2}))::BIGINT - 1 AS i,
       |         unnest(list_transform(range(1, len(toks) - ${k - 2}),
       |           i -> ('0x' || substr(md5($gram), 1, 15))::BIGINT)) AS h
       |  FROM toks WHERE len(toks) >= $k),
       |mins AS (
       |  SELECT doc_id, i,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |           ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp,
       |         count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM grams)
       |SELECT DISTINCT doc_id, fp FROM mins
       |WHERE i <= greatest(n - $w, 0)""".stripMargin
  }

  /** The match step over [[winnowFingerprints]] — MOSS's pair report: doc
    * pairs sharing at least `minShared` selected fingerprints, with the
    * shared count as the similarity signal. Same blocking shape as every
    * dedup tier here: an equi self-join on the fingerprint (never a pair
    * scan), with [[capBuckets]] dropping stop-gram-like fingerprints whose
    * fan-in would explode the join (a fingerprint shared by thousands of
    * docs identifies boilerplate, not a pair — the cap IS the right
    * semantics, and the count survives in `n_shared` for the pairs kept).
    * Returns (id_a, id_b, n_shared) with id_a < id_b.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxBucket: Int = 1000): DataFrame = {
    val fps = capBuckets(winnowFingerprints(df, idCol, textCol, k, w),
      Seq("fp"), maxBucket)
      .transform(Caching.persist)
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Cross-stratum content-overlap matrix — "how much does source A share
    * with source B?", the corpus-health diagnostic behind dataset-mixing
    * decisions (two crawls of the same sites should be merged, not
    * double-weighted) and cross-source contamination audits. Each stratum
    * is reduced to its DISTINCT winnow fingerprints ([[winnowFingerprints]]
    * — the same index the pair tiers share), fingerprints present in more
    * than `maxStrata` strata are dropped as boilerplate (the stop-gram
    * rule: a shingle in every source identifies a template, not shared
    * content — and it is also the Σ strata² join-fan-in guard), then one
    * equi self-join on the fingerprint counts shared fingerprints per
    * stratum pair. Returns (src_a, src_b, shared, n_a, n_b, jaccard) with
    * src_a < src_b; totals are post-cap so the Jaccard is over the same
    * fingerprint universe on both axes; pairs sharing nothing are absent
    * (the matrix is sparse by construction).
    *
    * Scale: work is Σ_fp (#strata with fp)² ≤ maxStrata² · #fps — never
    * corpus², never #strata² · corpus; the per-stratum reduction is one
    * distinct over the fingerprint table.
    */
  def sourceOverlap(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, k: Int = 3, w: Int = 4,
      maxStrata: Int = 100): DataFrame = {
    val sfp = winnowFingerprints(df, idCol, textCol, k, w)
      .join(df.select(col(idCol).as("doc_id"),
        col(stratumCol).as("stratum")), "doc_id")
      .select(col("stratum"), col("fp")).distinct()
    val capped = capBuckets(sfp, Seq("fp"), maxStrata)
      .transform(Caching.persist)
    val tot = capped.groupBy(col("stratum")).agg(count(lit(1)).as("n"))
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.stratum") < col("b.stratum"))
      .groupBy(col("a.stratum").as("src_a"), col("b.stratum").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(tot.select(col("stratum").as("src_a"), col("n").as("n_a")), "src_a")
      .join(tot.select(col("stratum").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"), 6)
          .as("jaccard"))
  }

  /** DuckDB replay of [[sourceOverlap]] value-for-value (same winnow
    * index, same stop-fingerprint cap, same post-cap totals).
    */
  def sourceOverlapOracleSql(k: Int = 3, w: Int = 4, maxStrata: Int = 100,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", stratumCol: String = "source"): String =
    s"""WITH fps AS (${winnowOracleSql(k, w, table, idCol, textCol)}),
       |sfp AS (
       |  SELECT DISTINCT d.$stratumCol AS stratum, f.fp
       |  FROM fps f JOIN $table d ON d.$idCol = f.doc_id),
       |capped AS (
       |  SELECT stratum, fp FROM sfp
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= $maxStrata),
       |tot AS (SELECT stratum, count(*)::BIGINT AS n
       |        FROM capped GROUP BY stratum),
       |sh AS (
       |  SELECT a.stratum AS src_a, b.stratum AS src_b,
       |         count(*)::BIGINT AS shared
       |  FROM capped a JOIN capped b
       |    ON a.fp = b.fp AND a.stratum < b.stratum
       |  GROUP BY 1, 2)
       |SELECT sh.src_a, sh.src_b, sh.shared, ta.n AS n_a, tb.n AS n_b,
       |       round(sh.shared::DOUBLE
       |             / (ta.n + tb.n - sh.shared)::DOUBLE, 6) AS jaccard
       |FROM sh JOIN tot ta ON ta.stratum = sh.src_a
       |        JOIN tot tb ON tb.stratum = sh.src_b""".stripMargin

  /** DuckDB replay of [[winnowPairs]] value-for-value. */
  def winnowPairsOracleSql(k: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxBucket: Int = 1000, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH fps AS (${winnowOracleSql(k, w, table, idCol, textCol)}),
       |capped AS (
       |  SELECT doc_id, fp FROM fps
       |  QUALIFY count(*) OVER (PARTITION BY fp) <= $maxBucket)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       count(*)::BIGINT AS n_shared
       |FROM capped a JOIN capped b
       |  ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin

  /** The strip step completing [[dupSpans]]'s detect step (Lee et al. 2022
    * remove the repeated substrings, keep the unique remainder): every
    * token covered by any flagged span in `flagged` (doc_id, pos — a
    * [[dupSpans]] output, possibly filtered by policy first) is deleted
    * and the survivors are rejoined in order, ORIGINAL CASE preserved
    * (the rejoin normalizes whitespace runs to single spaces — the one
    * canonicalization this token-level strip imposes). Docs flagged
    * wall-to-wall come back with
    * empty text (the caller's quality floor drops them). Shape: flagged
    * positions explode to covered token indexes (L rows per span — span
    * count ≪ token count after the ≥minDocs filter), one distinct, one
    * left_anti against the posexploded corpus, one per-doc sorted
    * reassembly — all key-partitioned, nothing driver-sized. Returns
    * (doc_id, text).
    */
  def stripSpans(df: DataFrame, idCol: String, textCol: String,
      flagged: DataFrame, spanLen: Int): DataFrame = {
    val covered = flagged
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (spanLen - 1))).as("idx"))
      .distinct()
    // reassembly splits the ORIGINAL text (same \s+ split as the
    // fingerprint tokenizer, so positions align 1:1 with dupSpans' flags)
    // but WITHOUT lower(): surviving tokens keep their case — only
    // whitespace is normalized by the rejoin
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(filter(split(col(textCol), "\\s+"), t => t =!= "")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("idx"),
        col("col").as("tok"))
    val kept = toks.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("tok")))),
        s => s.getField("tok")), " ").as("text"))
    // docs whose every token was flagged vanish from `kept` — restore them
    // with empty text so the output stays row-aligned with the input
    df.select(col(idCol).as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** DuckDB replay of [[dupSpans]] → [[stripSpans]] chained end-to-end. */
  /** Original-case \s+ token split (the strip-side tokenizer — same
    * positions as [[TextAnalysis.toksSql]], no lower()).
    */
  private def rawToksSql(textCol: String): String =
    s"CASE WHEN trim($textCol) = '' THEN []::VARCHAR[] " +
      s"ELSE list_filter(string_split_regex($textCol, '\\s+'), t -> t <> '') END"

  def stripSpansOracleSql(spanLen: Int, minDocs: Long = 2L,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH flagged AS (${dupSpansOracleSql(spanLen, minDocs, table, idCol, textCol)}),
       |covered AS (
       |  SELECT DISTINCT doc_id, pos + i AS idx
       |  FROM flagged, unnest(generate_series(0, ${spanLen - 1})) AS u(i)),
       |toks AS (
       |  SELECT $idCol AS doc_id,
       |         unnest(${rawToksSql(textCol)}) AS tok,
       |         unnest(generate_series(1,
       |           len(${rawToksSql(textCol)}))) AS idx
       |  FROM $table),
       |kept AS (
       |  SELECT t.doc_id,
       |         string_agg(t.tok, ' ' ORDER BY t.idx) AS text
       |  FROM toks t LEFT JOIN covered c
       |    ON c.doc_id = t.doc_id AND c.idx = t.idx
       |  WHERE c.doc_id IS NULL
       |  GROUP BY t.doc_id)
       |SELECT d.$idCol AS doc_id, coalesce(kept.text, '') AS text
       |FROM $table d LEFT JOIN kept ON kept.doc_id = d.$idCol""".stripMargin

  /** DuckDB replay of [[dupSpans]] value-for-value (paired unnests zip
    * positionally, replaying posexplode; same md5-mod-prime fingerprint).
    */
  def dupSpansOracleSql(spanLen: Int, minDocs: Long = 2L,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val gram =
      (1 to spanLen).map(j => s"toks[i + ${j - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS (
       |  SELECT $idCol AS doc_id,
       |         ${TextAnalysis.toksSql(textCol)} AS toks
       |  FROM $table),
       |occ AS (
       |  SELECT doc_id,
       |         unnest(range(1, len(toks) - ${spanLen - 2}))::BIGINT AS pos,
       |         unnest(list_transform(range(1, len(toks) - ${spanLen - 2}),
       |           i -> ('0x' || substr(md5($gram), 1, 15))::BIGINT))
       |           AS span_fp
       |  FROM toks WHERE len(toks) >= $spanLen),
       |dup AS (
       |  SELECT span_fp, count(DISTINCT doc_id)::BIGINT AS n_docs
       |  FROM occ GROUP BY span_fp
       |  HAVING count(DISTINCT doc_id) >= $minDocs)
       |SELECT occ.doc_id, occ.pos, occ.span_fp, dup.n_docs
       |FROM occ JOIN dup USING (span_fp)""".stripMargin
  }

  /** Global first-occurrence SEGMENT dedup — the paragraph/line-level
    * dedup pass of Dolma/RefinedWeb-style curation, sitting between
    * document-level exact dedup (misses shared boilerplate inside
    * otherwise-distinct docs) and [[dupSpans]] (flags every repeat; this
    * pass KEEPS one canonical copy). Each doc is cut into consecutive
    * non-overlapping `segLen`-token segments; a segment whose normalized
    * fingerprint has been seen before (globally, in (doc, seg) order)
    * is dropped; the corpus-wide FIRST occurrence survives. Docs are then
    * reassembled from their surviving segments.
    *
    * The fingerprint tokenizer is the shared lowercase `\s+` split
    * ([[TextAnalysis.tokens]]) so case/spacing variants of a boilerplate
    * block collide; reassembly re-slices the ORIGINAL text (same split,
    * no lower()) so surviving segments keep their case — only whitespace
    * is normalized by the rejoin, exactly [[stripSpans]]' contract.
    *
    * Emits (doc_id, total_segs, kept_segs, text) for every input doc
    * (fully-duplicate docs keep 0 segments and an empty string — the
    * row stays, so the pass composes with downstream length filters).
    *
    * Scale shape: segmentation is a generator (no shuffle); the
    * first-occurrence winner is one fingerprint-keyed `min(struct)`
    * aggregate — no window over the corpus, no pair join anywhere; the
    * rebuild is one doc-keyed aggregate. O(total tokens) end to end,
    * the same budget as a tokenizing scan.
    *
    * `perDoc = true` narrows the winner scope to WITHIN each document
    * (key = (doc, fingerprint) instead of fingerprint): repeated
    * paragraphs inside one doc collapse to their first occurrence while
    * cross-doc repeats survive — the Gopher-repetition REPAIR step
    * (detecting is [[TextAnalysis.repetitionStats]]'s job; this removes).
    * The doc-keyed winner aggregate makes the per-doc tier shuffle on
    * (doc, fp) — even boilerplate fingerprints shared by millions of
    * docs cannot hot-spot one reducer.
    */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segLen: Int, perDoc: Boolean = false): DataFrame = {
    require(segLen >= 1)
    // ONE persisted tokenizing scan carries both token layouts (its own
    // oracle does the same): the fingerprint branch, the raw-case
    // reassembly branch and the doc-id spine would otherwise each
    // re-scan and re-split the corpus text
    val base = Caching.persist(df.select(
      col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("rtoks")))
    // lowercase fingerprint segments (positions align 1:1 with the raw
    // slices below because both tokenizers split on the same \s+ rule)
    val segs = base
      .select(col("doc_id"), col("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"(size(toks) - 1) div $segLen"))).as("seg"),
        col("toks"))
      .select(col("doc_id"), col("seg"),
        md5(array_join(
          slice(col("toks"), (col("seg") * segLen + 1).cast("int"),
            lit(segLen)), " ")).as("fp"))
      .transform(Caching.persist)
    val first =
      if (perDoc)
        segs.groupBy(col("doc_id"), col("fp"))
          .agg(min(col("seg")).as("seg"))
          .select(col("fp"), col("doc_id"), col("seg"))
      else
        segs.groupBy(col("fp"))
          .agg(min(struct(col("doc_id"), col("seg"))).as("w"))
          .select(col("fp"), col("w.doc_id").as("doc_id"),
            col("w.seg").as("seg"))
    val keptKeys = segs.join(first, Seq("fp", "doc_id", "seg"))
      .select(col("doc_id"), col("seg"))
    // raw-case segment text for reassembly
    val raw = base
      .select(col("doc_id"), col("rtoks"))
      .where(size(col("rtoks")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"(size(rtoks) - 1) div $segLen"))).as("seg"),
        col("rtoks"))
      .select(col("doc_id"), col("seg"),
        array_join(slice(col("rtoks"), (col("seg") * segLen + 1).cast("int"),
          lit(segLen)), " ").as("seg_text"))
    val rebuilt = keptKeys.join(raw, Seq("doc_id", "seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_segs"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg"), col("seg_text")))),
          s => s.getField("seg_text")), " ").as("text"))
    val totals = segs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("total_segs"))
    base.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_segs"), lit(0L)).as("total_segs"),
        coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** DuckDB replay of [[dedupSegments]] value-for-value (same md5
    * segment fingerprints, same (doc, seg)-ordered first-occurrence
    * winner via row_number, same raw-case reassembly).
    */
  def dedupSegmentsOracleSql(segLen: Int, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      perDoc: Boolean = false): String = {
    val winnerPartition = if (perDoc) "doc_id, fp" else "fp"
    val rawToks =
      s"CASE WHEN trim($textCol) = '' THEN []::VARCHAR[] " +
        s"ELSE list_filter(string_split_regex($textCol, '\\s+'), t -> t <> '') END"
    s"""WITH toks AS (
       |  SELECT $idCol::BIGINT AS doc_id,
       |         ${TextAnalysis.toksSql(textCol)} AS toks,
       |         $rawToks AS rtoks
       |  FROM $table),
       |segs AS (
       |  SELECT doc_id,
       |         unnest(range(0, ((len(toks) - 1) // $segLen) + 1))::BIGINT
       |           AS seg,
       |         toks, rtoks
       |  FROM toks WHERE len(toks) >= 1),
       |fp AS (
       |  SELECT doc_id, seg,
       |         md5(array_to_string(
       |           toks[seg * $segLen + 1 : seg * $segLen + $segLen], ' '))
       |           AS fp,
       |         array_to_string(
       |           rtoks[seg * $segLen + 1 : seg * $segLen + $segLen], ' ')
       |           AS seg_text
       |  FROM segs),
       |kept AS (
       |  SELECT doc_id, seg, seg_text FROM fp
       |  QUALIFY row_number() OVER (PARTITION BY $winnerPartition
       |                             ORDER BY doc_id, seg) = 1),
       |rebuilt AS (
       |  SELECT doc_id, count(*)::BIGINT AS kept_segs,
       |         string_agg(seg_text, ' ' ORDER BY seg) AS text
       |  FROM kept GROUP BY doc_id),
       |totals AS (
       |  SELECT doc_id, count(*)::BIGINT AS total_segs
       |  FROM fp GROUP BY doc_id)
       |SELECT d.$idCol::BIGINT AS doc_id,
       |       coalesce(totals.total_segs, 0)::BIGINT AS total_segs,
       |       coalesce(rebuilt.kept_segs, 0)::BIGINT AS kept_segs,
       |       coalesce(rebuilt.text, '') AS text
       |FROM $table d
       |LEFT JOIN totals ON totals.doc_id = d.$idCol
       |LEFT JOIN rebuilt ON rebuilt.doc_id = d.$idCol""".stripMargin
  }

  /** Domain-scoped BOILERPLATE stripping — the CCNet/RefinedWeb curation
    * pass: template text repeated across many documents of the SAME
    * source (navigation, headers, legal footers) is removed from EVERY
    * document, including the first (unlike [[dedupSegments]]' winner-keeps
    * semantics, where one copy survives). A segment is boilerplate when
    * its lowercase fingerprint appears in ≥ `minDocs` DISTINCT documents
    * of one domain; other domains' identical text is untouched (a phrase
    * that is template on one site can be content on another). Returns
    * (doc_id, total_segs, kept_segs, text) — the [[dedupSegments]] shape.
    *
    * Segments are fixed-length non-overlapping token windows (the
    * [[dedupSegments]] generator), so matching is alignment-sensitive:
    * the classic line-based variant is this same pipeline with a line
    * splitter when the corpus has line structure. Scale shape: one
    * tokenizing scan, a (domain, fingerprint)-keyed distinct-doc count
    * (bounded by segment vocabulary, never corpus²), one anti-join, one
    * doc-keyed rebuild — all keyed shuffles, O(total tokens) work.
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, segLen: Int, minDocs: Int): DataFrame = {
    require(segLen >= 1 && minDocs >= 2)
    val base = Caching.persist(df.select(
      col(idCol).cast("long").as("doc_id"),
      col(domainCol).cast("string").as("dom"),
      TextAnalysis.tokens(col(textCol)).as("toks"),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("rtoks")))
    val segs = base
      .select(col("doc_id"), col("dom"), col("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), col("dom"),
        explode(sequence(lit(0L),
          expr(s"(size(toks) - 1) div $segLen"))).as("seg"),
        col("toks"))
      .select(col("doc_id"), col("dom"), col("seg"),
        md5(array_join(
          slice(col("toks"), (col("seg") * segLen + 1).cast("int"),
            lit(segLen)), " ")).as("fp"))
      .transform(Caching.persist)
    val boiler = segs.groupBy(col("dom"), col("fp"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .where(col("ndocs") >= minDocs)
      .select(col("dom"), col("fp"))
    val keptKeys = segs.join(boiler, Seq("dom", "fp"), "left_anti")
      .select(col("doc_id"), col("seg"))
    val raw = base
      .select(col("doc_id"), col("rtoks"))
      .where(size(col("rtoks")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          expr(s"(size(rtoks) - 1) div $segLen"))).as("seg"),
        col("rtoks"))
      .select(col("doc_id"), col("seg"),
        array_join(slice(col("rtoks"), (col("seg") * segLen + 1).cast("int"),
          lit(segLen)), " ").as("seg_text"))
    val rebuilt = keptKeys.join(raw, Seq("doc_id", "seg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_segs"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg"), col("seg_text")))),
          s => s.getField("seg_text")), " ").as("text"))
    val totals = segs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("total_segs"))
    base.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total_segs"), lit(0L)).as("total_segs"),
        coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** DuckDB replay of [[stripBoilerplate]] value-for-value (same md5
    * segment fingerprints, same ≥ `minDocs` distinct-doc threshold per
    * (domain, fingerprint), same raw-case reassembly).
    */
  def stripBoilerplateOracleSql(segLen: Int, minDocs: Int,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", domainCol: String = "source"): String = {
    val rawToks =
      s"CASE WHEN trim($textCol) = '' THEN []::VARCHAR[] " +
        s"ELSE list_filter(string_split_regex($textCol, '\\s+'), t -> t <> '') END"
    s"""WITH toks AS (
       |  SELECT $idCol::BIGINT AS doc_id, $domainCol::VARCHAR AS dom,
       |         ${TextAnalysis.toksSql(textCol)} AS toks,
       |         $rawToks AS rtoks
       |  FROM $table),
       |segs AS (
       |  SELECT doc_id, dom,
       |         unnest(range(0, ((len(toks) - 1) // $segLen) + 1))::BIGINT
       |           AS seg,
       |         toks, rtoks
       |  FROM toks WHERE len(toks) >= 1),
       |fp AS (
       |  SELECT doc_id, dom, seg,
       |         md5(array_to_string(
       |           toks[seg * $segLen + 1 : seg * $segLen + $segLen], ' '))
       |           AS fp,
       |         array_to_string(
       |           rtoks[seg * $segLen + 1 : seg * $segLen + $segLen], ' ')
       |           AS seg_text
       |  FROM segs),
       |boiler AS (
       |  SELECT dom, fp FROM fp
       |  GROUP BY dom, fp HAVING count(DISTINCT doc_id) >= $minDocs),
       |kept AS (
       |  SELECT doc_id, seg, seg_text FROM fp
       |  ANTI JOIN boiler USING (dom, fp)),
       |rebuilt AS (
       |  SELECT doc_id, count(*)::BIGINT AS kept_segs,
       |         string_agg(seg_text, ' ' ORDER BY seg) AS text
       |  FROM kept GROUP BY doc_id),
       |totals AS (
       |  SELECT doc_id, count(*)::BIGINT AS total_segs
       |  FROM fp GROUP BY doc_id)
       |SELECT d.$idCol::BIGINT AS doc_id,
       |       coalesce(totals.total_segs, 0)::BIGINT AS total_segs,
       |       coalesce(rebuilt.kept_segs, 0)::BIGINT AS kept_segs,
       |       coalesce(rebuilt.text, '') AS text
       |FROM $table d
       |LEFT JOIN totals ON totals.doc_id = d.$idCol
       |LEFT JOIN rebuilt ON rebuilt.doc_id = d.$idCol""".stripMargin
  }

  /** MinHash candidate-recall evaluation against the exact blocked-Jaccard
    * truth — "measure, don't guess" for the LSH tier: within the same id
    * window the exact tier scores, how many truth pairs (J ≥ threshold)
    * does banded MinHash surface, and at what precision? The number that
    * justifies (or indicts) the banding parameters before a 100 TB run;
    * run it per corpus snapshot because recall is data-dependent (shingle
    * overlap distributions shift with corpus mix).
    *
    * One row: (n_truth, n_cand, n_hit, recall_micro, precision_micro) in
    * exact integer micro-units (−1 when a denominator is 0). Candidates
    * are restricted to the truth tier's id window for apples-to-apples
    * sets. Cost = the two existing pipelines + one pair-keyed join.
    */
  def minhashRecall(df: DataFrame, idCol: String, textCol: String,
      idWindow: Long, threshold: Double): DataFrame = {
    val truth = jaccardPairs(df, idCol, textCol, ngram = 2, idWindow,
        threshold)
      .select(col("id_a"), col("id_b"))
    val cand = minhashPairsPortable(df, idCol, textCol,
        threshold = threshold)
      .select(col("id_a"), col("id_b"))
      .where(col("id_b") - col("id_a") <= idWindow)
    val hit = truth.join(cand, Seq("id_a", "id_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_truth") === 0, lit(-1L))
          .otherwise(expr("n_hit * 1000000 div n_truth")).as("recall_micro"),
        when(col("n_cand") === 0, lit(-1L))
          .otherwise(expr("n_hit * 1000000 div n_cand"))
          .as("precision_micro"))
  }

  /** DuckDB replay of [[minhashRecall]]: the exact-Jaccard truth CTE and
    * the full [[minhashOracleSql]] candidate pipeline composed, same
    * micro-unit ratios.
    */
  def minhashRecallOracleSql(idWindow: Long, threshold: Double,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String =
    s"""WITH t AS (
       |  SELECT $idCol AS id,
       |         list_distinct(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |           ELSE list_transform(generate_series(1, len(toks) - 1),
       |                  i -> toks[i] || ' ' || toks[i+1]) END) AS sh
       |  FROM (SELECT $idCol, ${graft.operators.TextAnalysis.toksSql(textCol)} AS toks
       |        FROM $table)),
       |truth AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM t a JOIN t b
       |    ON a.id < b.id AND b.id - a.id <= $idWindow
       |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
       |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
       |        >= $threshold),
       |cand AS (
       |  SELECT id_a, id_b FROM (
       |    ${minhashOracleSql(table, idCol, textCol, threshold = threshold)
             .replace("\n", "\n    ")})
       |  WHERE id_b - id_a <= $idWindow),
       |hit AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
       |SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |       (SELECT count(*) FROM cand)::BIGINT AS n_cand,
       |       (SELECT count(*) FROM hit)::BIGINT AS n_hit,
       |       CASE WHEN (SELECT count(*) FROM truth) = 0 THEN -1
       |            ELSE ((SELECT count(*) FROM hit) * 1000000)
       |                 // (SELECT count(*) FROM truth) END::BIGINT
       |         AS recall_micro,
       |       CASE WHEN (SELECT count(*) FROM cand) = 0 THEN -1
       |            ELSE ((SELECT count(*) FROM hit) * 1000000)
       |                 // (SELECT count(*) FROM cand) END::BIGINT
       |         AS precision_micro""".stripMargin

  /** Banding-parameter SWEEP — [[minhashRecall]] at every (bands, rows)
    * partition of ONE shared signature: the S-curve threshold of banded
    * LSH is t ≈ (1/b)^(1/r), so the right banding depends on the dedup
    * threshold AND the corpus's similarity distribution; this measures
    * recall/precision for each config in one pass instead of re-running
    * the pipeline per guess — the parameter-selection table you consult
    * BEFORE committing a 100 TB run to one banding.
    *
    * Cost: the signature aggregate runs ONCE (the corpus-sized step);
    * each config adds only its band-key explode + bucket self-join, and
    * the truth tier is the one exact blocked-Jaccard run shared by all
    * rows. Output: one row per config, exact micro ratios (−1 when a
    * denominator is 0).
    */
  def bandSweep(df: DataFrame, idCol: String, textCol: String,
      idWindow: Long, threshold: Double, numHashes: Int = 16,
      bandConfigs: Seq[Int] = Seq(16, 8, 4, 2),
      maxBucket: Int = 1000): DataFrame = {
    require(bandConfigs.nonEmpty && bandConfigs.forall(b =>
      b >= 1 && numHashes % b == 0))
    val spark = df.sparkSession
    val truth = Caching.persist(
      jaccardPairs(df, idCol, textCol, ngram = 2, idWindow, threshold)
        .select(col("id_a"), col("id_b")))
    val cs = portableCoefficients(numHashes)
    val minCols = cs.zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("h") + lit(b)) % PortablePrime).as(s"mh$j")
    }
    val sig = portableShingleHashes(df, idCol, textCol, ngram = 2)
      .select(col("id"), explode(col("hs")).as("h"))
      .groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(j => col(s"mh$j")): _*).as("sig"))
    val keyStructs = bandConfigs.flatMap { b =>
      val r = numHashes / b
      (0 until b).map(band => struct(lit(b).as("bands"),
        lit(band).as("band"),
        concat_ws(",", transform(slice(col("sig"), band * r + 1, r),
          x => x.cast("string"))).as("key")))
    }
    val banded = Caching.persist(capBuckets(
      sig.select(col("id"), explode(array(keyStructs: _*)).as("bb"))
        .select(col("id"), col("bb.bands"), col("bb.band"), col("bb.key")),
      Seq("bands", "band", "key"), maxBucket))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.bands") === col("b.bands") && col("a.band") === col("b.band")
          && col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .where(col("b.id") - col("a.id") <= idWindow)
      .select(col("a.bands").as("bands"), col("a.id").as("id_a"),
        col("b.id").as("id_b"))
      .distinct()
      .transform(Caching.persist)
    val hits = cand.join(truth, Seq("id_a", "id_b"))
      .groupBy(col("bands")).agg(count(lit(1)).as("n_hit"))
    val cands = cand.groupBy(col("bands")).agg(count(lit(1)).as("n_cand"))
    val grid = spark.createDataFrame(
      bandConfigs.map(b => (b.toLong, (numHashes / b).toLong)))
      .toDF("bands", "rows_per_band")
    grid
      .join(cands, Seq("bands"), "left")
      .join(hits, Seq("bands"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("bands"), col("rows_per_band"), col("n_truth"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("bands"), col("rows_per_band"), col("n_truth"),
        col("n_cand"), col("n_hit"),
        when(col("n_truth") === 0, lit(-1L))
          .otherwise(expr("n_hit * 1000000 div n_truth")).as("recall_micro"),
        when(col("n_cand") === 0, lit(-1L))
          .otherwise(expr("n_hit * 1000000 div n_cand"))
          .as("precision_micro"))
  }

  /** DuckDB replay of [[bandSweep]] (same shared signature constants,
    * same per-config bucket keys, same truth tier and micro ratios).
    */
  def bandSweepOracleSql(idWindow: Long, threshold: Double,
      numHashes: Int = 16, bandConfigs: Seq[Int] = Seq(16, 8, 4, 2),
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", maxBucketParam: Int = 1000): String = {
    val cs = portableCoefficients(numHashes)
    val mins = cs.zipWithIndex.map { case ((a, b), j) =>
      s"min(($a * h + $b) % $PortablePrime) AS mh$j" }.mkString(",\n    ")
    val sigArr = (0 until numHashes).map(j => s"mh$j").mkString(", ")
    val bandRows = bandConfigs.flatMap { b =>
      val r = numHashes / b
      (0 until b).map { band =>
        val ks = (0 until r).map(i => s"sig[${band * r + 1 + i}]::VARCHAR")
          .mkString(" || ',' || ")
        s"SELECT $b AS bands, $band AS band, $ks AS key, id FROM sig"
      }
    }.mkString("\n  UNION ALL ")
    val gridRows = bandConfigs
      .map(b => s"($b, ${numHashes / b})").mkString(", ")
    s"""WITH t0 AS (
       |  SELECT $idCol AS id,
       |         list_distinct(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
       |           ELSE list_transform(generate_series(1, len(toks) - 1),
       |                  i -> toks[i] || ' ' || toks[i+1]) END) AS sh
       |  FROM (SELECT $idCol, ${TextAnalysis.toksSql(textCol)} AS toks
       |        FROM $table)),
       |truth AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM t0 a JOIN t0 b
       |    ON a.id < b.id AND b.id - a.id <= $idWindow
       |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
       |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
       |        >= $threshold),
       |hs AS (
       |  SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $PortablePrime AS h
       |  FROM (SELECT id, unnest(sh) AS s FROM t0)),
       |sig AS MATERIALIZED (
       |  SELECT id, [$sigArr] AS sig FROM (
       |    SELECT id,
       |    $mins
       |    FROM hs GROUP BY id)),
       |banded AS MATERIALIZED (
       |  $bandRows),
       |bucketed AS MATERIALIZED (
       |  SELECT bands, band, key, id FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY bands, band, key)
       |          <= $maxBucketParam),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.bands, a.id AS id_a, b.id AS id_b
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bands = b.bands AND a.band = b.band AND a.key = b.key
       |   AND a.id < b.id
       |  WHERE b.id - a.id <= $idWindow),
       |agg AS (
       |  SELECT c.bands, count(*)::BIGINT AS n_cand,
       |         coalesce(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END),
       |           0)::BIGINT AS n_hit
       |  FROM cand c LEFT JOIN truth t
       |    ON t.id_a = c.id_a AND t.id_b = c.id_b
       |  GROUP BY c.bands),
       |grid(bands, rows_per_band) AS (VALUES $gridRows),
       |nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth)
       |SELECT g.bands::BIGINT AS bands,
       |       g.rows_per_band::BIGINT AS rows_per_band,
       |       nt.n_truth,
       |       coalesce(a.n_cand, 0)::BIGINT AS n_cand,
       |       coalesce(a.n_hit, 0)::BIGINT AS n_hit,
       |       (CASE WHEN nt.n_truth = 0 THEN -1
       |             ELSE coalesce(a.n_hit, 0) * 1000000 // nt.n_truth
       |        END)::BIGINT AS recall_micro,
       |       (CASE WHEN coalesce(a.n_cand, 0) = 0 THEN -1
       |             ELSE coalesce(a.n_hit, 0) * 1000000 // a.n_cand
       |        END)::BIGINT AS precision_micro
       |FROM grid g LEFT JOIN agg a ON a.bands = g.bands, nt""".stripMargin
  }

  /** SOFT dedup weighting — downweight duplicates instead of dropping
    * them (the SoftDeDup idea: hard removal throws away the signal that
    * popular content IS popular; weighting each copy by 1/family_size
    * keeps the corpus intact while the expected gradient matches the
    * deduplicated one). Families are the canonical-fingerprint exact
    * groups; every doc gets (family_key, family_size, weight_micro =
    * 1e6 div size), ready to multiply into a loss-weight or sampling-
    * probability column. One fingerprint aggregate + one join — the
    * cheapest dedup-adjacent pass there is.
    */
  def softWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // persisted: keyed feeds both the family aggregate and the join probe
    // — unpersisted, the md5 projection would scan the corpus twice
    val keyed = Caching.persist(
      df.select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.fingerprint(col(textCol)).as("fp")))
    val fams = keyed.groupBy(col("fp"))
      .agg(count(lit(1)).as("family_size"))
    keyed.join(fams, "fp")
      .select(col("doc_id"), col("fp").as("family_key"),
        col("family_size"),
        expr("1000000 div family_size").as("weight_micro"))
  }

  /** DuckDB replay of [[softWeights]]. */
  def softWeightsOracleSql(table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH keyed AS (
       |  SELECT $idCol::BIGINT AS doc_id,
       |         md5(regexp_replace(regexp_replace(lower($textCol),
       |           '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS fp
       |  FROM $table),
       |fams AS (
       |  SELECT fp, count(*)::BIGINT AS family_size FROM keyed GROUP BY fp)
       |SELECT k.doc_id, k.fp AS family_key, f.family_size,
       |       (1000000 // f.family_size)::BIGINT AS weight_micro
       |FROM keyed k JOIN fams f ON f.fp = k.fp""".stripMargin
}
