package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Skew- and shuffle-management operators — the patterns that keep the other
  * operators alive at 100 TB (SURVEY.md §2c "100 TB-scale design"):
  * salted joins for skewed keys, skew-proof distinct counting, and bucketed
  * co-located joins.
  *
  * Note Spark already handles two big classes without help: algebraic
  * aggregates get map-side partial aggregation (so a skewed groupBy-sum
  * doesn't need salting), and AQE splits skewed *shuffle* partitions for
  * sort-merge joins. The operators here cover what those don't: broadcast
  * -ineligible joins against a skewed key column, distinct-state explosions,
  * and shuffle elimination via storage layout.
  */
object Scale {

  /** Token-budget sequence packing — the step that turns a cleaned corpus
    * into fixed-context training sequences: documents are greedily packed,
    * in id order, into sequences of at most `budget` tokens (a document
    * that would overflow the open sequence starts a new one; a single
    * document larger than the whole budget gets its own sequence — chunk
    * long documents first with [[TextAnalysis.chunk]] if that matters).
    * Returns (doc_id, shard, seq_id, tok_offset, n_tokens): `seq_id`
    * numbers sequences within a shard, `tok_offset` is the document's
    * token offset inside its sequence.
    *
    * Scale shape: packing is sequential BY DEFINITION (each placement
    * depends on the running total), so the corpus is first split into
    * `shards` independent streams (shard = id mod shards — deterministic,
    * re-run-stable) and the greedy fold runs per shard. The fold itself is
    * a `mapPartitions` over a `repartition(shard) + sortWithinPartitions`
    * layout: one pass, O(1) state (current shard / sequence / fill), no
    * per-group buffering — shard count is a parallelism knob, not a memory
    * one. This mirrors how production packers shard by file and pack
    * within file.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0, "need budget > 0 and shards > 0")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(tokenCol).cast("long").as("ntok"),
        pmod(col(idCol).cast("long"), lit(shards.toLong)).as("shard"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        // multiple shards can hash into one partition; the sort keys them
        // contiguous, so a shard change just resets the fold state
        var curShard = -1L
        var seq = 0L
        var fill = 0L
        it.map { case (id, ntok, shard) =>
          if (shard != curShard) { curShard = shard; seq = 0L; fill = 0L }
          if (fill + ntok > budget && fill > 0L) { seq += 1L; fill = 0L }
          val off = fill
          fill += ntok
          (id, shard, seq, off, ntok)
        }
      }
      .toDF("doc_id", "shard", "seq_id", "tok_offset", "n_tokens")
  }

  /** DuckDB replay of [[packSequences]]: the same greedy fold, unrolled as
    * a per-shard recursive CTE walking documents in row-number order (the
    * chain depth is docs-per-shard — fine at oracle scale; the Spark side
    * is the one built for big corpora). `tokenExpr` must compute the same
    * per-document token count the Spark call was given.
    */
  def packOracleSql(tokenExpr: String, budget: Long, shards: Int,
      table: String = "documents", idCol: String = "doc_id"): String =
    s"""WITH RECURSIVE o AS (
       |  SELECT $idCol AS id, ($tokenExpr)::BIGINT AS ntok,
       |         $idCol % $shards AS shard,
       |         row_number() OVER (PARTITION BY $idCol % $shards
       |                            ORDER BY $idCol) AS rn
       |  FROM $table),
       |rec AS (
       |  SELECT shard, rn, id, ntok,
       |         0::BIGINT AS seq_id, 0::BIGINT AS tok_offset
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT o.shard, o.rn, o.id, o.ntok,
       |         CASE WHEN r.tok_offset + r.ntok + o.ntok > $budget
       |                   AND r.tok_offset + r.ntok > 0
       |              THEN r.seq_id + 1 ELSE r.seq_id END,
       |         CASE WHEN r.tok_offset + r.ntok + o.ntok > $budget
       |                   AND r.tok_offset + r.ntok > 0
       |              THEN 0::BIGINT ELSE r.tok_offset + r.ntok END
       |  FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1)
       |SELECT id AS doc_id, shard, seq_id, tok_offset, ntok AS n_tokens
       |FROM rec""".stripMargin

  /** Join `big` (skew-keyed) with `small` when `small` is too large to
    * broadcast and AQE's skew splitting isn't available/enough: each big row
    * gets a deterministic salt in [0, salts); `small` is replicated `salts`
    * times; the join key becomes (key, salt), spreading one hot key over
    * `salts` reducers.
    *
    * The salt is derived by hashing the big row's full struct — deterministic
    * (re-runs and retries agree), uniform, and correctness-neutral (any
    * per-row salt works; identical rows colliding on a salt is harmless).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    val bigS = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.toIndexedSeq.map(col): _*)),
        lit(salts)).cast("int"))
    val smallS = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }

  /** Exact distinct count per key that survives key skew: shuffle once on
    * (key, value) — whose cardinality is spread even when `key` alone is hot
    * — then count per key. The classic rewrite of `count(DISTINCT v)` whose
    * single-reducer-per-key state would otherwise OOM on a hot key.
    */
  def skewProofCountDistinct(df: DataFrame, key: Column, value: Column,
      resultName: String = "n_distinct"): DataFrame =
    df.select(key.as("__k"), value.as("__v"))
      .distinct()
      .groupBy(col("__k"))
      // count(__v) skips the null rows — count(DISTINCT v) semantics — but
      // the (k, null) row kept by distinct() means a key whose values are
      // ALL null still emits (k, 0), exactly as count(DISTINCT v) does (a
      // pre-filter on __v IS NOT NULL would drop the key entirely)
      .agg(count(col("__v")).as(resultName))
      .withColumnRenamed("__k", "key")

  /** Write `df` bucketed+sorted by `key` into the session catalog: two
    * tables bucketed the same way equi-join with NO shuffle exchange (the
    * layout IS the partitioning). At 100 TB this is the difference between
    * re-shuffling the fact table per query and never shuffling it at all.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    // a managed table's warehouse dir can outlive the (in-memory) catalog
    // entry across sessions; "overwrite" can only drop what the catalog
    // knows, so a leftover location fails the create — clear both first
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Export `df` as `n` hash-balanced training shards: shard =
    * portable-md5(key) mod n, written as `shard=K` parquet partitions with
    * the rows for each shard routed to one writer task (`repartition` on
    * the shard column). The dataloader-facing layout step of a training
    * pipeline: shard sizes concentrate at rows/n (multinomial — no
    * single-reducer sort or global ntile pass), the assignment is a pure
    * function of the key (retries, re-runs, and other engines place every
    * row identically — same md5 recipe as the portable dedup tier), and
    * the directory layout is self-describing. Returns the re-read frame.
    */
  def writeShards(df: DataFrame, path: String, keyCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "shard count must be positive")
    // null keys would land in the Hive default partition and read back as
    // shard NULL — still lossless, but a sharded training set wants every
    // row addressable, so pin them to shard 0 explicitly
    val sharded = df.withColumn("shard",
      coalesce((Dedup.portableHash(col(keyCol).cast("string")) % n)
        .cast("int"), lit(0)))
    sharded.repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"): each row
    * gets priority −ln(u)/w with u a uniform derived from the portable md5
    * hash of its key (content-stable — re-runs, retries, and other engines
    * draw the SAME sample, the property seeded `rand()` loses on retry),
    * and the k smallest priorities win, exactly ∝-weight inclusion. The
    * plan is one scan + a TakeOrderedAndProject top-k — no global sort, no
    * shuffle of the corpus; at 100 TB per-partition top-k partials merge on
    * the driver-side heap like any LIMIT+ORDER BY.
    */
  /** Content-stable uniform in (0, 1] from the portable md5 hash of a key —
    * the randomness source both samplers (and their DuckDB replays) share.
    */
  private def hashUniform(key: Column): Column = {
    val P = Dedup.PortablePrime
    (Dedup.portableHash(key.cast("string")) % P + 1L)
      .cast("double") / lit((P + 1).toDouble)
  }

  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
      k: Int): DataFrame = {
    val u = hashUniform(col(keyCol))
    df.where(col(keyCol).isNotNull) // null keys: no stable u, and the two
      // engines order NULL priorities differently — excluded by contract
      .select(col(keyCol), weight.as("w"))
      // ES requires w > 0: a NULL weight's NULL priority sorts FIRST in
      // Spark's ascending order (guaranteed top-k slot) and a negative
      // weight's negative priority beats every valid row — both excluded
      // (w <= 0 means "never sample" in every weighted-sampling convention)
      .where(col("w") > 0)
      .select(col(keyCol), (-log(u) / col("w")).as("priority"))
      .orderBy(col("priority").asc, col(keyCol))
      .limit(k)
      .select(col(keyCol), round(col("priority"), 6).as("priority"))
  }

  /** Per-stratum [[weightedSample]]: the k smallest ES priorities within
    * each stratum (window rank partitioned by the stratum key) — "n docs
    * per language ∝ quality" in one pass. The window shuffles on the
    * stratum key only; skewed strata are bounded by the same priority
    * top-k, not by data volume.
    */
  def weightedSampleStratified(df: DataFrame, keyCol: String,
      stratumCol: String, weight: Column, k: Int): DataFrame = {
    val u = hashUniform(col(keyCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col("priority").asc, col(keyCol))
    df.where(col(keyCol).isNotNull)
      .select(col(stratumCol), col(keyCol), weight.as("w"))
      .where(col("w") > 0) // same w > 0 contract as weightedSample
      .select(col(stratumCol), col(keyCol), (-log(u) / col("w")).as("priority"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(stratumCol), col("rank"), col(keyCol),
        round(col("priority"), 6).as("priority"))
  }

  /** Mixture rebalancing by deterministic downsampling: every stratum
    * (language, source, …) is Bernoulli-thinned to the SMALLEST stratum's
    * total weight (tokens, usually), so the output mixture is balanced —
    * the "cap every language at parity" curation step. The keep decision is
    * `hashUniform(key) <= rate` with rate = min-stratum total / own total:
    * content-stable (re-runs and engines agree), no shuffle of the corpus
    * beyond one per-stratum aggregate, and the tiny rate table broadcasts.
    * Returns (stratum, key, rate) for every kept row.
    *
    * Expected (not exact) stratum totals after thinning: exact-k per
    * stratum is [[weightedSampleStratified]]'s job; rate-based thinning is
    * the one that composes at 100 TB (no per-stratum ordering anywhere).
    */
  def downsampleBalanced(df: DataFrame, keyCol: String, stratumCol: String,
      weight: Column): DataFrame = {
    val base = df.where(col(keyCol).isNotNull)
      .select(col(stratumCol).as("stratum"), col(keyCol),
        weight.cast("double").as("w"))
    val totals = base.groupBy(col("stratum")).agg(sum(col("w")).as("tot"))
    val target = totals.agg(min(col("tot")).as("target"))
    val rates = totals.crossJoin(broadcast(target))
      .select(col("stratum"),
        least(lit(1.0), col("target") / col("tot")).as("rate"))
    base.join(broadcast(rates), "stratum")
      .where(hashUniform(col(keyCol)) <= col("rate"))
      .select(col("stratum"), col(keyCol), round(col("rate"), 6).as("rate"))
  }

  /** DuckDB replay of [[downsampleBalanced]] value-for-value: same md5
    * uniform, same rate arithmetic. `weightExpr` must compute the same
    * per-row weight the Spark call was given.
    */
  def downsampleOracleSql(weightExpr: String, table: String = "documents",
      keyCol: String = "doc_id", stratumCol: String = "lang"): String = {
    val p = Dedup.PortablePrime
    s"""WITH b AS (
       |  SELECT $stratumCol AS stratum, $keyCol,
       |         ($weightExpr)::DOUBLE AS w
       |  FROM $table WHERE $keyCol IS NOT NULL),
       |t AS (SELECT stratum, sum(w) AS tot FROM b GROUP BY stratum),
       |tar AS (SELECT min(tot) AS target FROM t),
       |r AS (SELECT stratum, least(1.0, target / tot) AS rate FROM t, tar)
       |SELECT b.stratum, b.$keyCol, round(r.rate, 6) AS rate
       |FROM b JOIN r USING (stratum)
       |WHERE ((('0x' || substr(md5(b.$keyCol::VARCHAR), 1, 15))::BIGINT % $p)
       |       + 1)::DOUBLE / ${p + 1}.0 <= r.rate""".stripMargin
  }

  /** Temperature-weighted mixture downsampling — the multilingual
    * α-sampling rule (Devlin et al. 2019 mBERT; Conneau et al. 2020 XLM-R:
    * sample stratum i with p_i ∝ share_i^α) realized by thinning only,
    * never upsampling: target share q_i ∝ (t_i/T)^α, the total budget C is
    * pushed as high as the data allows (C = min_j t_j/q_j, so the binding
    * stratum keeps 100%), and every stratum keeps rate r_i = C·q_i/t_i of
    * its weight via the content-stable md5 uniform. α=1 keeps everything
    * (natural mixture); α=0 degenerates to [[downsampleBalanced]]'s parity
    * mixture; in between is the standard low-resource upweighting curve.
    * Same scale shape as downsampleBalanced: one stratum aggregate, a
    * broadcast rate table, zero extra shuffles of the corpus. Returns
    * (stratum, key, rate) for kept rows.
    */
  def downsampleTemperature(df: DataFrame, keyCol: String,
      stratumCol: String, weight: Column, alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha in [0, 1]")
    val base = df.where(col(keyCol).isNotNull)
      .select(col(stratumCol).as("stratum"), col(keyCol),
        weight.cast("double").as("w"))
    val totals = base.groupBy(col("stratum")).agg(sum(col("w")).as("tot"))
    // unnormalized q_i = (t_i/T)^α: the normalizer cancels in C·q_i/t_i
    val shares = totals
      .crossJoin(broadcast(totals.agg(sum(col("tot")).as("T"))))
      .select(col("stratum"), col("tot"),
        pow(col("tot") / col("T"), lit(alpha)).as("q"))
    val cmin = shares.agg(min(col("tot") / col("q")).as("cmin"))
    val rates = shares.crossJoin(broadcast(cmin))
      .select(col("stratum"),
        least(lit(1.0), col("cmin") * col("q") / col("tot")).as("rate"))
    base.join(broadcast(rates), "stratum")
      .where(hashUniform(col(keyCol)) <= col("rate"))
      .select(col("stratum"), col(keyCol), round(col("rate"), 6).as("rate"))
  }

  /** DuckDB replay of [[downsampleTemperature]] value-for-value (same md5
    * uniform, same α-power rate arithmetic).
    */
  def temperatureOracleSql(weightExpr: String, alpha: Double,
      table: String = "documents", keyCol: String = "doc_id",
      stratumCol: String = "lang"): String = {
    val p = Dedup.PortablePrime
    s"""WITH b AS (
       |  SELECT $stratumCol AS stratum, $keyCol,
       |         ($weightExpr)::DOUBLE AS w
       |  FROM $table WHERE $keyCol IS NOT NULL),
       |t AS (SELECT stratum, sum(w) AS tot FROM b GROUP BY stratum),
       |s AS (SELECT stratum, tot,
       |             pow(tot / (SELECT sum(tot) FROM t), $alpha) AS q
       |      FROM t),
       |c AS (SELECT min(tot / q) AS cmin FROM s),
       |r AS (SELECT stratum, least(1.0, cmin * q / tot) AS rate FROM s, c)
       |SELECT b.stratum, b.$keyCol, round(r.rate, 6) AS rate
       |FROM b JOIN r USING (stratum)
       |WHERE ((('0x' || substr(md5(b.$keyCol::VARCHAR), 1, 15))::BIGINT % $p)
       |       + 1)::DOUBLE / ${p + 1}.0 <= r.rate""".stripMargin
  }

  /** Fractional-epoch mixture replication — the "source i is seen e_i
    * epochs per training run" recipe step (LLaMA/GPT-style data mixes
    * state weights this way; [[unimaxAllocate]] PRODUCES such epochs):
    * every doc of a stratum with epochs = 2.5 is emitted twice, plus a
    * third copy for the content-stable half of the stratum
    * (hashUniform(key) ≤ 0.5). Epochs < 1 degenerate to plain Bernoulli
    * downsampling, so one operator realizes the whole mixture vector,
    * up and down. Returns the replicated manifest (stratum, key, epoch)
    * with epoch = 0-based copy index; strata with epochs ≤ 0 (or absent
    * from `epochs`) emit nothing.
    *
    * The per-doc decision depends only on the doc key, so every epoch a
    * doc earns is fully materialized before any doc gets a fractional
    * copy twice — matching how training actually consumes epochs.
    * Scale shape: ZERO shuffles — a broadcast join against the tiny
    * (stratum, epochs) table + a generator; the corpus is scanned once.
    */
  def epochMix(df: DataFrame, keyCol: String, stratumCol: String,
      epochs: DataFrame): DataFrame = {
    // epochs > 0 BEFORE the generator: Spark's sequence(a, b) walks
    // BACKWARDS when a > b, so an empty stratum must never reach it
    val ep = epochs.select(col("stratum"), col("epochs").cast("double"))
      .where(col("epochs") > 0)
    df.where(col(keyCol).isNotNull)
      .select(col(stratumCol).as("stratum"), col(keyCol))
      .join(broadcast(ep), "stratum")
      .select(col("stratum"), col(keyCol), col("epochs"),
        explode(expr("sequence(0, cast(ceil(epochs) AS int) - 1)"))
          .as("epoch"))
      .where(col("epoch") < floor(col("epochs")) ||
        hashUniform(col(keyCol)) <= col("epochs") - floor(col("epochs")))
      .select(col("stratum"), col(keyCol), col("epoch").cast("long").as("epoch"))
  }

  /** DuckDB replay of [[epochMix]] value-for-value. `epochValues` are the
    * (stratum, epochs) pairs the Spark call's `epochs` frame carried.
    */
  def epochMixOracleSql(epochValues: Seq[(String, Double)],
      table: String = "documents", keyCol: String = "doc_id",
      stratumCol: String = "lang"): String = {
    val p = Dedup.PortablePrime
    val vals = epochValues.map { case (s, e) => s"('$s', ${e}::DOUBLE)" }
      .mkString(", ")
    // epoch indexes come from a tiny series table joined on
    // epoch < ceil(epochs), NOT from unnest-in-CTE: DuckDB 1.0 fails to
    // bind an unnest alias referenced through a CTE boundary
    s"""WITH ep AS (
       |  SELECT * FROM (VALUES $vals) AS t(stratum, epochs)
       |  WHERE epochs > 0),
       |idx AS (
       |  SELECT unnest(range(0,
       |    (SELECT max(ceil(epochs)::INT) FROM ep))) AS epoch),
       |b AS (SELECT $stratumCol AS stratum, $keyCol
       |      FROM $table WHERE $keyCol IS NOT NULL),
       |x AS (
       |  SELECT b.stratum, b.$keyCol, ep.epochs, idx.epoch
       |  FROM b JOIN ep USING (stratum)
       |  JOIN idx ON idx.epoch < ceil(ep.epochs)::INT)
       |SELECT stratum, $keyCol, epoch::BIGINT AS epoch
       |FROM x
       |WHERE epoch < floor(epochs)
       |   OR ((('0x' || substr(md5($keyCol::VARCHAR), 1, 15))::BIGINT % $p)
       |       + 1)::DOUBLE / ${p + 1}.0 <= epochs - floor(epochs)""".stripMargin
  }

  /** Per-domain token-budget cap — the RefinedWeb/C4-style curation rule
    * "no single site may contribute more than B tokens": within each
    * domain, documents are taken in content-stable md5-hash order (re-runs
    * and engines agree; hash order avoids the crawl-position bias id order
    * would bake in) until the running token total crosses `budget`. The
    * cap is soft on the crossing document ([[packSequences]]' greedy
    * convention): a doc is kept iff the total BEFORE it is under budget,
    * so every non-empty domain keeps at least one doc. Returns kept rows
    * as (domain, key, n_tok, cum_tok) where cum_tok is the running total
    * including the row.
    *
    * Scale shape — the naive version is one `Window.partitionBy(domain)`,
    * which funnels a mega-domain's every doc into ONE task (the classic
    * window-skew killer at 100 TB). Instead the cumulative sum is split
    * two-level by the hash's first byte: per-(domain, bucket) token totals
    * (a plain aggregate), a 256-row-per-domain window over bucket totals,
    * then the exact intra-bucket window runs with (domain, bucket) as the
    * partition key — the widest window partition is ~1/256 of the domain,
    * and ordering by (bucket, hash) equals ordering by hash because the
    * bucket IS the hash prefix. Answer-identical to the naive window,
    * pinned in ScaleSpec.
    */
  def domainTokenCap(df: DataFrame, keyCol: String, domainCol: String,
      weight: Column, budget: Long): DataFrame = {
    require(budget > 0)
    val base = df.where(col(keyCol).isNotNull)
      .select(col(domainCol).as("domain"), col(keyCol),
        weight.cast("long").as("n_tok"),
        md5(col(keyCol).cast("string")).as("__h"))
      .withColumn("__bkt", substring(col("__h"), 1, 2))
    val bktTot = base.groupBy(col("domain"), col("__bkt"))
      .agg(sum(col("n_tok")).as("__bt"))
    val wBkt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("__bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bktCum = bktTot.withColumn("__cb",
      coalesce(sum(col("__bt")).over(wBkt), lit(0L)))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"), col("__bkt"))
      .orderBy(col("__h"), col(keyCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    base.join(bktCum.select(col("domain"), col("__bkt"), col("__cb")),
        Seq("domain", "__bkt"))
      .withColumn("__before",
        col("__cb") + coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
      .where(col("__before") < budget)
      .select(col("domain"), col(keyCol), col("n_tok"),
        (col("__before") + col("n_tok")).as("cum_tok"))
  }

  /** DuckDB replay of [[domainTokenCap]] value-for-value: same md5 order,
    * same two-level cumulative arithmetic (all BIGINT), same soft-cap
    * predicate. `weightExpr` must match the Spark call's weight.
    */
  def domainCapOracleSql(weightExpr: String, budget: Long,
      table: String = "documents", keyCol: String = "doc_id",
      domainCol: String = "source"): String =
    s"""WITH b AS (
       |  SELECT $domainCol AS domain, $keyCol,
       |         ($weightExpr)::BIGINT AS n_tok,
       |         md5($keyCol::VARCHAR) AS h,
       |         substr(md5($keyCol::VARCHAR), 1, 2) AS bkt
       |  FROM $table WHERE $keyCol IS NOT NULL),
       |bt AS (SELECT domain, bkt, sum(n_tok)::BIGINT AS t
       |       FROM b GROUP BY domain, bkt),
       |bc AS (SELECT domain, bkt,
       |              coalesce(sum(t) OVER (PARTITION BY domain ORDER BY bkt
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                0)::BIGINT AS cb
       |       FROM bt),
       |x AS (SELECT b.domain, b.$keyCol, b.n_tok,
       |             bc.cb + coalesce(sum(b.n_tok) OVER (
       |               PARTITION BY b.domain, b.bkt ORDER BY b.h, b.$keyCol
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |               0)::BIGINT AS before
       |      FROM b JOIN bc ON bc.domain = b.domain AND bc.bkt = b.bkt)
       |SELECT domain, $keyCol, n_tok, (before + n_tok)::BIGINT AS cum_tok
       |FROM x WHERE before < $budget""".stripMargin

  /** Materialize an intermediate to parquet and rescan it — the lifecycle
    * step for intermediates too large for executor-storage `persist`
    * (shingle/signature tables of a 100 TB dedup run). Unlike persist it
    * truncates the logical plan (downstream plans see a flat scan, not the
    * whole upstream tree), survives executor loss without recompute, and is
    * shareable across jobs and sessions; the cost is one full write+read of
    * the intermediate. Rule of thumb: persist for MB..low-GB per executor,
    * materialize beyond that or whenever the intermediate outlives the job.
    */
  def materializeTo(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Morton (Z-order) interleave of two non-negative column values at
    * `bits` bits each — the multi-dimensional clustering key behind
    * Delta/Iceberg OPTIMIZE ZORDER: sorting by the interleaved value keeps
    * rows close in BOTH dimensions close on disk, so parquet row-group
    * min/max stats prune 2-D range filters that a single-column sort can
    * only prune on one axis. Pure bit arithmetic (shift/mask/or as a flat
    * codegen'd expression; same operators exist in DuckDB, so the value is
    * oracle-replayable). Callers pre-normalize values into [0, 2^bits).
    */
  def zorderValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)),
            2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** DuckDB replay of [[zorderValue]] (same shift/mask/or chain). */
  def zorderSql(xExpr: String, yExpr: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(((($xExpr)::BIGINT >> $i) & 1) << ${2 * i}) | " +
        s"(((($yExpr)::BIGINT >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")

  /** Write `df` clustered on the Z-curve of (xCol, yCol): range-partition +
    * sort by the interleaved key, so every output file/row-group covers a
    * compact 2-D tile and min/max footer stats prune BOTH dimensions of a
    * range scan (spec-measured: the scan emits a fraction of the rows the
    * same filter reads from an unclustered layout). The layout is written
    * once; every subsequent 2-D-selective query skips — the multi-column
    * analogue of [[writeBucketed]]'s join-shuffle elimination.
    */
  def writeZordered(df: DataFrame, path: String, xCol: String, yCol: String,
      bits: Int = 16, files: Int = 8,
      maxRecordsPerFile: Long = 0L): DataFrame = {
    val z = df.withColumn("__z", zorderValue(col(xCol), col(yCol), bits))
    val writer = z.repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Latest-wins upsert merge — the CDC/compaction primitive of an
    * append-only 100 TB table (MERGE INTO semantics without a table
    * format): `base` and `updates` union, and per key the row with the
    * highest (version, source-priority) survives; an update beats a base
    * row at equal version. Both inputs must share a schema. One shuffle on
    * the key (window row_number), no driver state — the nightly "collapse
    * the delta into the snapshot" job. Ties beyond (version, priority) are
    * impossible: priority differs between the two sources by construction,
    * and duplicate (key, version) rows WITHIN one source are an input
    * contract violation surfaced deterministically (lowest-priority-source
    * copy wins is NOT guaranteed; the caller dedups first).
    *
    * `validate = true` turns that contract into a check: the call FAILS
    * eagerly (IllegalArgumentException carrying the offending group count)
    * if any (key, version) appears more than once within one source,
    * instead of silently emitting a nondeterministic winner. The check is
    * one extra aggregate over the union — same key shuffle shape — so it
    * prices like a second pass of the window stage; leave it off on trusted
    * nightly inputs, turn it on when ingesting a new upstream.
    */
  /** Corpus-version diff — "what changed between crawl N−1 and crawl N?",
    * the CDC report that drives incremental reprocessing (only `added` +
    * `changed` docs re-enter the dedup/quality pipeline; `removed` feeds
    * tombstones). Both sides reduce to (key, content fingerprint) and one
    * full-outer key join classifies every key: added (absent before),
    * removed (absent now), changed (fingerprint differs), unchanged.
    * Returns (key, status).
    *
    * Scale shape: the only corpus-sized operation is the single key
    * shuffle of the full-outer join ([[mergeLatest]]'s contract); text
    * never shuffles — the md5 fingerprint is computed below the exchange,
    * so join rows are (key, 32-byte hash) however large the docs are.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      textCol: String): DataFrame = {
    // presence is tracked by explicit side markers, NOT by fingerprint
    // nullity: a NULL-text doc has a NULL md5, and hash-nullity presence
    // would misreport it as added/removed. The change test is null-safe
    // (<=>), so NULL→'x' is changed and NULL→NULL is unchanged.
    val o = oldDf.select(col(keyCol).as("k"), md5(col(textCol)).as("__oh"),
      lit(1).as("__in_old"))
    val n = newDf.select(col(keyCol).as("k"), md5(col(textCol)).as("__nh"),
      lit(1).as("__in_new"))
    o.join(n, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(!(col("__oh") <=> col("__nh")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** DuckDB replay of [[corpusDiff]]: `oldSql`/`newSql` are subqueries
    * producing ($keyCol, $textCol) for each side.
    */
  def corpusDiffOracleSql(oldSql: String, newSql: String,
      keyCol: String = "doc_id", textCol: String = "text"): String =
    s"""WITH o AS (SELECT $keyCol AS k, md5($textCol) AS oh, 1 AS in_old
       |           FROM ($oldSql)),
       |n AS (SELECT $keyCol AS k, md5($textCol) AS nh, 1 AS in_new
       |      FROM ($newSql))
       |SELECT coalesce(o.k, n.k) AS $keyCol,
       |       CASE WHEN in_old IS NULL THEN 'added'
       |            WHEN in_new IS NULL THEN 'removed'
       |            WHEN oh IS DISTINCT FROM nh THEN 'changed'
       |            ELSE 'unchanged' END AS status
       |FROM o FULL OUTER JOIN n ON n.k = o.k""".stripMargin

  def mergeLatest(base: DataFrame, updates: DataFrame, keyCol: String,
      versionCol: String, validate: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    if (validate) {
      // distributed assert, no driver collect of data: count duplicate
      // (source, key, version) groups; raise with the count if any exist.
      // Runs eagerly (tiny 1-row agg job) so the violation surfaces at call
      // time, not wherever the lazy result happens to be consumed.
      val dups = tagged.groupBy(col("__src"), col(keyCol), col(versionCol))
        .agg(count(lit(1)).as("__copies"))
        .where(col("__copies") > 1)
        .agg(count(lit(1)).as("__groups"))
        .head().getLong(0)
      require(dups == 0L,
        s"mergeLatest(validate=true): $dups (key, version) group(s) appear " +
          "more than once within a single source — the winner would be " +
          "nondeterministic; dedup the input first")
    }
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__src").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual Pretraining"):
    * split a total training-token `budget` across strata (languages,
    * sources) as uniformly as possible subject to a per-stratum repeat cap —
    * no stratum may be scheduled past `maxEpochs` passes over its own
    * tokens. The answer is the classic waterfill: strata whose capacity
    * cap_i = maxEpochs·tokens_i sits below the fair share are allocated
    * their whole capacity, and the remaining budget spreads evenly over the
    * rest. Closed form over the capacity-ascending order (k = rank,
    * S_k = running capacity sum, m = stratum count): stratum k is capped
    * iff S_k + cap_k·(m−k) ≤ B, K = the largest such k, and every uncapped
    * stratum gets u = (B−S_K)/(m−K). When even the largest capacity
    * satisfies the test (K = m) the budget exceeds total capacity and every
    * stratum just gets its cap (the leftover is unusable at this epoch
    * limit). Returns one row per stratum: (stratum, n_tokens, cap, alloc,
    * epochs = alloc/tokens).
    *
    * Scale shape: the corpus reduces to per-stratum token totals in one
    * distributed hash aggregate; the waterfill itself runs on the m-row
    * stratum table (a windowed prefix sum over cardinality-of-strata rows —
    * the [[graft.operators.Profile.histogram]]-bins regime, nothing
    * corpus-sized sorts globally). Un-partitioned window bound: the
    * per-stratum aggregate, one row per distinct stratum. Deterministic ordering (capacity, then
    * stratum) makes the allocation engine-replayable.
    */
  def unimaxAllocate(df: DataFrame, stratumCol: String, tokenCol: Column,
      budget: Double, maxEpochs: Double): DataFrame = {
    require(budget > 0 && maxEpochs > 0, "need budget > 0 and maxEpochs > 0")
    import org.apache.spark.sql.expressions.Window
    val strata = df.groupBy(col(stratumCol).as("stratum"))
      .agg(sum(tokenCol).cast("double").as("n_tokens"))
      .withColumn("cap", col("n_tokens") * maxEpochs)
    val ord = Window.orderBy(col("cap"), col("stratum"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = strata
      .withColumn("__k", row_number().over(ord))
      .withColumn("__s", sum(col("cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__m", count(lit(1)).over(all))
      .withColumn("__capped",
        col("__s") + col("cap") * (col("__m") - col("__k")) <= budget)
    // "__kmax", not "__K": withColumn resolves case-INsensitively, so a
    // name differing from "__k" only by case would silently REPLACE the
    // rank column and turn the k ≤ K test into K ≤ K (always capped)
    val filled = ranked
      .withColumn("__kmax", max(when(col("__capped"), col("__k"))
        .otherwise(lit(0))).over(all))
      .withColumn("__smax", coalesce(max(when(col("__capped"), col("__s")))
        .over(all), lit(0.0)))
      .withColumn("__u",
        when(col("__kmax") < col("__m"),
          (lit(budget) - col("__smax")) / (col("__m") - col("__kmax")))
          .otherwise(lit(0.0)))
      .withColumn("alloc",
        when(col("__k") <= col("__kmax"), col("cap")).otherwise(col("__u")))
    filled.select(col("stratum"), col("n_tokens").cast("long").as("n_tokens"),
      col("cap").cast("long").as("cap"), round(col("alloc"), 6).as("alloc"),
      round(col("alloc") / col("n_tokens"), 6).as("epochs"))
  }

  /** DuckDB replay of [[unimaxAllocate]]: same capacity order, prefix test,
    * and waterfill arithmetic. `tokenExpr` computes each row's token count.
    */
  def unimaxOracleSql(tokenExpr: String, budget: Double, maxEpochs: Double,
      table: String = "documents", stratumCol: String = "lang"): String =
    s"""WITH s AS (
       |  SELECT $stratumCol AS stratum, sum($tokenExpr)::DOUBLE AS n_tokens,
       |         sum($tokenExpr)::DOUBLE * $maxEpochs AS cap
       |  FROM $table GROUP BY 1),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY cap, stratum) AS k,
       |         sum(cap) OVER (ORDER BY cap, stratum
       |           ROWS UNBOUNDED PRECEDING) AS sk,
       |         count(*) OVER () AS m
       |  FROM s),
       |f AS (SELECT *, sk + cap * (m - k) <= $budget AS capped FROM r),
       |agg AS (
       |  SELECT coalesce(max(k) FILTER (capped), 0) AS kk,
       |         coalesce(max(sk) FILTER (capped), 0.0) AS skk
       |  FROM f)
       |SELECT stratum, n_tokens::BIGINT AS n_tokens, cap::BIGINT AS cap,
       |       round(CASE WHEN k <= kk THEN cap
       |                  ELSE ($budget - skk) / (m - kk) END, 6) AS alloc,
       |       round((CASE WHEN k <= kk THEN cap
       |                   ELSE ($budget - skk) / (m - kk) END) / n_tokens, 6)
       |         AS epochs
       |FROM f, agg""".stripMargin

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every `raw` document by how
    * target-like its hashed n-gram distribution is, and keep the top `n`.
    * Features are unigrams + word bigrams hashed into `buckets` bins (the
    * paper's hashed n-gram generative model); both corpora reduce to
    * bucket-count histograms, the per-bucket log-likelihood ratio
    * llr(b) = ln p̂_target(b) − ln p̂_raw(b) (add-½ Laplace smoothing on the
    * FULL bucket grid, [[Profile.psiDrift]]'s convention, so empty buckets
    * stay finite and the support is occupancy-independent), and a document's
    * importance weight is Σ over its feature occurrences of llr(bucket).
    * Selection is deterministic top-n (logw DESC, id ASC) — the paper's
    * Gumbel-resampling variant reduces to this at temperature → 0, and
    * determinism is what makes the operator gate-checkable.
    *
    * Scale shape: each corpus is scanned once — the raw side's (id, bucket)
    * counts roll up into its global histogram rather than re-scanning.
    * Histograms are `buckets` rows (a broadcast-sized model no matter the
    * corpus — the hashing trick's point), scoring is a broadcast join on the
    * bucket id + one per-doc aggregate, and the top-n is a
    * TakeOrderedAndProject, never a single-partition window. Per-doc sums
    * fold in bucket order over the collected (bucket, contribution) pairs —
    * partition-order-proof, so the double is bit-identical to the oracle's
    * (raw FP totals; `logw` is rounded for output only, ordering uses the
    * exact value). Docs with zero tokens have no features and are absent,
    * mirroring [[Similarity.hashEmbed]]'s contract.
    */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, n: Int): DataFrame = {
    require(buckets > 0 && n > 0, "need buckets > 0 and n > 0")
    val spark = raw.sparkSession
    def feats(df: DataFrame): DataFrame =
      // tokens materialize in their own projection BEFORE the bigram lambda
      // (the Dedup.shingleTable rule): inlining the tokenization expression
      // into wordNgrams' per-element lambda re-runs the regex split once
      // per token — O(tokens²) per document, measured as 6.9 s of this
      // operator's original 9.6 s at sf0.1
      df.select(col(idCol).cast("long").as("id"),
          graft.operators.TextAnalysis.tokens(col(textCol)).as("__toks"))
        .select(col("id"), explode(concat(col("__toks"),
          graft.operators.TextAnalysis.wordNgrams(col("__toks"), 2))).as("__f"))
        .select(col("id"),
          (Dedup.portableHash(col("__f")) % buckets).cast("long").as("b"))
    // raw per-doc bucket counts; the raw histogram is their rollup (one scan)
    val rawIdB = feats(raw).groupBy(col("id"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Caching.persist)
    val rawHist = rawIdB.groupBy(col("b")).agg(sum(col("cnt")).as("cr"))
    val tgtHist = feats(target).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // full fixed grid (cf. psiDrift): smoothing support must be all buckets
    val grid = spark.range(0L, buckets.toLong).select(col("id").as("b"))
      .join(tgtHist, Seq("b"), "left").join(rawHist, Seq("b"), "left")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = grid.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"),
      lit(buckets.toLong).as("nb"))
    val llr = grid.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + 0.5) / (col("tt") + lit(0.5) * col("nb")))
          - log((col("cr") + 0.5) / (col("tr") + lit(0.5) * col("nb"))))
          .as("llr"))
    val scored = rawIdB.join(broadcast(llr), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("cnt")).as("n_feats"),
        sort_array(collect_list(struct(col("b"),
          (col("cnt") * col("llr")).as("c")))).as("cs"))
      .select(col("id"), col("n_feats"),
        aggregate(col("cs"), lit(0.0), (acc, s) => acc + s.getField("c"))
          .as("__logw"))
    scored.orderBy(col("__logw").desc, col("id"))
      .limit(n)
      .select(col("id"), col("n_feats"), round(col("__logw"), 6).as("logw"))
  }

  /** DuckDB replay of [[dsirSelect]] value-for-value: same hash, same
    * smoothing grid, same bucket-sorted per-doc fold, same ordering.
    * `rawPred`/`targetPred` select the two corpora from `table`.
    */
  def dsirOracleSql(rawPred: String, targetPred: String, buckets: Int,
      n: Int, table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val toks = graft.operators.TextAnalysis.toksSql(textCol)
    val hash = "('0x' || substr(md5(f), 1, 15))::BIGINT"
    def featCte(pred: String): String =
      s"""SELECT $idCol AS id, $hash % $buckets AS b
         |FROM (
         |  SELECT $idCol, unnest(list_concat(toks,
         |    CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
         |         ELSE list_transform(generate_series(1, len(toks) - 1),
         |                i -> toks[i] || ' ' || toks[i+1]) END)) AS f
         |  FROM (SELECT $idCol, $toks AS toks FROM $table WHERE ($pred)))""".stripMargin
    s"""WITH rawf AS (${featCte(rawPred)}),
       |tgtf AS (${featCte(targetPred)}),
       |ridb AS (SELECT id, b, count(*)::BIGINT AS cnt FROM rawf GROUP BY 1, 2),
       |rhist AS (SELECT b, sum(cnt)::BIGINT AS cr FROM ridb GROUP BY 1),
       |thist AS (SELECT b, count(*)::BIGINT AS ct FROM tgtf GROUP BY 1),
       |grid AS (
       |  SELECT g.b, coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
       |  FROM (SELECT unnest(generate_series(0, ${buckets - 1}))::BIGINT AS b) g
       |  LEFT JOIN thist ON thist.b = g.b
       |  LEFT JOIN rhist ON rhist.b = g.b),
       |t AS (SELECT sum(ct) AS tt, sum(cr) AS tr,
       |             ${buckets}::BIGINT AS nb FROM grid),
       |llr AS (
       |  SELECT b, ln((ct + 0.5) / (tt + 0.5 * nb))
       |           - ln((cr + 0.5) / (tr + 0.5 * nb)) AS llr
       |  FROM grid, t),
       |scored AS (
       |  SELECT id, sum(cnt)::BIGINT AS n_feats,
       |         list_sum(list_transform(
       |           list_sort(list({b: ridb.b, c: cnt * llr})),
       |           x -> x.c)) AS logw
       |  FROM ridb JOIN llr ON llr.b = ridb.b
       |  GROUP BY id)
       |SELECT id, n_feats, round(logw, 6) AS logw
       |FROM (SELECT * FROM scored ORDER BY logw DESC, id LIMIT $n)""".stripMargin
  }
  /** Key-skew audit — the "will this key explode my shuffle" report run
    * BEFORE a big join/aggregate ships: per-key population summary plus
    * the exact GINI COEFFICIENT of the key distribution (0 = perfectly
    * uniform keys, →1 = one key owns the corpus; the single number that
    * tells you whether [[saltedJoin]]/AQE skew handling is needed).
    *
    * Exact integer Gini without a corpus-sized sort: with keys sorted by
    * count ascending, G = Σᵢ (2i − n − 1)·cᵢ / (n·Σc). Keys sharing a
    * count form a rank RUN, so the sum collapses onto the COUNT-OF-COUNTS
    * histogram: a run of f keys at count c starting at rank r₀
    * contributes c·(2·(f·r₀ + f·(f−1)/2) − f·(n+1)). One per-key
    * aggregate (corpus-sized shuffle — the audit's only big step), one
    * histogram aggregate (rows = distinct count VALUES, tiny), one
    * ordered window over that histogram (the ksDrift posture: never over
    * keys, only over distinct counts), one final fold. Carrier: BIGINT
    * holds n·Σc to ~10¹⁸ — per-stratum audits beyond that, or swap the
    * two products to DECIMAL(38,0). Un-partitioned window bound: the
    * count-of-counts aggregate, one row per distinct per-key count; d
    * distinct counts sum to at least d(d+1)/2 rows, so d ≤ √(2·total_rows).
    *
    * Returns one row: (n_keys, total_rows, max_count, p50_count,
    * top1_share_micro, gini_micro).
    */
  def skewAudit(df: DataFrame, keyCol: String): DataFrame = {
    val perKey = Caching.persist(df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("c")))
    val hist = perKey.groupBy(col("c")).agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("before", coalesce(sum(col("f")).over(w), lit(0L)))
    val tot = perKey.agg(count(lit(1)).as("n"), sum(col("c")).as("total"),
      max(col("c")).as("max_count"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
        .cast("long").as("p50_count"))
    val num = ranked.crossJoin(broadcast(tot))
      .select((col("c") * (lit(2) * (col("f") * (col("before") + 1)
        + expr("f * (f - 1) div 2")) - col("f") * (col("n") + 1)))
        .as("contrib"))
      .agg(coalesce(sum(col("contrib")), lit(0L)).as("num"))
    tot.crossJoin(broadcast(num))
      .select(col("n").as("n_keys"), col("total").as("total_rows"),
        col("max_count"), col("p50_count"),
        when(col("total") === 0, lit(0L))
          .otherwise(expr("(CAST(max_count AS DECIMAL(38,0)) * 1000000) " +
            "div total"))
          .as("top1_share_micro"),
        // DECIMAL carriers: num ~ n·total already, so num·1e6 (and even
        // n·total at ~1e13 keys·rows) must not multiply in BIGINT
        when(col("n") === 0 || col("total") === 0, lit(0L))
          .otherwise(expr("(CAST(num AS DECIMAL(38,0)) * 1000000) " +
            "div (CAST(n AS DECIMAL(38,0)) * total)"))
          .as("gini_micro"))
  }

  /** DuckDB replay of [[skewAudit]]. */
  def skewAuditOracleSql(table: String, keyExpr: String): String =
    s"""WITH per_key AS MATERIALIZED (
       |  SELECT $keyExpr AS k, count(*)::BIGINT AS c
       |  FROM $table GROUP BY 1),
       |hist AS MATERIALIZED (
       |  SELECT c, count(*)::BIGINT AS f FROM per_key GROUP BY c),
       |ranked AS (
       |  SELECT c, f,
       |         coalesce(sum(f) OVER (ORDER BY c
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS before
       |  FROM hist),
       |tot AS MATERIALIZED (
       |  SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS total,
       |         max(c)::BIGINT AS max_count,
       |         quantile_disc(c, 0.5)::BIGINT AS p50_count
       |  FROM per_key),
       |num AS (
       |  SELECT coalesce(sum(c * (2 * (f * (before + 1) + f * (f - 1) // 2)
       |           - f * (n + 1))), 0)::BIGINT AS num
       |  FROM ranked, tot)
       |SELECT n AS n_keys, total AS total_rows, max_count, p50_count,
       |       (CASE WHEN total = 0 THEN 0
       |             ELSE (max_count::HUGEINT * 1000000) // total END)::BIGINT
       |         AS top1_share_micro,
       |       (CASE WHEN n = 0 OR total = 0 THEN 0
       |             ELSE (num::HUGEINT * 1000000)
       |                  // (n::HUGEINT * total) END)::BIGINT
       |         AS gini_micro
       |FROM tot, num""".stripMargin
  /** Small-file COMPACTION PLAN — first-fit-decreasing bin packing of a
    * file-inventory table into target-size compaction groups: the
    * maintenance pass every parquet lake runs (thousands of small files
    * from streaming ingest → read amplification; rewriting into
    * ~target-size groups fixes it), planned deterministically so the
    * rewrite job and its audit trail replay bit-for-bit. FFD is the
    * classic ≤ (11/9·OPT + 1) heuristic; ties break on file id. Files
    * larger than `targetBytes` get their own (oversize) bin.
    *
    * Scale shape: the plan runs over file METADATA (one row per file —
    * thousands of rows for a multi-TB table, never data rows), as ONE
    * sequential fold over the (size desc, id) order: inherently serial
    * (each placement depends on all previous), bounded input by design —
    * the listing aggregate upstream is where the corpus-sized work was.
    * Returns (file_id, size_bytes, bin, oversize).
    */
  def compactionPlan(files: DataFrame, idCol: String, sizeCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes >= 1)
    val step =
      s"""(acc, f) -> named_struct(
         |  'rem', CASE
         |    WHEN f.size > ${targetBytes}L THEN
         |      array_append(acc.rem, ${targetBytes}L - f.size)
         |    WHEN array_position(transform(acc.rem, r -> r >= f.size),
         |                        true) > 0 THEN
         |      transform(acc.rem, (r, i) ->
         |        CASE WHEN i + 1 = array_position(
         |               transform(acc.rem, r2 -> r2 >= f.size), true)
         |             THEN r - f.size ELSE r END)
         |    ELSE array_append(acc.rem, ${targetBytes}L - f.size) END,
         |  'out', array_append(acc.out, named_struct(
         |    'id', f.id, 'size', f.size,
         |    'bin', CAST(CASE
         |      WHEN f.size > ${targetBytes}L THEN size(acc.rem) + 1
         |      WHEN array_position(transform(acc.rem, r -> r >= f.size),
         |                          true) > 0 THEN
         |        array_position(transform(acc.rem, r -> r >= f.size), true)
         |      ELSE size(acc.rem) + 1 END AS BIGINT),
         |    'oversize', f.size > ${targetBytes}L)))""".stripMargin
    files
      .select(col(idCol).cast("string").as("id"),
        col(sizeCol).cast("long").as("size"))
      .agg(expr("sort_array(collect_list(struct(-size AS negsize, " +
        "id, size)))").as("lst"))
      .select(expr(
        s"""aggregate(
           |  lst,
           |  named_struct(
           |    'rem', CAST(array() AS ARRAY<BIGINT>),
           |    'out', CAST(array() AS ARRAY<STRUCT<id: STRING,
           |      size: BIGINT, bin: BIGINT, oversize: BOOLEAN>>)),
           |  $step,
           |  acc -> acc.out)""".stripMargin).as("out"))
      .select(explode(col("out")).as("o"))
      .select(col("o.id").as("file_id"), col("o.size").as("size_bytes"),
        col("o.bin"), col("o.oversize"))
  }

  /** DuckDB replay of [[compactionPlan]] — the FFD fold as a recursive
    * CTE over the (size desc, id) rank carrying the remaining-capacity
    * list.
    */
  def compactionOracleSql(filesCte: String, targetBytes: Long): String =
    s"""WITH RECURSIVE $filesCte,
       |ranked AS MATERIALIZED (
       |  SELECT id, size,
       |         row_number() OVER (ORDER BY size DESC, id) AS rn
       |  FROM files),
       |nf AS (SELECT count(*) AS n FROM ranked),
       |rec(rn, rem, bin) AS (
       |  SELECT 1::BIGINT,
       |         [$targetBytes - size]::BIGINT[],
       |         1::BIGINT
       |  FROM ranked WHERE rn = 1
       |  UNION ALL
       |  SELECT x.rn,
       |         CASE
       |           WHEN x.size > $targetBytes THEN
       |             list_append(r.rem, $targetBytes - x.size)
       |           WHEN list_position(list_transform(r.rem,
       |                  rr -> rr >= x.size), true) > 0 THEN
       |             list_transform(r.rem, (rr, i) ->
       |               CASE WHEN i = list_position(
       |                      list_transform(r.rem, r2 -> r2 >= x.size), true)
       |                    THEN rr - x.size ELSE rr END)
       |           ELSE list_append(r.rem, $targetBytes - x.size) END,
       |         CASE
       |           WHEN x.size > $targetBytes THEN len(r.rem) + 1
       |           WHEN list_position(list_transform(r.rem,
       |                  rr -> rr >= x.size), true) > 0 THEN
       |             list_position(list_transform(r.rem,
       |               rr -> rr >= x.size), true)
       |           ELSE len(r.rem) + 1 END
       |  FROM rec r JOIN ranked x ON x.rn = r.rn + 1)
       |SELECT k.id AS file_id, k.size AS size_bytes,
       |       rec.bin::BIGINT AS bin,
       |       k.size > $targetBytes AS oversize
       |FROM rec JOIN ranked k ON k.rn = rec.rn""".stripMargin

  /** DETERMINISTIC EPOCH SHUFFLE + SHARD LAYOUT — the reproducible
    * data-order plan a multi-epoch training run needs: every epoch must
    * present the corpus in a fresh pseudo-random order, every rank/worker
    * must know its shard without coordination, and a re-run (or a resumed
    * job) must land every document in exactly the same (epoch, shard,
    * position) slot. Keyed md5 gives all three: for epoch e, doc d gets
    * key = h("ep:e:" + id); shard = key mod `shards`; position =
    * rank of key within the shard. No RNG state, no seed files — the
    * (epochs × corpus) layout is a pure function of ids.
    *
    * Returns (epoch, shard, pos, id): the manifest a writer turns into
    * per-shard files (pair with [[writeShards]]). Position starts at 1
    * per (epoch, shard).
    *
    * Scale shape: one explode to epochs × corpus rows, then ONE window
    * partitioned by (epoch, shard) — each sort is corpus/shards rows,
    * spread over epochs·shards independent partitions; nothing global.
    * The hash-keyed order also decorrelates adjacent source documents
    * (the within-shard shuffle quality a sequential reader needs).
    */
  def epochShuffle(df: DataFrame, idCol: String, epochs: Int,
      shards: Int): DataFrame = {
    require(epochs >= 1 && shards >= 1)
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(col(idCol).as("id"))
      .select(col("id"), explode(sequence(lit(1), lit(epochs))).as("epoch"))
      .select(col("epoch").cast("long").as("epoch"), col("id"),
        Dedup.portableHash(concat(lit("ep:"), col("epoch"), lit(":"),
          col("id").cast("string"))).as("k"))
      .withColumn("shard", pmod(col("k"), lit(shards.toLong)))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("k"), col("id"))).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("id"))
  }

  /** DoReMi-STYLE DOMAIN MIXTURE REWEIGHTING (Xie et al. 2023, in
    * spirit) — multiplicative-weights update of per-domain sampling
    * weights from per-domain excess-loss signals: domains where the
    * proxy model underperforms get upweighted, iteratively, then the
    * final weights drive the sampler ([[downsampleTemperature]]'s
    * cousin with a learned, not power-law, target). The real algorithm's
    * exp(η·ℓ) step is replaced by its first-order integer form
    * w ← w·(1e6 + η_bp·ℓ // 10000) // 1e6 followed by exact
    * renormalization to Σ = 1e6 — monotone in ℓ like the exponential,
    * and every round is pure BIGINT arithmetic that replays
    * value-for-value in any engine (the [[graft.operators.Graph]]
    * micro-unit discipline).
    *
    * Input: (domain, loss_micro ≥ 0) one row per domain. Returns
    * (domain, weight_micro) after `iters` rounds from the uniform start
    * (floor renormalization leaks ≤ #domains micro-units — the
    * deterministic leak is part of the pinned semantics).
    *
    * Scale shape: the domain table is tiny by construction (a mixture
    * has tens of domains, never corpus-scale); k rounds = k aggregates
    * + k broadcast joins over it, lineage cut per round. The
    * corpus-sized work — computing loss_micro — happens upstream in
    * whatever aggregate defines the loss proxy.
    */
  def mixtureReweight(domains: DataFrame, domainCol: String,
      lossMicroCol: String, iters: Int, etaBp: Int = 1000): DataFrame = {
    require(iters >= 0 && etaBp >= 0)
    val d = domains.select(col(domainCol).as("domain"),
      col(lossMicroCol).cast("long").as("l")).transform(Caching.persist)
    val n = d.count()
    var w = d.select(col("domain"), col("l"),
      lit(1000000L / math.max(n, 1L)).as("w"))
    for (_ <- 1 to iters) {
      val up = w.select(col("domain"), col("l"),
        expr(s"(w * (1000000 + ($etaBp * l) div 10000)) div 1000000")
          .as("w"))
      val tot = up.agg(sum(col("w")).as("tot"))
      w = up.crossJoin(broadcast(tot))
        .select(col("domain"), col("l"),
          expr("(w * 1000000) div tot").as("w"))
        .transform(Caching.checkpoint(_))
    }
    w.select(col("domain"), col("w").as("weight_micro"))
  }

  /** DuckDB SQL replaying [[mixtureReweight]] over a `domains` CTE the
    * caller supplies (must yield columns domain, l) — chained CTE per
    * round, the [[graft.operators.Graph.pageRankOracleSql]] pattern.
    */
  def mixtureReweightOracleSql(domainsCte: String, iters: Int,
      etaBp: Int = 1000): String = {
    val rounds = (1 to iters).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""u$r AS (
         |  SELECT domain, l,
         |         (w * (1000000 + ($etaBp * l) // 10000)) // 1000000 AS w
         |  FROM $prev),
         |w$r AS (
         |  SELECT domain, l, (w * 1000000) // (SELECT sum(w) FROM u$r) AS w
         |  FROM u$r)""".stripMargin
    }.mkString(",\n")
    val last = if (iters == 0) "w0" else s"w$iters"
    // no trailing comma after w0 when iters == 0 (rounds is empty)
    val roundsClause = if (iters == 0) "" else s",\n$rounds"
    s"""WITH domains AS ($domainsCte),
       |w0 AS (
       |  SELECT domain, l,
       |         1000000 // (SELECT count(*) FROM domains) AS w
       |  FROM domains)$roundsClause
       |SELECT domain, w::BIGINT AS weight_micro FROM $last""".stripMargin
  }

  /** DuckDB SQL replaying [[epochShuffle]] value-for-value (same md5
    * keys, same shard mod, same (k, id) tiebreak).
    */
  def epochShuffleOracleSql(table: String, idExpr: String, epochs: Int,
      shards: Int): String =
    s"""WITH keyed AS (
       |  SELECT e.range::BIGINT AS epoch, $idExpr AS id,
       |         ('0x' || substr(md5('ep:' || e.range || ':' ||
       |            ($idExpr)::VARCHAR), 1, 15))::BIGINT AS k
       |  FROM $table, range(1, ${epochs + 1}) e)
       |SELECT epoch, k % $shards AS shard,
       |       row_number() OVER (PARTITION BY epoch, k % $shards
       |                          ORDER BY k, id)::BIGINT AS pos,
       |       id
       |FROM keyed""".stripMargin
}
