package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graftshim.GraftShim

/** Plan-shape regression tests: the properties that make these queries
  * survive a 100x scale-up are asserted here, so a refactor that silently
  * turns a broadcast join into a nested-loop join (or un-pushes a filter)
  * fails CI rather than a production run.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def executed(name: String): (DataFrame, SparkPlan) = {
    // other suites cache tables; cache substitution would swap parquet scans
    // for InMemoryTableScan and invalidate the pushdown assertions
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    (df, df.queryExecution.executedPlan)
  }

  test("dim joins broadcast (q_host_join_nation_revenue)") {
    val (_, plan) = executed("q_host_join_nation_revenue")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 3, s"expected 3 broadcast joins, got ${bhj.size}")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "no nested-loop joins expected")
  }

  test("filter and projection push to the parquet scan (q_host_agg_pricing)") {
    val (_, plan) = executed("q_host_agg_pricing")
    val scans = plan.toString()
    assert(scans.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter should reach the scan")
    assert(!scans.contains("l_orderkey"),
      "unused columns must be pruned from the read schema")
  }

  test("blocked jaccard joins on equi-keys, never nested-loop") {
    val (_, plan) = executed("q_dedup_jaccard")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "range blocking must plan as an equi-join on block keys, not BNLJ")
  }

  test("containment pairs join on equi-keys, never nested-loop") {
    val (_, plan) = executed("q_dedup_containment")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "id-window blocking must plan as an equi-join on block keys, not BNLJ")
  }

  test("coEdges/pageRank: group self-join and rank propagation are equi-joins") {
    // the co-occurrence pair build must key on the group column and every
    // rank iteration on src/dst — a BNLJ anywhere here is corpus² at scale
    val (_, plan) = executed("q_graph_pagerank")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "edge build and rank propagation must plan as equi-joins, not BNLJ")
  }

  test("coEdges: the first graph query's persist serves the next one, " +
      "with no family warm-up") {
    assert(SparkEntry.familyWarm.keySet == Set("pipeline"))
    executed("q_graph_degree")
    // coEdges persists on an already-cached plan as a no-op, so this
    // lookup finds the entry q_graph_degree built, or none
    val entry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.lookupCachedData(
        graft.operators.Graph.coEdges(spark.table("lineitem"), "l_orderkey",
          "l_partkey").asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
    assert(entry.exists(_.isCachedColumnBuffersLoaded),
      "q_graph_degree must build the coEdges(lineitem) table")
    val df = SparkEntry.queries("q_graph_pagerank")(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    // pageRank persists its own tables on top of the edge table, so the
    // edge scan sits inside their cached plans
    def scans(p: SparkPlan): Seq[AnyRef] =
      collectWithSubqueries(p) { case s: InMemoryTableScanExec => s.relation }
        .flatMap(r => r.cacheBuilder +: scans(r.cachedPlan))
    assert(scans(df.queryExecution.executedPlan)
      .exists(b => entry.exists(_ eq b)),
      "q_graph_pagerank must scan the coEdges(lineitem) table already built")
  }

  test("linkPrediction: 2-hop candidate build and anti-join are equi-joins") {
    // candidate pairs must route THROUGH the shared-neighbor equi-key (z)
    // and observed edges must leave via an equi-keyed anti join — a BNLJ
    // anywhere is the all-pairs blow-up the hub cap exists to prevent
    val (_, plan) = executed("q_graph_linkpred")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "link-prediction candidates must plan as equi-joins, not BNLJ")
  }

  test("dbscanGrid: neighbor search is a cell-keyed equi-join") {
    // the 3x3 grid probe must join on the (cx, cy) cell key with the
    // Chebyshev test as a post-join filter — a BNLJ here is all-pairs
    val (_, plan) = executed("q_embed_dbscan")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "grid neighbor search must be an equi-join")
  }

  test("marginMining: codebook broadcasts, candidates join on the cluster " +
      "equi-key") {
    // assignment must be a BROADCAST of the k-row codebook (corpus never
    // shuffles for it) and pair generation a cluster-keyed equi-join —
    // a BNLJ anywhere is the corpus² the bucketing exists to prevent
    val (_, plan) = executed("q_embed_margin")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    // the codebook assignment join is a broadcast nested-loop ONLY if the
    // cross join shape leaked — cents assignment rides a crossJoin of the
    // broadcast codebook, which is the one legitimate small-side nest
    assert(bnlj.size <= 2,
      s"only the k-row codebook broadcasts may nest-loop; got ${bnlj.size}")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty || bnlj.nonEmpty, "broadcast assignment expected")
  }

  test("simplifiedSilhouette: one point-by-centroid broadcast pass, " +
      "no shuffle of the corpus against itself") {
    val (_, plan) = executed("q_embed_silhouette")
    // the point×centroid score is a broadcast (k-row codebook) nest; no
    // equi-condition exists, so the assertion is on ABSENCE of any
    // corpus-sized shuffle join — every SMJ/SHJ here would be corpus×k
    val smj = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(smj.isEmpty,
      s"centroid scoring must broadcast, never shuffle-join: ${smj.size}")
  }

  test("hammingBandPairs (image near-dup): band-keyed equi-join, no BNLJ") {
    val (_, plan) = executed("q_multimodal_neardup")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "band blocking must plan as an equi-join on (band, key), not BNLJ")
  }

  test("conformal: suffix-sum lookup is an equi-join on the score") {
    // the >=-count must come from the two-level windowed table joined on
    // the exact score — a range/theta join would be test x calibration.
    // The single permitted nest-loop is the ONE-ROW n_cal broadcast.
    val (_, plan) = executed("q_pipeline_conformal")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1,
      s"only the one-row n_cal cross join may nest-loop; got ${bnlj.size}")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "the score lookup must be a broadcast hash join")
  }

  test("bootstrap: the replicate table broadcasts onto the corpus") {
    // R replicate rows fan out via a broadcast — shuffling the corpus R
    // times instead would defeat the one-pass design. (The 1-row cross
    // joins elsewhere in the plan are fine; assert a broadcast exists
    // and the corpus side never shuffles for the fan-out join.)
    val (_, plan) = executed("q_pipeline_bootstrap")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    // the replicate fan-out is a broadcast nested-loop cross join by
    // design (no key) — but there must be exactly that one, nothing else
    assert(bnlj.size <= 1,
      s"only the replicate-table broadcast may nest-loop; got ${bnlj.size}")
  }

  test("bm25: probe terms broadcast onto the posting lists") {
    // work must be bounded by the probes' posting-list hits: the query-term
    // side joins as a broadcast hash join, and nothing nest-loops except
    // the pinned one-row corpus-stats cross join
    val (_, plan) = executed("q_pipeline_bm25")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1,
      s"only the ONE-ROW corpus-stats cross join may nest-loop; got ${bnlj.size}")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "the probe-term join must be a broadcast hash join")
  }

  test("dsir scores through a broadcast model, never nested-loop") {
    // the bucket-llr model must be broadcast-sized (the hashing trick's
    // point) and the scoring join an equi join on the bucket id
    val (_, plan) = executed("q_pipeline_dsir")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size == 1,
      "exactly the ONE-ROW totals cross join may nest-loop (psiDrift's " +
        s"pinned pattern); got ${bnlj.size}")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "the llr model must join via broadcast hash")
  }

  test("ivf layout scan carries a static partition filter") {
    // the serving read must prune at PLAN time to the probed inverted
    // lists — a filter-after-scan would read every list's files
    val (_, plan) = executed("q_knn_ivf_layout")
    val pruned = collectWithSubqueries(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.partitionFilters.nonEmpty => f
    }
    assert(pruned.nonEmpty,
      "expected PartitionFilters on the inverted-list scan")
  }

  test("fuzzy (levenshtein) dedup joins on equi-keys, never nested-loop") {
    val (_, plan) = executed("q_dedup_fuzzy")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "id-window blocking must plan as an equi-join on block keys, not BNLJ")
  }

  test("e2e pipeline: no joins, exactly the two window exchanges") {
    val (_, plan) = executed("q_pipeline_e2e")
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 2,
      s"one scan + dedup-key window + language window = 2 exchanges, got ${shuffles.size}")
    assert(!plan.toString().contains("Join"),
      "the composed pipeline is join-free — every stage is a projection, filter, or window")
  }

  test("array_reduce UDAFs plan two-phase (partial + final) aggregation") {
    val df = SparkEntry.queries("q_array_sum_int")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    // ObjectHashAggregate appears twice: partial before, final after the exchange
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected two-phase ObjectHashAggregate, plan:\n$plan")
  }

  test("native array_reduce also plans two-phase on ObjectHashAggregate") {
    val df = SparkEntry.queries("q_array_sum_native")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("brute-force knn broadcasts the query vector, no shuffle of the corpus") {
    val (_, plan) = executed("q_knn_brute")
    val shuffles = collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }
    // only the final top-k single-partition exchange is acceptable
    assert(shuffles.size <= 1,
      s"corpus scan should not shuffle for a broadcast query vector: ${shuffles.size}")
  }

  test("contamination: probe grams broadcast, the corpus side never shuffles") {
    val (_, plan) = executed("q_text_contamination")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "gram join must be a broadcast hash join")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty)
    // only the (doc, probe) count aggregate shuffles — the 100 TB corpus
    // scan itself reaches the join shuffle-free
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1,
      s"corpus side must not shuffle before the gram join, got ${shuffles.size}")
  }

  test("mixture shares: total joins as a broadcast, no global window sort") {
    val (_, plan) = executed("q_pipeline_mixture")
    assert(collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "token_share must come from a broadcast total, not a global window")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size == 1, "the one-row total joins via broadcast")
  }

  test("bloom ingest probes with the native expression, no Scala UDF") {
    // incrementalBloom's probe must stay the codegen'd
    // BloomFilterMightContain over an inlined capped-size filter — a Scala
    // UDF here would reintroduce per-row boxing AND a driver-sized closure
    // expression-level check on the analyzed plan (persist + aggregate
    // result projections elide the probe from physical toString)
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q_dedup_bloom")(spark, sfDir)
    val exprs = df.queryExecution.analyzed
      .collect { case p => p.expressions }.flatten
    assert(exprs.exists(_.collectFirst {
      case _: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => ()
    }.isDefined), "expected the native BloomFilterMightContain probe")
    assert(!exprs.exists(_.collectFirst {
      case _: org.apache.spark.sql.catalyst.expressions.ScalaUDF => ()
    }.isDefined), "the bloom probe must not be a Scala UDF")
  }

  test("runtime bloom-filter join pruning injects on a selective join") {
    // at 100 TB the fact-side scan of a selective join should be pre-filtered
    // by a bloom filter built from the dim side (Spark 3.3+ runtime row
    // filtering); size thresholds are lowered so the tiny test data triggers
    // the same plan rewrite a production-sized input would
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // creation side must fit UNDER its threshold (raise it), application
      // side must scan OVER its threshold (lower it) for injection
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1B",
      // bloom injection targets shuffle joins; the tiny test tables would
      // broadcast (at 100 TB both sides shuffle, which is the real case)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      graft.sources.Tables.load(spark, sfDir)
      val df = spark.sql(
        """SELECT l.l_orderkey, l.l_quantity
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_totalprice > 500000.0""".stripMargin)
      val optimized = df.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("bloom_filter") ||
        optimized.contains("BloomFilter"),
        s"expected a runtime bloom filter on the fact side, plan:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT answered from footers") {
    // a whole-table MIN/MAX/COUNT over 100 TB of parquet should read file
    // FOOTER STATISTICS, not data pages — Spark 3.3+ pushes the aggregate
    // into the scan when enabled and no filter/partial column blocks it
    // needs the v2 parquet reader (v1, the default, has no aggregate
    // pushdown path) — both configs scoped to this test
    val conf = spark.conf
    val keys = Seq("spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions.{col, count, lit, max, min}
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val df = li.agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey")))
      val scan = df.queryExecution.executedPlan.toString()
      assert(scan.contains("PushedAggregation: [COUNT"),
        s"expected the aggregate pushed to the parquet scan, plan:\n$scan")
      val n = df.collect()(0).getLong(0)
      conf.set("spark.sql.parquet.aggregatePushdown", "false")
      assert(spark.read.parquet(s"$sfDir/lineitem.parquet").count() == n,
        "footer-answered count must equal the scan-answered count")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("dupSpans: span fingerprints hash after explode, no nested-loop join") {
    val (_, plan) = executed("q_dedup_spans")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "dup-span join-back must be an equi join on span_fp")
    // the md5 fingerprint must sit ABOVE the generator (per exploded row,
    // codegen), never inside an interpreted lambda under it. The occurrence
    // table is persisted, so the generator lives inside the cached plan —
    // walk through InMemoryTableScan to reach it
    val cached = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan
    }
    val gens = (plan +: cached).flatMap(p => collectWithSubqueries(p) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    })
    assert(gens.nonEmpty, "expected the posexplode generator")
    assert(!gens.exists(_.boundGenerator.toString.contains("md5")),
      "fingerprinting must happen after the explode, not inside it")
  }

  test("semDedup: within-cluster pairing is an equi join, never nested-loop") {
    val (_, plan) = executed("q_embed_semdedup")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "cluster blocking must plan as an equi self-join on centroid_id")
  }

  test("sourceOverlap: fingerprint pairing is an equi join, never nested-loop") {
    val (_, plan) = executed("q_dedup_overlap")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "the stratum-pair matrix must come from an equi self-join on fp")
  }

  test("spamMass: the fused pyramid stays equi-join-only") {
    val (_, plan) = executed("q_graph_spam_mass")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "tagged-union propagation must not introduce a nested-loop join")
  }

  test("dedupSegments: winner via aggregate, no nested-loop, no corpus window") {
    val (_, plan) = executed("q_dedup_segments")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "segment winner/rebuild must join on equi keys")
    // first-occurrence must be a fingerprint-keyed aggregate, never a
    // row_number window over the corpus-sized segment table
    val wins = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty,
      "global first-occurrence must plan as min(struct) aggregation, not a window")
  }

  test("heapsFit: every cumulative window is bucket-partitioned or bucket-sized") {
    val (_, plan) = executed("q_text_heaps")
    // the intra-bucket window must carry the bucket key in its partition
    // spec; the only unpartitioned window runs over the bucket-total table
    // (n_docs/bucketSize rows), never over the doc table — asserted by its
    // child being the bucket aggregate, not a doc-level projection
    val wins = collectWithSubqueries(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected the two-level prefix-sum windows")
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.forall(w =>
      collectWithSubqueries(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
        case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s
      }.nonEmpty),
      "the only global window may run over the per-bucket aggregate table")
  }

  test("jlProject: sign matrix broadcasts, corpus never nested-loops") {
    val (_, plan) = executed("q_embed_jl")
    // the ONLY tolerable cross join is the constant d-by-k sign-matrix
    // build (both inputs are Range, corpus-independent); any nested-loop
    // touching real data is the scale hazard this pin guards against
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    val overData = bnlj.filterNot(j => collectWithSubqueries(j) {
      case s if s.nodeName.contains("Scan") || s.nodeName.contains("Range") => s
    }.forall(_.nodeName.contains("Range")))
    assert(overData.isEmpty,
      "only the constant Range-by-Range sign-matrix cross join may nest")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "the d-by-k sign matrix must broadcast onto the corpus")
  }

  test("attribution: conversions join touches on user equi-key") {
    val (_, plan) = executed("q_stream_attribution")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "the lookback range predicate must ride an equi join on user_id")
  }

  test("eval rank-sums: bucketed below-sums join on equi-keys, no BNLJ") {
    // rocAuc/decisionStump/lorenz ride the two-level bucketed prefix sum:
    // the bucket-total lookup must be an equi join on the bucket id —
    // never a range join — and nothing nest-loops except the pinned
    // one-row totals broadcasts (stump's tot, lorenz's tot+levels)
    for ((q, allowed) <- Seq("q_pipeline_auc" -> 0, "q_pipeline_stump" -> 1,
      "q_pipeline_lorenz" -> 2)) {
      val (_, plan) = executed(q)
      val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnlj.size <= allowed,
        s"$q: only $allowed one-row broadcast(s) may nest-loop; got ${bnlj.size}")
    }
  }

  test("rocAucBy: subgroup curves shuffle by group, never nested-loop") {
    val (_, plan) = executed("q_pipeline_auc_by")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "grouped AUC must plan group-keyed equi joins only")
  }

  test("skyline: dominance rides the suffix-max equi-join, never the n² pair join") {
    val (_, plan) = executed("q_pipeline_skyline")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "skyline must join rows to the distinct-x suffix-max table on x — " +
        "a BNLJ here is the textbook all-pairs dominance blow-up")
  }

  test("bfsDistances: frontier expansion and visited anti-join are equi-joins") {
    // each BFS level joins the edge table on src and anti-joins the
    // visited set on node — a BNLJ anywhere is a level-wise cross product
    val (_, plan) = executed("q_graph_bfs")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "BFS levels must plan as keyed equi/anti joins")
  }

  test("hits: rounds share one plan, equi-joins, window totals on node aggregates") {
    // each half-step reads the previous scores once, so all rounds sit in
    // one lazy plan over the flat checkpointed edge table (RDD scan
    // leaves); every join is keyed (a BNLJ would be a node×node cross
    // product) and every un-partitioned window total runs on the
    // node-keyed raw aggregate, never on the edge-sized join output
    val (_, plan) = executed("q_graph_hits")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "HITS rounds must plan as keyed equi-joins")
    val rddScans = collectWithSubqueries(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty,
      "expected the checkpointed edge table as flat RDD scan leaves")
    // the first node under the window that is not a sort, exchange or
    // projection
    def below(p: SparkPlan): SparkPlan = p match {
      case s: QueryStageExec => below(s.plan)
      case r: ReusedExchangeExec => below(r.child)
      case a: BaseAggregateExec => a
      case u if u.children.size == 1 => below(u.children.head)
      case other => other
    }
    val totals = collectWithSubqueries(plan) {
      case w: WindowExec if w.partitionSpec.isEmpty => below(w.child)
    }
    assert(totals.size >= 6, "one window total per half-step of 3 rounds, " +
      s"got ${totals.size}")
    totals.foreach {
      case a: BaseAggregateExec =>
        assert(a.groupingExpressions.size == 1 &&
          a.output.map(_.name).contains("node"),
          s"window total over an aggregate keyed on ${a.groupingExpressions}")
      case other =>
        fail(s"window total must run on a node aggregate, not ${other.nodeName}")
    }
  }

  test("hits: building fires at most 2 jobs, and executions repeat their job count") {
    spark.catalog.clearCache()
    def buildAndRun(): (Long, Long) = {
      val (df, built) = GraftShim.jobsDuring(spark) {
        SparkEntry.queries("q_graph_hits")(spark, sfDir)
      }
      val (_, ran) = GraftShim.jobsDuring(spark) {
        df.write.format("noop").mode("overwrite").save()
      }
      (built, ran)
    }
    val (built1, ran1) = buildAndRun()
    val (built2, ran2) = buildAndRun()
    assert(built1 <= 2 && built2 <= 2,
      s"construct-time jobs $built1, $built2: the rounds must compose lazily")
    assert(ran1 == ran2, s"execution jobs differ: $ran1 vs $ran2")
  }

  test("mmdByGroup: pair math runs on the group-dim aggregate, not the corpus") {
    // the (group_a, group_b) self-join must key on dim over the tiny
    // aggregated sums table; the corpus is touched by exactly one
    // explode+aggregate pass
    val (_, plan) = executed("q_embed_mmd")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "group-pair join must be a dim-keyed equi-join")
  }

  test("ndcgAtK: both rank orders ride one group-keyed exchange, no BNLJ") {
    // real rank and ideal rank are windows over the SAME partitioning —
    // the plan must shuffle the events once on the group key
    val (_, plan) = executed("q_pipeline_ndcg")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, "NDCG must not nest-loop anywhere")
    val shuffles = collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3,
      s"one group-key exchange (+ final agg exchanges) expected; got ${shuffles.size}")
  }

  test("classificationReport: class-level joins on the confusion aggregate") {
    val (_, plan) = executed("q_pipeline_f1")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "per-class stats must equi-join gold/pred totals on the class key")
  }

  test("balancedIvfAssign: codebook broadcasts, top-2 rides a group " +
      "limit, spill join is id-keyed") {
    // the n×k scoring join broadcasts the model-sized codebook (allowed
    // BNLJ), the rn<=2 filter must push into the window as a
    // WindowGroupLimit (partial top-2, no full per-vector sort spill),
    // and the secondary-centroid lookup joins on the id equi-key
    val (_, plan) = executed("q_knn_balanced")
    val s = plan.toString()
    assert(s.contains("WindowGroupLimit"),
      "top-2 centroid filter must plan as WindowGroupLimit")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "spill-target lookup must be an id-keyed equi join")
  }

  test("annRecallIvf: truth and approx sides broadcast the query sample") {
    // both ranking passes broadcast |Q|-sized sides against one corpus
    // scan each; the truth∪approx recall join is (qid,id)-keyed
    val (_, plan) = executed("q_knn_recall")
    val shuffles = collectWithSubqueries(plan) { case x: ShuffleExchangeExec => x }
    // windows shuffle on qid/id; nothing should shuffle corpus×|Q| pair
    // sets beyond the two ranking exchanges, the assignment argmax, the
    // hit join, and the final aggregate (measured shape: 7)
    assert(shuffles.size <= 7,
      s"recall should need at most ranking+agg exchanges, got ${shuffles.size}")
  }

  test("isotonicCalibrate: the cube runs on the bucket table, the corpus " +
      "is aggregated exactly once") {
    // every nested-loop side must be the model-sized bucket table — the
    // corpus appears only below the single bucket groupBy
    val (_, plan) = executed("q_pipeline_isotonic")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    // span pair + triple joins are range joins over bt (≤3 BNLJ), all
    // broadcast-small by construction
    assert(bnlj.size <= 3, s"only bucket-table range joins may nest-loop; " +
      s"got ${bnlj.size}")
  }

  test("betweennessSampled: both sweeps plan keyed equi-joins over flat " +
      "checkpointed rounds") {
    val (_, plan) = executed("q_graph_betweenness")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "forward/backward sweeps must join on (s, node)/src/dst equi-keys")
    val rddScans = collectWithSubqueries(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty,
      "per-round truncation dropped — rounds would compose one deep tree")
  }

  test("modularity: label joins are node-keyed, aggregates keyed by label") {
    val (_, plan) = executed("q_graph_modularity")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "modularity must plan node/label equi-joins only — a BNLJ is an " +
        "edge×community cross product")
  }

  test("harmonicSampled: forward BFS plans keyed equi-joins over flat " +
      "checkpointed rounds") {
    val (_, plan) = executed("q_graph_harmonic")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "the batched BFS must join on (s, node)/src equi-keys")
    val rddScans = collectWithSubqueries(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty,
      "per-round truncation dropped — rounds would compose one deep tree")
  }

  test("neighborhoodFunction: each hop is one equi-join + keyed max, " +
      "never a pair product") {
    val (_, plan) = executed("q_graph_anf")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      "register merge must join edge⋈state on dst — a BNLJ would be " +
        "node×register blowup")
    val rddScans = collectWithSubqueries(plan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty,
      "per-hop truncation dropped — hops would compose one deep tree")
  }

  test("hllOverlap: the pair stage joins on group keys — never a " +
      "register-keyed product") {
    val (_, plan) = executed("q_approx_hll_overlap")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    // the only permissible nested-loop is the deliberate G×G group-pair
    // crossJoin (group-domain-sized, broadcastable); register rows only
    // ever join on equi-keys
    assert(bnlj.size <= 1,
      s"hllOverlap planned ${bnlj.size} nested-loop joins — register " +
        "rows must move through group-keyed equi-joins only")
  }

  test("kllQuantileBy: corpus rows move only through group-keyed " +
      "equi-joins — nested loops are model-sized frames") {
    val (_, plan) = executed("q_approx_kll_by")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    // permissible nested loops: the 62-row level-frame theta join over
    // the ≤G·62-row histogram, and the per-mille-points rank join over
    // the ≤G·k-row ranked sample — both model-sized on BOTH sides. The
    // corpus-sized sample filter is the grp equi-join against the G-row
    // l* frame, never a nested loop.
    assert(bnlj.size <= 2,
      s"kllQuantileBy planned ${bnlj.size} nested-loop joins — corpus " +
        "rows must reach the sample through the grp equi-join only")
    val equi = collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(equi.nonEmpty, "the lv ⋈ lstar sample filter must be an equi-join")
  }

  test("sccBounded: every peel/hop round is a keyed equi-join — no " +
      "nested loops, no cartesian products anywhere in the plan") {
    val (_, plan) = executed("q_graph_scc")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty,
      s"sccBounded planned ${bnlj.size} nested-loop joins — label " +
        "propagation must move through src/dst-keyed equi-joins only")
    val cart = collectWithSubqueries(plan) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cart.isEmpty, "sccBounded must not plan cartesian products")
  }

  test("hllDistinct: the sketch path is aggregate-only — no join wider " +
      "than the 1-row exact-count broadcast") {
    val (_, plan) = executed("q_approx_hll")
    val bnlj = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    // the only join in the plan is the deliberate 1-row crossJoin gluing
    // n_exact onto the 1-row sketch — broadcast of a single row
    assert(bnlj.size <= 1,
      s"hll must be scan + aggregates, found ${bnlj.size} nested-loop joins")
    val sorts = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.isEmpty,
      "hll has no ordered step — a sort means the register fold " +
        "degenerated into a global order-by")
  }
}
