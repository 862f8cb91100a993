package graft.queries

import graft.operators.Scale
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-checked queries driving the skew/shuffle-management operators
  * (graft.operators.Scale). The point of these oracles: a salted join and a
  * skew-proof distinct are *rewrites* — their whole contract is producing
  * exactly the plain operator's answer, which is precisely what the DuckDB
  * hash-compare asserts (the oracle SQL is the UNrewritten form).
  */
object ScaleQueries {

  private def t(s: SparkSession, d: String, name: String): DataFrame = {
    Tables.load(s, d)
    s.table(name)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- deterministic epoch shuffle + shard layout: the reproducible
    // multi-epoch data-order manifest (oracle-checked) ---
    "q_scale_epochs" -> ((s, d) =>
      Scale.epochShuffle(t(s, d, "documents").select(col("doc_id")),
        "doc_id", epochs = 3, shards = 8)),

    // --- DoReMi-style mixture reweighting: multiplicative-weights update
    // of per-lang sampling weights from the integer excess-length proxy,
    // 5 rounds, chained-CTE oracle (oracle-checked) ---
    "q_pipeline_doremi" -> ((s, d) => {
      val dd = t(s, d, "documents")
      val a = dd.groupBy(col("lang").as("domain"))
        .agg(expr("sum(n_chars) div count(1)").as("av"))
      val domains = a.crossJoin(broadcast(a.agg(max(col("av")).as("mx"))))
        .select(col("domain"), expr("((mx - av) * 1000000) div mx").as("l"))
      Scale.mixtureReweight(domains, "domain", "l", iters = 5, etaBp = 100)
    }),

    // salted equi-join == plain equi-join (aggregated so the dump is small)
    "q_scale_salted_join" -> ((s, d) => {
      val big = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"),
        col("l_returnflag"))
      val small = t(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      Scale.saltedJoin(big, small, "l_orderkey", salts = 8)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("o_custkey")).as("sum_cust"))
    }),

    // skew-proof distinct == count(DISTINCT v)
    "q_scale_distinct" -> ((s, d) => Scale.skewProofCountDistinct(
      t(s, d, "lineitem"), col("l_returnflag"), col("l_partkey"))),

    // bucketed co-located join == plain equi-join. Both sides are written
    // bucketed+sorted on the join key, so the join runs with NO shuffle
    // exchange (asserted in ScaleSpec) — at 100 TB the layout replaces the
    // per-query fact-table shuffle. The oracle replays the unbucketed join.
    "q_scale_bucketed_join" -> ((s, d) => {
      // deterministic 25% slice: the gate query demonstrates + oracles the
      // co-located layout (ScaleSpec asserts the no-shuffle plan on full
      // tables); writing a slice keeps the bench's table-write cost small
      val li = t(s, d, "lineitem")
        .where(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val ord = t(s, d, "orders")
        .where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      Scale.writeBucketed(li, "graft_li_bkt", "l_orderkey", buckets = 8)
      Scale.writeBucketed(ord, "graft_ord_bkt", "l_orderkey", buckets = 8)
      s.table("graft_li_bkt").join(s.table("graft_ord_bkt"), "l_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("o_custkey")).as("sum_cust"))
    }),
    // hash-balanced shard export: write orders as 8 parquet shards, read
    // the layout back, report per-shard counts + key range. The oracle
    // replays the md5 shard assignment, so the whole write→read lifecycle
    // must preserve every row exactly to hash-match.
    "q_scale_shards" -> ((s, d) => {
      // dataset- and process-scoped dir (like q_source_partitioned):
      // concurrent drivers must not overwrite each other's live layout
      val back = Scale.writeShards(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
        graft.sources.Tables.scratchDir(s,
          s"shards_${d.replaceAll("[^A-Za-z0-9]", "_")}"),
        "o_orderkey", n = 8)
      back.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          min(col("o_orderkey")).as("key_min"),
          max(col("o_orderkey")).as("key_max"))
    }),

    // Z-order clustered layout: orders written sorted on the Morton
    // interleave of (custkey, orderkey) mod 1024, read back with the
    // z-value recomputed per row — the write→read lifecycle must preserve
    // every row and the bit math must match the oracle's replay exactly
    // (the SKIPPING benefit of the layout is measured in ScaleSpec)
    "q_scale_zorder" -> ((s, d) => {
      val back = Scale.writeZordered(
        t(s, d, "orders").select(col("o_orderkey"),
          (col("o_custkey") % 1024).as("xd"),
          (col("o_orderkey") % 1024).as("yd")),
        graft.sources.Tables.scratchDir(s,
          s"zorder_${d.replaceAll("[^A-Za-z0-9]", "_")}"),
        "xd", "yd", bits = 10)
      back.select(col("o_orderkey"), col("xd"), col("yd"),
        Scale.zorderValue(col("xd"), col("yd"), bits = 10).as("zval"))
    }),

    // key-skew audit: per-key population Gini + top-1 share over the
    // customer key of orders — the pre-join skew report (oracle-checked)
    "q_scale_skew" -> ((s, d) =>
      Scale.skewAudit(t(s, d, "orders"), "o_custkey")),

    // FFD compaction plan: synthetic per-customer-band "file" sizes
    // packed into 4000-row bins — the deterministic small-file
    // maintenance planner (oracle-checked)
    "q_scale_compaction" -> ((s, d) =>
      Scale.compactionPlan(
        t(s, d, "orders").groupBy((col("o_custkey") % 200).as("fid"))
          .agg(count(lit(1)).as("rows")),
        "fid", "rows", targetBytes = 4000L)),

    // relational-integrity audit: functional dependencies (one that
    // holds, one that breaks) + the lineitem->orders foreign key, exact
    // violation counts (oracle-checked)
    "q_pipeline_integrity" -> ((s, d) => {
      import graft.operators.Profile
      val fd1 = Profile.functionalDependency(
        t(s, d, "orders"), "o_orderkey", "o_custkey")
        .select(lit("fd_orderkey_custkey").as("check"),
          col("n_determinants").as("n_keys"),
          col("n_violating").as("n_bad"), col("violated"))
      val fd2 = Profile.functionalDependency(
        t(s, d, "lineitem"), "l_orderkey", "l_returnflag")
        .select(lit("fd_orderkey_returnflag").as("check"),
          col("n_determinants").as("n_keys"),
          col("n_violating").as("n_bad"), col("violated"))
      val fk = Profile.inclusionDependency(
        t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"), "o_orderkey")
        .select(lit("fk_lineitem_orders").as("check"),
          col("n_child_values").as("n_keys"),
          col("n_orphans").as("n_bad"), col("violated"))
      fd1.unionByName(fd2).unionByName(fk)
    }),

    // Benford first-digit audit over order prices: per-digit observed vs
    // log10(1+1/d) expectation + chi-square — the fabricated-numbers
    // provenance gate (oracle-checked)
    "q_pipeline_benford" -> ((s, d) =>
      graft.operators.Profile.benfordAudit(
        t(s, d, "orders"), col("o_totalprice"))),

    // latest-wins upsert merge (CDC/compaction): every %3 key takes the
    // updated price at version 1, everything else keeps the base row
    "q_scale_merge" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), lit(0L).as("version"))
      val updates = t(s, d, "orders").where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
          lit(1L).as("version"))
      Scale.mergeLatest(base, updates, "o_orderkey", "version")
    }),

    // --- Hampel median/MAD outlier filter per priority class: robust
    // order-statistic cutoffs, no interpolation (oracle-checked) ---
    "q_pipeline_outliers" -> ((s, d) =>
      graft.operators.Profile.outliersMad(
        t(s, d, "orders"), "o_orderpriority", "o_totalprice")),

    // --- per-group winsorization: percentile_disc clip band + clipped
    // DECIMAL sum, the outlier-repair companion (oracle-checked) ---
    "q_pipeline_winsorize" -> ((s, d) =>
      graft.operators.Profile.winsorize(
        t(s, d, "orders"), "o_orderpriority", "o_totalprice")),

    // --- k-anonymity / l-diversity audit: every (nation, segment)
    // quasi-identifier group must cover >= 10 customers and >= 3 distinct
    // balance bands, or its members are re-identifiable (oracle-checked) ---
    "q_pipeline_kanon" -> ((s, d) =>
      graft.operators.Profile.kAnonymity(
        t(s, d, "customer").select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 100).cast("long").as("bal_band")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", k = 10, l = 3)),

    // --- t-closeness: each quasi-group's balance-band DISTRIBUTION must
    // stay within TV 0.3 of the corpus-wide one — the leak l-diversity
    // misses when l values are 99% one value (oracle-checked) ---
    "q_pipeline_tclose" -> ((s, d) =>
      graft.operators.Profile.tCloseness(
        t(s, d, "customer").select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", tMicro = 300000L)),

    // --- seeded-Laplace DP release of the (lang, source) histogram:
    // the audit-mode mechanism (seeded uniform = replayable; production
    // swaps real entropy behind the same shape) (oracle-checked) ---
    "q_pipeline_dp" -> ((s, d) =>
      graft.operators.Profile.dpNoisyCounts(
        t(s, d, "documents") // concat (not concat_ws): null-propagating
          .select(concat(col("lang"), lit(":"), col("source")).as("cell")),
        "cell", epsMicro = 500000L)),

    // --- co-purchase graph: parts sharing an order become undirected
    // edges (capped group fan-out, simple graph) — degree distribution ---
    "q_graph_degree" -> ((s, d) =>
      graft.operators.Graph.degrees(graft.operators.Graph.coEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey"))),

    // --- PageRank over the co-purchase graph, 5 power iterations in exact
    // BIGINT micro-units — the chained-CTE oracle replays every round ---
    "q_graph_pagerank" -> ((s, d) =>
      graft.operators.Graph.pageRank(graft.operators.Graph.coEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey"), iters = 5)),

    // --- TrustRank: teleport mass restricted to a trusted seed set (every
    // 50th part), trust flows outward through co-purchase links ---
    "q_graph_trustrank" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      graft.operators.Graph.trustRank(
        graft.operators.Graph.coEdges(li, "l_orderkey", "l_partkey"),
        li.where(col("l_partkey") % 50 === 0)
          .select(col("l_partkey").as("node")),
        iters = 5)
    }),

    // --- spam mass: rank not backed by trust — the composed PR/TrustRank
    // demotion signal (both pyramids share the persisted edge build) ---
    "q_graph_spam_mass" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      // composed (r15): this session ALSO runs q_graph_pagerank (before,
      // same edges/iters — its persisted result is cache-hit here) and
      // q_graph_trustrank (after, same seeds — it cache-hits the trust
      // propagation built here), so the edge table is scanned 10 rounds
      // across the three queries, not 15
      graft.operators.Graph.spamMass(
        graft.operators.Graph.coEdges(li, "l_orderkey", "l_partkey"),
        li.where(col("l_partkey") % 50 === 0)
          .select(col("l_partkey").as("node")),
        iters = 5)
    }),

    // --- per-node triangles + clustering coefficient on a deterministic
    // vertex sample (Doulion-style: parts % 3) of the co-purchase graph —
    // the link-farm density fingerprint (oracle-checked) ---
    "q_graph_triangles" -> ((s, d) =>
      graft.operators.Graph.triangles(graft.operators.Graph.coEdges(
        t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey"))),

    // --- k-core membership by fixed-round peeling on the same vertex
    // sample: the density skeleton next to triangles' clustering
    // coefficient (oracle: one chained CTE per round) ---
    "q_graph_kcore" -> ((s, d) =>
      graft.operators.Graph.kCore(graft.operators.Graph.coEdges(
        t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey"), k = 25, rounds = 3)),

    // --- association rules over order baskets: support/confidence/lift
    // for co-purchased part pairs in exact micro units — the Apriori
    // statistics (oracle-checked) ---
    "q_graph_rules" -> ((s, d) =>
      graft.operators.Graph.associationRules(
        t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey", minSup = 3L, topN = 100)),

    // --- Resource-Allocation link prediction on the same vertex sample:
    // top unobserved pairs by hub-penalized shared neighbors — exact
    // integer micro-units, hub-capped 2-hop join (oracle-checked) ---
    "q_graph_linkpred" -> ((s, d) =>
      graft.operators.Graph.linkPrediction(graft.operators.Graph.coEdges(
        t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey"), hubCap = 40, topN = 200)),

    // --- label-propagation communities over the co-purchase graph:
    // deterministic synchronous LPA, argmax-count / min-label tie-break,
    // every round an ordinary two-phase aggregate (oracle-checked) ---
    // persisted (r14): q_graph_modularity/q_graph_refine persist the same
    // canonical LPA tree as their label input — registering the entry
    // here lets them cache-hit the 4-round execution instead of re-running
    // it (values unchanged; the count materializes the same frame)
    "q_graph_lpa" -> ((s, d) =>
      graft.operators.Caching.persist(
        graft.operators.Graph.labelPropagation(graft.operators.Graph.coEdges(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey"), iters = 4))),

    // --- Newman modularity of the LPA communities: did label propagation
    // find real structure? per-community e_in/degrees/q_micro on exact
    // DECIMAL carriers, Q = sum of q_micro (oracle-checked) ---
    "q_graph_modularity" -> ((s, d) => {
      val e = graft.operators.Graph.coEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey")
      graft.operators.Graph.modularity(e,
        graft.operators.Graph.labelPropagation(e, iters = 4))
    }),

    // --- sampled hop-bounded Brandes betweenness: the bridge/broker
    // centrality, batched multi-source BFS + exact-micro backward
    // dependency sweep (oracle-checked) ---
    // sampleEvery=400/maxHops=2: the two levers ARE the operator's scale
    // story. The first cut (every 50th node = 400 sources, 3 hops) put
    // the backward sweep's |sample|*|E| join-aggregate into
    // sort-spill-merge collapse under the bench session's table-cache
    // storage pressure (jstacked: UnsafeSorterSpillMerger; 165 s) — ~50
    // sources at 2 hops is the textbook sampled-betweenness operating
    // point and keeps the true cost at a normal heavy-query level.
    // Round-12 re-test AFTER the checkpoint-release lifecycle fix, on a
    // clean box (cal_ratio 1.0): 50/3 measures 257 s solo vs 14.2 s for
    // 400/2 — the richer point is genuinely COMPUTE-bound (3 hops reach
    // most of the dense co-purchase graph per source, so the
    // |sample|·|reached| state is ~18× larger), not pressure-bound; the
    // r11 collapse merely made an honestly-oversized gate point visible.
    "q_graph_betweenness" -> ((s, d) =>
      graft.operators.Graph.betweennessSampled(
        graft.operators.Graph.coEdges(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey"),
        sampleEvery = 400L, maxHops = 2)),

    // --- sampled hop-bounded HARMONIC centrality: the "how near to
    // everything" closeness variant that is safe on disconnected graphs —
    // batched multi-source BFS (the forward half of the Brandes
    // machinery), exact micro floors 1e6 div d (oracle-checked). Same
    // sampling/hop levers as betweenness; forward-only, so the gate can
    // afford a denser sample (every-100th ⇒ ~200 sources at sf0.1). ---
    "q_graph_harmonic" -> ((s, d) =>
      graft.operators.Graph.harmonicSampled(
        graft.operators.Graph.coEdges(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey"),
        sampleEvery = 100L, maxHops = 2)),

    // --- WEIGHTED modularity of the LPA communities over the tie-strength
    // graph (co-occurrence counts as weights) — dedup/similarity graphs
    // are weighted in practice (oracle-checked) ---
    // r15: labels come from LPA over the UNWEIGHTED coEdges tree — the
    // (src, dst) sets of coEdges and coEdgesWeighted are identical by
    // construction (same 2..maxGroupSize distinct-item group eligibility,
    // same per-group pairs of non-null items, both deduped — GraphSpec
    // pins the equality), and labelPropagation reads ONLY
    // (src, dst), so the labels are value-identical while the LPA subtree
    // is now canonically the one q_graph_lpa persists: the 4-round
    // propagation runs once per family instead of twice. The weighted
    // edge table still carries the modularity weights.
    "q_graph_modularity_w" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val e = graft.operators.Graph.coEdgesWeighted(
        li, "l_orderkey", "l_partkey")
      graft.operators.Graph.modularity(e,
        graft.operators.Graph.labelPropagation(
          graft.operators.Graph.coEdges(li, "l_orderkey", "l_partkey"),
          iters = 4),
        weightCol = Some("n_co"))
    }),

    // --- one Louvain-style local-move round refining the LPA communities:
    // exact integer modularity-gain argmax per node, remove-then-insert
    // semantics (oracle-checked) ---
    "q_graph_refine" -> ((s, d) => {
      val e = graft.operators.Graph.coEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey")
      graft.operators.Graph.modularityRefine(e,
        graft.operators.Graph.labelPropagation(e, iters = 4))
    }),

    // --- approximate neighborhood function (ANF/HyperBall): per-node
    // reachable-ball sketches merged per hop — the reachability-curve /
    // effective-diameter primitive for graphs too big for per-node BFS.
    // Portable md5 HLL registers + fixed-point raw estimator, so every
    // curve row hash-matches the oracle. Same filtered subgraph as BFS
    // (the state is |V|·m register rows per hop). ---
    "q_graph_anf" -> ((s, d) =>
      graft.operators.Graph.neighborhoodFunction(
        graft.operators.Graph.coEdges(
          t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
          "l_orderkey", "l_partkey"),
        maxHops = 3, p = 5)),

    // --- effective diameter off the ANF curve: smallest hop reaching
    // 90% of the reachable mass — Palmer et al.'s headline statistic,
    // pure integer read-off so the answer hash-checks (oracle-checked).
    // Smaller subgraph than q_graph_anf: the two workloads share no
    // cacheable subtree, so the diameter probe gets its own sizing. ---
    "q_graph_diameter" -> ((s, d) =>
      graft.operators.Graph.effectiveDiameter(
        graft.operators.Graph.coEdges(
          t(s, d, "lineitem").where(col("l_partkey") % 6 === 0),
          "l_orderkey", "l_partkey"),
        maxHops = 3, p = 5, pct = 90)),

    // --- single-source BFS hop distances from the minimum sampled part
    // over the co-purchase graph: level-synchronous frontier expansion,
    // recursive-CTE oracle (oracle-checked) ---
    "q_graph_bfs" -> ((s, d) => {
      val e = graft.operators.Graph.coEdges(
        t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey")
      // seed = min src: a 1-row aggregate collect (bounded, never data-
      // sized) so the query needs no SF-specific node-id literal; null
      // min (zero edges after the filter) → empty result with the BFS
      // schema instead of an opaque NPE the bench would swallow
      val seed = e.agg(min(col("src"))).head()
      if (seed.isNullAt(0))
        e.select(col("src").as("node"), lit(0L).as("dist")).limit(0)
      else graft.operators.Graph.bfsDistances(e, seed.getLong(0), maxHops = 4)
    }),

    // --- hop-bounded weighted shortest paths over the tie-strength
    // graph (w = 1e6 div co-purchase count: strong ties are short):
    // min-plus Bellman-Ford rounds, chained-CTE oracle (oracle-checked) ---
    "q_graph_sssp" -> ((s, d) => {
      val e = graft.operators.Graph.coEdgesWeighted(
        t(s, d, "lineitem").where(col("l_partkey") % 3 === 0),
        "l_orderkey", "l_partkey")
        .select(col("src"), col("dst"),
          expr("1000000 div n_co").as("w"))
      // same null-seed guard as q_graph_bfs (zero edges → empty frame,
      // never a null-unboxing NPE inside the bench's catch-all)
      val seed = e.agg(min(col("src"))).head()
      if (seed.isNullAt(0))
        e.select(col("src").as("node"), lit(0L).as("dist")).limit(0)
      else graft.operators.Graph.ssspBounded(e, seed.getLong(0), maxHops = 3)
    }),

    // --- HITS hubs/authorities on the directed buyer→part graph: L1
    // micro-unit normalization each half-step on a DECIMAL(38,0) carrier,
    // both engines floor-divide the same integers (oracle-checked) ---
    "q_graph_hits" -> ((s, d) => {
      val e = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      graft.operators.Graph.hits(e, iters = 3)
    }),

    // --- strongly-connected components on the DIRECTED purchase-sequence
    // graph (part at line i → part at line i+1 within an order): the
    // trustRank/spamMass companion — dense SCCs are the link-farm shape.
    // Bounded peel/hop forward-backward refinement, every round replayed
    // in the chained-CTE oracle (oracle-checked) ---
    "q_graph_scc" -> ((s, d) => {
      val li = t(s, d, "lineitem").where(col("l_orderkey") % 3 === 0)
      val e = li.select(col("l_orderkey").as("ok"),
          col("l_linenumber").as("ln"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey").as("ok"),
          (col("l_linenumber") - 1).as("ln"), col("l_partkey").as("dst")),
          Seq("ok", "ln"))
        .select(col("src"), col("dst"))
      graft.operators.Graph.sccBounded(e, maxPeel = 2, maxHops = 4)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q_scale_epochs" -> Scale.epochShuffleOracleSql(
      "documents", "doc_id", epochs = 3, shards = 8),
    "q_pipeline_doremi" -> Scale.mixtureReweightOracleSql(
      """SELECT domain, ((mx - av) * 1000000) // mx AS l
        |FROM (SELECT lang AS domain, sum(n_chars) // count(*) AS av
        |      FROM documents GROUP BY 1) a,
        |     (SELECT max(av) AS mx
        |      FROM (SELECT sum(n_chars) // count(*) AS av
        |            FROM documents GROUP BY lang)) m""".stripMargin,
      iters = 5, etaBp = 100),
    "q_pipeline_outliers" -> graft.operators.Profile.outliersOracleSql(
      "orders", "o_orderpriority", "o_totalprice"),
    "q_pipeline_winsorize" -> graft.operators.Profile.winsorizeOracleSql(
      "orders", "o_orderpriority", "o_totalprice"),
    "q_scale_skew" -> Scale.skewAuditOracleSql("orders", "o_custkey"),
    "q_pipeline_benford" -> graft.operators.Profile.benfordOracleSql(
      "orders", "o_totalprice"),
    "q_pipeline_integrity" -> {
      def re(check: String, keys: String, bad: String,
          inner: String): String =
        s"""SELECT '$check' AS check, n.$keys AS n_keys,
           |       n.$bad AS n_bad, n.violated
           |FROM ($inner) n""".stripMargin
      Seq(
        re("fd_orderkey_custkey", "n_determinants", "n_violating",
          graft.operators.Profile.fdOracleSql(
            "orders", "o_orderkey", "o_custkey")),
        re("fd_orderkey_returnflag", "n_determinants", "n_violating",
          graft.operators.Profile.fdOracleSql(
            "lineitem", "l_orderkey", "l_returnflag")),
        re("fk_lineitem_orders", "n_child_values", "n_orphans",
          graft.operators.Profile.inclusionOracleSql(
            "lineitem", "l_orderkey", "orders", "o_orderkey")))
        .mkString("\nUNION ALL\n")
    },
    "q_scale_compaction" -> Scale.compactionOracleSql(
      """files AS (
        |  SELECT (o_custkey % 200)::VARCHAR AS id, count(*)::BIGINT AS size
        |  FROM orders GROUP BY 1)""".stripMargin,
      targetBytes = 4000L),
    "q_pipeline_kanon" -> graft.operators.Profile.kAnonymityOracleSql(
      "customer", Seq("c_nationkey", "c_mktsegment"),
      "floor(c_acctbal / 100)::BIGINT", k = 10, l = 3),
    "q_pipeline_dp" -> graft.operators.Profile.dpNoisyCountsOracleSql(
      "documents", "lang || ':' || source", epsMicro = 500000L),
    "q_pipeline_tclose" -> graft.operators.Profile.tClosenessOracleSql(
      "customer", Seq("c_nationkey", "c_mktsegment"),
      "floor(c_acctbal / 1000)::BIGINT", tMicro = 300000L),
    "q_graph_degree" -> graft.operators.Graph.degreesOracleSql(
      "l_orderkey", "l_partkey", "lineitem"),
    "q_graph_pagerank" -> graft.operators.Graph.pageRankOracleSql(
      "l_orderkey", "l_partkey", "lineitem", iters = 5),
    "q_graph_trustrank" -> graft.operators.Graph.trustRankOracleSql(
      "l_orderkey", "l_partkey", "lineitem", seedPred = "item % 50 = 0",
      iters = 5),
    "q_graph_spam_mass" -> graft.operators.Graph.spamMassOracleSql(
      "l_orderkey", "l_partkey", "lineitem", seedPred = "item % 50 = 0",
      iters = 5),
    "q_graph_scc" -> graft.operators.Graph.sccOracleSql(
      """SELECT a.l_partkey AS src, b.l_partkey AS dst
        |FROM (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0) a
        |JOIN (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0) b
        |  ON a.l_orderkey = b.l_orderkey
        | AND b.l_linenumber = a.l_linenumber + 1""".stripMargin,
      maxPeel = 2, maxHops = 4),
    "q_graph_triangles" -> graft.operators.Graph.trianglesOracleSql(
      graft.operators.Graph.coEdgesSql("l_orderkey", "l_partkey",
        "(SELECT * FROM lineitem WHERE l_partkey % 3 = 0)")),

    "q_graph_kcore" -> graft.operators.Graph.kCoreOracleSql(
      graft.operators.Graph.coEdgesSql("l_orderkey", "l_partkey",
        "(SELECT * FROM lineitem WHERE l_partkey % 3 = 0)"),
      k = 25, rounds = 3),

    "q_graph_rules" -> graft.operators.Graph.associationRulesOracleSql(
      "l_orderkey", "l_partkey",
      "(SELECT * FROM lineitem WHERE l_partkey % 3 = 0)",
      minSup = 3L, topN = 100),
    "q_graph_linkpred" -> graft.operators.Graph.linkPredictionOracleSql(
      graft.operators.Graph.coEdgesSql("l_orderkey", "l_partkey",
        "(SELECT * FROM lineitem WHERE l_partkey % 3 = 0)"),
      hubCap = 40, topN = 200),

    "q_graph_lpa" -> graft.operators.Graph.labelPropagationOracleSql(
      "l_orderkey", "l_partkey", "lineitem", iters = 4),
    "q_graph_modularity" -> graft.operators.Graph.modularityOracleSql(
      "l_orderkey", "l_partkey", "lineitem", iters = 4),
    "q_graph_refine" -> graft.operators.Graph.modularityRefineOracleSql(
      "l_orderkey", "l_partkey", "lineitem", iters = 4),
    "q_graph_modularity_w" -> graft.operators.Graph.modularityOracleSql(
      "l_orderkey", "l_partkey", "lineitem", iters = 4, weighted = true),
    "q_graph_betweenness" ->
      graft.operators.Graph.betweennessSampledOracleSql(
        "l_orderkey", "l_partkey", "lineitem", sampleEvery = 400L,
        maxHops = 2),
    "q_graph_harmonic" ->
      graft.operators.Graph.harmonicSampledOracleSql(
        "l_orderkey", "l_partkey", "lineitem", sampleEvery = 100L,
        maxHops = 2),
    "q_graph_sssp" -> graft.operators.Graph.ssspOracleSql(
      """gi AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS item
        |       FROM lineitem WHERE l_partkey % 3 = 0),
        |gok AS (SELECT g FROM gi GROUP BY g
        |        HAVING count(*) BETWEEN 2 AND 64),
        |cpairs AS (
        |  SELECT a.item AS i, b.item AS j, count(*)::BIGINT AS n_co
        |  FROM gi a JOIN gok USING (g) JOIN gi b USING (g)
        |  WHERE a.item < b.item GROUP BY 1, 2),
        |edges AS (
        |  SELECT i AS src, j AS dst, (1000000 // n_co)::BIGINT AS w
        |  FROM cpairs
        |  UNION ALL
        |  SELECT j AS src, i AS dst, (1000000 // n_co)::BIGINT AS w
        |  FROM cpairs)""".stripMargin,
      sourceSql = "SELECT min(src) FROM e", maxHops = 3),

    "q_graph_bfs" -> graft.operators.Graph.bfsOracleSql(
      graft.operators.Graph.coEdgesSql("l_orderkey", "l_partkey",
        "(SELECT * FROM lineitem WHERE l_partkey % 3 = 0)"),
      sourceSql = "SELECT min(src) FROM e", maxHops = 4),
    "q_graph_anf" -> graft.operators.Graph.neighborhoodFunctionOracleSql(
      "l_orderkey", "l_partkey",
      "(SELECT * FROM lineitem WHERE l_partkey % 3 = 0)",
      maxHops = 3, p = 5),
    "q_graph_diameter" -> graft.operators.Graph.effectiveDiameterOracleSql(
      "l_orderkey", "l_partkey",
      "(SELECT * FROM lineitem WHERE l_partkey % 6 = 0)",
      maxHops = 3, p = 5, pct = 90),
    "q_graph_hits" -> graft.operators.Graph.hitsOracleSql(
      """edges AS (SELECT o_custkey AS src, l_partkey AS dst
        |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"""
        .stripMargin,
      iters = 3),

    "q_scale_salted_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(l_quantity) AS sum_qty,
        |       sum(o_custkey)::BIGINT AS sum_cust
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,

    "q_scale_distinct" ->
      """SELECT l_returnflag AS key, count(DISTINCT l_partkey) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_scale_shards" ->
      """SELECT (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 8)::INTEGER AS shard,
        |       count(*) AS n, sum(o_orderkey)::BIGINT AS key_sum,
        |       min(o_orderkey) AS key_min, max(o_orderkey) AS key_max
        |FROM orders GROUP BY 1""".stripMargin,

    "q_scale_bucketed_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(l_quantity) AS sum_qty,
        |       sum(o_custkey)::BIGINT AS sum_cust
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey % 4 = 0
        |GROUP BY l_returnflag""".stripMargin,

    "q_scale_zorder" -> {
      val z = Scale.zorderSql("o_custkey % 1024", "o_orderkey % 1024",
        bits = 10)
      s"""SELECT o_orderkey, o_custkey % 1024 AS xd, o_orderkey % 1024 AS yd,
        |       ($z)::BIGINT AS zval
        |FROM orders""".stripMargin
    },

    "q_scale_merge" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
        |            ELSE o_totalprice END AS o_totalprice,
        |       CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS version
        |FROM orders""".stripMargin,
  )
}
