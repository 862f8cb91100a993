package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over entity co-occurrence — the link-quality tier of a
  * web-scale training-data pipeline (PageRank over the link/citation graph
  * is the classical document-authority prior; Common Crawl curation ranks
  * hosts exactly this way). North-star addition (SURVEY.md §2c) — the
  * reference has no graph operators.
  *
  * Everything is DataFrame joins/aggregates: edges are rows, one iteration
  * of rank propagation is one (src-keyed join + dst-keyed aggregate), so a
  * k-iteration PageRank is k bounded shuffles of the edge table — the same
  * plan GraphX's Pregel would stage, without leaving Catalyst. Ranks are
  * carried as BIGINT micro-units (1e12 = total mass 1.0) with floor
  * division everywhere, so every iteration is exact integer arithmetic:
  * associative, partition-order-proof, and replayable value-for-value by
  * any engine with 64-bit integers ([[pageRankOracleSql]] chains one CTE
  * per iteration — the BPE-trainer oracle pattern).
  */
object Graph {

  /** Total rank mass in integer micro-units (1e12 ≙ probability 1.0).
    * Large enough that floor-division loss over tens of iterations stays
    * below 1e-9 per node; small enough that SCALE · damping numerators
    * stay far from Long overflow for any node count.
    */
  val RankScale: Long = 1000000000000L

  /** Lineage-truncation cadence for the loops that read the previous
    * round's frame once ([[pageRank]], [[trustRank]], [[hits]]): the
    * frame is checkpointed every this-many rounds so arbitrarily deep
    * iteration counts keep a bounded logical tree, while shallow
    * (gate-sized) runs never pay a checkpoint. See [[pageRank]]'s
    * docstring for the measured A/B that picked lazy-with-periodic-
    * truncation over the per-round checkpoint the loops that read their
    * previous round twice (BFS, SSSP, k-core) use.
    */
  val TruncateRounds: Int = 8

  /** [[Caching.checkpoint]] on every [[TruncateRounds]]-th round, plain
    * lazy composition between (no persist between checkpoints: it would
    * pay a planning pass per round for nothing when the frame is
    * referenced once).
    */
  private def truncate(df: DataFrame, round: Int): DataFrame =
    if (round % TruncateRounds == 0) Caching.checkpoint(df) else df

  /** Undirected co-occurrence edges: items sharing a group (parts sharing
    * an order, docs sharing a near-dup family, hosts sharing a page) become
    * edge pairs, emitted in BOTH directions and deduplicated across groups
    * (simple graph). `maxGroupSize` is the standard skew guard — a group
    * of g items contributes g·(g−1)/2 pairs, so one pathological group
    * (the "viral order") would otherwise dominate the edge build the same
    * way an uncapped LSH bucket dominates pair generation; capped groups
    * are DROPPED from pairing (not sampled) so the result stays
    * deterministic and oracle-replayable.
    *
    * Shape: one group-keyed aggregate builds each group's item set plus
    * a null-item flag, and the size filter counts a null item as one more
    * distinct item (as the oracle's DISTINCT does) while pairing only the
    * non-null ones. One shuffle, where a distinct pass, a per-group window
    * count and the set aggregate took two. The set of a group above the
    * cap is built in full before the filter drops it, so one task holds
    * that group's distinct items. Pairs are generated per group from the
    * SORTED in-memory set (src < dst by construction) — work is Σ group²,
    * bounded by `maxGroupSize`², never corpus².
    */
  def coEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 64): DataFrame = {
    val lists = df.groupBy(col(groupCol).as("g"))
      .agg(collect_set(col(itemCol)).as("items"),
        max(col(itemCol).isNull.cast("int")).as("has_null"))
      .where(size(col("items")) >= 2 &&
        size(col("items")) + col("has_null") <= maxGroupSize)
      .select(sort_array(col("items")).as("items"))
    val pairs = lists.select(explode(flatten(transform(
        sequence(lit(1), size(col("items")) - 1), i => transform(
          sequence(i + 1, size(col("items"))), j => struct(
            element_at(col("items"), i).as("src"),
            element_at(col("items"), j).as("dst")))))).as("p"))
      .select(col("p.src"), col("p.dst")).distinct()
    // persisted: [[degrees]] and [[pageRank]] both consume the edge table,
    // and the cache-manager's plan canonicalization shares this one entry
    // across separate queries over the same source (the dedup-family
    // pattern) — its first consumer builds it, once per corpus, no warm-up
    Caching.persist(
      pairs.unionAll(pairs.select(col("dst").as("src"), col("src").as("dst"))))
  }

  /** Degree per node of an (src, dst) edge table (counts each directed
    * row; over [[coEdges]] output this is the undirected degree).
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  /** PageRank by fixed-iteration power method over an (src, dst) edge
    * table, damping = `dampNum`/100 (default 85). Returns
    * (node, rank_u) — rank in [[RankScale]] micro-units after `iters`
    * rounds from the uniform start.
    *
    * Integer semantics (both engines replay bit-for-bit):
    *   base      = (100−dampNum) · (SCALE // N) // 100
    *   contrib(s)= rank(s) // degree(s)
    *   rank'(d)  = base + dampNum · Σ_{s→d} contrib(s) // 100
    * Dangling mass (nodes without out-edges — absent from [[coEdges]]
    * output by construction since edges are bidirectional) and floor
    * remainders leak a bounded ~1e-9 of mass per round; the deterministic
    * leak is part of the pinned semantics, not redistributed.
    *
    * Scale shape: the degree table joins once (src-keyed), each iteration
    * is one src-keyed join of the current rank against the persisted edge
    * table plus one dst-keyed aggregate — k iterations = k·2 bounded
    * shuffles, no driver-side state (the loop only composes lazy plans;
    * nothing is collected).
    *
    * Truncation discipline (round-11 A/B, construct+count at sf0.1/32 in
    * the Bench session config, as `Probe time` times it): LAZY composition
    * wins here, unlike BFS/SSSP/kCore. Those loops reference the previous
    * round's frame MORE THAN ONCE per round (BFS: anti-join + union), so
    * an untruncated tree re-executes shared subtrees combinatorially and
    * per-round [[Caching.checkpoint]] was 1.5-4× faster. The damped
    * propagations (and [[hits]]) reference the previous round's frame
    * exactly ONCE per round — the lazy tree grows linearly and every
    * subtree executes exactly once — so the per-round checkpoint's cost
    * (a planner pass + eager AQE stage materialization per round, ~1.7 s
    * warm each) buys nothing: measured 5-iteration gate query, lazy 1.2 s
    * construct + 3.7 s count vs per-round checkpoint 8.4 s construct +
    * 0.4 s count warm (cold: 13.0 vs 36.5 s). Deep iteration counts still
    * get lineage truncation — every [[TruncateRounds]] rounds the frame is
    * checkpointed so a k=100 cluster run never approaches Catalyst tree
    * limits; at the gate's k=5 the branch never fires and the plan is
    * byte-identical to pure lazy.
    */
  def pageRank(edges: DataFrame, iters: Int, dampNum: Int = 85,
      persistResult: Boolean = true): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100)
    val deg = degrees(edges)
    // hash-partition the (edge, degree) table on src ONCE and persist: the
    // InMemoryTableScan keeps that outputPartitioning, so each iteration's
    // src-keyed join shuffles only the NODE-sized rank table against an
    // in-place edge side — k rounds move k·|nodes| rows, not k·|edges|.
    // (Broadcasting ranks would also work at gate scale but dies at web
    // scale where nodes are billions; this shape survives both.)
    // NOT checkpointed (r15 A/B, the linkPrediction seam tried here):
    // e is referenced once per round inside ONE lazy tree, so the persist
    // already dedups execution, and the flat-base toRdd pass costs an AQE
    // stage materialization at construct — measured pagerank construct
    // 0.9 -> 4.0 s WORSE with a checkpoint on top. The 2,225-line lazy
    // plan (plans/r15/q_graph_pagerank_before.txt) is logical-only bloat:
    // it plans once at the single count.
    val e = edges.join(deg.withColumnRenamed("node", "src"), "src")
      .select(col("src"), col("dst"), col("degree"))
      .repartition(col("src"))
      .transform(Caching.persist)
    val n = deg.count() // one scalar: the node count (not a data collect)
    val base = (100L - dampNum) * (RankScale / math.max(n, 1L)) / 100L
    var ranks = deg.select(col("node"),
      lit(RankScale / math.max(n, 1L)).as("rank_u"))
    for (r <- 1 to iters) {
      // `div`, not `/`: Spark's `/` on BIGINTs is DOUBLE division, whose
      // rounding can cross an integer boundary before the floor (rank_u
      // ~1e12 → abs error ~1e-5) — the whole point of integer carriers is
      // that no double ever appears
      val contribs = e.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("rank_u div degree").as("c"))
      val next = contribs.groupBy(col("dst").as("node"))
        .agg((lit(base) + expr(s"($dampNum * sum(c)) div 100"))
          .cast("long").as("rank_u"))
      ranks = truncate(next, r)
    }
    // persist the RESULT (node-sized, never edge-sized): any same-session
    // consumer of the identical propagation — [[spamMass]], a
    // rank-threshold filter, the rank/trust subtraction — cache-hits the
    // whole k-round tree instead of re-running it (r15: the
    // q_graph_modularity_w/lpa sharing pattern applied to the damped
    // loops). Callers whose rank table has no same-session sharer
    // ([[TextAnalysis.textRank]]'s word graph) opt out — for them the
    // persist is pure cache-write overhead.
    if (persistResult) Caching.persist(ranks) else ranks
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004, "Combating Web
    * Spam with TrustRank") — personalized PageRank whose teleport mass
    * lands ONLY on a trusted seed set: trust flows outward from seeds
    * through links, so unreachable/spam-farm regions score ~0 however
    * densely they interlink. The standard corpus-curation companion to
    * [[pageRank]]: rank says "authoritative", trust says "reachable from
    * vetted ground truth"; a high rank/low trust gap is the spam-mass
    * signal.
    *
    * Same BIGINT micro-unit carrier and iteration shape as [[pageRank]]
    * (k·2 bounded shuffles against the src-partitioned persisted edge
    * table), with two differences pinned into the integer semantics:
    *   base(d) = (100−dampNum) · (SCALE // |seeds|) // 100  if d ∈ seeds,
    *             0 otherwise
    *   rank0(d) = SCALE // |seeds| if d ∈ seeds, 0 otherwise
    * Nodes outside the seed-reachable region emit no row (their trust is
    * exactly 0 and they never enter the propagation) — the sparse
    * representation IS the semantics, and keeps k-hop state proportional
    * to the reached frontier, not the graph.
    *
    * `seeds` is one column `node`; seed nodes absent from the edge table
    * contribute teleport mass but propagate nothing (degree-less rows are
    * dropped by the src join, matching the oracle).
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Int = 85): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= 100)
    val deg = degrees(edges)
    val e = edges.join(deg.withColumnRenamed("node", "src"), "src")
      .select(col("src"), col("dst"), col("degree"))
      .repartition(col("src"))
      .transform(Caching.persist)
    val sd = seeds.select(col("node")).distinct().transform(Caching.persist)
    val nSeeds = sd.count()
    val init = RankScale / math.max(nSeeds, 1L)
    val base = (100L - dampNum) * init / 100L
    // Teleport injection WITHOUT a per-iteration join: each seed
    // contributes a zero-valued marker row to the aggregate, so (a) a
    // seed's (dst) group always exists even with no in-trust this round
    // and (b) the damped sum is untouched (c = 0); the teleport base is
    // then added per-group via the marker flag. One edge join + one
    // aggregate per round — no full-outer seed join in the loop.
    val sdC = sd.select(col("node").as("dst"), lit(0L).as("c"),
      lit(1).as("tel"))
    var ranks = sd.select(col("node"), lit(init).as("rank_u"))
    for (r <- 1 to iters) {
      val contribs = e.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("rank_u div degree").as("c"),
          lit(0).as("tel"))
        .unionAll(sdC)
      // lazy between rounds, truncated every TruncateRounds — `ranks` is
      // referenced once per round, so the lazy tree has no shared-subtree
      // recompute; see [[pageRank]]'s measured A/B
      val next = contribs.groupBy(col("dst").as("node"))
        .agg(expr(s"($dampNum * sum(c)) div 100").as("p"),
          max(col("tel")).as("__tel"))
        .select(col("node"),
          (col("p") + col("__tel") * lit(base)).cast("long").as("rank_u"))
      ranks = truncate(next, r)
    }
    // result persist: see [[pageRank]] — the trust propagation is exactly
    // what [[spamMass]] and a later standalone trustRank share
    Caching.persist(ranks)
  }

  /** DuckDB SQL replaying [[trustRank]] over [[coEdges]] value-for-value;
    * `seedPred` over the bound `item` id defines the trusted set.
    */
  def trustRankOracleSql(groupExpr: String, itemExpr: String, table: String,
      seedPred: String, iters: Int, dampNum: Int = 85,
      maxGroupSize: Int = 64): String = {
    val S = RankScale
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "t0" else s"t${i - 1}"
      s"""t$i AS (
         |  SELECT coalesce(p.node, sd.node) AS node,
         |         coalesce(p.p, 0)
         |           + CASE WHEN sd.node IS NOT NULL
         |                  THEN (SELECT base FROM params) ELSE 0 END AS rank_u
         |  FROM (SELECT e.dst AS node,
         |               $dampNum * sum(r.rank_u // e.degree) // 100 AS p
         |        FROM de e JOIN $prev r ON r.node = e.src
         |        GROUP BY e.dst) p
         |  FULL OUTER JOIN sd ON sd.node = p.node)"""
    }.mkString(",\n")
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)},
       |deg AS (SELECT src AS node, count(*)::BIGINT AS degree
       |        FROM edges GROUP BY src),
       |sd AS (SELECT DISTINCT item AS node FROM gi WHERE $seedPred),
       |params AS (
       |  SELECT $S // count(*) AS r_init,
       |         (100 - $dampNum) * ($S // count(*)) // 100 AS base
       |  FROM sd),
       |de AS (SELECT e.src, e.dst, d.degree FROM edges e
       |       JOIN deg d ON d.node = e.src),
       |t0 AS (SELECT node, (SELECT r_init FROM params) AS rank_u FROM sd),
       |$iterCtes
       |SELECT node, rank_u::BIGINT AS rank_u FROM t$iters""".stripMargin
  }

  /** Spam mass (Gyöngyi et al. 2004 §5): the share of a node's PageRank
    * NOT backed by trust — mass = rank − trust, relative = mass/rank. A
    * node can only acquire rank without trust through link structure the
    * seed set cannot reach (link farms, circular boosting); high relative
    * spam mass is the demotion/removal signal. Unreachable nodes coalesce
    * to trust 0 → relative mass 1. Integer subtraction on the shared
    * [[RankScale]] carrier (both propagations distribute the same total
    * mass, so the units subtract directly); the ratio is rounded to 6 dp.
    *
    * Execution shape: the [[pageRank]] ⊕ [[trustRank]] composition, left-
    * joined on node (PageRank rows define the output node set). Both
    * operators persist their RESULTS, so in a session that also runs the
    * standalone propagations (any curation audit does: rank says
    * authoritative, trust says reachable, mass is their gap) the
    * composition cache-hits whichever propagation already ran and leaves
    * the other cached for a later standalone query — across the
    * three-query audit the edge table is scanned 2·k rounds, not 3·k.
    * [[spamMassOracleSql]]'s two CTE pyramids replay it value-for-value.
    */
  def spamMass(edges: DataFrame, seeds: DataFrame, iters: Int,
      dampNum: Int = 85): DataFrame = {
    val rank = pageRank(edges, iters, dampNum)
    val trust = trustRank(edges, seeds, iters, dampNum)
      .withColumnRenamed("rank_u", "trust_u")
    rank.join(trust, Seq("node"), "left")
      .select(col("node"), col("rank_u"),
        coalesce(col("trust_u"), lit(0L)).as("trust_u"))
      .withColumn("mass_u", col("rank_u") - col("trust_u"))
      .withColumn("rel_mass",
        round(col("mass_u").cast("double") / col("rank_u").cast("double"), 6))
  }

  /** DuckDB SQL replaying [[spamMass]] — both iteration pyramids in one
    * WITH over the shared edge CTEs, then the subtraction join.
    */
  def spamMassOracleSql(groupExpr: String, itemExpr: String, table: String,
      seedPred: String, iters: Int, dampNum: Int = 85,
      maxGroupSize: Int = 64): String = {
    val S = RankScale
    val prCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         (SELECT base FROM pparams)
         |           + $dampNum * sum(p.rank_u // e.degree) // 100 AS rank_u
         |  FROM de e JOIN $prev p ON p.node = e.src
         |  GROUP BY e.dst)"""
    }.mkString(",\n")
    val trCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "t0" else s"t${i - 1}"
      s"""t$i AS (
         |  SELECT coalesce(p.node, sd.node) AS node,
         |         coalesce(p.p, 0)
         |           + CASE WHEN sd.node IS NOT NULL
         |                  THEN (SELECT base FROM tparams) ELSE 0 END AS rank_u
         |  FROM (SELECT e.dst AS node,
         |               $dampNum * sum(r.rank_u // e.degree) // 100 AS p
         |        FROM de e JOIN $prev r ON r.node = e.src
         |        GROUP BY e.dst) p
         |  FULL OUTER JOIN sd ON sd.node = p.node)"""
    }.mkString(",\n")
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)},
       |deg AS (SELECT src AS node, count(*)::BIGINT AS degree
       |        FROM edges GROUP BY src),
       |de AS (SELECT e.src, e.dst, d.degree FROM edges e
       |       JOIN deg d ON d.node = e.src),
       |pparams AS (
       |  SELECT (100 - $dampNum) * ($S // count(*)) // 100 AS base,
       |         $S // count(*) AS r_init
       |  FROM deg),
       |r0 AS (SELECT node, (SELECT r_init FROM pparams) AS rank_u FROM deg),
       |sd AS (SELECT DISTINCT item AS node FROM gi WHERE $seedPred),
       |tparams AS (
       |  SELECT $S // count(*) AS r_init,
       |         (100 - $dampNum) * ($S // count(*)) // 100 AS base
       |  FROM sd),
       |t0 AS (SELECT node, (SELECT r_init FROM tparams) AS rank_u FROM sd),
       |$prCtes,
       |$trCtes
       |SELECT pr.node, pr.rank_u::BIGINT AS rank_u,
       |       coalesce(tr.rank_u, 0)::BIGINT AS trust_u,
       |       (pr.rank_u - coalesce(tr.rank_u, 0))::BIGINT AS mass_u,
       |       round((pr.rank_u - coalesce(tr.rank_u, 0))::DOUBLE
       |             / pr.rank_u::DOUBLE, 6) AS rel_mass
       |FROM r$iters pr LEFT JOIN t$iters tr ON tr.node = pr.node""".stripMargin
  }

  /** Hop-bounded STRONGLY-CONNECTED COMPONENTS on a directed graph — the
    * missing companion of [[trustRank]]/[[spamMass]] for link-farm
    * detection (dense SCCs are the classic farm shape; VERDICT r13 item
    * 3). Peel-based forward-backward refinement: each peel computes, for
    * every remaining node,
    *   f(u) = min id reachable FROM u within `maxHops` (including u),
    *   b(u) = min id that REACHES u within `maxHops` (including u),
    * and settles every node with f(u) = b(u) into component f(u) — that
    * equality certifies u ↔ f(u) mutual reachability, so two nodes
    * sharing a label are mutually reachable through it. Settled nodes
    * (and their edges) are removed and the peel repeats, up to `maxPeel`
    * rounds; whatever remains falls back to singleton labels.
    *
    * Contract (what bounded rounds buy): the output NEVER merges two
    * distinct SCCs — every label group is a subset of one true SCC (the
    * mutual-reachability certificate above) — and is EXACT when maxHops
    * covers each SCC's internal reach radius to/from its minimum and
    * maxPeel covers the settle cascade (spec-pinned on cycle / DAG /
    * bridged-SCC hand graphs). Under-sized bounds only REFINE (split)
    * components, deterministically in both engines — the same
    * partial-result posture as [[bfsDistances]]/[[betweennessSampled]],
    * which is what lets every round replay in the chained-CTE oracle
    * ([[sccOracleSql]]). Returns (node, scc_id).
    *
    * Scale shape: per peel, 2·maxHops keyed equi-join + min-aggregate
    * rounds over a (node, label) state of |V| rows (the BFS discipline:
    * per-round [[Caching.checkpoint]] lineage truncation, edges
    * checkpointed flat once, anti-join removal between peels — edges
    * only SHRINK). No driver-side graph state; hop and peel bounds are
    * the scale levers.
    */
  def sccBounded(edges: DataFrame, maxPeel: Int, maxHops: Int): DataFrame = {
    require(maxPeel >= 1 && maxHops >= 1)
    var e = Caching.checkpoint(
      edges.select(col("src"), col("dst"))
        .where(col("src") =!= col("dst")).distinct())
    var nodes = Caching.checkpoint(
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct())
    var settledAll: DataFrame = null
    for (_ <- 1 to maxPeel) {
      // r14 fusion: the f sweep (labels flow AGAINST edges: dst informs
      // src) and the b sweep (WITH edges) are INDEPENDENT recursions, so
      // one side-tagged relation propagates both per round — maxHops
      // fused join+min-agg rounds instead of 2·maxHops, halving the
      // per-peel job/checkpoint count. The relation is checkpointed
      // pre-partitioned on the (side, from) join key, so per-round joins
      // shuffle only the node-keyed label state (guide §2.4). Values
      // identical: side 0 reproduces f, side 1 reproduces b, round for
      // round.
      val rel = Caching.checkpoint(
        e.select(lit(0L).as("side"), col("dst").as("from"),
            col("src").as("to"))
          .unionByName(e.select(lit(1L).as("side"), col("src").as("from"),
            col("dst").as("to")))
          .repartition(col("side"), col("from")))
      var st = nodes.select(
        explode(array(lit(0L), lit(1L))).as("side"),
        col("node"), col("node").as("lbl"))
      for (_ <- 1 to maxHops) {
        val viaEdge = rel
          .join(st.select(col("side"), col("node").as("from"),
            col("lbl")), Seq("side", "from"))
          .select(col("side"), col("to").as("node"), col("lbl"))
        // persist, not checkpoint (r14 A/B at the gate point): each round
        // is referenced twice (union + join), and the in-flight cache
        // build dedups that within the SINGLE consuming job — per-round
        // checkpoints serialized 2·maxHops eager materializations of a
        // ~|V|-row frame (measured 0.5 s of fixed job overhead per hop on
        // 98k-row data). Plan depth stays bounded by maxHops (a query
        // parameter), so no lineage hazard.
        st = Caching.persist(st.unionByName(viaEdge)
          .groupBy(col("side"), col("node")).agg(min(col("lbl")).as("lbl")))
      }
      val f = st.where(col("side") === 0L)
        .select(col("node"), col("lbl").as("f"))
      val b = st.where(col("side") === 1L)
        .select(col("node"), col("lbl").as("b"))
      val settled = Caching.checkpoint(f.join(b, "node")
        .where(col("f") === col("b"))
        .select(col("node"), col("f").as("scc_id")))
      settledAll =
        if (settledAll == null) settled
        else settledAll.unionByName(settled)
      nodes = Caching.checkpoint(nodes
        .join(settled.select(col("node")), Seq("node"), "left_anti"))
      e = Caching.checkpoint(e
        .join(settled.select(col("node").as("src")), Seq("src"),
          "left_anti")
        .join(settled.select(col("node").as("dst")), Seq("dst"),
          "left_anti"))
    }
    // unsettled remainder: singleton fallback (documented partial-result
    // semantics — still a refinement, never a merge)
    settledAll.unionByName(
      nodes.select(col("node"), col("node").as("scc_id")))
  }

  /** DuckDB replay of [[sccBounded]] — the same bounded peel/hop
    * iteration as chained CTEs, round-for-round. `edgesSql` must produce
    * a directed (src, dst) relation (duplicates and self-loops are
    * dropped here, matching the engine).
    */
  def sccOracleSql(edgesSql: String, maxPeel: Int, maxHops: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst " +
      s"FROM ($edgesSql) WHERE src <> dst),\n")
    sb.append("n0 AS MATERIALIZED (SELECT src AS node FROM e0 " +
      "UNION SELECT dst FROM e0),\n")
    for (p <- 1 to maxPeel) {
      sb.append(s"f${p}_0 AS MATERIALIZED " +
        s"(SELECT node, node AS f FROM n${p - 1}),\n")
      for (h <- 1 to maxHops)
        sb.append(s"""f${p}_$h AS MATERIALIZED (
           |  SELECT node, min(f) AS f FROM (
           |    SELECT node, f FROM f${p}_${h - 1}
           |    UNION ALL
           |    SELECT e.src AS node, x.f
           |    FROM e${p - 1} e JOIN f${p}_${h - 1} x ON x.node = e.dst)
           |  GROUP BY node),\n""".stripMargin)
      sb.append(s"b${p}_0 AS MATERIALIZED " +
        s"(SELECT node, node AS b FROM n${p - 1}),\n")
      for (h <- 1 to maxHops)
        sb.append(s"""b${p}_$h AS MATERIALIZED (
           |  SELECT node, min(b) AS b FROM (
           |    SELECT node, b FROM b${p}_${h - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, x.b
           |    FROM e${p - 1} e JOIN b${p}_${h - 1} x ON x.node = e.src)
           |  GROUP BY node),\n""".stripMargin)
      sb.append(s"""s$p AS MATERIALIZED (
         |  SELECT f.node, f.f AS scc_id
         |  FROM f${p}_$maxHops f JOIN b${p}_$maxHops b
         |    ON b.node = f.node AND b.b = f.f),\n""".stripMargin)
      sb.append(s"n$p AS MATERIALIZED (SELECT node FROM n${p - 1} " +
        s"WHERE node NOT IN (SELECT node FROM s$p)),\n")
      sb.append(s"e$p AS MATERIALIZED (SELECT src, dst FROM e${p - 1} " +
        s"WHERE src IN (SELECT node FROM n$p) " +
        s"AND dst IN (SELECT node FROM n$p)),\n")
    }
    // trim the trailing comma-newline of the last CTE
    sb.setLength(sb.length - 2)
    sb.append("\n")
    sb.append((1 to maxPeel)
      .map(p => s"SELECT node, scc_id FROM s$p")
      .mkString("", "\nUNION ALL\n", "\nUNION ALL\n"))
    sb.append(s"SELECT node, node AS scc_id FROM n$maxPeel")
    sb.toString
  }

  /** DuckDB SQL replaying [[coEdges]] (same cap, same dedup) over a
    * (group, item) projection of `table`.
    */
  def coEdgesSql(groupExpr: String, itemExpr: String, table: String,
      maxGroupSize: Int = 64): String =
    s"""gi AS (
       |  SELECT DISTINCT $groupExpr AS g, $itemExpr AS item FROM $table),
       |gok AS (
       |  SELECT g FROM gi GROUP BY g HAVING count(*) <= $maxGroupSize),
       |half AS (
       |  SELECT DISTINCT a.item AS src, b.item AS dst
       |  FROM gi a JOIN gok USING (g) JOIN gi b USING (g)
       |  WHERE a.item < b.item),
       |edges AS (
       |  SELECT src, dst FROM half
       |  UNION ALL SELECT dst AS src, src AS dst FROM half)""".stripMargin

  /** DuckDB CTE chain replaying [[coEdgesWeighted]] — symmetric
    * `edges(src, dst, n_co)` with the co-occurrence count as the tie
    * strength (the 2..maxGroupSize size gate matches the Spark side).
    */
  def coEdgesWeightedSql(groupExpr: String, itemExpr: String,
      table: String, maxGroupSize: Int = 64): String =
    s"""gi AS (
       |  SELECT DISTINCT $groupExpr AS g, $itemExpr AS item FROM $table),
       |gok AS (
       |  SELECT g FROM gi GROUP BY g
       |  HAVING count(*) BETWEEN 2 AND $maxGroupSize),
       |halfw AS (
       |  SELECT a.item AS src, b.item AS dst, count(*)::BIGINT AS n_co
       |  FROM gi a JOIN gok USING (g) JOIN gi b USING (g)
       |  WHERE a.item < b.item GROUP BY 1, 2),
       |edges AS (
       |  SELECT src, dst, n_co FROM halfw
       |  UNION ALL SELECT dst AS src, src AS dst, n_co FROM halfw)""".stripMargin

  /** DuckDB SQL replaying [[pageRank]] over [[coEdges]] value-for-value:
    * one chained CTE per iteration (the BPE-trainer oracle pattern), floor
    * integer division via `//` on BIGINTs matching Spark's
    * `(a / b).cast("long")` on non-negative operands.
    */
  def pageRankOracleSql(groupExpr: String, itemExpr: String, table: String,
      iters: Int, dampNum: Int = 85, maxGroupSize: Int = 64): String =
    pageRankOverEdgesSql(coEdgesSql(groupExpr, itemExpr, table, maxGroupSize),
      iters, dampNum)

  /** [[pageRank]]'s chained-CTE replay over an ARBITRARY `edges(src, dst)`
    * CTE fragment — the reusable half of [[pageRankOracleSql]] (TextRank
    * runs the same iteration over a word-adjacency edge table).
    * `finalSelect` overrides the closing SELECT (default: all nodes'
    * final rank from `r<iters>`).
    */
  def pageRankOverEdgesSql(edgesCte: String, iters: Int, dampNum: Int = 85,
      finalSelect: String = ""): String = {
    val S = RankScale
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         (SELECT base FROM params)
         |           + $dampNum * sum(p.rank_u // e.degree) // 100 AS rank_u
         |  FROM de e JOIN $prev p ON p.node = e.src
         |  GROUP BY e.dst)"""
    }.mkString(",\n")
    val fin = if (finalSelect.nonEmpty) finalSelect
    else s"SELECT node, rank_u::BIGINT AS rank_u FROM r$iters"
    s"""WITH $edgesCte,
       |deg AS (SELECT src AS node, count(*)::BIGINT AS degree
       |        FROM edges GROUP BY src),
       |params AS (
       |  SELECT (100 - $dampNum) * ($S // count(*)) // 100 AS base,
       |         $S // count(*) AS r_init
       |  FROM deg),
       |de AS (SELECT e.src, e.dst, d.degree FROM edges e
       |       JOIN deg d ON d.node = e.src),
       |r0 AS (SELECT node, (SELECT r_init FROM params) AS rank_u FROM deg),
       |$iterCtes
       |$fin""".stripMargin
  }

  /** DuckDB SQL replaying [[degrees]] ∘ [[coEdges]]. */
  def degreesOracleSql(groupExpr: String, itemExpr: String, table: String,
      maxGroupSize: Int = 64): String =
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)}
       |SELECT src AS node, count(*)::BIGINT AS degree
       |FROM edges GROUP BY src""".stripMargin

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection over an (src, dst) edge table. Every node starts labeled
    * with its own id; each round every node adopts the label most frequent
    * among its neighbors, ties broken by the SMALLEST label — fully
    * deterministic, so the whole k-round run is oracle-replayable (no
    * random visit order, no async sweep). Communities are coarser than
    * [[Dedup.connectedComponents]]'s: CC merges anything connected, LPA
    * splits a component along its density structure — the standard cheap
    * community pass for "which doc clusters form one topic/site
    * neighborhood" before mixture decisions.
    *
    * Per round: one src-keyed join of the label table against the
    * persisted edge table, a (dst, label) count, and a per-dst argmax —
    * the argmax is `max(struct(count, −label))` (lexicographic max ⇒
    * highest count, then lowest label), an ordinary two-phase aggregate,
    * NOT a row_number window: partial aggregation runs map-side and no
    * single-task global sort exists. k rounds = k·(join + 2 aggregates)
    * bounded shuffles; label state is one row per node.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0)
    val e = edges.repartition(col("src")).transform(Caching.persist)
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").cast("long").as("label"))
    for (_ <- 1 to iters) {
      val counts = e.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      labels = counts
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
    labels
  }

  /** DuckDB SQL replaying [[labelPropagation]] ∘ [[coEdges]] — one CTE per
    * round; the argmax is expressed as `max_by`-free lexicographic
    * `max((c, -label))` to match the Spark struct-max exactly.
    */
  def labelPropagationOracleSql(groupExpr: String, itemExpr: String,
      table: String, iters: Int, maxGroupSize: Int = 64): String =
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)},
       |${lpaChainSql(iters)}
       |SELECT node, label FROM l$iters""".stripMargin

  /** The `l0..l<iters>` CTE chain replaying [[labelPropagation]] over an
    * in-scope `edges(src, dst)` CTE — shared by the LPA oracle and
    * composites that need the labels as an intermediate ([[modularity]]).
    */
  private def lpaChainSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""l$i AS (
         |  SELECT dst AS node,
         |         (-((max({'c': c, 'nl': nl})).nl))::BIGINT AS label FROM (
         |    SELECT e.dst, l.label, count(*)::BIGINT AS c,
         |           -l.label AS nl
         |    FROM edges e JOIN $prev l ON l.node = e.src
         |    GROUP BY e.dst, l.label) t
         |  GROUP BY dst)"""
    }.mkString(",\n")
    s"""l0 AS (SELECT DISTINCT src AS node, src::BIGINT AS label FROM edges),
       |$iterCtes""".stripMargin
  }

  /** Newman modularity of a community assignment (Newman & Girvan 2004) —
    * the number that says whether [[labelPropagation]] / components found
    * real structure or noise: per community c over a DIRECTED edge table,
    *   q_c = e_c/m − (out_c · in_c)/m²
    * where e_c = edges with both ends in c, out_c/in_c = community
    * out-/in-degree, m = edges with BOTH endpoints labeled (nodes absent
    * from `labels` are outside the evaluated graph). Over a symmetric
    * table like [[coEdges]]' this is exactly undirected modularity; Q =
    * Σ_c q_c ∈ [−1/2, 1) and anything ≳0.3 is conventionally "has
    * communities". Returned per community — (label, n_nodes, e_in,
    * deg_out, deg_in, q_micro) — so the degenerate giant community is
    * visible, not averaged away; Q is the column sum. q_micro =
    * (e_c·m − out_c·in_c)·1e6 div m² carried in DECIMAL(38,0) (m up to
    * ~1e12 edges keeps e_c·m ≤ 1e24 ≪ 1e38); both engines truncate
    * division toward zero, so negative q replays exactly.
    *
    * Scale shape: two node-keyed label joins onto the edge table, three
    * keyed aggregates, one count — all linear in |E|, no windows, no
    * pair enumeration. Empty labeled graph (m = 0) yields q_micro 0 per
    * community rather than a division crash. `weightCol` switches every
    * count to a Σw (integer weights — [[coEdgesWeighted]]'s `n_co`
    * tie-strength carrier); omitted, Σ1 ≡ the unweighted counts.
    */
  def modularity(edges: DataFrame, labels: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val wgt = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    // persist THEN checkpoint (r14 plan-collapse): the persist keeps the
    // cross-query CacheManager share point (modularityRefine's lab is the
    // same canonical LPA tree), while the checkpoint flattens every
    // downstream reference to a LogicalRDD — without it, each of the
    // ~9 consumer subtrees re-plans the full lazy LPA×coEdges tree and
    // the explain of the gate composition ran to 117k lines with
    // construction measured 10-15 s against <1 s of execution
    val lab = Caching.checkpoint(
      Caching.persist(labels.select(col("node"), col("label"))))
    val el = Caching.checkpoint(edges.select(col("src"), col("dst"),
        wgt.as("wgt"))
      .join(lab.select(col("node").as("src"), col("label").as("lsrc")),
        "src")
      .join(lab.select(col("node").as("dst"), col("label").as("ldst")),
        "dst")
      .select(col("lsrc"), col("ldst"), col("wgt")))
    val m = math.max(el.agg(coalesce(sum(col("wgt")), lit(0L)))
      .head().getLong(0), 1L)
    val ein = el.where(col("lsrc") === col("ldst"))
      .groupBy(col("lsrc").as("label")).agg(sum(col("wgt")).as("e_in"))
    val outd = el.groupBy(col("lsrc").as("label"))
      .agg(sum(col("wgt")).as("deg_out"))
    val ind = el.groupBy(col("ldst").as("label"))
      .agg(sum(col("wgt")).as("deg_in"))
    lab.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .join(ein, Seq("label"), "left")
      .join(outd, Seq("label"), "left")
      .join(ind, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("deg_out"), lit(0L)).as("deg_out"),
        coalesce(col("deg_in"), lit(0L)).as("deg_in"))
      .withColumn("q_micro", expr(
        s"CAST(((CAST(e_in AS DECIMAL(38,0)) * $m" +
          s" - CAST(deg_out AS DECIMAL(38,0)) * deg_in) * 1000000)" +
          s" DIV (CAST($m AS DECIMAL(38,0)) * $m) AS BIGINT)"))
  }

  /** One synchronous round of Louvain-style local moves (Blondel et al.
    * 2008 phase-1 step): every node moves to the candidate community
    * (its neighbors' communities or its own) with the highest modularity
    * gain. On the directed-symmetric carrier the per-candidate gain
    * reduces — constants dropped — to the exact integer score
    *   score(u, c) = m·w_uc − k_u·(tot_c − [c = c_u]·k_u)
    * (w_uc = u's edges into c, k_u = degree, tot_c = community degree,
    * the [c = c_u] term removes u from its own community before
    * comparing, the standard remove-then-insert). Argmax per node with
    * (score desc, label asc) ties — deterministic, LPA's convention.
    * Synchronous rounds can oscillate on pathological symmetric inputs
    * (like synchronous LPA — compose with [[modularity]] to ACCEPT a
    * round only if Q improved); a greedy sequential sweep would not, but
    * it is inherently serial. Products ride DECIMAL(38,0) so m up to
    * ~1e12 edges cannot overflow. Returns (node, label).
    *
    * Scale shape: two node-keyed label joins, three keyed aggregates,
    * one (node, candidate)-keyed argmax window whose partition size is
    * the node's neighbor-community count — linear in |E|, the same
    * budget as one LPA round.
    */
  def modularityRefine(edges: DataFrame, labels: DataFrame,
      weightCol: Option[String] = None): DataFrame = {
    val wgt = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    // persist-then-checkpoint, same rationale as [[modularity]] (r14
    // plan-collapse): flat lab/el bases for the 5+ downstream consumers
    val lab = Caching.checkpoint(
      Caching.persist(labels.select(col("node"), col("label"))))
    val el = Caching.checkpoint(edges.select(col("src"), col("dst"),
        wgt.as("wgt"))
      .join(lab.select(col("node").as("src"), col("label").as("lsrc")),
        "src")
      .join(lab.select(col("node").as("dst"), col("label").as("ldst")),
        "dst"))
    val m = math.max(el.agg(coalesce(sum(col("wgt")), lit(0L)))
      .head().getLong(0), 1L)
    val deg = el.groupBy(col("src").as("node")).agg(sum(col("wgt")).as("k"))
    val tot = el.groupBy(col("lsrc").as("label"))
      .agg(sum(col("wgt")).as("tot"))
    val wuc = el.groupBy(col("src").as("node"), col("ldst").as("cand"))
      .agg(sum(col("wgt")).as("wuc"))
    // the own community is always a candidate (staying must be an option
    // even with zero intra edges)
    val cands = wuc.unionByName(lab.select(col("node"),
        col("label").as("cand"), lit(0L).as("wuc")))
      .groupBy(col("node"), col("cand")).agg(sum(col("wuc")).as("wuc"))
    val scored = cands
      .join(lab, Seq("node"))
      .join(deg, Seq("node"), "left")
      .join(tot.withColumnRenamed("label", "tot_label"),
        col("cand") === col("tot_label"), "left")
      .select(col("node"), col("cand"),
        expr(s"CAST(CAST(wuc AS DECIMAL(38,0)) * $m" +
          s" - CAST(coalesce(k, 0) AS DECIMAL(38,0))" +
          s" * (coalesce(tot, 0) - IF(cand = label, coalesce(k, 0), 0))" +
          s" AS DECIMAL(38,0))").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node"))
      .orderBy(col("score").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("node"), col("cand").as("label"))
  }

  /** DuckDB replay of [[modularityRefine]] ∘ [[labelPropagation]] ∘
    * [[coEdges]] — the gate composition.
    */
  def modularityRefineOracleSql(groupExpr: String, itemExpr: String,
      table: String, iters: Int, maxGroupSize: Int = 64,
      weighted: Boolean = false): String = {
    val edgesCte =
      if (weighted) coEdgesWeightedSql(groupExpr, itemExpr, table, maxGroupSize)
      else coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)
    val w = if (weighted) "e.n_co" else "1"
    s"""WITH $edgesCte,
       |${lpaChainSql(iters)},
       |labels AS (SELECT node, label FROM l$iters),
       |el AS MATERIALIZED (
       |  SELECT e.src, e.dst, ls.label AS lsrc, ld.label AS ldst,
       |         ($w)::BIGINT AS wgt
       |  FROM edges e
       |  JOIN labels ls ON ls.node = e.src
       |  JOIN labels ld ON ld.node = e.dst),
       |mm AS (SELECT greatest(coalesce(sum(wgt), 0), 1)::HUGEINT AS m
       |       FROM el),
       |deg AS (SELECT src AS node, sum(wgt)::BIGINT AS k FROM el
       |        GROUP BY 1),
       |tot AS (SELECT lsrc AS label, sum(wgt)::BIGINT AS tot FROM el
       |        GROUP BY 1),
       |wuc AS (SELECT src AS node, ldst AS cand, sum(wgt)::BIGINT AS wuc
       |        FROM el GROUP BY 1, 2),
       |cands AS (
       |  SELECT node, cand, sum(wuc)::BIGINT AS wuc FROM (
       |    SELECT node, cand, wuc FROM wuc
       |    UNION ALL SELECT node, label AS cand, 0 FROM labels)
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.node, c.cand,
       |         c.wuc::HUGEINT * mm.m
       |           - coalesce(d.k, 0)::HUGEINT
       |             * (coalesce(t.tot, 0)
       |                - CASE WHEN c.cand = lb.label
       |                       THEN coalesce(d.k, 0) ELSE 0 END) AS score
       |  FROM cands c
       |  JOIN labels lb ON lb.node = c.node
       |  LEFT JOIN deg d ON d.node = c.node
       |  LEFT JOIN tot t ON t.label = c.cand, mm)
       |SELECT node, cand AS label FROM (
       |  SELECT node, cand,
       |         row_number() OVER (PARTITION BY node
       |           ORDER BY score DESC, cand) AS rn
       |  FROM scored)
       |WHERE rn = 1""".stripMargin
  }

  /** DuckDB replay of [[modularity]] ∘ [[labelPropagation]] ∘ [[coEdges]]
    * — the gate composition: LPA communities over the co-occurrence graph,
    * scored in the same query (weighted = the [[coEdgesWeighted]] tie
    * strengths).
    */
  def modularityOracleSql(groupExpr: String, itemExpr: String,
      table: String, iters: Int, maxGroupSize: Int = 64,
      weighted: Boolean = false): String = {
    val edgesCte =
      if (weighted) coEdgesWeightedSql(groupExpr, itemExpr, table, maxGroupSize)
      else coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)
    val w = if (weighted) "e.n_co" else "1"
    s"""WITH $edgesCte,
       |${lpaChainSql(iters)},
       |labels AS (SELECT node, label FROM l$iters),
       |el AS MATERIALIZED (
       |  SELECT ls.label AS lsrc, ld.label AS ldst, ($w)::BIGINT AS wgt
       |  FROM edges e
       |  JOIN labels ls ON ls.node = e.src
       |  JOIN labels ld ON ld.node = e.dst),
       |mm AS (SELECT greatest(coalesce(sum(wgt), 0), 1)::HUGEINT AS m
       |       FROM el),
       |ein AS (SELECT lsrc AS label, sum(wgt)::BIGINT AS e_in FROM el
       |        WHERE lsrc = ldst GROUP BY 1),
       |outd AS (SELECT lsrc AS label, sum(wgt)::BIGINT AS deg_out FROM el
       |         GROUP BY 1),
       |ind AS (SELECT ldst AS label, sum(wgt)::BIGINT AS deg_in FROM el
       |        GROUP BY 1),
       |nn AS (SELECT label, count(*)::BIGINT AS n_nodes FROM labels
       |       GROUP BY 1)
       |SELECT nn.label, nn.n_nodes,
       |       coalesce(ein.e_in, 0)::BIGINT AS e_in,
       |       coalesce(outd.deg_out, 0)::BIGINT AS deg_out,
       |       coalesce(ind.deg_in, 0)::BIGINT AS deg_in,
       |       ((coalesce(ein.e_in, 0)::HUGEINT * mm.m
       |         - coalesce(outd.deg_out, 0)::HUGEINT
       |           * coalesce(ind.deg_in, 0)) * 1000000
       |        // (mm.m * mm.m))::BIGINT AS q_micro
       |FROM nn
       |LEFT JOIN ein USING (label)
       |LEFT JOIN outd USING (label)
       |LEFT JOIN ind USING (label), mm""".stripMargin
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative Sources in a
    * Hyperlinked Environment") over a DIRECTED (src, dst) edge table —
    * the bipartite companion to [[pageRank]]: on a buyer→item (or
    * page→cited-host) graph, authority scores rank the items good hubs
    * point at, hub scores rank the pointers that find good items. The
    * classical curation use is seed-list expansion: high-authority nodes
    * from a small crawl frontier are the pages worth fetching next.
    *
    * Deterministic integer variant: scores are L1-normalized to
    * [[RankScale]] micro-units every half-step —
    *   auth_raw(d) = Σ_{s→d} hub(s);  auth(d) = auth_raw·S ÷ Σ auth_raw
    * (and symmetrically for hubs) — with the product carried in
    * DECIMAL(38,0) so `raw · 1e12` cannot overflow a BIGINT before the
    * floor division (raw ≤ S·deg_max ~ 1e16; ·1e12 = 1e28 ≪ 1e38). Both
    * engines floor-divide the same integers, so every half-step replays
    * value-for-value ([[hitsOracleSql]] chains two CTEs per round).
    *
    * Shape per half-step: one equi-join of the previous scores against
    * the checkpointed distinct edge table, one aggregate by node (`raw`),
    * and the total `sum(raw) over ()` as an un-partitioned window on that
    * aggregate; the first authority half-step needs no join, because
    * uniform starting hubs make its raw scores the in-degrees times S.
    * Single-read invariant: each half-step reads the previous
    * scores exactly ONCE, so the rounds compose one lazy plan whose
    * subtrees each execute once (the [[pageRank]] discipline), truncated
    * every [[TruncateRounds]] rounds. Two edge joins per round is the
    * floor for exact alternating HITS: hub_i depends on auth_i, which
    * depends on hub_{i-1}. The output reads the last authorities twice
    * (their own rows and the last hub half-step); exchange reuse runs
    * that subtree once. Window bound: the window moves one frame to a
    * single task, and that frame is node-sized — the distinct dst nodes
    * (authorities) or the distinct src nodes (hubs) — never edge-sized.
    * No driver state; the loop composes lazy plans at a fixed iteration
    * count.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val S = RankScale
    // ONE checkpoint flattens the edge build, which every half-step reads
    val e = Caching.checkpoint(
      edges.select(col("src"), col("dst")).distinct())
    def normalized(raw: DataFrame): DataFrame =
      raw.select(col("node"), expr(
        s"cast(raw as decimal(38,0)) * $S div sum(raw) over ()").as("score_u"))
    // scores keyed on `from` → raw sums keyed on `to` → normalized. The
    // shuffle_hash hint on the node-sized score side pins the join:
    // left to AQE, its runtime sort-merge → broadcast switch raced the
    // edge-side shuffle and the job count differed from run to run
    def halfStep(scores: DataFrame, from: String, to: String): DataFrame =
      normalized(e.join(
          scores.withColumnRenamed("node", from).hint("shuffle_hash"), from)
        .groupBy(col(to).as("node")).agg(sum(col("score_u")).as("raw")))
    var auths: DataFrame = null
    var hubs: DataFrame = null
    for (r <- 1 to iters) {
      // hub_0 is S on every source, so auth_1's raw is S·indeg(d) and its
      // total S·|E|: S cancels exactly in the floor division, and
      // normalizing the in-degrees gives auth_1 bit for bit, without a join
      auths = if (r == 1) normalized(e.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).as("raw")))
        else halfStep(hubs, "src", "dst")
      hubs = truncate(halfStep(auths, "dst", "src"), r)
    }
    auths.select(lit("auth").as("side"), col("node"), col("score_u"))
      .unionAll(hubs.select(lit("hub").as("side"), col("node"),
        col("score_u")))
  }

  /** DuckDB SQL replaying [[hits]]; `edgesCte` must define
    * `edges AS (SELECT ... src, ... dst ...)` (directed, duplicates OK —
    * the operator distincts).
    */
  def hitsOracleSql(edgesCte: String, iters: Int): String = {
    val S = RankScale
    val iterCtes = (1 to iters).map { i =>
      val prevH = if (i == 1) "h0" else s"hn${i - 1}"
      s"""a$i AS (
         |  SELECT e.dst AS node, sum(h.score_u)::BIGINT AS raw
         |  FROM e JOIN $prevH h ON h.node = e.src GROUP BY e.dst),
         |an$i AS (
         |  SELECT node,
         |         ((raw::HUGEINT * $S) // (SELECT sum(raw) FROM a$i))::BIGINT
         |           AS score_u
         |  FROM a$i),
         |hr$i AS (
         |  SELECT e.src AS node, sum(a.score_u)::BIGINT AS raw
         |  FROM e JOIN an$i a ON a.node = e.dst GROUP BY e.src),
         |hn$i AS (
         |  SELECT node,
         |         ((raw::HUGEINT * $S) // (SELECT sum(raw) FROM hr$i))::BIGINT
         |           AS score_u
         |  FROM hr$i)"""
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges),
       |h0 AS (SELECT DISTINCT src AS node, $S::BIGINT AS score_u FROM e),
       |$iterCtes
       |SELECT 'auth' AS side, node, score_u FROM an$iters
       |UNION ALL
       |SELECT 'hub' AS side, node, score_u FROM hn$iters""".stripMargin
  }

  /** Per-node TRIANGLE count + local clustering coefficient over an
    * undirected edge table ([[coEdges]] output shape: both directions
    * present) — the link-farm fingerprint of web-graph curation: spam
    * clusters interlink densely (clustering coefficient → 1) while
    * organic co-occurrence neighborhoods stay sparse, and the metric
    * feeds the same demotion stack as [[spamMass]]. C(v) =
    * 2·T(v) / (deg(v)·(deg(v)−1)), reported in exact integer micro-units
    * via floor division.
    *
    * Algorithm: the classic ordered-orientation wedge join (each
    * triangle a<b<c found exactly once as (a→b, b→c, a→c)); work is
    * Σ_b d⁻(b)·d⁺(b) over the ordered orientation, quadratic in degree
    * — so `maxDegree` (the standard hub guard) deterministically DROPS
    * nodes above the cap from the graph before counting (not sampled:
    * same verdict every run, oracle-replayable). At web scale pair the
    * cap with vertex sampling (Doulion-style) on the caller's side —
    * the gate query demonstrates exactly that.
    */
  def triangles(edges: DataFrame, maxDegree: Long = 10000L): DataFrame = {
    val ordered = edges.where(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
    val kept = degrees(edges)
      .where(col("degree") <= maxDegree)
      .select(col("node"))
    val e = ordered
      .join(kept.select(col("node").as("src")), "src")
      .join(kept.select(col("node").as("dst")), "dst")
      .select(col("src"), col("dst"))
      .transform(Caching.persist)
    // degree is RECOMPUTED on the capped graph: triangles are counted
    // there, so mixing in the full-graph degree would make the
    // coefficient neither graph's true value (a node whose only triangle
    // ran through a dropped hub would read as sparse against its old
    // denominator). Output rows are the capped graph's non-isolated
    // nodes — "dropped from the graph" means dropped consistently.
    val cappedDeg = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val wedges = e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), "b")
    val tri = wedges
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    cappedDeg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_micro",
        when(col("degree") < 2, lit(0L)).otherwise(
          expr("2 * triangles * 1000000 div (degree * (degree - 1))")))
  }

  /** DuckDB replay of [[triangles]] over a [[coEdgesSql]]-shaped edge CTE
    * (`edgesCte` must define `edges(src, dst)`, both directions).
    */
  def trianglesOracleSql(edgesCte: String, maxDegree: Long = 10000L): String =
    s"""WITH $edgesCte,
       |keptn AS (
       |  SELECT src AS node FROM edges
       |  GROUP BY src HAVING count(*) <= $maxDegree),
       |e AS (
       |  SELECT DISTINCT src, dst FROM edges
       |  WHERE src < dst
       |    AND src IN (SELECT node FROM keptn)
       |    AND dst IN (SELECT node FROM keptn)),
       |deg AS (
       |  SELECT node, count(*)::BIGINT AS degree FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
       |  GROUP BY node),
       |tri AS (
       |  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
       |  FROM e ab
       |  JOIN e bc ON bc.src = ab.dst
       |  JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst),
       |pernode AS (
       |  SELECT node, count(*)::BIGINT AS triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node)
       |SELECT deg.node, deg.degree,
       |       coalesce(pernode.triangles, 0)::BIGINT AS triangles,
       |       CASE WHEN deg.degree < 2 THEN 0
       |            ELSE (2 * coalesce(pernode.triangles, 0) * 1000000)
       |                 // (deg.degree * (deg.degree - 1)) END::BIGINT
       |         AS clustering_micro
       |FROM deg LEFT JOIN pernode ON pernode.node = deg.node""".stripMargin

  /** K-CORE membership by fixed-round peeling — the density skeleton of
    * graph curation: the k-core is the maximal subgraph where every node
    * keeps ≥ k neighbors, and dense spam clusters/link farms survive to
    * far higher cores than organic neighborhoods (the companion signal
    * to [[triangles]]' clustering coefficient). Each round drops nodes
    * whose CURRENT degree (within the surviving set) fell below k; after
    * enough rounds the set is the exact k-core. `rounds` is pinned (the
    * [[pageRank]] fixed-iteration posture) so both engines replay the
    * same prefix of the peeling; at the gate's round count the corpus
    * converges (spec-checked: one extra round changes nothing). Returns
    * (node, degree) of the surviving subgraph.
    *
    * Scale shape: per round, two node-set joins against the edge table +
    * one degree aggregate — bounded shuffles; the surviving set is
    * CHECKPOINTED per round (it feeds BOTH endpoint joins, and the flat
    * base measured faster than the r9 cadence of a checkpoint every k-th
    * round with persists between — round-10 construct+count A/B, as
    * `Probe time` times it: 2.1 vs 3.2 s warm; set
    * spark.graft.reliableCheckpoints on a cluster).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0)
    // persist only — the [[linkPrediction]] checkpoint-over-persist seam
    // was A/B'd here too (r15) and measured ~0.3 s SLOWER at the gate's 3
    // rounds: the per-round frames are already checkpointed, so the extra
    // flat base saves too little planning to repay its own edge-table
    // materialization scan. The persist still canonically shares the
    // distinct edge base with linkPrediction (which keeps the checkpoint:
    // 4 same-plan references and a measured 1.8× there).
    val e = edges.select(col("src"), col("dst")).distinct()
      .transform(Caching.persist)
    var nodes = degrees(e).where(col("degree") >= k)
      .select(col("node")).transform(Caching.persist)
    for (r <- 1 to rounds) {
      val sub = e
        .join(nodes.withColumnRenamed("node", "src"), "src")
        .join(nodes.withColumnRenamed("node", "dst"), "dst")
      nodes = sub.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
        .select(col("node"))
        .transform(df => Caching.checkpoint(df))
    }
    e.join(nodes.withColumnRenamed("node", "src"), "src")
      .join(nodes.withColumnRenamed("node", "dst"), "dst")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** DuckDB replay of [[kCore]] (one CTE per peeling round — the
    * chained-CTE oracle pattern).
    */
  def kCoreOracleSql(edgesCte: String, k: Int, rounds: Int): String = {
    // rounds = 0 must not leave a dangling comma before the final SELECT
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"n${i - 1}"
      s""",
         |n$i AS (
         |  SELECT e.src AS node FROM e
         |  JOIN $prev a ON a.node = e.src
         |  JOIN $prev b ON b.node = e.dst
         |  GROUP BY e.src HAVING count(*) >= $k)""".stripMargin
    }.mkString
    s"""WITH $edgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges),
       |n0 AS (
       |  SELECT src AS node FROM e GROUP BY src HAVING count(*) >= $k)$roundCtes
       |SELECT e.src AS node, count(*)::BIGINT AS degree FROM e
       |JOIN n$rounds a ON a.node = e.src
       |JOIN n$rounds b ON b.node = e.dst
       |GROUP BY e.src""".stripMargin
  }

  /** Association rules (Agrawal & Srikant 1994, the Apriori statistics) —
    * market-basket pair mining over (basket, item) rows: for every item
    * pair co-occurring in ≥ `minSup` baskets, the three canonical
    * measures in exact micro units:
    *   support    = n_ij / N          (how common the pair is)
    *   confidence = n_ij / n_i        (i → j rule strength, directed —
    *                                   both directions are emitted)
    *   lift       = n_ij·N / (n_i·n_j) (dependence vs independence;
    *                                   1e6 = independent)
    * The data-curation reading: items = tags/domains/topics per document
    * batch, rules = systematic co-occurrence worth stratifying on.
    *
    * Scale shape: pair counts come from ONE group-capped self-join
    * (Σ group² under `maxGroupSize`, the [[coEdges]] guard — but COUNTED
    * per basket rather than deduplicated to a simple graph), item counts
    * from one aggregate; the minSup floor bounds the rule table and the
    * final cut is a TakeOrderedAndProject.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minSup: Long = 5L, topN: Int = 100,
      maxGroupSize: Int = 64): DataFrame = {
    require(minSup >= 1 && topN >= 1)
    val bi = df.select(col(basketCol).as("b"), col(itemCol).as("item"))
      .distinct().transform(Caching.persist)
    val sized = bi.join(
      bi.groupBy("b").agg(count(lit(1)).as("__n"))
        .where(col("__n") <= maxGroupSize), "b")
    val n = bi.select(col("b")).distinct().count() // one scalar
    val items = bi.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      .transform(Caching.persist)
    // Apriori prune (support is anti-monotone): an item in fewer than
    // minSup baskets can never be in a pair with n_ij >= minSup, so it
    // exits BEFORE the self-join — answer-identical, and at real basket
    // skew (long-tail items dominate) it removes most of the join input.
    // Runs after the group-size cap: the cap counts the basket's FULL
    // item set, so pruning first would change which baskets are dropped.
    val frequent = items.where(col("n_item") >= minSup)
      .select(col("item"))
    val pruned = sized.join(frequent, Seq("item"), "left_semi")
    val pairs = pruned.select(col("b"), col("item").as("i"))
      .join(pruned.select(col("b"), col("item").as("j")), "b")
      .where(col("i") < col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("n_ij"))
      .where(col("n_ij") >= minSup)
    val directed = pairs.unionAll(
      pairs.select(col("j").as("i"), col("i").as("j"), col("n_ij")))
    directed
      .join(items.select(col("item").as("i"), col("n_item").as("n_i")), "i")
      .join(items.select(col("item").as("j"), col("n_item").as("n_j")), "j")
      .select(col("i").as("antecedent"), col("j").as("consequent"),
        col("n_ij"),
        expr(s"(n_ij * 1000000) div ${math.max(n, 1L)}L").as("support_micro"),
        expr("(n_ij * 1000000) div n_i").as("confidence_micro"),
        expr(s"(n_ij * ${math.max(n, 1L)}L * 1000000) div (n_i * n_j)")
          .as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("antecedent"), col("consequent"))
      .limit(topN)
  }

  /** DuckDB replay of [[associationRules]]. */
  def associationRulesOracleSql(basketExpr: String, itemExpr: String,
      table: String, minSup: Long = 5L, topN: Int = 100,
      maxGroupSize: Int = 64): String =
    s"""WITH bi AS MATERIALIZED (
       |  SELECT DISTINCT $basketExpr AS b, $itemExpr AS item FROM $table),
       |gok AS (SELECT b FROM bi GROUP BY b
       |        HAVING count(*) <= $maxGroupSize),
       |nb AS (SELECT count(DISTINCT b)::BIGINT AS n FROM bi),
       |items AS (SELECT item, count(*)::BIGINT AS n_item
       |          FROM bi GROUP BY item),
       |pairs AS (
       |  SELECT a.item AS i, c.item AS j, count(*)::BIGINT AS n_ij
       |  FROM bi a JOIN gok USING (b) JOIN bi c USING (b)
       |  WHERE a.item < c.item
       |  GROUP BY 1, 2 HAVING count(*) >= $minSup),
       |directed AS (
       |  SELECT i, j, n_ij FROM pairs
       |  UNION ALL SELECT j, i, n_ij FROM pairs)
       |SELECT d.i AS antecedent, d.j AS consequent, d.n_ij,
       |       ((d.n_ij * 1000000) // greatest(nb.n, 1))::BIGINT
       |         AS support_micro,
       |       ((d.n_ij * 1000000) // ii.n_item)::BIGINT
       |         AS confidence_micro,
       |       ((d.n_ij * greatest(nb.n, 1) * 1000000)
       |        // (ii.n_item * jj.n_item))::BIGINT AS lift_micro
       |FROM directed d
       |JOIN items ii ON ii.item = d.i
       |JOIN items jj ON jj.item = d.j, nb
       |ORDER BY lift_micro DESC, antecedent, consequent
       |LIMIT $topN""".stripMargin

  /** Link prediction by the Resource-Allocation index (Zhou, Lü & Zhang
    * 2009) — for every non-adjacent pair (u, w) sharing at least one
    * neighbor, score = Σ_{z ∈ N(u)∩N(w)} 1/deg(z). RA is the
    * degree-penalized upgrade of common-neighbor counting (a shared hub
    * says almost nothing; a shared degree-2 node says a lot) and, unlike
    * Adamic-Adar's 1/log deg, is EXACT in integer micro-units
    * (1e6 div deg) — so the whole ranking replays bit-for-bit in any
    * engine. In a curation pipeline this is the "these two docs/hosts are
    * probably the same community even though no edge was observed" signal
    * — the recall companion to the observed-edge dedup/community tiers.
    *
    * Scale shape: candidate pairs come from one 2-hop self-join THROUGH
    * the intermediate node z, so work is Σ_z deg(z)² — the classic hub
    * blow-up. `hubCap` is the principled guard: a z with deg > hubCap
    * contributes < 1/hubCap per pair (negligible mass) yet deg² pair
    * fan-out, so capped intermediates are DROPPED deterministically (same
    * posture as [[coEdges]]' maxGroupSize: exempt-by-rule, replayable,
    * never sampled). Observed edges leave via one anti-join; the top-N cut
    * is a TakeOrderedAndProject (distributed partial top-k, no global
    * sort).
    */
  def linkPrediction(edges: DataFrame, hubCap: Int = 64,
      topN: Int = 100): DataFrame = {
    require(hubCap >= 1 && topN >= 1)
    // checkpoint OVER the persist (r15, the c64fda9 seam pattern): e is
    // referenced four times (deg, in, out, the anti-join's half), and each
    // reference re-inlines the full coEdges subtree into the lazy plan —
    // the committed before-plan ran to 1,149 lines of nested
    // InMemoryRelations re-planned per reference (plans/r15/
    // q_graph_linkpred_before.txt). The persist UNDERNEATH keeps the
    // cross-query canonical share with kCore's identical edge base (the
    // checkpoint's one materialization scans that shared entry); the flat
    // LogicalRDD on top collapses all four downstream references.
    val e = Caching.checkpoint(edges.select(col("src"), col("dst"))
      .distinct().transform(Caching.persist))
    val deg = degrees(e)
    val mids = deg.where(col("degree") <= hubCap)
    // in-edges to z, annotated with z's degree once
    val in = e.join(
      mids.select(col("node").as("dst"), col("degree").as("zdeg")), "dst")
    val out = e.select(col("src").as("z"), col("dst").as("w"))
    val paths = in.select(col("src").as("u"), col("dst").as("z"),
        col("zdeg"))
      .join(out, "z")
      .where(col("u") < col("w"))
    val scored = paths.groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("1000000 div zdeg")).as("ra_micro"))
    val half = e.where(col("src") < col("dst"))
    scored.join(half,
        scored("u") === half("src") && scored("w") === half("dst"),
        "left_anti")
      .select(col("u").as("src"), col("w").as("dst"),
        col("common_neighbors"), col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("src"), col("dst"))
      .limit(topN)
  }

  /** DuckDB replay of [[linkPrediction]] over a [[coEdgesSql]]-shaped
    * `edges(src, dst)` CTE (both directions).
    */
  def linkPredictionOracleSql(edgesCte: String, hubCap: Int = 64,
      topN: Int = 100): String =
    s"""WITH $edgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges),
       |deg AS (SELECT src AS node, count(*)::BIGINT AS degree
       |        FROM e GROUP BY src),
       |mids AS (SELECT node, degree FROM deg WHERE degree <= $hubCap),
       |paths AS (
       |  SELECT a.src AS u, a.dst AS z, m.degree AS zdeg, b.dst AS w
       |  FROM e a
       |  JOIN mids m ON m.node = a.dst
       |  JOIN e b ON b.src = a.dst
       |  WHERE a.src < b.dst),
       |scored AS (
       |  SELECT u, w, count(*)::BIGINT AS common_neighbors,
       |         sum(1000000 // zdeg)::BIGINT AS ra_micro
       |  FROM paths GROUP BY u, w)
       |SELECT u AS src, w AS dst, common_neighbors, ra_micro
       |FROM scored
       |WHERE NOT EXISTS (SELECT 1 FROM e
       |                  WHERE e.src = scored.u AND e.dst = scored.w)
       |ORDER BY ra_micro DESC, src, dst
       |LIMIT $topN""".stripMargin

  /** Single-source BFS hop distances over a directed (src, dst) edge
    * table, bounded at `maxHops` — the reachability/radius primitive
    * (how far does influence propagate from a seed? is the graph one
    * ball or many?) next to the rank family. Returns (node, dist) for
    * every node reachable in ≤ maxHops hops, source included at 0; dist
    * is the exact minimum hop count (level-synchronous BFS), so every
    * value replays in a recursive-CTE oracle.
    *
    * Scale shape: per level, ONE frontier-keyed equi-join against the
    * persisted edge table + one anti-join against the visited set —
    * the standard Pregel expansion as DataFrame ops. The frontier is a
    * filter over the visited set (dist = level−1), so ONE frame carries
    * all loop state, and that frame is CHECKPOINTED every level: the
    * round-10 A/B (construct+count as `Probe time` times it, sf0.1/32,
    * warm) measured per-level checkpoint 1.8-2.0 s vs the r9 cadence of a
    * checkpoint every k-th level with persists between, 5.0-6.0 s — a
    * growing tree makes each persist's own planner pass cost more than a
    * checkpoint's flat-base pass (r9's "checkpoints are per-round planner
    * passes" doctrine compared against NO truncation, not against
    * cadenced persists whose passes plan 3×-per-level-bigger trees). A
    * level past the frontier's death costs one empty equi-join, so the
    * fixed `maxHops` bound needs no per-level emptiness probe.
    */
  def bfsDistances(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).distinct()
      .transform(Caching.persist)
    var visited = Seq((source, 0L)).toDF("node", "dist")
    for (level <- 1 to maxHops) {
      // the frontier is DERIVED from the visited set (dist = level-1)
      // instead of carried as its own chained frame: a separate frontier
      // chain references the previous frontier AND visited each level —
      // Fibonacci-style logical growth that no cadence of visited-only
      // truncation bounds (found as an explainString OOM at maxHops=10)
      val frontier = visited.where(col("dist") === (level - 1).toLong)
        .select(col("node"))
      val next = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      visited = Caching.checkpoint(visited.unionAll(
          next.select(col("node"), lit(level.toLong).as("dist"))))
    }
    visited
  }

  /** Sampled hop-bounded BETWEENNESS centrality (Brandes 2001, with the
    * standard source-sampling approximation) — the bridge/broker signal
    * the rest of the centrality family (degree, PageRank, HITS, k-core,
    * triangles) cannot express: how much shortest-path traffic passes
    * THROUGH a node. For every sampled source s (`node % sampleEvery =
    * 0`), a forward BFS of ≤ `maxHops` levels counts shortest paths
    * (σ), then the backward sweep accumulates Brandes dependencies
    *   δ(v) += Σ_{v→w on the BFS DAG} σ_v·(1e6 + δ_w) div σ_w
    * in exact micro floors — integer division per DAG edge, summed, so
    * every level replays value-for-value in DuckDB
    * ([[betweennessSampledOracleSql]]). Returns (node, bc_micro) =
    * Σ_s δ_s(node) over sampled sources, node ≠ s (directed-pair
    * counting: on a symmetric edge table each unordered pair counts
    * twice when both endpoints are sampled). Hop bounding is the scale
    * lever (k-bounded betweenness); σ·(1e6+δ) products stay under 2^63
    * for maxHops ≤ ~4 on group-capped graphs — the intended regime.
    *
    * Scale shape: BOTH sweeps are batched across all sampled sources at
    * once — state is (source, node)-keyed, so each of the 2·maxHops
    * rounds is one keyed equi-join + aggregate over |sample|·|reached|
    * rows, never a per-source driver loop. Per-round
    * [[Caching.checkpoint]] (the state frame is multi-referenced every
    * round — the BFS discipline).
    */
  def betweennessSampled(edges: DataFrame, sampleEvery: Long,
      maxHops: Int): DataFrame = {
    require(sampleEvery >= 1 && maxHops >= 1)
    // r14 restructure (guide §2.4 — remove shuffles outright; §1.2 — fix
    // the distributed algorithm first), value-identical by construction:
    //  1. the flat edge base is checkpointed PRE-PARTITIONED on src (the
    //     join key of both sweeps after the backward join reorder below):
    //     the LogicalRDD keeps the hash partitioning, so every per-level
    //     equi-join shuffles only the (source, node)-keyed state, never
    //     the edges;
    //  2. per-LEVEL state frames replace the growing re-checkpointed
    //     union: level l's rows are materialized ONCE instead of
    //     maxHops−l+1 times (forward) and the backward sweep joins
    //     level-sized frames instead of rewriting the full accumulator;
    //  3. the d = 1 backward round is SKIPPED: it only updates the
    //     dist-0 rows (node = s), which the final filter drops — its
    //     contribution was always dead work.
    // The Brandes dependency flow is strictly between adjacent BFS
    // levels (δ of a dist-d node is finalized before round d consumes
    // it), so per-level processing reproduces the accumulator exactly.
    // persist UNDER the checkpoint: betweenness and harmonic build the
    // same canonical src-partitioned edge base over the same input — the
    // entry lets the second consumer cache-hit the repartition+distinct
    val eSrc = Caching.checkpoint(Caching.persist(
      edges.select(col("src"), col("dst")).repartition(col("src"))
        .distinct()), eager = true)
    val sources = eSrc.select(col("src").as("node")).distinct()
      .where(pmod(col("node"), lit(sampleEvery)) === 0)
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    levels += Caching.checkpoint(sources.select(col("node").as("s"),
      col("node"), lit(1L).as("sigma")))
    for (level <- 1 to maxHops) {
      val frontier = levels(level - 1)
        .select(col("s"), col("node").as("src"), col("sigma"))
      val reachedAll = levels.map(_.select(col("s"), col("node")))
        .reduce(_ unionByName _)
      val next = eSrc.join(frontier, "src")
        .select(col("s"), col("dst").as("node"), col("sigma"))
        .join(reachedAll, Seq("s", "node"), "left_anti")
        .groupBy(col("s"), col("node")).agg(sum(col("sigma")).as("sigma"))
      levels += Caching.checkpoint(next)
    }
    var lower = levels(maxHops).withColumn("delta", lit(0L))
    val deltas = scala.collection.mutable.ArrayBuffer(lower)
    for (d <- maxHops to 2 by -1) {
      val lw = lower.select(col("s"), col("node").as("dst"),
        col("sigma").as("sw"), col("delta").as("dw"))
      // join ORDER is the lever (r14, measured): edges ⋈ level-d state
      // first fans out to |L_d|·deg rows (59M at the gate point, 4.4 s in
      // one round) because the deeper level is the larger one in an
      // expanding BFS; attaching the SMALLER upper level (d−1) to the
      // edge table first bounds the intermediate at |L_{d−1}|·deg (710k
      // here, sub-second) and the (s, dst) join against level d then
      // filters to the same DAG-edge set. Also reuses the src-partitioned
      // edge base (no dst-partitioned copy needed at all).
      val contrib = eSrc.join(levels(d - 1).select(col("s"),
          col("node").as("src"), col("sigma").as("sv")), "src")
        .select(col("s"), col("src").as("node"), col("dst"), col("sv"))
        .join(lw, Seq("s", "dst"))
        .select(col("s"), col("node"),
          expr("(sv * (1000000 + dw)) DIV sw").as("c"))
        .groupBy(col("s"), col("node")).agg(sum(col("c")).as("cd"))
      lower = Caching.checkpoint(
        levels(d - 1).join(contrib, Seq("s", "node"), "left")
          .select(col("s"), col("node"), col("sigma"),
            coalesce(col("cd"), lit(0L)).as("delta")))
      deltas += lower
    }
    deltas.map(_.select(col("s"), col("node"), col("delta")))
      .reduce(_ unionByName _)
      .where(col("node") =!= col("s"))
      .groupBy(col("node")).agg(sum(col("delta")).as("bc_micro"))
  }

  /** DuckDB replay of [[betweennessSampled]] ∘ [[coEdges]] — one
    * MATERIALIZED CTE per forward level and per backward level.
    */
  def betweennessSampledOracleSql(groupExpr: String, itemExpr: String,
      table: String, sampleEvery: Long, maxHops: Int,
      maxGroupSize: Int = 64): String = {
    val fwd = (1 to maxHops).map { l =>
      val prev = s"r${l - 1}"
      s"""r$l AS MATERIALIZED (
         |  SELECT s, node, dist, sigma FROM $prev
         |  UNION ALL
         |  SELECT f.s, e.dst AS node, $l::BIGINT, sum(f.sigma)::BIGINT
         |  FROM e
         |  JOIN (SELECT s, node, sigma FROM $prev WHERE dist = ${l - 1}) f
         |    ON f.node = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |                    WHERE x.s = f.s AND x.node = e.dst)
         |  GROUP BY f.s, e.dst)"""
    }.mkString(",\n")
    val bwd = (maxHops to 1 by -1).map { d =>
      val prev = if (d == maxHops) s"b$maxHops" else s"b$d"
      val name = s"b${d - 1}"
      s"""$name AS MATERIALIZED (
         |  SELECT a.s, a.node, a.dist, a.sigma,
         |         (a.delta + coalesce(c.cd, 0))::BIGINT AS delta
         |  FROM $prev a LEFT JOIN (
         |    SELECT v.s, v.node,
         |           sum((v.sigma * (1000000 + w.delta)) // w.sigma)::BIGINT
         |             AS cd
         |    FROM e
         |    JOIN (SELECT s, node, sigma, delta FROM $prev
         |          WHERE dist = $d) w ON w.node = e.dst
         |    JOIN (SELECT s, node, sigma FROM $prev
         |          WHERE dist = ${d - 1}) v
         |      ON v.s = w.s AND v.node = e.src
         |    GROUP BY v.s, v.node) c
         |    ON c.s = a.s AND c.node = a.node)"""
    }.mkString(",\n")
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)},
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
       |srcs AS (SELECT DISTINCT src AS node FROM e
       |         WHERE src % $sampleEvery = 0),
       |r0 AS MATERIALIZED (
       |  SELECT node AS s, node, 0::BIGINT AS dist, 1::BIGINT AS sigma
       |  FROM srcs),
       |$fwd,
       |b$maxHops AS MATERIALIZED (
       |  SELECT s, node, dist, sigma, 0::BIGINT AS delta FROM r$maxHops),
       |$bwd
       |SELECT node, sum(delta)::BIGINT AS bc_micro FROM b0
       |WHERE node <> s GROUP BY node""".stripMargin
  }

  /** Sampled hop-bounded HARMONIC centrality (Marchiori & Latora 2000;
    * Boldi & Vigna's recommended closeness variant) — "how near is this
    * node to everything": H(v) = Σ_s 1/d(s,v) over the sampled sources,
    * which handles disconnected pairs by contributing 0 instead of
    * closeness's divide-by-infinity. Each term is the exact micro floor
    * `1e6 div d`, summed — order-free integers, so the whole measure
    * replays in DuckDB ([[harmonicSampledOracleSql]]). Source sampling
    * (`node % sampleEvery = 0`) and the hop bound are the same two scale
    * levers as [[betweennessSampled]]; unreached pairs and pairs beyond
    * `maxHops` contribute 0 by the harmonic definition, so hop bounding
    * is a TRUNCATION of provably-smallest terms (each ≤ 1e6/(maxHops+1)),
    * not an approximation of arbitrary error. Returns (node, harm_micro,
    * n_reached) for every node reached by ≥1 sampled source, node ≠
    * source.
    *
    * Scale shape: the forward half of the Brandes machinery only — one
    * batched multi-source BFS with (source, node)-keyed state, each of
    * the maxHops rounds one keyed equi-join + distinct + anti-join over
    * |sample|·|reached| rows, per-round [[Caching.checkpoint]] (the BFS
    * discipline), never a per-source driver loop. No backward sweep, no
    * σ bookkeeping — roughly half a betweenness run at the same levers.
    */
  def harmonicSampled(edges: DataFrame, sampleEvery: Long,
      maxHops: Int): DataFrame = {
    require(sampleEvery >= 1 && maxHops >= 1)
    // r14: pre-partitioned flat edge base + per-level frames, the
    // [[betweennessSampled]] restructure minus the backward sweep —
    // level l is materialized once and the edge side of every level's
    // join stays in place (guide §2.4)
    val eSrc = Caching.checkpoint(Caching.persist(
      edges.select(col("src"), col("dst")).repartition(col("src"))
        .distinct()), eager = true)
    val sources = eSrc.select(col("src").as("node")).distinct()
      .where(pmod(col("node"), lit(sampleEvery)) === 0)
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    levels += Caching.checkpoint(
      sources.select(col("node").as("s"), col("node")))
    for (level <- 1 to maxHops) {
      val frontier = levels(level - 1)
        .select(col("s"), col("node").as("src"))
      val reachedAll = levels.reduce(_ unionByName _)
      val next = eSrc.join(frontier, "src")
        .select(col("s"), col("dst").as("node")).distinct()
        .join(reachedAll, Seq("s", "node"), "left_anti")
      levels += Caching.checkpoint(next)
    }
    (1 to maxHops).map(l => levels(l)
        .select(col("s"), col("node"), lit(l.toLong).as("dist")))
      .reduce(_ unionByName _)
      .where(col("node") =!= col("s"))
      .groupBy(col("node"))
      .agg(sum(expr("1000000 DIV dist")).as("harm_micro"),
        count(lit(1)).as("n_reached"))
  }

  /** DuckDB replay of [[harmonicSampled]] ∘ [[coEdges]] — one
    * MATERIALIZED CTE per BFS level (the forward half of
    * [[betweennessSampledOracleSql]] without σ).
    */
  def harmonicSampledOracleSql(groupExpr: String, itemExpr: String,
      table: String, sampleEvery: Long, maxHops: Int,
      maxGroupSize: Int = 64): String = {
    val fwd = (1 to maxHops).map { l =>
      val prev = s"r${l - 1}"
      s"""r$l AS MATERIALIZED (
         |  SELECT s, node, dist FROM $prev
         |  UNION ALL
         |  SELECT DISTINCT f.s, e.dst AS node, $l::BIGINT
         |  FROM e
         |  JOIN (SELECT s, node FROM $prev WHERE dist = ${l - 1}) f
         |    ON f.node = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |                    WHERE x.s = f.s AND x.node = e.dst))"""
    }.mkString(",\n")
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)},
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
       |srcs AS (SELECT DISTINCT src AS node FROM e
       |         WHERE src % $sampleEvery = 0),
       |r0 AS MATERIALIZED (
       |  SELECT node AS s, node, 0::BIGINT AS dist FROM srcs),
       |$fwd
       |SELECT node, sum(1000000 // dist)::BIGINT AS harm_micro,
       |       count(*)::BIGINT AS n_reached
       |FROM r$maxHops WHERE node <> s GROUP BY node""".stripMargin
  }

  /** APPROXIMATE NEIGHBORHOOD FUNCTION (ANF — Palmer et al. 2002; the
    * HyperBall formulation, Boldi & Vigna 2013): N(h) = Σ_v |ball(v, h)|
    * estimated with one mergeable register sketch per node — THE way
    * reachability curves and effective diameter are computed on graphs
    * too big for exact per-node BFS. Each node starts with the portable
    * HLL register of its own id ([[Profile.hllDistinct]]'s md5/bin
    * machinery, exactly); each hop element-wise-max-merges every
    * neighbor's registers into the node's (set union under the sketch);
    * after hop h the node's registers describe ball(v, h) and the curve
    * row is the fixed-point raw HLL estimate summed over nodes. Every
    * step — md5 registers, max merge, the integer estimator — replays
    * value-for-value in DuckDB ([[neighborhoodFunctionOracleSql]]).
    * Returns (hop, n_nodes, nf_est) for hop = 0..maxHops; nf_est is the
    * RAW-regime estimator (like [[Profile.hllDistinct]]'s est_raw):
    * small balls (hop 0/1) sit in its documented-biased regime, which is
    * fine for the curve's purpose (growth shape / saturation — the
    * curve flattens exactly when balls stop growing) and keeps every
    * row oracle-hashable; no floating point anywhere.
    *
    * Scale shape: state is sparse long-form (node, register, ρ) — at
    * most min(m, |ball|) rows per node — and each hop is ONE edge⋈state
    * equi-join + a (node, register)-keyed max aggregate: |E|·m̄ rows
    * shuffled per hop, never a per-source frontier (this is why ANF
    * exists: h·|E|·m beats |V| BFS runs by orders of magnitude).
    * Per-hop [[Caching.checkpoint]] (the state is multi-referenced: the
    * merge AND the curve estimate read it).
    *
    * Node domain: balls are seeded from src ∪ dst, so a DIRECTED edge
    * input counts sink-only nodes in N(h) too (a src-only seed would
    * silently undercount them — ADVICE r12); on [[coEdges]]' symmetric
    * output the union is identical to the src set. Ball GROWTH still
    * follows edge direction src→dst (ball(v) = nodes v reaches).
    */
  def neighborhoodFunction(edges: DataFrame, maxHops: Int,
      p: Int = 5): DataFrame = {
    require(maxHops >= 0 && p >= 4 && p <= 10)
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = Profile.hllAlphaMicro(p)
    // r14 repack (guide §2.3 — shuffle fewer bytes; §1.2 — per-task work
    // second): registers ride a DENSE per-node array (regs[i] = ρ of
    // register i, 0 = absent; every real ρ ≥ 1) instead of long-form
    // (node, idx, ρ) rows. Each hop's edge⋈state join then moves |E|
    // array rows instead of |E|·m̄ register rows (measured 8.5M-row
    // aggregate inputs per hop at sf0.1 before), the per-hop merge is the
    // engine's own element-wise max monoid UDAF ([[graft.functions
    // .ArrayReduceAgg]] — the reference operator, ObjectHashAggregate
    // tier with map-side partial merge), and the curve read-off needs no
    // per-register aggregation at all. Register CONTENT — and therefore
    // the integer estimator and every output row — is bit-identical:
    // max(0, ρ) = ρ, and n/t_present count only non-zero entries.
    // The edge base is checkpointed pre-partitioned on dst (the hop
    // join's key), so per-hop joins shuffle only the node-keyed state
    // (guide §2.4).
    val e = Caching.checkpoint(
      edges.select(col("src"), col("dst")).repartition(col("dst"))
        .distinct(), eager = true)
    var state = Caching.checkpoint(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .select(col("node"), Dedup.portableHash(
          concat(lit("anf:"), col("node").cast("string"))).as("h"))
        .select(col("node"), expr(s"h DIV ${1L << wBits}").as("idx"),
          when(pmod(col("h"), lit(1L << wBits)) === 0L,
              lit((wBits + 1).toLong))
            .otherwise(lit((wBits + 1).toLong) -
              length(ltrim(bin(pmod(col("h"), lit(1L << wBits))), "0")))
            .as("rho"))
        .select(col("node"), expr(
          s"transform(sequence(0L, ${m - 1}L), " +
            "i -> IF(i = idx, rho, CAST(0 AS BIGINT)))").as("regs")))
    def curveRow(st: DataFrame, hop: Int): DataFrame = st
      .select(
        expr("size(filter(regs, r -> r > 0))").cast("long")
          .as("n_present"),
        expr("aggregate(regs, CAST(0 AS BIGINT), (a, r) -> a + " +
          s"IF(r > 0, shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(${wBits + 1} - r AS INT)), CAST(0 AS BIGINT)))")
          .as("t_present"))
      .select(expr(
        s"CAST((CAST($alphaMicro AS DECIMAL(38,0)) * ${m * m} * " +
          s"${1L << (wBits + 1)}) div " +
          s"(t_present + ($m - n_present) * ${1L << (wBits + 1)}) " +
          "div 1000000 AS BIGINT)").as("est"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("est")).as("nf_est"))
      .select(lit(hop.toLong).as("hop"), col("n_nodes"), col("nf_est"))
    var curve = curveRow(state, 0)
    for (hop <- 1 to maxHops) {
      val fromNeighbors = e
        .join(state.select(col("node").as("dst"), col("regs")), "dst")
        .select(col("src").as("node"), col("regs"))
      state = Caching.checkpoint(state.unionByName(fromNeighbors)
        .groupBy(col("node"))
        .agg(graft.functions.ArrayReduceAgg
          .arrayReduce("max", col("regs")).as("regs")))
      curve = curve.unionByName(curveRow(state, hop))
    }
    curve
  }

  /** DuckDB replay of [[neighborhoodFunction]] ∘ [[coEdges]] — one
    * MATERIALIZED state CTE per hop, one estimate CTE per curve row.
    */
  def neighborhoodFunctionOracleSql(groupExpr: String, itemExpr: String,
      table: String, maxHops: Int, p: Int = 5,
      maxGroupSize: Int = 64): String = {
    val m = 1L << p
    val wBits = 60 - p
    val alphaMicro = Profile.hllAlphaMicro(p)
    val hops = (1 to maxHops).map { h =>
      val prev = s"s${h - 1}"
      s"""s$h AS MATERIALIZED (
         |  SELECT node, idx, max(rho)::BIGINT AS rho FROM (
         |    SELECT node, idx, rho FROM $prev
         |    UNION ALL
         |    SELECT e.src AS node, s.idx, s.rho
         |    FROM e JOIN $prev s ON s.node = e.dst)
         |  GROUP BY node, idx)"""
    }.mkString(",\n")
    def estSql(h: Int) =
      s"""SELECT $h::BIGINT AS hop, count(*)::BIGINT AS n_nodes,
         |       sum(est)::BIGINT AS nf_est FROM (
         |  SELECT (($alphaMicro::HUGEINT * ${m * m} * ${1L << (wBits + 1)})
         |            // (sum((1::BIGINT << (${wBits + 1} - rho))::BIGINT)
         |                + ($m - count(*)) * ${1L << (wBits + 1)})
         |            // 1000000)::BIGINT AS est
         |  FROM s$h GROUP BY node)""".stripMargin
    val curve = (0 to maxHops).map(estSql).mkString("\nUNION ALL ")
    s"""WITH ${coEdgesSql(groupExpr, itemExpr, table, maxGroupSize)},
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges),
       |s0 AS MATERIALIZED (
       |  SELECT node,
       |         h // ${1L << wBits} AS idx,
       |         (CASE WHEN h % ${1L << wBits} = 0 THEN ${wBits + 1}
       |               ELSE ${wBits + 1} -
       |                    length(ltrim(bin(h % ${1L << wBits}), '0'))
       |          END)::BIGINT AS rho
       |  FROM (SELECT node,
       |               ('0x' || substr(md5('anf:' || node::VARCHAR), 1, 15))
       |                 ::BIGINT AS h
       |        FROM (SELECT src AS node FROM e
       |              UNION SELECT dst FROM e))),
       |$hops
       |$curve""".stripMargin
  }

  /** EFFECTIVE DIAMETER read-off over the [[neighborhoodFunction]] curve
    * (Palmer et al. 2002's headline statistic): the smallest hop h whose
    * estimated neighborhood mass reaches `pct`% of the curve's maximum —
    * "how many hops reach (say) 90% of everything reachable". Pure
    * integer comparison over the (maxHops+1)-row curve, so it
    * hash-replays ([[effectiveDiameterOracleSql]]). `maxHops` must be
    * sized past saturation for the classic reading (the curve freezing —
    * spec-pinned in the ANF test — is the observable check); an unsized
    * run still answers "h hops reach pct% of the ≤maxHops mass". Note
    * the read-off is over SKETCHED mass: a ball whose late additions are
    * register-dominated reads as already-saturated, so even pct=100 can
    * land a hop before the true diameter — the standard ANF behavior
    * (the estimate, not the exact set, is what exists at scale).
    * Returns one row: (eff_hop, nf_at_hop, nf_max).
    *
    * Scale shape: [[neighborhoodFunction]]'s h·|E|·m̄ work plus one
    * window over a ≤(maxHops+1)-row frame — the curve is model-sized.
    */
  def effectiveDiameter(edges: DataFrame, maxHops: Int, p: Int = 5,
      pct: Int = 90): DataFrame =
    effectiveDiameterFromCurve(neighborhoodFunction(edges, maxHops, p), pct)

  /** Read-off over an already-computed [[neighborhoodFunction]] curve, so
    * a caller wanting both the curve and the diameter pays ONE ANF run
    * (VERDICT r12 item 5; the edges form above recomputes the curve
    * lineage after its nfMax head() — bounded, the per-hop states are
    * checkpointed, but two reads of the same ANF are still two).
    * Distinctly NAMED, not overloaded (ADVICE r13): a 2-arg overload
    * `effectiveDiameter(curve, pct)` silently captured existing positional
    * `effectiveDiameter(edges, maxHops)` calls — Scala prefers the
    * alternative applicable without default args — misbinding edges as a
    * curve and failing at runtime on the missing `nf_est` column.
    * Spec-pinned equal to the edges form on the same input. Empty /
    * edge-less input (nf_est NULL on every row, or no rows) returns an
    * empty frame instead of NPE-ing on the eager max read (ADVICE r12).
    */
  def effectiveDiameterFromCurve(curve: DataFrame, pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100)
    val mx = curve.agg(max(col("nf_est"))).head()
    if (mx.isNullAt(0))
      return curve.where(lit(false))
        .select(lit(0L).as("eff_hop"), lit(0L).as("nf_at_hop"),
          lit(0L).as("nf_max"))
    val nfMax = mx.getLong(0)
    curve.where(col("nf_est") * 100 >= lit(pct) * nfMax)
      .orderBy(col("hop")).limit(1)
      .select(col("hop").as("eff_hop"), col("nf_est").as("nf_at_hop"),
        lit(nfMax).as("nf_max"))
  }

  /** DuckDB replay of [[effectiveDiameter]] ∘ [[coEdges]]. */
  def effectiveDiameterOracleSql(groupExpr: String, itemExpr: String,
      table: String, maxHops: Int, p: Int = 5, pct: Int = 90,
      maxGroupSize: Int = 64): String =
    s"""WITH curve AS (
       |${neighborhoodFunctionOracleSql(groupExpr, itemExpr, table,
           maxHops, p, maxGroupSize)}
       |),
       |mx AS (SELECT max(nf_est) AS nf_max FROM curve)
       |SELECT hop AS eff_hop, nf_est AS nf_at_hop, mx.nf_max
       |FROM curve, mx
       |WHERE nf_est * 100 >= $pct * mx.nf_max
       |ORDER BY hop LIMIT 1""".stripMargin

  /** COUNTED co-occurrence edges: like [[coEdges]] but keeps the
    * co-occurrence count per pair instead of deduplicating to a simple
    * graph — the tie-STRENGTH graph ([[ssspBounded]] turns it into
    * distances via w = 1e6 div n_co: heavily co-occurring items are
    * "close"). Same capped group self-join shape (Σ group² work under
    * `maxGroupSize`, never corpus²); emits both directions.
    */
  def coEdgesWeighted(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 64): DataFrame = {
    val gi = df.select(col(groupCol).as("g"), col(itemCol).as("item"))
      .distinct().transform(Caching.persist)
    val sized = gi.join(
      gi.groupBy("g").agg(count(lit(1)).as("__n"))
        .where(col("__n").between(2, maxGroupSize)).select(col("g")), "g")
    val pairs = sized.select(col("g"), col("item").as("src"))
      .join(sized.select(col("g"), col("item").as("dst")), "g")
      .where(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_co"))
    Caching.persist(pairs.unionAll(
      pairs.select(col("dst").as("src"), col("src").as("dst"),
        col("n_co"))))
  }

  /** Hop-bounded single-source WEIGHTED shortest paths (min-plus
    * Bellman-Ford over ≤ `maxHops` relaxation rounds) — [[bfsDistances]]
    * with a cost column: dist(node) = min over ≤ maxHops-edge paths of
    * Σ w. Exact BIGINT arithmetic; parallel edges collapse to their
    * minimum weight first, so every value replays in a chained-CTE
    * oracle. Returns (node, dist) for nodes reachable in ≤ maxHops hops
    * (source at 0).
    *
    * Scale shape: per round ONE src-keyed equi-join of the node-sized
    * distance table against the flat checkpointed edge table + one
    * min-aggregate; the distance table is referenced twice per round
    * (relax join + union) and CHECKPOINTED each round — measured best
    * (round-10 construct+count A/B as `Probe time` times it, warm: 1.8 s
    * vs 2.8 s for a checkpoint every k-th round with persists between;
    * same finding as [[bfsDistances]]). Negative weights are not
    * validated (that would cost a scan): min-plus stays well-defined
    * under the hop bound, but the result then depends on `maxHops` —
    * callers wanting classic shortest paths should pass non-negative
    * weights.
    */
  def ssspBounded(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Caching.checkpoint(edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    var dist = Seq((source, 0L)).toDF("node", "dist")
    for (r <- 1 to maxHops) {
      val relax = e.join(dist.select(col("node").as("src"),
          col("dist").as("d0")), "src")
        .select(col("dst").as("node"), (col("d0") + col("w")).as("dist"))
      dist = Caching.checkpoint(dist.unionAll(relax)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /** DuckDB replay of [[ssspBounded]]: one chained CTE per relaxation
    * round (the [[kCoreOracleSql]] pattern — a recursive CTE would
    * enumerate paths, combinatorial on dense graphs). `edgesCte` must
    * define `edges AS (... src, dst, w ...)`.
    */
  def ssspOracleSql(edgesCte: String, sourceSql: String,
      maxHops: Int): String = {
    val rounds = (1 to maxHops).map { r =>
      val prev = s"d${r - 1}"
      s""",
         |d$r AS MATERIALIZED (
         |  SELECT node, min(dist)::BIGINT AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT e.dst, p.dist + e.w FROM $prev p
         |    JOIN e ON e.src = p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString
    s"""WITH $edgesCte,
       |e AS (SELECT src, dst, min(w)::BIGINT AS w FROM edges GROUP BY 1, 2),
       |d0 AS (SELECT ($sourceSql)::BIGINT AS node, 0::BIGINT AS dist)$rounds
       |SELECT node, dist FROM d$maxHops""".stripMargin
  }

  /** DuckDB replay of [[bfsDistances]]: recursive CTE walking (node,
    * dist) pairs — UNION dedup bounds the recursion at maxHops levels on
    * any graph (cycles included), min(dist) collapses to the BFS level.
    */
  def bfsOracleSql(edgesCte: String, sourceSql: String,
      maxHops: Int): String =
    s"""WITH RECURSIVE $edgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges),
       |walk(node, dist) AS (
       |  SELECT ($sourceSql)::BIGINT, 0::BIGINT
       |  UNION
       |  SELECT e.dst, w.dist + 1
       |  FROM walk w JOIN e ON e.src = w.node
       |  WHERE w.dist < $maxHops)
       |SELECT node, min(dist)::BIGINT AS dist FROM walk GROUP BY node""".stripMargin
}
