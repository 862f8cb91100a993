package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edgesOf(pairs: (Long, Long)*) = {
    val half = pairs.toSeq.toDF("src", "dst")
    half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("coEdges: symmetric, deduplicated across groups, self-edge-free") {
    val df = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L), // (1,2) repeats in group 20 → one edge
      (30L, 4L)             // singleton group → no edges
    ).toDF("g", "item")
    val e = Graph.coEdges(df, "g", "item").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("coEdges: oversized groups are dropped entirely, not sampled") {
    val big = (1L to 5L).map(i => (99L, i))
    val df = (big :+ ((10L, 1L)) :+ ((10L, 2L))).toDF("g", "item")
    val e = Graph.coEdges(df, "g", "item", maxGroupSize = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 1L)))
  }

  test("coEdges: a null item counts toward the cap but is never paired") {
    // group 99: maxGroupSize distinct items plus a null is over the cap;
    // group 7: one item plus a null has no pair; group 10 keeps its pair
    val df = ((1L to 4L).map(i => (99L, Option(i))) ++ Seq(
      (99L, None), (7L, Some(5L)), (7L, None),
      (10L, Some(1L)), (10L, Some(2L)), (10L, None))).toDF("g", "item")
    val e = Graph.coEdges(df, "g", "item", maxGroupSize = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e == Set((1L, 2L), (2L, 1L)))
    val w = Graph.coEdgesWeighted(df, "g", "item", maxGroupSize = 4)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(w.toSet == e)
  }

  test("pageRank: uniform start sums to ~total mass, bounded floor leak") {
    // triangle + pendant: 4 nodes, mass should stay near RankScale with
    // only integer-floor leakage (< iters * n ulps of the micro-unit)
    val e = edgesOf((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val iters = 10
    val total = Graph.pageRank(e, iters).agg(sum("rank_u")).head().getLong(0)
    val leakBound = iters.toLong * 4 * 100 // floor losses per div, per round
    assert(total <= Graph.RankScale)
    assert(total >= Graph.RankScale - leakBound)
  }

  test("pageRank: symmetric graph keeps the uniform distribution") {
    // a cycle is degree-regular and vertex-transitive: every node must hold
    // exactly the same rank after any number of rounds
    val e = edgesOf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val ranks = Graph.pageRank(e, 7).select("rank_u").distinct().collect()
    assert(ranks.length == 1)
  }

  test("pageRank: the hub of a star out-ranks the leaves") {
    val e = edgesOf((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L))
    val ranks = Graph.pageRank(e, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val leaves = (1L to 5L).map(ranks)
    assert(leaves.toSet.size == 1) // leaves tie exactly
    assert(ranks(0L) > leaves.head * 3) // hub dominates
  }

  test("trustRank: unreachable components score zero, trust decays with hops") {
    import spark.implicits._
    // two components: path 1-2-3 (seeded at 1) and isolated pair 4-5
    val e = edgesOf((1L, 2L), (2L, 3L), (4L, 5L))
    val seeds = Seq(1L).toDF("node")
    val r = Graph.trustRank(e, seeds, iters = 8).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // the spam component never appears: no teleport, no reachable trust
    assert(!r.contains(4L) && !r.contains(5L))
    // trust decays with distance from the seed among same-role nodes: the
    // end of the path gets half of 2's outflow, strictly less than the
    // seed-adjacent node, and the seed beats the far end; everything
    // reachable is strictly positive
    assert(r(2L) > r(3L) && r(1L) > r(3L) && r(3L) > 0L)
  }

  test("spamMass: link farms carry full relative mass, seeds carry little") {
    import spark.implicits._
    // seeded triangle 1-2-3 + unreachable "link farm" clique 7-8-9
    val e = edgesOf((1L, 2L), (2L, 3L), (3L, 1L),
      (7L, 8L), (8L, 9L), (9L, 7L))
    val r = Graph.spamMass(e, Seq(1L).toDF("node"), iters = 8).collect()
      .map(x => x.getLong(0) -> x).toMap
    // the farm ranks (symmetric graph — same as the trusted triangle's
    // nodes) but has zero trust → relative spam mass exactly 1
    assert(r(7L).getLong(2) == 0L && r(7L).getDouble(4) == 1.0)
    // the seed's trust exceeds its rank share (teleport concentrates on
    // it) → negative mass, i.e. provably-backed rank
    assert(r(1L).getDouble(4) < 0.0)
    // every node of the graph appears exactly once
    assert(r.size == 6)
  }

  test("pageRank: deep iteration across the truncation boundary is " +
      "value-exact vs an in-driver replay") {
    // TruncateRounds-crossing run (round 11: the damped loops compose
    // lazily and checkpoint every TruncateRounds rounds — this pins that
    // the truncated frame re-enters the recurrence with unchanged values)
    val iters = Graph.TruncateRounds + 1
    val pairs = Set((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val got = Graph.pageRank(edgesOf(pairs.toSeq: _*), iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact integer replay of the pinned semantics, driver-side
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val S = Graph.RankScale
    val n = deg.size.toLong
    val base = (100L - 85L) * (S / n) / 100L
    var rank = deg.keySet.map(_ -> S / n).toMap
    for (_ <- 1 to iters) {
      rank = edges.toSeq
        .flatMap { case (s, d) => rank.get(s).map(r => d -> r / deg(s)) }
        .groupBy(_._1)
        .map { case (d, cs) => d -> (base + 85L * cs.map(_._2).sum / 100L) }
    }
    assert(got == rank)
  }

  test("spamMass single-pass pyramid equals the standalone composition") {
    // the tagged-union iteration must reproduce pageRank + trustRank
    // byte-for-byte — asymmetric degrees + a seed outside the edge set +
    // a seed in a leaf position exercise every branch of the tagged join
    val e = edgesOf((1L, 2L), (1L, 3L), (3L, 4L), (7L, 8L))
    val seeds = Seq(3L, 99L).toDF("node")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val fused = Graph.spamMass(e, seeds, iters = 6).collect().map(key).toSet
    // the shipped composition variant (q_graph_spam_mass's shape) must
    // reproduce the fused pyramid byte-for-byte, ALL five columns
    val composed = Graph.spamMassComposed(e, seeds, iters = 6)
      .collect().map(key).toSet
    assert(fused == composed)
  }

  test("degrees counts undirected degree over coEdges output") {
    val df = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("g", "item")
    val d = Graph.degrees(Graph.coEdges(df, "g", "item")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagation: two cliques joined by a bridge split into two " +
      "communities") {
    // clique {1,2,3} — bridge 3-4 — clique {4,5,6}: LPA must converge to
    // exactly two labels, one per clique, with the bridge endpoints keeping
    // their own clique's label (each has 2 in-clique neighbors vs 1 across)
    val e = edgesOf((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val l = Graph.labelPropagation(e, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(l(1L), l(2L), l(3L)).size == 1)
    assert(Set(l(4L), l(5L), l(6L)).size == 1)
    assert(l(1L) != l(4L))
  }

  test("labelPropagation: tie between neighbor labels resolves to the " +
      "smallest label") {
    // path 1-2-3 after round 1: node 2 sees labels {1, 3} once each →
    // must adopt label 1 (min), deterministically
    val e = edgesOf((1L, 2L), (2L, 3L))
    val l = Graph.labelPropagation(e, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l(2L) == 1L)
    // the endpoints see only node 2's label
    assert(l(1L) == 2L && l(3L) == 2L)
  }

  test("labelPropagation: frequency beats label order when not tied") {
    // star 1-{5,6}. Round 1: node 1 sees {5, 6} → min 5; leaves see {1}.
    // Round 2: node 1's neighbors BOTH carry label 1 (frequency 2) while
    // no label-5 neighbor remains → 1 wins on count, not on order.
    val e = edgesOf((1L, 5L), (1L, 6L))
    val l = Graph.labelPropagation(e, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1's neighbors both carry label 1 after round 1 → frequency 2
    assert(l(1L) == 1L)
  }

  test("hits: star buyer graph — shared authority dominates, hubs tie") {
    // buyers 1,2,3 each buy item 100; buyer 1 also buys item 200.
    // Authority: item 100 (3 hub endorsements) must out-score 200 (1).
    // Hubs 2 and 3 (identical link sets) must tie exactly.
    val e = Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L))
      .toDF("src", "dst")
    val r = Graph.hits(e, iters = 3).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r(("auth", 100L)) > r(("auth", 200L)) * 2)
    assert(r(("hub", 2L)) == r(("hub", 3L)))
    assert(r(("hub", 1L)) > r(("hub", 2L))) // 1 reaches both authorities
  }

  test("hits: L1 normalization holds every round (scores sum to ~S)") {
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val r = Graph.hits(e, iters = 4)
    val sums = r.groupBy("side").agg(sum("score_u").as("s")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // floor division loses < n micro-units per side
    assert(sums("auth") <= Graph.RankScale
      && sums("auth") > Graph.RankScale - 10)
    assert(sums("hub") <= Graph.RankScale
      && sums("hub") > Graph.RankScale - 10)
  }

  test("hits: duplicate input edges do not double-count endorsements") {
    val e = Seq((1L, 100L), (1L, 100L), (2L, 200L)).toDF("src", "dst")
    val r = Graph.hits(e, iters = 2).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    // both buyer→item links are unique after distinct → symmetric graph,
    // authorities tie exactly
    assert(r(("auth", 100L)) == r(("auth", 200L)))
  }

  private def hitsScores(e: org.apache.spark.sql.DataFrame, iters: Int) =
    Graph.hits(e, iters).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap

  test("hits: an empty edge table gives no rows") {
    assert(hitsScores(Seq.empty[(Long, Long)].toDF("src", "dst"), 3).isEmpty)
  }

  test("hits: one edge puts all the mass on its two ends") {
    val r = hitsScores(Seq((1L, 2L)).toDF("src", "dst"), 3)
    assert(r == Map(("auth", 2L) -> Graph.RankScale,
      ("hub", 1L) -> Graph.RankScale))
  }

  test("hits: a self-loop is an ordinary edge") {
    // hub 1 endorses itself and 2 equally; it is the only hub
    val r = hitsScores(Seq((1L, 1L), (1L, 2L)).toDF("src", "dst"), 2)
    assert(r == Map(("auth", 1L) -> Graph.RankScale / 2,
      ("auth", 2L) -> Graph.RankScale / 2, ("hub", 1L) -> Graph.RankScale))
    // the floors of the full definition, from uniform hubs S: round 1
    // raw auth = S·indeg = (S, 2S) over a total of 3S
    val e = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("src", "dst")
    assert(hitsScores(e, 1) == Map(("auth", 1L) -> 333333333333L,
      ("auth", 2L) -> 666666666666L, ("hub", 1L) -> 600000000000L,
      ("hub", 2L) -> 400000000000L))
    assert(hitsScores(e, 2) == Map(("auth", 1L) -> 375000000000L,
      ("auth", 2L) -> 625000000000L, ("hub", 1L) -> 615384615384L,
      ("hub", 2L) -> 384615384615L))
  }

  test("hits: deep iteration counts run through lineage truncation") {
    // two truncation rounds plus one lazy round past the last
    val iters = 2 * Graph.TruncateRounds + 1
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L), (3L, 10L))
      .toDF("src", "dst")
    val sums = Graph.hits(e, iters).groupBy("side")
      .agg(sum("score_u").as("s")).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(sums.keySet == Set("auth", "hub"))
    sums.values.foreach { s =>
      assert(s <= Graph.RankScale && s > Graph.RankScale - iters)
    }
  }

  test("triangles: known counts, clustering coefficient, hub cap") {
    import graft.operators.Graph
    val half = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val r = Graph.triangles(edges)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == ((2L, 1L, 1000000L)))
    assert(r(2L) == ((2L, 1L, 1000000L)))
    assert(r(3L) == ((3L, 1L, 333333L)))  // 2*1/(3*2) in micro-units
    assert(r(4L) == ((1L, 0L, 0L)))       // degree < 2 pins 0
    // hub guard: capping degree at 2 drops node 3 and with it every
    // triangle; degrees are RECOMPUTED on the capped graph (1-2 is the
    // only surviving edge) and node 4, isolated after the cap, drops out
    val capped = Graph.triangles(edges, maxDegree = 2L)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(capped == Map(1L -> ((1L, 0L)), 2L -> ((1L, 0L))))
  }


  test("kCore: peels the pendant chain, keeps the clique, converges") {
    import graft.operators.Graph
    // 4-clique {1,2,3,4} plus a chain 4-5-6: 2-core = the clique after
    // two peeling rounds (6 drops, then 5, then 4's degree is still 3)
    val half = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (4L,5L),(5L,6L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val core = Graph.kCore(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet == Set(1L, 2L, 3L, 4L))
    assert(core.values.forall(_ == 3L)) // clique degrees within the core
    // converged: one more round changes nothing
    val core4 = Graph.kCore(edges, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core4 == core)
    // k above the max degree empties the graph
    assert(Graph.kCore(edges, k = 5, rounds = 2).count() == 0)
  }

  test("linkPrediction: RA scores, observed-edge anti-join, hub cap") {
    // path graph 1-2-3 plus 3-4: candidates through z=2 are (1,3) — but
    // (1,3)? 1-2-3: pair (1,3) via z=2 (deg 2 → RA 500000); pair (2,4)
    // via z=3 (deg 2 → RA 500000); pair (1,4)? needs a shared neighbor —
    // none (2 and 3 are not shared). No observed pair may appear.
    val e = edgesOf((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graph.linkPrediction(e, hubCap = 64, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map((1L, 3L) -> ((1L, 500000L)), (2L, 4L) -> ((1L, 500000L))))

    // star: center 9 connects 5,6,7 → every leaf pair shares z=9 (deg 3,
    // RA 333333); with hubCap below 3 the hub is excluded → no candidates
    val star = edgesOf((9L, 5L), (9L, 6L), (9L, 7L))
    val viaHub = Graph.linkPrediction(star, hubCap = 64, topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(viaHub == Set((5L, 6L, 333333L), (5L, 7L, 333333L),
      (6L, 7L, 333333L)))
    assert(Graph.linkPrediction(star, hubCap = 2, topN = 10).count() == 0)
  }

  test("associationRules: hand-computed support/confidence/lift, minSup floor") {
    val li = Seq(
      (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "y"), (4L, "x"), (4L, "z"))
      .toDF("basket", "item")
    val got = Graph.associationRules(li, "basket", "item",
      minSup = 2L, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // n=4 baskets, n_x=4, n_y=3; pair (x,y) in 3 baskets
    // support 3/4; conf x->y = 3/4, y->x = 1; lift = 3*4/(4*3) = 1
    assert(got(("x", "y")) == ((3L, 750000L, 750000L, 1000000L)))
    assert(got(("y", "x")) == ((3L, 750000L, 1000000L, 1000000L)))
    // (x,z) co-occurs once < minSup -> no rule in either direction
    assert(!got.contains(("x", "z")) && !got.contains(("z", "x")))
  }

  test("ssspBounded: weighted relaxation beats hop count, bound respected") {
    import spark.implicits._
    // 1→2 (w 10), 2→3 (w 10), 1→3 direct but expensive (w 25),
    // 3→4 (w 1); parallel duplicate edge 1→2 (w 50) must collapse to 10
    val e = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L), (3L, 4L, 1L),
      (1L, 2L, 50L)).toDF("src", "dst", "w")
    val got = Graph.ssspBounded(e, source = 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 is cheaper via 2 hops (20) than direct (25); 4 = 20 + 1
    assert(got == Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 21L))
    // at 1 hop only the direct edges are reachable
    val oneHop = Graph.ssspBounded(e, 1L, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneHop == Map(1L -> 0L, 2L -> 10L, 3L -> 25L))
    // maxHops = 0: just the seed
    assert(Graph.ssspBounded(e, 1L, 0).collect().toSeq.map(_.toSeq)
      == Seq(Seq(1L, 0L)))
  }

  test("ssspBounded: empty edge set leaves just the seed") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    assert(Graph.ssspBounded(none, 7L, 3).collect().toSeq.map(_.toSeq)
      == Seq(Seq(7L, 0L)))
  }

  test("coEdgesWeighted: co-occurrence counts, both directions, cap") {
    import spark.implicits._
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L)).toDF("basket", "item")
    val got = Graph.coEdgesWeighted(li, "basket", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (10,20) co-occur in baskets 1,2; (10,30) in basket 3
    assert(got == Map((10L, 20L) -> 2L, (20L, 10L) -> 2L,
      (10L, 30L) -> 1L, (30L, 10L) -> 1L))
    // a basket above the cap contributes no pairs
    val big = (1 to 70).map(i => (9L, i.toLong)).toDF("basket", "item")
    assert(Graph.coEdgesWeighted(big, "basket", "item").count() == 0L)
  }

  test("coEdgesWeighted (src,dst) set equals coEdges — the modularity_w " +
      "label-sharing invariant") {
    import spark.implicits._
    // duplicates within a basket, a capped basket, and a singleton basket:
    // every eligibility/dedup rule of both builders is exercised. The
    // equality is what lets q_graph_modularity_w take its LPA labels from
    // the UNWEIGHTED coEdges tree (one shared 4-round LPA per session).
    val li = (Seq((1L, 10L), (1L, 20L), (1L, 20L), (2L, 10L), (2L, 20L),
      (2L, 30L), (3L, 40L), (4L, 50L), (4L, 50L)) ++
      (1 to 70).map(i => (9L, 100L + i))).toDF("basket", "item")
    val w = Graph.coEdgesWeighted(li, "basket", "item")
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val u = Graph.coEdges(li, "basket", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w == u && w.nonEmpty)
  }

  test("bfsDistances: hop levels, cycle safety, maxHops bound, unreachable") {
    import spark.implicits._
    // 1→2→3→4→5 chain with a 3→1 back-edge (cycle) and an island 9→10
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 1L),
      (9L, 10L)).toDF("src", "dst")
    val got = Graph.bfsDistances(e, source = 1L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 5 is 4 hops out — beyond maxHops; the island never appears;
    // the cycle must not re-label node 1
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // levels beyond the frontier's death change nothing (empty joins)
    val deep = Graph.bfsDistances(e, source = 1L, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deep == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // maxHops = 0 and a source with no edges: just the seed row
    assert(Graph.bfsDistances(e, 1L, 0).collect().toSeq.map(_.toSeq)
      == Seq(Seq(1L, 0L)))
    assert(Graph.bfsDistances(e, 42L, 3).collect().toSeq.map(_.toSeq)
      == Seq(Seq(42L, 0L)))
  }

  test("modularityRefine: one local-move round heals a mislabeled node, " +
      "perfect split is a fixed point") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val good = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("node", "label")
    // node 3 mislabeled into the right triangle's community
    val bad = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("node", "label")
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val healed = labelMap(Graph.modularityRefine(e, bad))
    // node 3 has 2 edges into {1,2}'s community vs 1 into its own (after
    // removing itself) -> the gain argmax moves it back
    assert(healed(3L) == 10L)
    // the perfect split does not move anyone
    assert(labelMap(Graph.modularityRefine(e, good)) == labelMap(good))
    // and Q(refined bad) > Q(bad) — the move was a real improvement
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      Graph.modularity(e, labels).agg(sum(col("q_micro")))
        .head().getLong(0)
    val refined = Graph.modularityRefine(e, bad)
    assert(q(refined) > q(bad), s"Q ${q(refined)} vs ${q(bad)}")
    // isolated labeled node keeps its community (left-join k=0 path)
    val isolated = labelMap(Graph.modularityRefine(e,
      good.unionByName(Seq((99L, 7L)).toDF("node", "label"))))
    assert(isolated(99L) == 7L)
  }

  test("betweennessSampled: path, star, and diamond hand values") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    def bc(e: org.apache.spark.sql.DataFrame, hops: Int = 4) =
      Graph.betweennessSampled(e, sampleEvery = 1L, maxHops = hops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4-5: ordered pairs through node 3 = 8, through 2/4 = 6
    val path = bc(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))))
    assert(path(3L) == 8000000L)
    assert(path(2L) == 6000000L && path(4L) == 6000000L)
    assert(path(1L) == 0L && path(5L) == 0L)
    // star: center 0 carries every ordered leaf pair = 6
    val star = bc(sym(Seq((0L, 1L), (0L, 2L), (0L, 3L))))
    assert(star(0L) == 6000000L)
    assert(Seq(1L, 2L, 3L).forall(star(_) == 0L))
    // diamond 1-2-4, 1-3-4: two equal shortest paths split sigma — each
    // middle node carries exactly half of each crossing pair (exact
    // 500000-micro floors), totalling 1.0 per middle node
    val diamond = bc(sym(Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L))))
    assert(diamond(2L) == 1000000L && diamond(3L) == 1000000L)
    assert(diamond(1L) == 1000000L && diamond(4L) == 1000000L)
    // hop bound: with maxHops=1 nothing is ever intermediate
    val bounded = bc(sym(Seq((1L, 2L), (2L, 3L))), hops = 1)
    assert(bounded.values.forall(_ == 0L))
    // source sampling: only even sources contribute — path 1..5 with
    // sampleEvery=2 keeps sources {2,4}: node 3 sits between (2,4) and
    // (2,5) and (4,1)... count: s=2 targets {4,5} via 3 -> 2; s=4
    // targets {1,2} via 3 -> 2; total 4
    val sampled = Graph.betweennessSampled(
      sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))),
      sampleEvery = 2L, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sampled(3L) == 4000000L)
  }

  test("harmonicSampled: path hand values, hop truncation, sampling, " +
      "disconnection safety") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    def hc(e: org.apache.spark.sql.DataFrame, every: Long = 1L,
        hops: Int = 4) =
      Graph.harmonicSampled(e, sampleEvery = every, maxHops = hops)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    // path 1-2-3-4: H(2) = 1/1 (from 1) + 1/1 (from 3) + 1/2 (from 4)
    // = 2.5; H(1) = 1 + 1/2 + 1/3 with exact micro floors
    val path = hc(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L))))
    assert(path(2L) == ((2500000L, 3L)))
    assert(path(1L) == ((1000000L + 500000L + 333333L, 3L)))
    assert(path(2L) == path(3L) && path(1L) == path(4L)) // symmetry
    // hop truncation drops ONLY the smallest terms: maxHops=1 keeps the
    // direct-neighbor contributions exactly
    val h1 = hc(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L))), hops = 1)
    assert(h1(2L) == ((2000000L, 2L)) && h1(1L) == ((1000000L, 1L)))
    // source sampling: only even sources contribute — node 1 is reached
    // by s=2 at d=1 and s=4 at d=3
    val sampled = hc(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L))), every = 2L)
    assert(sampled(1L) == ((1000000L + 333333L, 2L)))
    // disconnected pairs contribute 0 (they are simply absent) — the
    // whole reason harmonic beats classic closeness at scale
    val twoIslands = hc(sym(Seq((1L, 2L), (10L, 11L))))
    assert(twoIslands(1L) == ((1000000L, 1L)))
    assert(twoIslands(10L) == ((1000000L, 1L)))
    // partition-layout invariance (integer micro floors, keyed sums)
    val e5 = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(hc(e5) == hc(e5.repartition(7)))
  }

  test("neighborhoodFunction: monotone curve, saturation at the diameter, " +
      "layout invariance") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    // path 1-2-3-4 (diameter 3): balls grow until hop 3, then freeze
    val e = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val curve = Graph.neighborhoodFunction(e, maxHops = 5, p = 5)
      .orderBy(col("hop")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(curve.map(_._1).toSeq == (0L to 5L))
    assert(curve.forall(_._2 == 4L), "every hop row covers every node")
    // register max-merge only ever adds information → the estimate is
    // structurally non-decreasing in hop
    val ests = curve.map(_._3)
    assert(ests.sliding(2).forall(p => p(0) <= p(1)),
      s"curve must be monotone, got ${ests.toSeq}")
    assert(ests(0) < ests(1), "balls strictly grow on the first hop")
    // saturation: past the diameter every ball is the full component, the
    // registers stop changing, and the curve rows are IDENTICAL — this is
    // the effective-diameter read-off
    assert(ests(3) == ests(4) && ests(4) == ests(5),
      s"curve must freeze at the diameter, got ${ests.toSeq}")
    // deterministic and partition-layout invariant (md5 registers, keyed
    // max merges, integer estimator)
    val again = Graph.neighborhoodFunction(e.repartition(7), maxHops = 5,
        p = 5)
      .orderBy(col("hop")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq == curve.toSeq)
    // two islands saturate at their own component sizes: the hop-5 total
    // equals the sum of the per-island hop-5 totals
    val islands = sym(Seq((1L, 2L), (10L, 11L), (11L, 12L)))
    val tot = Graph.neighborhoodFunction(islands, maxHops = 5, p = 5)
      .where(col("hop") === 5L).collect().head.getLong(2)
    val a = Graph.neighborhoodFunction(sym(Seq((1L, 2L))), maxHops = 5,
      p = 5).where(col("hop") === 5L).collect().head.getLong(2)
    val b = Graph.neighborhoodFunction(sym(Seq((10L, 11L), (11L, 12L))),
        maxHops = 5, p = 5)
      .where(col("hop") === 5L).collect().head.getLong(2)
    assert(tot == a + b)
  }

  test("effectiveDiameter: path read-off, pct monotonicity, star at 1 hop") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    def eff(e: org.apache.spark.sql.DataFrame, pct: Int) =
      Graph.effectiveDiameter(e, maxHops = 5, p = 5, pct = pct)
        .collect().head
    // path 1-2-3-4 saturates by hop 3: pct=100 must land ON the curve's
    // maximum, at or before the true diameter (a register collision can
    // make a smaller ball's SKETCH already equal the saturated one —
    // that is the estimator's honest read-off, not an error; here it
    // lands at hop 2)
    val path = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val full = eff(path, 100)
    assert(full.getLong(0) >= 1L && full.getLong(0) <= 3L)
    assert(full.getLong(1) == full.getLong(2), "at 100% nf_at_hop == max")
    // the read-off is monotone in pct, and a star (leaf→leaf = 2, so
    // diameter 2) saturates by hop 2
    assert(eff(path, 50).getLong(0) <= full.getLong(0))
    val star = sym(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(eff(star, 100).getLong(0) <= 2L)
    assert(eff(star, 90).getLong(0) <= eff(star, 100).getLong(0))
  }

  test("effectiveDiameter: curve read-off ≡ edges form; empty input " +
      "returns an empty frame; ANF seeds sink-only nodes (directed)") {
    import spark.implicits._
    def sym(und: Seq[(Long, Long)]) =
      (und ++ und.map(_.swap)).toDF("src", "dst")
    // one ANF run serving both curve and diameter must read off exactly
    // what the edges form computes (VERDICT r12 item 5)
    val e = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val viaEdges = Graph.effectiveDiameter(e, maxHops = 5, p = 5, pct = 90)
      .collect().map(_.toSeq).toSeq
    val curve = Graph.neighborhoodFunction(e, maxHops = 5, p = 5)
    val viaCurve = Graph.effectiveDiameterFromCurve(curve, pct = 90)
      .collect().map(_.toSeq).toSeq
    assert(viaEdges == viaCurve)
    // edge-less input: empty result with the contract schema, not an NPE
    // on the eager max read (ADVICE r12) — the oracle returns zero rows
    val none = Graph.effectiveDiameter(
      Seq.empty[(Long, Long)].toDF("src", "dst"), maxHops = 2, p = 5,
      pct = 90)
    assert(none.columns.toSeq == Seq("eff_hop", "nf_at_hop", "nf_max"))
    assert(none.count() == 0L)
    // directed 1→2→3: node 3 is sink-only; src ∪ dst seeding counts it
    // in every curve row (a src-only seed reads n_nodes = 2 — the
    // ADVICE r12 undercount)
    val directed = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val c0 = Graph.neighborhoodFunction(directed, maxHops = 0, p = 5)
      .collect().head
    assert(c0.getLong(1) == 3L,
      s"sink-only node must be seeded, n_nodes = ${c0.getLong(1)}")
  }

  test("weighted modularity/refine: a heavy bridge drains Q and flips " +
      "the local move") {
    import spark.implicits._
    // triangle edges weight 1, bridge 3-4 weight 5
    val und = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (4L, 5L, 1L),
      (5L, 6L, 1L), (4L, 6L, 1L), (3L, 4L, 5L))
    val e = (und ++ und.map(t => (t._2, t._1, t._3)))
      .toDF("src", "dst", "n_co")
    val split = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("node", "label")
    // m_dir = 22, per side e_in = 6, tot = 11:
    // q = floor((6*22 - 121)*1e6 / 484) = 22727 (vs 178571 unweighted —
    // the heavy bridge devalues the split)
    val q = Graph.modularity(e, split, weightCol = Some("n_co"))
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(q == Map(10L -> 22727L, 20L -> 22727L))
    // under weights the bridge endpoints prefer each OTHER's community
    // (score 22*5-7*11=33 beats staying 22*2-7*4=16) — the synchronous
    // swap the docstring warns about; interior nodes do not move
    val moved = Graph.modularityRefine(e, split, weightCol = Some("n_co"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(moved(3L) == 20L && moved(4L) == 10L)
    assert(Seq(1L, 2L).forall(moved(_) == 10L) &&
      Seq(5L, 6L).forall(moved(_) == 20L))
    // weight 1 everywhere ≡ the unweighted operator
    val ones = e.withColumn("n_co", lit(1L))
    val a = Graph.modularity(ones, split, Some("n_co")).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val b = Graph.modularity(ones.select("src", "dst"), split).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(a.toSeq == b.toSeq)
  }

  test("modularity: two bridged triangles, perfect split scores 5/14 " +
      "per Newman") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} + bridge 3-4, symmetric directed table
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L),
      (5L, 20L), (6L, 20L)).toDF("node", "label")
    val got = Graph.modularity(e, labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // m = 14 directed edges; each community: e_in = 6, deg = 7 either way
    // q = 6/14 - 49/196 = 25/140 -> floor(35e6/196) = 178571 micro
    assert(got(10L) == ((3L, 6L, 7L, 7L, 178571L)))
    assert(got(20L) == ((3L, 6L, 7L, 7L, 178571L)))
    // everything in ONE community: Q = 1 - 1 = 0 exactly
    val one = Graph.modularity(e, labels.select(col("node"),
      lit(99L).as("label"))).collect()
    assert(one.length == 1 && one(0).getLong(5) == 0L)
    // anti-community (each edge crosses): negative q, truncation toward
    // zero matches the oracle engine ((0*2 - 1)*1e6 div 4 = -250000)
    val anti = Graph.modularity(
      Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
      Seq((1L, 7L), (2L, 8L)).toDF("node", "label"))
      .collect().map(_.getLong(5)).toSeq
    assert(anti == Seq(-250000L, -250000L))
    // unlabeled endpoints fall out of the evaluated graph (m excludes
    // the bridge when node 4 has no label) and m=0 is q=0, not a crash
    val part = Graph.modularity(e,
      labels.where(col("node") <= 3L))
    assert(part.collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
      == Seq((6L, 6L)))
    assert(Graph.modularity(e, labels.limit(0)).count() == 0L)
  }

  test("sccBounded: cycle collapses to its min; DAG stays singletons; " +
      "bridged SCCs settle across peels; bounded peels only refine") {
    import spark.implicits._
    def scc(edges: Seq[(Long, Long)], peels: Int, hops: Int) =
      Graph.sccBounded(edges.toDF("src", "dst"), peels, hops)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 5-cycle: one SCC labeled by its minimum (hops cover the cycle)
    val cyc = scc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)),
      peels = 1, hops = 5)
    assert(cyc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // DAG (diamond + tail): every node is its own SCC
    val dag = scc(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)),
      peels = 2, hops = 4)
    assert(dag == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    // two 3-cycles bridged one-way (3→10): the downstream SCC cannot
    // settle in peel 1 (its b-labels see the upstream minimum), so the
    // SECOND peel — after the settled upstream is removed — is what
    // resolves it. This pins the peel mechanism itself.
    val bridged = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    val two = scc(bridged, peels = 2, hops = 3)
    assert(two == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // with only ONE peel the downstream trio falls back to singletons —
    // a REFINEMENT of the true SCCs (never a merge), the documented
    // bounded-round contract
    val one = scc(bridged, peels = 1, hops = 3)
    assert(one == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 11L, 12L -> 12L))
    // under-sized hops on the 5-cycle still never cross SCC boundaries:
    // every label must name a node of the same (sole) component
    val short = scc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L)),
      peels = 2, hops = 2)
    assert(short.keySet == Set(1L, 2L, 3L, 4L, 5L) &&
      short.values.forall(Set(1L, 2L, 3L, 4L, 5L).contains))
  }

}
