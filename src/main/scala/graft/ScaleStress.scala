package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling experiment (dev tool): replicate documents/embeddings 10x with
  * shifted ids and compare operator runtimes vs the 1x corpus — a local
  * stand-in for the 100x question ("does the work grow linearly, or does a
  * hidden quadratic term bite?"). `runMain graft.ScaleStress`
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
    // dev A/B hook for the CC-engine dispatch (Dedup.connectedComponents).
    // Only set when the env var is present (ADVICE r13): the conf beats
    // call-site engineDefault, so an unconditional default here would make
    // default stress runs measure dbscanGrid under minlabel instead of its
    // shipped tworule default.
    sys.env.get("SPARK_GRAFT_CC").foreach(builder.config("spark.graft.cc", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs1 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val docs10 = (0 until 10).map(i => docs1
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L)))
      .reduce(_ union _)
    docs10.write.mode("overwrite").parquet("/tmp/stress/documents10.parquet")
    val emb1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val emb10 = (0 until 10).map(i => emb1
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L)))
      .reduce(_ union _)
    emb10.write.mode("overwrite").parquet("/tmp/stress/embeddings10.parquet")

    // dev-only subset hook (mirrors Bench's SPARK_GRAFT_ONLY): regex over
    // entry tags, so one family's 1x/10x pair can run without the ~30 min
    // full sweep
    val only = sys.env.get("SCALE_STRESS_ONLY").map(_.r)
    def time(tag: String)(f: => Long): Unit = {
      if (only.forall(_.findFirstIn(tag).isDefined)) {
        val t0 = System.nanoTime()
        val n = f
        println(f"[stress] $tag rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }

    val d1 = docs1
    val d10 = spark.read.parquet("/tmp/stress/documents10.parquet")
    val e1 = emb1
    val e10 = spark.read.parquet("/tmp/stress/embeddings10.parquet")

    import graft.operators.{Dedup, Similarity}
    time("minhash 1x (5k docs)")(
      Dedup.minhashPairs(d1, "doc_id", "text", threshold = 0.9).count())
    time("minhash 10x (50k docs)")(
      Dedup.minhashPairs(d10, "doc_id", "text", threshold = 0.9, maxBucket = 1000).count())
    time("jaccard-blocked 1x")(
      Dedup.jaccardPairs(d1, "doc_id", "text", 2, 25L, 0.5).count())
    time("jaccard-blocked 10x")(
      Dedup.jaccardPairs(d10, "doc_id", "text", 2, 25L, 0.5).count())
    time("knn brute 1x (2k vecs)")(
      Similarity.knnBrute(e1, "vec_id", "embedding", 0L, 10).count())
    time("knn brute 10x (20k vecs)")(
      Similarity.knnBrute(e10, "vec_id", "embedding", 0L, 10).count())
    time("simhash 1x")(
      Dedup.simhashPairs(d1, "doc_id", "text").count())
    time("simhash 10x")(
      Dedup.simhashPairs(d10, "doc_id", "text").count())
    time("minhash-md5 1x")(
      Dedup.minhashPairsPortable(d1, "doc_id", "text").count())
    time("minhash-md5 10x")(
      Dedup.minhashPairsPortable(d10, "doc_id", "text").count())
    time("simhash-md5 1x")(
      Dedup.simhashPairsPortable(d1, "doc_id", "text").count())
    time("simhash-md5 10x")(
      Dedup.simhashPairsPortable(d10, "doc_id", "text").count())
    time("char-jaccard 1x")(
      Dedup.jaccardPairsChar(d1, "doc_id", "text").count())
    time("char-jaccard 10x")(
      Dedup.jaccardPairsChar(d10, "doc_id", "text").count())
    time("neardup-md5 1x")(
      Similarity.nearDupPairsPortable(e1, "vec_id", "embedding", 0.4).count())
    time("neardup-md5 10x")(
      Similarity.nearDupPairsPortable(e10, "vec_id", "embedding", 0.4).count())
    time("knn pq 1x (2k vecs)")(
      Similarity.knnPq(e1, "vec_id", "embedding", 0L, 10).count())
    time("knn pq 10x (20k vecs)")(
      Similarity.knnPq(e10, "vec_id", "embedding", 0L, 10).count())
    // BQ: one threshold aggregate + one Hamming scan over 32x-compressed
    // words + a bounded exact re-rank — strictly linear in corpus size
    time("knn bq 1x (2k vecs)")(
      Similarity.knnBq(e1, "vec_id", "embedding", 0L, 10).count())
    time("knn bq 10x (20k vecs)")(
      Similarity.knnBq(e10, "vec_id", "embedding", 0L, 10).count())
    // Matryoshka: coarse scan on mDim/dim of the data + bounded re-rank —
    // strictly linear
    time("knn mrl 1x (2k vecs)")(
      Similarity.knnMatryoshka(e1, "vec_id", "embedding", 0L, 10).count())
    time("knn mrl 10x (20k vecs)")(
      Similarity.knnMatryoshka(e10, "vec_id", "embedding", 0L, 10).count())
    // balanced IVF: one n·k scoring join + two windows — linear in n·k;
    // sqrt sizing keeps both corpora at the deployment centroid count
    time("knn balanced 1x (2k vecs)")(
      Similarity.balancedIvfAssign(e1, "vec_id", "embedding",
        Similarity.sizeCentroidEvery(e1.count()), 110).count())
    time("knn balanced 10x (20k vecs)")(
      Similarity.balancedIvfAssign(e10, "vec_id", "embedding",
        Similarity.sizeCentroidEvery(e10.count()), 110).count())
    // ANN recall measurement: fixed |Q|=20 query sample ⇒ truth side is
    // |Q| broadcast passes over the corpus — linear in n at fixed |Q|
    time("knn recall 1x (2k vecs)")(
      Similarity.annRecallIvf(e1, "vec_id", "embedding",
        queryEvery = 100L, k = 10,
        centroidEvery = Similarity.sizeCentroidEvery(e1.count())).count())
    time("knn recall 10x (20k vecs)")(
      Similarity.annRecallIvf(e10, "vec_id", "embedding",
        queryEvery = 1000L, k = 10,
        centroidEvery = Similarity.sizeCentroidEvery(e10.count())).count())
    time("neardup-auto 1x")(
      Similarity.nearDupPairsAuto(e1, "vec_id", "embedding", 0.4).count())
    time("neardup-auto 10x")(
      Similarity.nearDupPairsAuto(e10, "vec_id", "embedding", 0.4).count())
    time("fuzzy-levenshtein 1x")(
      Dedup.fuzzyPairs(d1, "doc_id", "text").count())
    time("fuzzy-levenshtein 10x")(
      Dedup.fuzzyPairs(d10, "doc_id", "text").count())
    import graft.operators.TextAnalysis
    time("token-entropy 1x")(
      TextAnalysis.tokenEntropy(d1, "doc_id", "text").count())
    time("token-entropy 10x")(
      TextAnalysis.tokenEntropy(d10, "doc_id", "text").count())
    def contam(d: org.apache.spark.sql.DataFrame): Long =
      TextAnalysis.contamination(
        d.where(col("doc_id") % 20 =!= 0), "doc_id", "text",
        d.where(col("doc_id") % 20 === 0), "doc_id", "text", n = 4).count()
    time("contamination 1x")(contam(d1))
    time("contamination 10x")(contam(d10))
    time("repetition 1x")(
      TextAnalysis.repetitionStats(d1, "doc_id", "text").count())
    time("repetition 10x")(
      TextAnalysis.repetitionStats(d10, "doc_id", "text").count())
    time("knn ivfpq 1x (5k vecs)")(
      Similarity.knnIvfPq(e1, "vec_id", "embedding", 0L, 10).count())
    time("knn ivfpq 10x (50k vecs, fixed centroidEvery=50)")(
      Similarity.knnIvfPq(e10, "vec_id", "embedding", 0L, 10).count())
    // the k ~ sqrt(n) sizing rule (centroidEvery = sqrt(n)): assignment work
    // n*k grows n^1.5, not n² — the IVF analogue of LSH's sizeBits rule
    time("knn ivfpq 10x (sized centroidEvery=sqrt(n))")(
      Similarity.knnIvfPq(e10, "vec_id", "embedding", 0L, 10,
        centroidEvery = Similarity.sizeCentroidEvery(50000L), nprobe = 9).count())
    def bloomIngest(d: org.apache.spark.sql.DataFrame): Long =
      Dedup.incrementalBloom(
        d.where(col("doc_id") % 2 === 1), col("doc_id"),
        TextAnalysis.fingerprint(col("text")),
        d.where(col("doc_id") % 2 === 0)
          .select(TextAnalysis.fingerprint(col("text")))).count()
    time("bloom-ingest 1x")(bloomIngest(d1))
    time("bloom-ingest 10x")(bloomIngest(d10))
    import graft.operators.Scale
    def pack(d: org.apache.spark.sql.DataFrame): Long =
      Scale.packSequences(
        d.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok")),
        "doc_id", "ntok", budget = 512L, shards = 8).count()
    time("seq-packing 1x")(pack(d1))
    time("seq-packing 10x")(pack(d10))
    def rebalance(d: org.apache.spark.sql.DataFrame): Long =
      Scale.downsampleBalanced(
        d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok")),
        "doc_id", "lang", col("ntok")).count()
    time("rebalance 1x")(rebalance(d1))
    time("rebalance 10x")(rebalance(d10))
    def encode(d: org.apache.spark.sql.DataFrame): Long =
      TextAnalysis.bpeEncodeCorpus(d, "doc_id", "text", numMerges = 10).count()
    time("bpe-encode 1x")(encode(d1))
    time("bpe-encode 10x")(encode(d10))
    time("e2e pipeline 1x")(
      graft.SparkEntry.queries("q_pipeline_e2e")(spark, "/root/testdata/sf0.1").count())
    // duplicated spans: work is O(total token positions) — 10x corpus must
    // cost ~10x, never the quadratic a pair-join formulation would show
    time("dup-spans 1x")(
      Dedup.dupSpans(d1, "doc_id", "text", spanLen = 8).count())
    time("dup-spans 10x")(
      Dedup.dupSpans(d10, "doc_id", "text", spanLen = 8).count())
    // semdedup: pair work is bounded by cluster sizes; with centroidEvery
    // re-sized sqrt-style the 10x corpus stays near-linear
    time("semdedup 1x")(
      Similarity.semDedupFixed(e1, "vec_id", "embedding", 50L, 0.4).count())
    // fixed centroidEvery at 10x means 10x centroids × 10x vectors = 100x
    // assignment work (measured 55 s) — the sqrt sizing rule keeps the
    // centroid count ~sqrt(n) and the assignment n^1.5, same as IVF
    time("semdedup 10x (sized centroidEvery=sqrt(n))")(
      Similarity.semDedupFixed(e10, "vec_id", "embedding",
        Similarity.sizeCentroidEvery(50000L), 0.4).count())
    // sparse retrieval: probe set FIXED (base replica only), corpus 10x →
    // one 10x corpus pass + the same tiny broadcast probe table
    def rag(d: org.apache.spark.sql.DataFrame): Long =
      Similarity.retrieveChunks(
        TextAnalysis.chunk(d, "doc_id", "text", window = 32, stride = 24),
        "doc", "chunk_id", "chunk_text",
        d.where(col("doc_id") % 1000 === 7 && col("doc_id") < 1000000L)
          .select(col("doc_id").as("probe_id"), col("text")),
        "probe_id", "text", dim = 64, k = 5).count()
    time("sparse-retrieval 1x")(rag(d1))
    time("sparse-retrieval 10x")(rag(d10))

    // DSIR: the model is bucket-bounded, so 10x should be ~one extra
    // corpus-scan's worth — any superlinear growth means the per-doc fold
    // or the llr join degenerated
    def dsir(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Scale.dsirSelect(
        d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
        "doc_id", "text", buckets = 512, n = 100).count()
    time("dsir 1x")(dsir(d1))
    time("dsir 10x")(dsir(d10))

    // prefix-filtered exact Jaccard: candidates are window-bounded AND
    // prefix-gated — 10x corpus = 10x blocks, work per block unchanged
    time("jaccard-prefix 1x")(
      Dedup.jaccardPairs(d1, "doc_id", "text", 2, 25L, 0.8).count())
    time("jaccard-prefix 10x")(
      Dedup.jaccardPairs(d10, "doc_id", "text", 2, 25L, 0.8).count())

    // IVF layout: write cost scales with corpus, probe cost with the
    // probed lists only (the scan is partition-pruned). centroidEvery is
    // SIZED to sqrt(n) like every IVF tier: a fixed stride makes both the
    // assignment argmax (n·centroids = n²/stride) and the partition-dir
    // count grow superlinearly — measured 2.7 → 26.6 s at 10x before
    // sizing, 2.7 → ~8 s after
    def ivfServe(e: org.apache.spark.sql.DataFrame, tag: String): Long = {
      val every = Similarity.sizeCentroidEvery(e.count())
      val idx = Similarity.writeIvfIndex(e, "vec_id", "embedding",
        s"/tmp/stress/ivf_$tag", centroidEvery = every)
      Similarity.knnIvfIndexed(idx, "vec_id", "embedding",
        queryId = 0L, k = 10, centroidEvery = every).count()
    }
    time("ivf-layout 1x (write+probe, sized)")(ivfServe(e1, "1x"))
    time("ivf-layout 10x (write+probe, sized)")(ivfServe(e10, "10x"))

    // co-occurrence PageRank: 10x orders = 10x groups of the SAME bounded
    // size → edges grow linearly (Σ group² with the per-group cap), and
    // each power round is one node-sized shuffle against the in-place
    // src-partitioned edge table — total work must scale ~linearly
    val li1 = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    val li10 = (0 until 10).map(i => li1
        .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit((i % 3).toLong * 10000000L)))
      .reduce(_ union _)
    import graft.operators.Graph
    def pr(li: org.apache.spark.sql.DataFrame): Long =
      Graph.pageRank(Graph.coEdges(li, "l_orderkey", "l_partkey"), iters = 5)
        .count()
    time("pagerank 1x (150k orders)")(pr(li1))
    time("pagerank 10x (1.5M orders)")(pr(li10))

    // domain token cap: the two-level bucket-prefix cumulative sum keeps
    // every window partition ≤ domain/256 — 10x docs in the SAME 20
    // domains (the worst case: domains grow 10x) must stay ~linear
    def cap(d: org.apache.spark.sql.DataFrame): Long =
      Scale.domainTokenCap(
        d.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok")),
        "doc_id", "source", col("ntok"), budget = 60000L).count()
    time("domain-cap 1x")(cap(d1))
    time("domain-cap 10x (10x-deeper domains)")(cap(d10))

    // source overlap: fingerprint self-join fan-in bounded by maxStrata² —
    // 10x docs = 10x fingerprints, per-fp work unchanged
    def overlap(d: org.apache.spark.sql.DataFrame): Long =
      Dedup.sourceOverlap(d, "doc_id", "text", "source", maxStrata = 10).count()
    time("source-overlap 1x")(overlap(d1))
    time("source-overlap 10x")(overlap(d10))

    // diversity sample: assignment n·centroids (sized sqrt → n^1.5), quota
    // via WindowGroupLimit partial top-k — never a full-cluster sort
    time("diversity 1x")(
      Similarity.diversitySample(e1, "vec_id", "embedding", 50L, 5).count())
    time("diversity 10x (sized centroidEvery=sqrt(n))")(
      Similarity.diversitySample(e10, "vec_id", "embedding",
        Similarity.sizeCentroidEvery(50000L), 5).count())

    // standardization: one explode + dims-sized broadcast aggregate —
    // pure linear scan shape
    time("standardize 1x")(
      Similarity.standardizeEmbeddings(e1, "vec_id", "embedding").count())
    time("standardize 10x")(
      Similarity.standardizeEmbeddings(e10, "vec_id", "embedding").count())

    // segment dedup: generator + fp-keyed winner aggregate + doc-keyed
    // rebuild — O(total tokens), no pair step; must scale linearly
    def segs(d: org.apache.spark.sql.DataFrame): Long =
      Dedup.dedupSegments(d, "doc_id", "text", segLen = 10).count()
    time("segment-dedup 1x")(segs(d1))
    time("segment-dedup 10x")(segs(d10))

    // n-gram novelty: distinct-gram tables + one gram-keyed left join;
    // 10x docs = 10x gram rows, per-gram work unchanged
    def novelty(d: org.apache.spark.sql.DataFrame): Long =
      TextAnalysis.ngramNovelty(
        d.where(col("doc_id") % 20 =!= 0), "doc_id", "text",
        d.where(col("doc_id") % 20 === 0), "doc_id", "text", n = 3).count()
    time("novelty 1x")(novelty(d1))
    time("novelty 10x")(novelty(d10))

    // JL projection: corpus x outDim matmul against a broadcast constant
    // sign matrix — strictly linear in corpus size
    time("jl-project 1x")(
      Similarity.jlProject(e1, "vec_id", "embedding", dim = 64, outDim = 16).count())
    time("jl-project 10x")(
      Similarity.jlProject(e10, "vec_id", "embedding", dim = 64, outDim = 16).count())

    // HITS: each half-step reads the previous scores once, so the rounds
    // compose one linear lazy plan — 10x edges must scale the per-round
    // joins linearly; the window totals stay node-sized
    def hitsRun(li: org.apache.spark.sql.DataFrame): Long =
      Graph.hits(li.select(col("l_orderkey").as("src"),
        col("l_partkey").as("dst")), iters = 3).count()
    time("hits 1x")(hitsRun(li1))
    time("hits 10x")(hitsRun(li10))

    // grid DBSCAN: the neighbor join is bounded by cell occupancy; 10x
    // points at the same eps densifies cells, so expect super-linear but
    // far from quadratic growth (cells x occupancy^2)
    def dbscan(e: org.apache.spark.sql.DataFrame): Long =
      Similarity.dbscanGrid(e, "vec_id", "embedding", dim = 64,
        epsFx = 200000L, minPts = 6).count()
    time("dbscan 1x")(dbscan(e1))
    time("dbscan 10x")(dbscan(e10))

    // link prediction: hub-capped 2-hop join — sum deg^2 under the cap;
    // 10x orders with the same parts multiplies co-purchase degree, so
    // the CAP (not corpus size) must bound the growth
    def linkpred(li: org.apache.spark.sql.DataFrame): Long =
      Graph.linkPrediction(Graph.coEdges(
        li.where(col("l_partkey") % 3 === 0), "l_orderkey", "l_partkey"),
        hubCap = 40, topN = 200).count()
    time("linkpred 1x")(linkpred(li1))
    time("linkpred 10x")(linkpred(li10))

    // TextRank: edge table bounded by VOCABULARY adjacency — 10x copies
    // of the same docs add no new edges, so the rank iteration cost must
    // stay flat while only the pair-extraction scan grows
    time("textrank 1x")(
      TextAnalysis.textRank(d1, "doc_id", "text", iters = 5, topK = 50).count())
    time("textrank 10x")(
      TextAnalysis.textRank(d10, "doc_id", "text", iters = 5, topK = 50).count())

    // Kneser-Ney: corpus-sized bigram count + vocab-sized re-aggregates;
    // 10x identical docs grow counts, not the vocab tables — linear scan
    time("kneser 1x")(
      TextAnalysis.kneserNey(d1, "text", topN = 100).count())
    time("kneser 10x")(
      TextAnalysis.kneserNey(d10, "text", topN = 100).count())

    // round-8 operators: silhouette is one point×centroid pass (k grows
    // with the fixed-codebook corpus at centroidEvery=50, so work is
    // n·k = n²/50 — use the sqrt sizing for the 10x run to hold n^1.5);
    // margin mining and dbscan are bucket-blocked (Σ cluster²/cell²);
    // image near-dup is band-bucketed (Σ bucket²)
    time("silhouette 1x (2k vecs)")(
      Similarity.simplifiedSilhouette(e1, "vec_id", "embedding", 50L).count())
    time("silhouette 10x (sized centroidEvery=sqrt(n))")(
      Similarity.simplifiedSilhouette(e10, "vec_id", "embedding",
        Similarity.sizeCentroidEvery(20000L)).count())
    time("margin-mining 1x")(
      Similarity.marginMining(e1, "vec_id", "embedding", 50L).count())
    time("margin-mining 10x (sized)")(
      Similarity.marginMining(e10, "vec_id", "embedding",
        Similarity.sizeCentroidEvery(20000L)).count())
    time("dbscan 1x")(
      Similarity.dbscanGrid(e1, "vec_id", "embedding", 64, 200000L, 6).count())
    time("dbscan 10x")(
      Similarity.dbscanGrid(e10, "vec_id", "embedding", 64, 200000L, 6).count())
    def imgNearDup(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Multimodal.nearDupImages(
        d.select(col("doc_id"), org.apache.spark.sql.functions
          .encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload").count()
    time("image-neardup 1x")(imgNearDup(d1))
    time("image-neardup 10x")(imgNearDup(d10))
    // MMD is one corpus pass + pair math on the (group x dim) aggregate:
    // 10x rows must scale ~linearly (the pair join input is unchanged)
    time("mmd 1x (2k vecs)")(
      Similarity.mmdByGroup(e1, "label", "embedding").count())
    time("mmd 10x (20k vecs)")(
      Similarity.mmdByGroup(e10, "label", "embedding").count())
    // JSD: token aggregate + vocab x pair grid — 10x docs grow the token
    // aggregate linearly; the grid only grows with vocabulary
    time("jsd 1x (5k docs)")(
      graft.operators.TextAnalysis.corpusJsd(d1, "text", "lang",
        minCount = 10).count())
    time("jsd 10x (50k docs)")(
      graft.operators.TextAnalysis.corpusJsd(d10, "text", "lang",
        minCount = 10).count())
    // round-9 bucketed-prefix-sum eval family (VERDICT r9 item 7): AP and
    // the PR/ROC curve ride cumBelow (per-score aggregate + bucketed
    // prefix sums — never a global unpartitioned window), NDCG@k rides
    // per-GROUP windows. 10x rows must scale ~linearly: superlinear
    // growth here would mean a single-partition window snuck back in.
    import graft.operators.Eval
    def ap(d: org.apache.spark.sql.DataFrame): Long =
      Eval.averagePrecision(d, "doc_id", col("doc_id") % 100000L,
        col("doc_id") % 7 === 0).count()
    time("eval-ap 1x (5k rows)")(ap(d1))
    time("eval-ap 10x (50k rows)")(ap(d10))
    def ndcg(d: org.apache.spark.sql.DataFrame): Long =
      Eval.ndcgAtK(d, "lang", "doc_id", col("n_chars") % 5,
        col("doc_id") % 1000L, k = 10).count()
    time("eval-ndcg 1x")(ndcg(d1))
    time("eval-ndcg 10x")(ndcg(d10))
    def prc(d: org.apache.spark.sql.DataFrame): Long =
      Eval.prCurve(d, col("doc_id") % 1000L, col("doc_id") % 7 === 0).count()
    time("eval-prcurve 1x")(prc(d1))
    time("eval-prcurve 10x")(prc(d10))
    // IVF maintenance: appending a FIXED batch against a 1x vs a 10x
    // index — the round-10 codebook sidecar bounds per-batch input by
    // O(batch + centroids), never O(index); the pre-sidecar shape read
    // the whole index per batch, which this entry would expose as ~10x
    // growth. Both indexes use the deployment sqrt sizing, so the 10x
    // codebook is ~sqrt(10)x larger and the bound under test is
    // O(batch + centroids) — expect near-flat with a mild sqrt(10)
    // centroid term, NOT strictly flat (ADVICE r10 wording fix).
    def ivfMaintain(e: org.apache.spark.sql.DataFrame, tag: String): Long = {
      val path = s"/tmp/stress/ivf_maint_$tag"
      // build is untimed — it legitimately grows with the corpus; the
      // claim under test is the APPEND's per-batch cost
      Similarity.writeIvfIndex(e, "vec_id", "embedding", path,
        centroidEvery = Similarity.sizeCentroidEvery(e.count()))
      val batch = e.limit(100)
        .withColumn("vec_id", col("vec_id") + 90000000L)
      time(s"ivf-maintain $tag (one fixed 100-row batch)") {
        Similarity.appendIvfBatch(batch, "vec_id", "embedding", path,
          centroidEvery = Similarity.sizeCentroidEvery(e.count()))
        batch.count()
      }
      spark.read.parquet(path).count()
    }
    // the build runs OUTSIDE time(), so gate it on the subset filter too
    if (only.forall(_.findFirstIn("ivf-maintain").isDefined)) {
      ivfMaintain(e1, "1x")
      ivfMaintain(e10, "10x")
    }
    // boilerplate strip (VERDICT r10 item 6): one tokenizing scan, a
    // (domain, fp)-keyed distinct-doc count, one anti-join, one doc-keyed
    // rebuild — O(total tokens). 10x docs in the SAME 20 domains is the
    // worst case (every domain's fp groups grow 10x deep); the aggregate
    // is keyed, so work must stay ~linear — superlinear growth here would
    // mean the fp count or the rebuild degenerated into a per-domain sort
    def boiler(d: org.apache.spark.sql.DataFrame): Long =
      Dedup.stripBoilerplate(d, "doc_id", "text", "source",
        segLen = 10, minDocs = 3).count()
    time("boilerplate 1x (5k docs)")(boiler(d1))
    time("boilerplate 10x (50k docs, 10x-deeper domains)")(boiler(d10))
    // Bradley–Terry: games aggregate once to a pair-count-sized edge
    // table (item count is FIXED at 20 sources here), so 10x more games
    // only deepens the first aggregate — the 8 MM rounds run on the same
    // model-sized frames and per-round cost must not grow with the corpus
    def bt(d: org.apache.spark.sql.DataFrame): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val games = d.select(col("source"), col("doc_id"), col("lang"),
          col("n_chars"))
        .withColumn("prev_lang", lag("lang", 1).over(w))
        .withColumn("prev_chars", lag("n_chars", 1).over(w))
        .where(col("prev_lang").isNotNull &&
          col("prev_lang") =!= col("lang") &&
          col("n_chars") =!= col("prev_chars"))
        .select(
          when(col("n_chars") > col("prev_chars"), col("lang"))
            .otherwise(col("prev_lang")).as("winner"),
          when(col("n_chars") > col("prev_chars"), col("prev_lang"))
            .otherwise(col("lang")).as("loser"))
      graft.operators.Eval.bradleyTerry(games, "winner", "loser").count()
    }
    time("bradley-terry 1x (5k docs)")(bt(d1))
    time("bradley-terry 10x (50k docs)")(bt(d10))
    // unigram tokenizer: seed + DP run on the DISTINCT-WORD table (fixed
    // 31-word synthetic vocab), so 10x docs only deepens the word count
    // and the per-doc join — must stay ~linear in corpus tokens
    def uni(d: org.apache.spark.sql.DataFrame): Long =
      TextAnalysis.unigramEncode(d, "doc_id", "text",
        TextAnalysis.unigramSeedVocab(d, "doc_id", "text",
          maxPieceLen = 5, topK = 120), maxPieceLen = 5).count()
    time("unigram-encode 1x (5k docs)")(uni(d1))
    time("unigram-encode 10x (50k docs)")(uni(d10))
    // isotonic: one corpus aggregate to ~fixed buckets, then the B³ cube
    // on the bucket table — 10x docs must only deepen the first aggregate
    def iso(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Eval.isotonicCalibrate(d,
        col("n_chars"), col("lang") === "en", bucketWidth = 8L).count()
    time("isotonic 1x (5k docs)")(iso(d1))
    time("isotonic 10x (50k docs)")(iso(d10))
    // t-closeness: cell aggregate + groups × value-domain expansion —
    // linear in docs at a fixed domain
    def tclose(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.tCloseness(
        d.select(col("source"), col("lang"),
          (col("n_chars") % 7).as("band")),
        Seq("source", "lang"), "band", tMicro = 300000L).count()
    time("tclose 1x (5k docs)")(tclose(d1))
    time("tclose 10x (50k docs)")(tclose(d10))

    // round-11 graph trio (VERDICT r11 item 4). modularity/refine: two
    // node-keyed label joins + keyed aggregates — linear in |E| by shape,
    // so the 10x graph must read ~10x (LPA×4 included, itself |E|-linear)
    def modu(li: org.apache.spark.sql.DataFrame): Long = {
      val e = Graph.coEdges(li, "l_orderkey", "l_partkey")
      Graph.modularity(e, Graph.labelPropagation(e, iters = 4)).count()
    }
    time("modularity 1x (150k orders)")(modu(li1))
    time("modularity 10x (1.5M orders)")(modu(li10))
    def refine(li: org.apache.spark.sql.DataFrame): Long = {
      val e = Graph.coEdges(li, "l_orderkey", "l_partkey")
      Graph.modularityRefine(e, Graph.labelPropagation(e, iters = 4))
        .count()
    }
    time("refine 1x (150k orders)")(refine(li1))
    time("refine 10x (1.5M orders)")(refine(li10))
    // betweenness: each of the 2·maxHops rounds is |sample|·|reached|
    // keyed work — the scale levers are the SAMPLE SIZE and hop bound,
    // so the deployment posture holds |sample| fixed as the graph grows
    // (sampleEvery scales with |V|); expect ~linear in |E| at fixed
    // sample. A fixed sampleEvery at 10x would grow sources 10x AND
    // edges 10x ≈ 100x work — that is the documented lever, not a
    // defect, and exactly why the parameter exists.
    def betw(li: org.apache.spark.sql.DataFrame, every: Long): Long =
      Graph.betweennessSampled(
        Graph.coEdges(li, "l_orderkey", "l_partkey"),
        sampleEvery = every, maxHops = 2).count()
    time("betweenness 1x (every-400th source)")(betw(li1, 400L))
    time("betweenness 10x (sized every-4000th: fixed |sample|)")(
      betw(li10, 4000L))

    // portable HLL: one distinct aggregate + a 256-row register fold —
    // pure linear scan shape, the sketch side moves m rows regardless
    def hll(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.hllDistinct(d, "doc_id", p = 8).count()
    time("hll 1x (5k docs)")(hll(d1))
    time("hll 10x (50k docs)")(hll(d10))

    // harmonic centrality: forward-only Brandes machinery — same
    // fixed-sample lever as betweenness, ~half the work per source
    def harm(li: org.apache.spark.sql.DataFrame, every: Long): Long =
      Graph.harmonicSampled(
        Graph.coEdges(li, "l_orderkey", "l_partkey"),
        sampleEvery = every, maxHops = 2).count()
    time("harmonic 1x (every-100th source)")(harm(li1, 100L))
    time("harmonic 10x (sized every-1000th: fixed |sample|)")(
      harm(li10, 1000L))

    // windowed HLL: one (window, register) aggregate then an m-register
    // window fold — linear scan shape, state m bytes per window
    def whll(d: org.apache.spark.sql.DataFrame): Long =
      graft.streaming.EventStreams.windowedHll(
        d.select(col("doc_id"),
          org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.from_unixtime(
              col("doc_id") % 86400L)).as("ts")),
        "1 hour", col("doc_id"), p = 8).count()
    time("windowed-hll 1x (5k docs)")(whll(d1))
    time("windowed-hll 10x (50k docs)")(whll(d10))

    // grouped HLL: one corpus pass to G·m register rows, one G-row fold —
    // 10x docs over the SAME 20 sources must cost ~one extra scan
    def hby(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.hllDistinctBy(d, "source", "text", p = 8)
        .count()
    time("hll-by 1x (5k docs)")(hby(d1))
    time("hll-by 10x (50k docs, same 20 sources)")(hby(d10))

    // portable KLL quantiles: a 62-row level histogram pass + a ≤k-row
    // sample filter pass + a k-row sort — two linear scans, no global
    // sort, sample size pinned at k regardless of corpus
    def kll(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.kllQuantile(d, "n_chars", "doc_id",
        k = 1024, qPermille = Seq(500, 900, 990)).count()
    time("kll 1x (5k docs)")(kll(d1))
    time("kll 10x (50k docs)")(kll(d10))

    // grouped KLL: per-source ≤k samples — G·k bounded state
    def kby(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.kllQuantileBy(d, "source", "n_chars",
        "doc_id", k = 256, qPermille = Seq(500, 900)).count()
    time("kll-by 1x (5k docs)")(kby(d1))
    time("kll-by 10x (50k docs, same 20 sources)")(kby(d10))

    // windowed KLL: the mergeable ≤(k+1)-item sample as window state —
    // per-window state bounded by k, input linear
    def wkll(d: org.apache.spark.sql.DataFrame): Long =
      graft.streaming.EventStreams.windowedKll(
        d.select(col("doc_id"), col("n_chars"),
          org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.from_unixtime(
              col("doc_id") % 86400L)).as("ts")),
        "1 hour", col("n_chars"), col("doc_id"), k = 256,
        qPermille = Seq(500, 900)).count()
    time("windowed-kll 1x (5k docs)")(wkll(d1))
    time("windowed-kll 10x (50k docs)")(wkll(d10))

    // WEIGHTED KLL (global / grouped / windowed): same two-linear-scan /
    // bounded-sample shapes as the unweighted tiers with the systematic
    // weight-expansion sampler — the level histogram is still ≤62 rows
    // (global), ≤G·62 (grouped), and the window state ≤(k+1) survivors
    def kllw(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.kllQuantileWeighted(d, "n_chars",
        "w", "doc_id", k = 1024, qPermille = Seq(500, 900, 990))
        .count()
    def wweight(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("w", lit(1L) + pmod(col("doc_id"), lit(7L)))
    time("kll-w 1x (5k docs)")(kllw(wweight(d1)))
    time("kll-w 10x (50k docs)")(kllw(wweight(d10)))

    def kwby(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.kllQuantileWeightedBy(d, "source",
        "n_chars", "w", "doc_id", k = 256, qPermille = Seq(500, 900))
        .count()
    time("kll-w-by 1x (5k docs)")(kwby(wweight(d1)))
    time("kll-w-by 10x (50k docs, same 20 sources)")(kwby(wweight(d10)))

    def wkllw(d: org.apache.spark.sql.DataFrame): Long =
      graft.streaming.EventStreams.windowedKllWeighted(
        d.select(col("doc_id"), col("n_chars"),
          org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.from_unixtime(
              col("doc_id") % 86400L)).as("ts")),
        "1 hour", col("n_chars"),
        lit(1L) + pmod(col("doc_id"), lit(7L)), col("doc_id"), k = 256,
        qPermille = Seq(500, 900)).count()
    time("windowed-kll-w 1x (5k docs)")(wkllw(d1))
    time("windowed-kll-w 10x (50k docs)")(wkllw(d10))

    // HLL overlap matrix: one corpus pass to G·m register rows, then
    // G²·m pair-union work — 10x docs in the SAME 20 sources must cost
    // ~one extra scan (the pair stage is group-domain-sized)
    def hov(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.Profile.hllOverlap(d, "source", "text", p = 8)
        .count()
    time("hll-overlap 1x (5k docs)")(hov(d1))
    time("hll-overlap 10x (50k docs, same 20 sources)")(hov(d10))

    // ANF/HyperBall: each hop is one edge⋈state join + keyed max over
    // |E|·m̄ register rows — must scale ~linearly in |E| at fixed p
    def anf(li: org.apache.spark.sql.DataFrame): Long =
      Graph.neighborhoodFunction(
        Graph.coEdges(li.where(col("l_partkey") % 3 === 0),
          "l_orderkey", "l_partkey"), maxHops = 3, p = 5).count()
    time("anf 1x (150k orders)")(anf(li1))
    time("anf 10x (1.5M orders)")(anf(li10))

    // mmrSelect: one corpus top-candN pass (TakeOrdered) + a candN² pair
    // matrix + a driver-side greedy over it — candN is FIXED, so 10x
    // corpus must cost ~one extra scan, never grow the pair step
    time("mmr 1x (2k vecs)")(
      Similarity.mmrSelect(e1, "vec_id", "embedding", 0L, k = 8,
        candN = 25).count())
    time("mmr 10x (20k vecs, fixed candN)")(
      Similarity.mmrSelect(e10, "vec_id", "embedding", 0L, k = 8,
        candN = 25).count())

    // bounded SCC: per peel 2·maxHops keyed equi-join rounds over a
    // (node, label) state — 10x nodes/edges (a deterministic functional
    // graph: every node has out-degree 1, so cycles abound) must scale
    // ~linearly in |E|
    def scc(d: org.apache.spark.sql.DataFrame): Long =
      Graph.sccBounded(
        d.select(col("doc_id").as("src"),
          (col("doc_id") * 31L % 5000L + (col("doc_id") / 5000L)
            * 5000L).as("dst")),
        maxPeel = 2, maxHops = 4).count()
    time("scc 1x (5k nodes)")(scc(d1))
    time("scc 10x (50k nodes)")(scc(d10))

    // multi-round unigram EM: the DP is DISTINCT-WORD-sized — 10x docs
    // over the same vocabulary must cost ~one extra corpus scan per round
    def uem(d: org.apache.spark.sql.DataFrame): Long =
      graft.operators.TextAnalysis.unigramTrainEm(d, "doc_id", "text",
        rounds = 2, maxPieceLen = 5, topK = 120).count()
    time("unigram-em 1x (5k docs)")(uem(d1))
    time("unigram-em 10x (50k docs, same vocab)")(uem(d10))

    // sketch sidecar: 3 batch scans to model-sized states + merges that
    // move only state rows — 10x docs must cost ~the extra scans alone
    def sidecar(d: org.apache.spark.sql.DataFrame): Long = {
      import graft.operators.SketchSidecar
      val st = (0 to 2).map(i =>
          SketchSidecar.hllState(d.where(col("doc_id") % 3 === i),
            "text", p = 8))
        .reduce(SketchSidecar.mergeHll)
      SketchSidecar.hllEstimate(st, p = 8).count()
    }
    time("sidecar-hll 1x (5k docs)")(sidecar(d1))
    time("sidecar-hll 10x (50k docs)")(sidecar(d10))
    spark.stop()
  }
}
