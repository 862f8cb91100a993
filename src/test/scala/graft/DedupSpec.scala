package graft

import graft.functions.{SimHash, SimHashUtil}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class DedupSpec extends SparkSpec {

  test("portableHash equals conv(substring(md5, 1, 15), 16, 10) bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the identity every portable operator's oracle replay rests on after
    // the r15 compiled-expression swap: cover empty, ascii, salts,
    // unicode, long strings, digits, and embedded separators
    val samples = (Seq("", "a", "kll:1_1", "kllw:42", "doc 7", "ü→漢字",
      "x" * 500, "0", "-1", "sig:1,2,3|4") ++
      (1 to 200).map(i => s"row:$i")).toDF("s")
    val got = samples.select(col("s"),
      graft.operators.Dedup.portableHash(col("s")).as("fast"),
      expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)")
        .as("ref"))
    assert(got.where(col("fast") =!= col("ref")).count() == 0L)
    // null in → null out, matching the SQL chain
    val n = Seq[Option[String]](None).toDF("s")
      .select(graft.operators.Dedup.portableHash(col("s")).as("h"))
    assert(n.head().isNullAt(0))
  }

  test("duplicationProfile: family histogram plus singleton fallback") {
    import spark.implicits._
    // docs 1-2-3 one family (chained pairs), 4-5 another, 6 and 7 unpaired
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val r = graft.operators.Dedup.duplicationProfile(docs, pairs, "doc_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((2L, 2L))))
  }
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()

  test("exactGroups: planted exact duplicates collapse to one representative") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("id", "text")
    val got = Dedup.exactGroups(df, col("id"), col("text"))
      .orderBy("keep_id").collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("incremental: batch-internal dedup plus anti-join against the store") {
    val incoming = Seq((11L, "a b c"), (12L, "a b c"), (13L, "x y z"),
      (14L, "seen before")).toDF("id", "text")
    val seen = Seq("seen before").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")))
    val got = Dedup.incremental(incoming, col("id"),
        TextAnalysis.fingerprint(col("text")), seen)
      .collect().map(_.getLong(0)).sorted.toSeq
    // 12 collapses into 11 (in-batch dup), 14 is already in the store
    assert(got == Seq(11L, 13L))
  }

  test("incrementalBloom: exact same answer as incremental (bloom only routes)") {
    val incoming = Seq((11L, "a b c"), (12L, "a b c"), (13L, "x y z"),
      (14L, "seen before"), (15L, "also new")).toDF("id", "text")
    val seen = Seq("seen before", "other old doc").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val plain = ids(Dedup.incremental(incoming, col("id"),
      TextAnalysis.fingerprint(col("text")), seen))
    val bloomed = ids(Dedup.incrementalBloom(incoming, col("id"),
      TextAnalysis.fingerprint(col("text")), seen))
    assert(bloomed == plain)
    assert(plain == Seq(11L, 13L, 15L))
  }

  test("incrementalBloom: empty seen store keeps the whole batch (bootstrap)") {
    // the first-ever ingest: BloomFilterAggregate over zero rows evaluates to
    // a NULL filter, and an un-guarded NULL probe drops EVERY row from BOTH
    // where branches — the answer must instead be incremental()'s, i.e. the
    // batch-internal dedup with nothing filtered out
    val incoming = Seq((11L, "a b c"), (12L, "a b c"), (13L, "x y z"))
      .toDF("id", "text")
    def ids(seen: org.apache.spark.sql.DataFrame): (Seq[Long], Seq[Long]) = {
      def run(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getLong(0)).sorted.toSeq
      (run(Dedup.incremental(incoming, col("id"),
        TextAnalysis.fingerprint(col("text")), seen)),
        run(Dedup.incrementalBloom(incoming, col("id"),
          TextAnalysis.fingerprint(col("text")), seen)))
    }
    // zero-row store, and a store of only null keys (same thing after the
    // null-key exclusion contract)
    val empty = Seq.empty[String].toDF("text")
    val allNull = Seq(null.asInstanceOf[String]).toDF("text")
    for (seen <- Seq(empty, allNull)) {
      val (plain, bloomed) = ids(seen)
      assert(plain == Seq(11L, 13L))
      assert(bloomed == plain)
    }
  }

  test("incrementalBloom: numeric keys route correctly (build/probe type parity)") {
    // a LongType key: the bloom must be built and probed on the same
    // representation — a putLong build probed via mightContainString never
    // matches, silently emitting every true duplicate
    val incoming = Seq((11L, 100L), (12L, 200L), (13L, 300L))
      .toDF("id", "fp")
    val seen = Seq(200L, 300L).toDF("fp")
    val got = Dedup.incrementalBloom(incoming, col("id"), col("fp"), seen)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(11L)) // 12 and 13 are already in the store
  }

  test("incrementalBloom matches incremental on the real corpus") {
    val incoming = docs.where(col("doc_id") % 2 === 1)
    val seen = docs.where(col("doc_id") % 2 === 0)
      .select(TextAnalysis.fingerprint(col("text")))
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val plain = keyset(Dedup.incremental(incoming, col("doc_id"),
      TextAnalysis.fingerprint(col("text")), seen))
    // tight fpp and a loose one: the answer may never depend on the rate
    for (fpp <- Seq(0.5, 0.01))
      assert(keyset(Dedup.incrementalBloom(incoming, col("doc_id"),
        TextAnalysis.fingerprint(col("text")), seen, fpp = fpp)) == plain)
  }

  test("minhashPairs finds planted near-duplicates") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " zz1 zz2" // ~0.88 2-gram J
    val far = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhashPairs recall vs exact jaccard on real documents (J >= 0.9)") {
    // exact all-pairs baseline at J>=0.9 (500 docs → 125k pairs, fine locally)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", ngram = 2,
      idWindow = 1L << 40, threshold = 0.9) // window >> max id → all pairs
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", ngram = 2,
      numHashes = 32, bands = 16, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH output is exact-verified → precision 1; recall bounded by banding
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty, "corpus should contain J>=0.9 pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("minhashPairsPortable finds planted near-duplicates, precision 1") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " zz1 zz2"
    val far = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsPortable(df, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhashPairsPortable subset of exact jaccard (verified output)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", ngram = 2,
      idWindow = 1L << 40, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairsPortable(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact-verified candidates → precision 1
    assert(lsh.nonEmpty)
  }

  test("simhashPairsPortable: token-identical docs paired, distinct docs not") {
    // a 1-token edit flips ~6 of 60 bits in expectation (every zero-vote bit
    // can flip), so hamming<=3 is not guaranteed for token *edits*; the
    // deterministic contract is: identical token streams → hamming 0
    // (whitespace/canonicalization-level duplicates), disjoint streams → far
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = "  " + (1 to 60).map(i => s"tok$i").mkString("   ") + " "
    val far = (200 to 260).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsPortable(df, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash64 expression: eval and codegen agree, deterministic") {
    val df = Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("x", "y")).toDF("toks")
    val vals = df.select(SimHash.simhash64(col("toks")).as("h"))
      .collect().map(_.getLong(0))
    assert(vals(0) == vals(1))
    assert(vals(0) != vals(2))
    // matches the shared static implementation (what codegen emits)
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      Array(UTF8String.fromString("a"), UTF8String.fromString("b"),
        UTF8String.fromString("c")))
    assert(vals(0) == SimHashUtil.simhash64(arr))
  }

  test("simhashPairs: near-identical docs within hamming 3, distinct docs not") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 59).map(i => s"tok$i").mkString(" ") + " other"
    val far = (200 to 260).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash SQL registration") {
    SimHash.register(spark)
    val n = spark.sql(
      "SELECT simhash64(array('a','b')) AS h").collect()(0).getLong(0)
    assert(n == SimHashUtil.simhash64(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(UTF8String.fromString("a"), UTF8String.fromString("b")))))
  }

  test("rolling_hash64: order-sensitive, incremental, deterministic") {
    val df = Seq(
      Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("c", "b", "a"), Seq("a", "b"),
    ).toDF("toks")
    val vals = df.select(graft.functions.RollingHash.rollingHash64(col("toks")))
      .collect().map(_.getLong(0))
    assert(vals(0) == vals(1)) // deterministic
    assert(vals(0) != vals(2)) // order-sensitive (simhash/word-set would collide)
    // incremental property: h([a,b,c]) = h([a,b])*B + hash(c)
    assert(vals(0) == vals(3) * graft.functions.RollingHashUtil.B +
      graft.functions.SimHashUtil.hash64(
        org.apache.spark.unsafe.types.UTF8String.fromString("c")))
    // SQL registration
    graft.functions.SimHash.register(spark)
    assert(spark.sql("SELECT rolling_hash64(array('a','b','c')) AS h")
      .collect()(0).getLong(0) == vals(0))
  }

  test("connectedComponents: chains collapse to min-id families") {
    // chain 1-2-3-4 (diameter 3 → multiple propagation rounds), pair 10-11,
    // and an untouched pair ordering quirk (7,5) — min id must still win
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (5L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 5L -> 5L, 7L -> 5L))
  }

  test("connectedComponentsTwoRule: equals the min-label engine on " +
      "chains, cycles, stars, dense blobs") {
    // adversarial shapes: a long chain (deep diameter), a cycle, a hub
    // star, two dense blobs bridged by one edge, shuffled id order —
    // both engines must produce the identical (doc_id, family_id) map
    val chain = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val cycle = Seq((100L, 101L), (101L, 102L), (102L, 103L), (103L, 100L))
    val star = (201L to 208L).map(i => (200L + (i % 3), i)) // hubby mess
    val blobs = (for {a <- 300L to 305L; b <- 300L to 305L if a < b}
      yield (a, b)) ++
      (for {a <- 400L to 405L; b <- 400L to 405L if a < b}
        yield (a, b)) :+ ((305L, 400L))
    val pairs = scala.util.Random.shuffle(
      chain ++ cycle ++ star ++ blobs).toDF("id_a", "id_b")
    val minLabel = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val twoRule = Dedup.connectedComponentsTwoRule(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(twoRule == minLabel,
      "two-rule CC diverged from the min-label engine")
    assert(minLabel(40L) == 1L && minLabel(103L) == 100L &&
      minLabel(405L) == 300L, "sanity: min-id roots")
    // empty input: no crash, empty frame (both engines)
    assert(Dedup.connectedComponentsTwoRule(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0L)
  }

  test("fuzzyPairs: small edits matched, distant texts and far ids excluded") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fax jumps over the lazy dog tonight"), // 1 edit
      (3L, "completely different content with no resemblance at all"),
      (90L, "the quick brown fox jumps over the lazy dog tonight") // outside id window
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(df, "doc_id", "text", idWindow = 25L, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)))
  }

  test("connectedComponents: reliable-checkpoint mode matches localCheckpoint") {
    // the cluster-safe path: spark.graft.reliableCheckpoints switches
    // every round of Caching.checkpoint to a storage-backed checkpoint
    // (survives executor loss) in the context's checkpoint dir; the answer
    // must be identical and checkpoint files must land under that dir
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
    def families() = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(families() == want)
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      assert(families() == want)
      assert(filesUnder(dir) > 0,
        "expected reliable checkpoint files under the context's checkpoint dir")
    } finally spark.conf.unset("spark.graft.reliableCheckpoints")
  }

  test("keepBest: best-quality member wins the family, ties to lower id") {
    // family {1,2,3}: doc 2 has the best score; family {10,11}: tie → 10
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (10L, 0.4), (11L, 0.4))
      .toDF("doc_id", "score")
    val got = Dedup.keepBest(pairs, quality)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((1L, 2L)), 2L -> ((1L, 2L)), 3L -> ((1L, 2L)),
      10L -> ((10L, 10L)), 11L -> ((10L, 10L))))
  }

  test("keepBest: member missing from the quality frame stays in the family") {
    // doc 3 has no quality row: it must still come out (score -Inf, never
    // the keeper) instead of being inner-joined away; doc 12's whole family
    // is unscored → keeper falls back to the lower id
    val pairs = Seq((1L, 2L), (2L, 3L), (11L, 12L)).toDF("id_a", "id_b")
    val quality = Seq((1L, 0.2), (2L, 0.9)).toDF("doc_id", "score")
    val rows = Dedup.keepBest(pairs, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 11L, 12L))
    assert(rows(3L) == ((2L, Double.NegativeInfinity)))
    assert(rows(2L) == ((2L, 0.9)))
    assert(rows(11L) == ((11L, Double.NegativeInfinity)))
    assert(rows(12L) == ((11L, Double.NegativeInfinity)))
  }

  test("leakSafeSplit: a near-dup family never straddles the split") {
    val df = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.leakSafeSplit(df, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getString(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // the whole {1,2,3} family carries one family id and ONE split
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct == Seq(Some(1L)))
    assert(Seq(1L, 2L, 3L).map(got(_)._2).distinct.size == 1)
    // unpaired docs have no family and use their own id's bucket —
    // identical to the plain split's assignment for them
    assert(got(4L)._1.isEmpty && got(5L)._1.isEmpty)
    val plain = df.select(col("doc_id"),
        (Dedup.portableHash(col("doc_id").cast("string")) % 100L).as("b"))
      .collect().map(r => r.getLong(0) ->
        (if (r.getLong(1) < 80) "train" else if (r.getLong(1) < 90) "val"
         else "test")).toMap
    assert(got(4L)._2 == plain(4L) && got(5L)._2 == plain(5L))
  }

  test("connectedComponents: empty pair set yields empty frame, no crash") {
    // sum(label) over zero rows is NULL — the fixpoint checksum must
    // coalesce it instead of NPE-ing (ADVICE r02)
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(pairs).count() == 0L)
  }

  test("base-131 char-gram encoding is injective on ASCII 5-grams") {
    // the char-jaccard pipeline treats the polynomial as an exact encoding,
    // not a hash — codes < 131 make it the base-131 representation
    val rnd = new scala.util.Random(7)
    val grams = Seq.fill(20000)(
      String.valueOf(Array.fill(5)((32 + rnd.nextInt(95)).toChar)))
    def enc(s: String): Long =
      s.foldLeft(0L)((acc, c) => acc * 131L + c.toLong)
    val distinctGrams = grams.distinct
    assert(distinctGrams.map(enc).distinct.size == distinctGrams.size)
  }

  test("jaccardPairsChar catches token-boundary edits word shingles miss") {
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val glued = base.replaceFirst("word10 word11", "word10word11") // space removed
    val df = Seq((1L, base), (2L, glued)).toDF("doc_id", "text")
    // word-bigram jaccard drops sharply around the edit; char 5-grams keep
    // most shingles intact
    val charPairs = Dedup.jaccardPairsChar(df, "doc_id", "text",
      n = 5, idWindow = 25L, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(charPairs.toSeq == Seq((1L, 2L)))
  }

  test("jaccardPairs ngram guard: docs shorter than n produce no pairs") {
    val df = Seq((1L, "one"), (2L, "one"), (3L, "two words here")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", ngram = 2,
      idWindow = 1L << 40, threshold = 0.1).collect()
    assert(pairs.isEmpty) // single-token docs have empty shingle sets → J undefined → dropped
  }

  test("dupSpans: shared span found at every position, unique text silent") {
    // docs 1 and 2 share the same 4-token run at different offsets; doc 3
    // repeats it twice in-doc but is the only OTHER doc, doc 4 is clean
    val shared = "alpha beta gamma delta"
    val df = Seq(
      (1L, s"x $shared y z w"),
      (2L, s"p q $shared r"),
      (3L, s"$shared m $shared"),
      (4L, "nothing here matches anything at all ok")).toDF("doc_id", "text")
    val got = Dedup.dupSpans(df, "doc_id", "text", spanLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .sortBy(identity).toSeq
    // the shared span occurs in 3 distinct docs: pos 2 in doc 1, pos 3 in
    // doc 2, pos 1 and 6 in doc 3; no other 4-span repeats across docs
    assert(got == Seq((1L, 2L, 3L), (2L, 3L, 3L), (3L, 1L, 3L), (3L, 6L, 3L)))
  }

  test("dupSpans: minDocs raises the bar; in-doc repeats alone don't count") {
    val df = Seq(
      (1L, "a b c d e a b c d e"), // span "a b c d e" twice, same doc only
      (2L, "f g h i j k")).toDF("doc_id", "text")
    assert(Dedup.dupSpans(df, "doc_id", "text", spanLen = 5).collect().isEmpty)
  }

  test("winnowFingerprints: shared-run guarantee, density below all-grams") {
    val k = 3; val w = 4
    // docs 1 and 2 share a run of w+k-1 = 6 tokens at different offsets →
    // the guarantee says they MUST share at least one fingerprint
    val run = "q w e r t y"
    val df = Seq(
      (1L, s"a b c d $run x z"),
      (2L, s"$run m n o p"),
      (3L, "totally different words with nothing shared here at all")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty, "guaranteed shared fingerprint")
    assert((fps(1L) intersect fps(3L)).isEmpty)
    // density: selected set is a strict subset of the all-grams set
    val allGrams1 = 12 - k + 1
    assert(fps(1L).size < allGrams1)
    // short doc (fewer than w grams): still fingerprinted via its global min
    val short = Seq((9L, "only three words")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(short, "doc_id", "text", k, w)
      .count() == 1L)
  }

  test("winnowPairs: near-dup docs pair up, unrelated docs don't") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok15", "CHANGED") // one token differs
    val df = Seq((1L, base), (2L, nearDup),
      (3L, (100 to 130).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "doc_id", "text", minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.length == 1 && pairs(0)._1 == 1L && pairs(0)._2 == 2L)
    assert(pairs(0)._3 >= 3L)
  }

  test("sourceOverlap: sharing sources pair up, boilerplate fp capped out") {
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val boiler = (100 to 130).map(i => s"b$i").mkString(" ")
    // A and B share `shared`; the boilerplate block appears in ALL three
    // sources (→ capped out with maxStrata = 2); C is otherwise disjoint
    val df = Seq(
      (1L, s"$shared $boiler", "A"),
      (2L, s"$shared $boiler", "B"),
      (3L, s"$boiler " + (200 to 230).map(i => s"c$i").mkString(" "), "C"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(df, "doc_id", "text", "source",
        maxStrata = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(5)))).toMap
    // only (A, B) overlaps; boilerplate never creates a C pair
    assert(got.keySet == Set(("A", "B")))
    val (sharedFp, jac) = got(("A", "B"))
    assert(sharedFp > 0 && jac > 0.0 && jac <= 1.0)
    // with the cap wide open the boilerplate links every pair
    val uncapped = Dedup.sourceOverlap(df, "doc_id", "text", "source",
        maxStrata = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(uncapped == Set(("A", "B"), ("A", "C"), ("B", "C")))
  }

  test("stripSpans: flagged tokens removed, clean docs untouched, full flag → empty") {
    val shared = "alpha beta gamma delta"
    val df = Seq(
      (1L, s"x $shared y"),
      (2L, s"$shared"),          // nothing but the span → strips to empty
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val got = Dedup.stripSpans(df, "doc_id", "text",
        Dedup.dupSpans(df, "doc_id", "text", spanLen = 4), spanLen = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "x y")
    assert(got(2L) == "")
    assert(got(3L) == "totally unrelated words here")
    // survivors keep their ORIGINAL case (fingerprinting lowercases, the
    // rejoin must not) even when flags land case-insensitively
    val cased = Seq((1L, s"Keep Me ${shared.toUpperCase} Z"),
      (2L, shared)).toDF("doc_id", "text")
    val gotCased = Dedup.stripSpans(cased, "doc_id", "text",
        Dedup.dupSpans(cased, "doc_id", "text", spanLen = 4), spanLen = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotCased(1L) == "Keep Me Z")
  }

  test("containmentPairs: subset dup flagged one-way, Jaccard misses it") {
    // doc 2's bigrams are a strict subset of doc 1's (contained quote);
    // the union is large so Jaccard stays low while containment is 1.0
    val big = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (10 to 15).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, big), (2L, quote), (3L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", ngram = 2,
      idWindow = 25L, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 5.0 / 39.0, 1.0)).map(t =>
      (t._1, t._2, math.rint(t._3 * 1e6) / 1e6, t._4)))
    // the symmetric tier at the same bar sees nothing
    assert(Dedup.jaccardPairs(df, "doc_id", "text", ngram = 2,
      idWindow = 25L, threshold = 0.9).collect().isEmpty)
  }

  test("jaccardPairs prefix filter is lossless on randomized corpora") {
    // the r5 candidate generation drops pairs sharing no prefix element —
    // provably safe (PPJoin prefix lemma), but the proof rests on exact
    // prefix-length arithmetic (FP floor guard) and the sorted-distinct
    // contract, so pin it against a brute-force reference over corpora
    // with heavy shingle overlap and varying set sizes
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (t <- Seq(0.3, 0.5, 0.8); trial <- 1 to 4) {
      val docs = (0L until 10L).map { id =>
        val n = 3 + rnd.nextInt(12)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      def shingles(text: String): Set[String] = {
        val toks = text.split(" ")
        (0 until toks.length - 1).map(i => s"${toks(i)} ${toks(i + 1)}").toSet
      }
      val window = 4L
      val reference = (for {
        (ia, ta) <- docs; (ib, tb) <- docs
        if ia < ib && ib - ia <= window
        sa = shingles(ta); sb = shingles(tb)
        if sa.nonEmpty && sb.nonEmpty
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= t
      } yield (ia, ib)).toSet
      val got = Dedup.jaccardPairs(docs.toDF("doc_id", "text"), "doc_id",
          "text", ngram = 2, idWindow = window, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == reference, s"t=$t corpus: $docs")
    }
  }

  test("dupSpans: randomized corpora match a brute-force reference") {
    // tiny vocabulary forces genuine cross-doc span repeats; fixed seed
    // keeps the corpus deterministic across runs
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d")
    val L = 3
    (1 to 6).foreach { _ =>
      val docs = (0L until 6L).map { id =>
        val n = 2 + rnd.nextInt(10) // some docs too short to span
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      def reference: Set[(Long, Long, Long)] = {
        val occ = docs.flatMap { case (id, text) =>
          val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
          (0 to toks.length - L)
            .map(i => (id, i.toLong + 1, toks.slice(i, i + L).mkString(" ")))
        }
        val nDocs = occ.groupBy(_._3).map { case (g, os) =>
          g -> os.map(_._1).distinct.size.toLong }
        occ.collect { case (id, pos, g) if nDocs(g) >= 2 =>
          (id, pos, nDocs(g)) }.toSet
      }
      val got = Dedup.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
          spanLen = L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
      assert(got == reference, s"corpus: $docs")
    }
  }

  test("dedupSegments: corpus-wide first occurrence survives, docs rebuilt") {
    import graft.operators.Dedup
    // segLen=2: doc0 = [A B][C D], doc1 = [C D][E F] (C D repeats → doc1
    // keeps only E F), doc2 duplicates doc0 entirely → empty text
    val docs = Seq(
      (0L, "A b c D"),
      (1L, "c d e F"),
      (2L, "a B C d")).toDF("doc_id", "text")
    val r = Dedup.dedupSegments(docs, "doc_id", "text", segLen = 2)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(0L) == ((2L, 2L, "A b c D")))  // raw case preserved
    assert(r(1L) == ((2L, 1L, "e F")))
    assert(r(2L) == ((2L, 0L, "")))
    // short tail segments fingerprint on their own length
    val tail = Seq((0L, "x y z"), (1L, "z")).toDF("doc_id", "text")
    val t = Dedup.dedupSegments(tail, "doc_id", "text", segLen = 2)
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(t(0L) == "x y z" && t(1L) == "") // tail [z] duplicates doc0's
  }

  test("stripBoilerplate: template segs removed from EVERY doc, domain-scoped") {
    import graft.operators.Dedup
    // domain A: "nav bar" opens 3 distinct docs → boilerplate (minDocs=3),
    // stripped from ALL of them (no winner survives — the CCNet semantics,
    // unlike dedupSegments). Domain B carries the same text once → content.
    val docs = Seq(
      (0L, "A", "Nav BAR alpha beta"),
      (1L, "A", "nav bar Gamma DELTA"),
      (2L, "A", "nav bar epsilon zeta"),
      (3L, "B", "nav bar eta theta")).toDF("doc_id", "source", "text")
    val r = Dedup.stripBoilerplate(docs, "doc_id", "text", "source",
        segLen = 2, minDocs = 3)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(0L) == ((2L, 1L, "alpha beta")))
    assert(r(1L) == ((2L, 1L, "Gamma DELTA"))) // raw case preserved
    assert(r(2L) == ((2L, 1L, "epsilon zeta")))
    assert(r(3L) == ((2L, 2L, "nav bar eta theta"))) // other domain intact
    // below the threshold (2 docs) nothing is boilerplate
    val two = Dedup.stripBoilerplate(
        docs.where(col("doc_id") < 2), "doc_id", "text", "source",
        segLen = 2, minDocs = 3)
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(two(0L) == "Nav BAR alpha beta" && two(1L) == "nav bar Gamma DELTA")
  }

  test("dedupSegments perDoc: intra-doc repeats collapse, cross-doc survive") {
    import graft.operators.Dedup
    val docs = Seq(
      (0L, "a b a b c d"),   // [a b][a b][c d] → intra-doc repeat dropped
      (1L, "a b x y")).toDF("doc_id", "text") // cross-doc [a b] SURVIVES
    val r = Dedup.dedupSegments(docs, "doc_id", "text", segLen = 2,
        perDoc = true)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(0L) == ((3L, 2L, "a b c d")))
    assert(r(1L) == ((2L, 2L, "a b x y")))
  }

  test("minhashRecall: planted near-dups give perfect recall, clean precision") {
    import graft.operators.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, base), (1L, base + " extra"),             // J >= 0.5 pair
      (10L, "one two three four five six seven"),
      (11L, "one two three four five six seven"),    // exact dup pair
      (50L, "totally different words here entirely"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashRecall(docs, "doc_id", "text",
      idWindow = 25L, threshold = 0.5).collect()(0)
    assert(r.getLong(0) >= 2L)               // truth: both planted pairs
    assert(r.getLong(3) == 1000000L, "recall") // minhash finds them all
    assert(r.getLong(4) >= 500000L, "precision floor")
  }


  test("softWeights: 1/family_size, case/punct variants share a family") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO  world."),
      (4L, "unique text here")).toDF("doc_id", "text")
    val w = Dedup.softWeights(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(w(1L) == ((3L, 333333L)))
    assert(w(2L) == ((3L, 333333L)) && w(3L) == ((3L, 333333L)))
    assert(w(4L) == ((1L, 1000000L)))
  }

  test("bandSweep: shared signature, monotone candidate counts, S-curve") {
    import graft.operators.Dedup
    // docs 1-2 are near-dups (J >= 0.5); 3-4 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six"),
      (4L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val rows = Dedup.bandSweep(docs, "doc_id", "text",
      idWindow = 25L, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(rows.keySet == Set(16L, 8L, 4L, 2L))
    // truth is identical for every config (shared tier)
    assert(rows.values.map(_._1).toSet.size == 1 && rows(16L)._1 >= 1L)
    // r=1 banding (b=16) must catch every truth pair: single shared
    // minhash value suffices -> recall 1e6
    assert(rows(16L)._3 == 1000000L)
    // more rows per band = stricter buckets: candidates monotone down
    assert(rows(16L)._2 >= rows(8L)._2 && rows(8L)._2 >= rows(4L)._2
      && rows(4L)._2 >= rows(2L)._2)
  }

  test("hammingBandPairs rejects bandings that under-cover the fingerprint") {
    import spark.implicits._
    val hashed = Seq((1L, 0x0123456789abcdefL)).toDF("id", "sh")
    // 4 x 8 bits bands only the low 32 of a declared 64-bit hash — a pair
    // differing only in the high half would be silently lost, so the
    // pigeonhole guard must reject it up front
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingBandPairs(hashed, bands = 4, bandBits = 8, hashBits = 64,
        maxHamming = 3, maxBucket = 100)
    }
    assert(e.getMessage.contains("pigeonhole"))
    // exact coverage passes the guard and still verifies pairs exactly
    val ok = Dedup.hammingBandPairs(
      Seq((1L, 5L), (2L, 5L)).toDF("id", "sh"),
      bands = 4, bandBits = 16, hashBits = 64, maxHamming = 1,
      maxBucket = 100)
    assert(ok.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((1L, 2L, 0L)))
  }

}
