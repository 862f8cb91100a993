package graft

import graft.operators.{Caching, Dedup}
import org.apache.spark.sql.functions._

class CachingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta gamma delta zeta"),
    (3L, "one two three four five six")).toDF("doc_id", "text")

  test("persist: operator persists survive the call") {
    // key-set delta, not size: the async ContextCleaner can collect old
    // suites' RDDs mid-test (it removes keys, never adds), so NEW keys
    // are reliably the operator's own persist
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Dedup.jaccardPairs(docs, "doc_id", "text", ngram = 2,
      idWindow = 25L, threshold = 0.5)
    assert(df.count() == 1L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "the operator's persist must stay after the call (lazy callers)")
    spark.catalog.clearCache() // leave the suite session clean
  }

  test("checkpoint seam: reliable mode without a dir is a clear error") {
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      // only hit the seam when no dir is installed (an earlier suite may
      // have set one on the shared context — then the contract is simply
      // that the context's dir is used, which the equality test covers)
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException] {
          Caching.checkpoint(docs.select(col("doc_id")))
        }
        assert(e.getMessage.contains("spark.checkpoint.dir"))
        assert(e.getMessage.contains("SparkContext.setCheckpointDir"))
      }
    } finally spark.conf.unset("spark.graft.reliableCheckpoints")
  }

  test("checkpoint seam: reliable mode equals localCheckpoint mode") {
    // the one seam every iterative operator (hits, k-core, CC, BPE,
    // logistic, coreset, mixture reweight) routes lineage truncation
    // through — values must be identical in both modes because
    // checkpointing replays the same deterministic plan
    import graft.operators.Graph
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L),
      (5L, 1L), (2L, 4L)).toDF("src", "dst")
    def run() = Graph.hits(edges, iters = 3)
      .orderBy("side", "node").collect().map(_.toSeq).toSeq
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.reliableCheckpoints", "true")
    try {
      val reliable = run()
      assert(reliable == local,
        "reliable checkpoint mode must be value-identical to local mode")
      assert(local.nonEmpty)
      assert(filesUnder(dir) > 0,
        "reliable checkpoints must be written under the context's dir")
    } finally spark.conf.unset("spark.graft.reliableCheckpoints")
    spark.catalog.clearCache()
  }

  test("releaseCheckpoints: frees localCheckpoint blocks that clearCache " +
      "cannot see") {
    // the round-11 multimodal regression mechanism: localCheckpoint is an
    // RDD-level persist outside CacheManager, so a session's family-
    // boundary clearCache() never releases it and iterative operators'
    // per-round blocks accumulate for the whole session. The contract
    // here is the bench/verify lifecycle: once a query is fully
    // materialized, releaseCheckpoints() must actually drop the blocks.
    Caching.releaseCheckpoints(blocking = true) // drain earlier suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ck = Caching.checkpoint(
      docs.select(col("doc_id"), length(col("text")).as("n")), eager = true)
    assert(ck.count() == 3L)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "an eager localCheckpoint must persist blocks")
    // the blunt SQL-cache valve does NOT free them — this is exactly why
    // the lifecycle API exists
    spark.catalog.clearCache()
    assert(added.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "clearCache must not (and cannot) release checkpoint blocks")
    Caching.releaseCheckpoints(blocking = true)
    val remaining = added.intersect(
      spark.sparkContext.getPersistentRDDs.keySet)
    assert(remaining.isEmpty,
      s"releaseCheckpoints must drop checkpoint storage; kept $remaining")
    // idempotent: a second release (and operators that already released
    // their own checkpoints) is a no-op, not an error
    Caching.releaseCheckpoints(blocking = true)
  }

  test("releaseCheckpoints: drops lazy and eager local checkpoints, keeps " +
      "CacheManager entries and plain RDD persists") {
    // the release reads the SparkContext's persisted-RDD table, so it must
    // pick out exactly the RDDs carrying local checkpoint data. Each step
    // records its own key-set delta (the ContextCleaner only removes keys)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    def addedBy(f: => Unit): Set[Int] = {
      val before = persisted
      f
      (persisted -- before).toSet
    }
    val cached = docs.select(col("doc_id"), upper(col("text")).as("u"))
    val cachedIds = addedBy { cached.persist(); cached.count() }
    val plain = spark.sparkContext.parallelize(1 to 10, 2)
    val plainIds = addedBy { plain.persist(); plain.count() }
    val lazyIds = addedBy {
      Caching.checkpoint(docs.select((col("doc_id") * 2).as("d")))
    }
    val eagerIds = addedBy {
      Caching.checkpoint(docs.select((col("doc_id") * 3).as("d")),
        eager = true)
    }
    try {
      Seq("CacheManager entry" -> cachedIds, "plain persist" -> plainIds,
        "lazy localCheckpoint" -> lazyIds,
        "eager localCheckpoint" -> eagerIds).foreach { case (what, ids) =>
        assert(ids.nonEmpty, s"a $what must be listed as a persisted RDD")
      }
      Caching.releaseCheckpoints(blocking = true)
      assert((lazyIds ++ eagerIds).intersect(persisted).isEmpty,
        "the release must drop both local checkpoints")
      assert((cachedIds ++ plainIds).subsetOf(persisted),
        "the release must leave CacheManager entries and plain persists")
      assert(org.apache.spark.sql.graftshim.GraftShim.isCached(cached))
      assert(plain.getStorageLevel.useMemory)
    } finally {
      cached.unpersist(blocking = true)
      plain.unpersist(blocking = true)
    }
  }
}
