package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** Scoped lifecycle for the persists operators create internally.
  *
  * Operators like [[Dedup.jaccardPairs]] or [[Similarity.retrieveChunks]]
  * persist subtrees their (lazy) results reference more than once — the
  * persist must therefore outlive the function, and a long-lived driver
  * chaining many operators accumulates executor storage with only the blunt
  * `spark.catalog.clearCache()` as a release valve (the documented pre-r5
  * contract). This registry makes the contract structural without touching
  * plan shapes: every operator persist routes through [[persist]], and a
  * caller that wraps "build + fully materialize" in [[scoped]] gets those
  * entries unpersisted at scope exit:
  *
  * {{{
  * val pairs = Caching.scoped {
  *   Dedup.jaccardPairs(docs, "doc_id", "text", 2, 25L, 0.5).collect()
  * } // the shingle-table persist created inside is released here
  * }}}
  *
  * Outside a scope the behavior is EXACTLY the pre-r5 one (persist and
  * leave — correct for gate queries, whose lazy results the driver
  * materializes after `queries()` returns). Scopes nest (inner scope
  * releases only its own persists) and are thread-local: a scope tracks
  * the operator calls of the thread that opened it, which is the driver
  * composition pattern; concurrent job-submission threads each manage
  * their own scopes. The caller must materialize INSIDE the scope —
  * returning a lazy DataFrame out of `scoped` and collecting later
  * recomputes the (now unpersisted) subtrees instead of crashing, so the
  * failure mode is a perf regression, never wrong answers.
  */
object Caching {

  private val stack = new ThreadLocal[ArrayBuffer[ArrayBuffer[DataFrame]]] {
    override def initialValue(): ArrayBuffer[ArrayBuffer[DataFrame]] =
      ArrayBuffer.empty
  }

  /** `df.persist(MEMORY_AND_DISK)`, registered with the innermost active
    * [[scoped]] block of this thread (no-op registration when none).
    *
    * Already-cached plans are NOT registered: CacheManager shares entries
    * by canonicalized plan, so when an operator's persist lands on a plan
    * some earlier caller already cached, this call didn't create storage —
    * and scope exit must not release an entry other consumers rely on
    * (the shared-entry unpersist footgun).
    */
  private[graft] def persist(df: DataFrame): DataFrame = {
    val s = stack.get()
    if (s.isEmpty) {
      // no scope → the pre-existence answer would be unused, and
      // lookupCachedData is a linear canonicalized-plan scan over every
      // cached entry (CacheManager runs its own copy inside persist());
      // skipping the redundant probe here halves the lookup tax a long
      // gate session pays per operator persist
      df.persist(StorageLevel.MEMORY_AND_DISK)
    } else {
      val preExisting = org.apache.spark.sql.graftshim.GraftShim.isCached(df)
      df.persist(StorageLevel.MEMORY_AND_DISK)
      if (!preExisting) s.last += df
    }
    df
  }

  /** Lineage-truncation seam for iterative operators (HITS, k-core, CC,
    * BPE, logistic regression, coreset, mixture reweight): every per-round
    * checkpoint routes through here so the single-JVM default
    * (`localCheckpoint` — blocks live on executors, lost executor kills
    * the job) can be swapped FLEET-WIDE for a reliable, storage-backed
    * `checkpoint()` with one config instead of per-callsite edits:
    *
    *   spark.graft.reliableCheckpoints=true
    *   spark.graft.checkpointDir=hdfs://... (or SparkContext.setCheckpointDir)
    *
    * Reliable mode is what a 1000-executor cluster job wants: a round's
    * blocks survive executor loss, and lineage is truncated identically
    * (a flat scan node), so plan-size behavior — the reason these sites
    * checkpoint at all — is the same in both modes. Values are identical
    * by construction (checkpointing replays the same deterministic plan);
    * CachingSpec pins both modes equal at sf0.001.
    *
    * `eager = false` (the operators' default) matches the pre-seam
    * localCheckpoint(false) behavior exactly. It does not make the call
    * free: under AQE, checkpointing the plan runs its shuffle stages when
    * it is called, so building `q_graph_hits` fires its 2 construct jobs
    * from its edge checkpoint (pinned in PlanSpec). Only the final stage,
    * which writes the checkpoint blocks, waits for the first job that
    * reads the result.
    */
  private[graft] def checkpoint(df: DataFrame,
      eager: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf
      .getOption("spark.graft.reliableCheckpoints").exists(_.toBoolean)
    if (reliable) {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val dir = spark.conf.getOption("spark.graft.checkpointDir")
          .getOrElse(throw new IllegalArgumentException(
            "spark.graft.reliableCheckpoints=true needs " +
              "spark.graft.checkpointDir (or SparkContext.setCheckpointDir)"))
        spark.sparkContext.setCheckpointDir(dir)
      }
      df.checkpoint(eager)
    } else {
      val out = df.localCheckpoint(eager)
      // register the checkpoint's block storage for session-level release:
      // localCheckpoint persists the RDD OUTSIDE CacheManager, so it is
      // invisible to clearCache() and lives until the RDD object is GC'd —
      // on a large driver heap that is effectively "until the session
      // dies", and a long multi-operator session accumulates every
      // iterative loop's per-round blocks (the round-11 multimodal 3-7×
      // regression: graph-family checkpoint blocks squeezing the queries
      // that ran after them). Weak refs keep GC/ContextCleaner semantics
      // unchanged for sessions that never call [[releaseCheckpoints]].
      org.apache.spark.sql.graftshim.GraftShim.localCheckpointRdds(out)
        .foreach(r => ckptRdds.put(r.id,
          new java.lang.ref.WeakReference(r)))
      out
    }
  }

  private val ckptRdds = new java.util.concurrent.ConcurrentHashMap[
    Int, java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

  /** Release the block-manager storage of every `localCheckpoint` the
    * graft operators have taken since the last call — the session-level
    * counterpart of `spark.catalog.clearCache()`, which cannot see
    * checkpoint blocks (they are RDD-level persists, not CacheManager
    * entries).
    *
    * Only call at a point where no live DataFrame will be read again —
    * e.g. between fully-materialized query batches (the bench's family
    * boundary): a checkpointed frame's lineage is truncated, so a later
    * action on one would fail on the missing blocks rather than
    * recompute. Operators that already release their own checkpoints
    * ([[Similarity.kCenterCoreset]]) are unaffected — an unpersisted RDD
    * unpersists idempotently.
    *
    * CONCURRENCY HAZARD: the registry is JVM-global (one map for every
    * SparkSession sharing this classloader), so a release issued from
    * one thread/session unpersists the LIVE checkpoint blocks of any
    * query still running in another — its next action on a truncated
    * lineage then fails on the missing blocks. The single-session,
    * between-batches contract above is load-bearing, not advisory; do
    * not call this from concurrent drivers sharing the JVM.
    */
  def releaseCheckpoints(blocking: Boolean = false): Unit = {
    val it = ckptRdds.entrySet().iterator()
    while (it.hasNext) {
      val ref = it.next().getValue.get()
      if (ref != null) {
        // NonFatal only: a stopped context is "nothing to free", but OOM /
        // InterruptedException must propagate, not be swallowed here
        try ref.unpersist(blocking)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      it.remove()
    }
  }

  /** Run `f`, then unpersist every [[persist]] this thread's operators
    * registered while it ran. Blocking unpersist: storage is actually gone
    * when `scoped` returns, so back-to-back scopes can't transiently hold
    * 2× the footprint.
    */
  def scoped[T](f: => T): T = {
    val frame = ArrayBuffer.empty[DataFrame]
    val s = stack.get()
    s += frame
    try f
    finally {
      s.remove(s.length - 1)
      frame.foreach(_.unpersist(blocking = true))
    }
  }
}
