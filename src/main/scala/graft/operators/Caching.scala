package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.storage.StorageLevel

/** Storage policy for the persists and checkpoints operators take
  * internally. The state lives in Spark: persists are CacheManager
  * entries, local checkpoints are entries of the SparkContext's
  * persisted-RDD table, and the reliable-checkpoint dir is the context's.
  *
  * Operators like [[Dedup.jaccardPairs]] persist subtrees their (lazy)
  * results read more than once, so the persist outlives the call; a
  * caller releases those with `spark.catalog.clearCache()` and local
  * checkpoints with [[releaseCheckpoints]].
  */
object Caching {

  private[graft] def persist(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Lineage-truncation seam for iterative operators (HITS, k-core, CC,
    * BPE, logistic regression, coreset, mixture reweight): every per-round
    * checkpoint routes through here. The default is `localCheckpoint`
    * (blocks live on executors; a lost executor kills the job).
    * `spark.graft.reliableCheckpoints=true` switches every site to a
    * storage-backed `checkpoint()` into the SparkContext's checkpoint dir,
    * which Spark's `spark.checkpoint.dir` or `SparkContext.setCheckpointDir`
    * sets; with no dir the call fails naming both.
    *
    * Reliable mode is what a 1000-executor cluster job wants: a round's
    * blocks survive executor loss, and lineage is truncated identically
    * (a flat scan node), so plan-size behavior — the reason these sites
    * checkpoint at all — is the same in both modes. Values are identical
    * by construction (checkpointing replays the same deterministic plan);
    * CachingSpec pins both modes equal at sf0.001.
    *
    * `eager = false` (the operators' default) does not make the call
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
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "spark.graft.reliableCheckpoints=true needs a checkpoint dir: set " +
          "spark.checkpoint.dir or call SparkContext.setCheckpointDir")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Release the block-manager storage of every `localCheckpoint` in the
    * active SparkContext's persisted-RDD table — the counterpart of
    * `spark.catalog.clearCache()`, which cannot see checkpoint blocks
    * (they are RDD-level persists, not CacheManager entries). CacheManager
    * entries, plain `rdd.persist()`s and reliable checkpoint files stay.
    *
    * Only call at a point where no live DataFrame will be read again —
    * e.g. between fully-materialized query batches (the bench's family
    * boundary): a checkpointed frame's lineage is truncated, so a later
    * action on one would fail on the missing blocks rather than
    * recompute. Releasing an already-released checkpoint is a no-op.
    *
    * CONCURRENCY HAZARD: the release covers every local checkpoint in
    * the context, not only graft's and not only this session's. A JVM
    * holds one SparkContext, so a release issued from one thread or
    * session unpersists the live checkpoint blocks of any query still
    * running in another, whose next action then fails on the missing
    * blocks. Do not call this from concurrent drivers sharing the JVM.
    */
  def releaseCheckpoints(blocking: Boolean = false): Unit =
    GraftShim.activeLocalCheckpoints.foreach(_.unpersist(blocking))
}
