package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionColumnNode, ExpressionUtils}
import org.apache.spark.sql.{Column, SparkSession}

/** Minimal bridge into Spark's `private[sql]` surface, so graft can expose
  * custom Catalyst `Expression`s as `Column`s and register them for SQL.
  *
  * Spark 4 moved `Column` to a backend-agnostic representation
  * (`ColumnNode`); wrapping a catalyst `Expression` requires
  * `ExpressionColumnNode`, which is `private[sql]` — hence this shim package,
  * the conventional pattern for Spark-native extension libraries.
  */
object GraftShim {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register an expression builder as a SQL function in this session. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The session's function registry (`sessionState` is `private[sql]`) —
    * lets tests drive `SparkSessionExtensions.registerFunctions` the way
    * session bootstrap does.
    */
  def functionRegistry(spark: SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.sessionState.functionRegistry

  /** Apply an extensions object's injected functions to a registry — the
    * `private[sql]` step session bootstrap performs for
    * `spark.sql.extensions`; exposed so specs can exercise the seam.
    */
  def applyExtensionFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(registry)

  /** The `LogicalRDD` leaves of a checkpointed DataFrame's plan — the
    * RDDs whose block-manager storage a `localCheckpoint` occupies.
    * Checkpoint storage bypasses CacheManager (it is an RDD-level
    * persist), so `spark.catalog.clearCache()` and `df.unpersist()` can
    * never release it; lifecycle code needs the RDD itself.
    */
  def localCheckpointRdds(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.rdd.RDD[_]] = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    classic.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
  }

  /** Release the block-manager storage behind a `localCheckpoint`'d
    * DataFrame. No-op for plans without a `LogicalRDD`. Only safe once
    * nothing will read the DataFrame again (a later action would fail on
    * the missing checkpoint blocks, not recompute — the lineage was
    * truncated).
    */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    localCheckpointRdds(df).foreach(_.unpersist(blocking = false))

  /** Run `f` and return (result, total input records read by the jobs it
    * submitted) — listener-measured, draining the (private[spark])
    * listener bus before reading the counter so async task-end events are
    * all counted. Lets specs pin I/O bounds ("this maintenance call reads
    * O(centroids), not O(index)") instead of trusting plan shape alone.
    * Counts ALL tasks that end while `f` runs, so callers should quiesce
    * other jobs first (test usage).
    */
  def recordsReadDuring[T](spark: SparkSession)(f: => T): (T, Long) =
    countDuring(spark, f)(acc => new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          acc.addAndGet(m.inputMetrics.recordsRead))
    })

  /** Run `f` and return (result, number of Spark jobs it submitted), with
    * the same bus draining and quiescing caveat as [[recordsReadDuring]].
    */
  def jobsDuring[T](spark: SparkSession)(f: => T): (T, Long) =
    countDuring(spark, f)(acc => new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        acc.incrementAndGet()
    })

  private def countDuring[T](spark: SparkSession, f: => T)(
      listenerOf: AtomicLong => SparkListener): (T, Long) = {
    val acc = new AtomicLong(0L)
    val listener = listenerOf(acc)
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (r, acc.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** True when the DataFrame's plan already has a CacheManager entry
    * (plan-canonicalized — the same sharing `persist` itself would hit).
    */
  def isCached(df: org.apache.spark.sql.DataFrame): Boolean = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    classic.sparkSession.sharedState.cacheManager
      .lookupCachedData(classic).isDefined
  }
}
