package graft.functions

import org.apache.spark.sql.SparkSession

/** Session registration of the `array_reduce_*` family, the analogue of
  * the reference's `ctx.register_udaf(...)` (`src/monoid.rs:542`): after
  * it, `spark.sql("SELECT array_reduce_sum(arrays) ...")` resolves. Every
  * name is an [[ArrayReduceAgg]] builder from [[ArrayReduceAgg.sqlBuilders]].
  */
object ArrayReduce {

  /** Idempotent session-wide registration of the whole family. */
  def registerAll(spark: SparkSession): Unit = ArrayReduceAgg.register(spark)
}
