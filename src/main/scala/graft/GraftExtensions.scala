package graft

import graft.functions.ArrayReduceAgg
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark-native extension entry point — the deployment path that needs NO
  * driver-side code: any session started with
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions()(_))`)
  * resolves the library's Catalyst-native SQL functions in every query,
  * SQL-only clients included — the Spark analogue of the reference
  * registering its UDAF with the SessionContext
  * (reference `src/monoid.rs:472-526`), done at the session-extension
  * seam instead of per-notebook `registerAll` calls.
  *
  * Injected here are the engine-grade `TypedImperativeAggregate`
  * implementations ([[graft.functions.ArrayReduceAgg]]): real Catalyst
  * expressions, so `injectFunction` is the honest registration tier for
  * them (analysis-time element-type resolution, ObjectHashAggregate
  * two-phase protocol). The Aggregator/udaf families
  * (`array_reduce_sum` et al., sketches) live on the UDF registry and
  * keep their per-session `registerAll`/`register` path — `udaf()`
  * wrappers are not `Seq[Expression] => Expression` builders, which is
  * exactly the distinction between the two registration surfaces.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    ArrayReduceAgg.sqlBuilders.foreach { case (name, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[ArrayReduceAgg].getCanonicalName, name),
        build))
    }
}
