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
  * (or a session builder's `.withExtensions(new GraftExtensions()(_))`)
  * resolves the library's Catalyst-native SQL functions in every query,
  * SQL-only clients included — the Spark analogue of the reference
  * registering its UDAF with the SessionContext
  * (reference `src/monoid.rs:472-526`), done at the session-extension
  * seam instead of per-notebook `registerAll` calls.
  *
  * Injected here is every `array_reduce_*` name, from the one list
  * [[graft.functions.ArrayReduceAgg.sqlBuilders]]: each is a
  * `Seq[Expression] => Expression` builder over the Catalyst
  * `TypedImperativeAggregate` [[graft.functions.ArrayReduceAgg]], so the
  * reference names resolve in a SQL-only deployment too. The sketch
  * families are `udaf()` wrappers, not expression builders, and keep their
  * per-session `register` path.
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
