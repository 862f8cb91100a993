package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.{SparkSession, functions}

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Factories + session registration for the `array_reduce_*` UDAF family.
  *
  * Mirrors the reference's factory surface (reference `src/monoid.rs:472-526`):
  * Int32-pinned defaults `array_reduce_{sum,product,max,min}` ("backward
  * compatibility", `src/monoid.rs:472-489`) plus per-type generic
  * constructors (`array_reduce_*_generic::<T>`, `src/monoid.rs:492-526`) —
  * here exposed as type-suffixed SQL names, e.g. `array_reduce_sum_float`,
  * since Spark SQL resolves UDAFs by name only.
  *
  * `registerAll` is the analogue of `ctx.register_udaf(...)`
  * (`src/monoid.rs:542`): it puts every instantiation into the session's
  * function registry so `spark.sql("SELECT array_reduce_sum(arrays) ...")`
  * resolves.
  */
object ArrayReduce {

  /** Generic factory, ≈ `array_reduce_{op}_generic::<T>()` (src/monoid.rs:492-526). */
  def of[T](m: Monoid[T])(implicit tt: TypeTag[T], ct: ClassTag[T]): UserDefinedFunction =
    functions.udaf(new ArrayMonoidReduce[T](m))

  /** All (op × element-type) instantiations keyed by SQL function name. */
  def all: Seq[(String, UserDefinedFunction)] = {
    def family[T: TypeTag: ClassTag](suffix: String, m: String => Monoid[T])
        : Seq[(String, UserDefinedFunction)] =
      Monoid.ops.map(op => s"array_reduce_${op}_$suffix" -> of(m(op)))
    import Monoid._
    // un-suffixed names are the Int32 defaults, as in the reference
    // (src/monoid.rs:472-489)
    Monoid.ops.map(op => s"array_reduce_$op" -> of(int(op))) ++
      family("byte", byte) ++ family("short", short) ++ family("int", int) ++
      family("long", long) ++ family("float", float) ++ family("double", double) ++
      // unsigned emulation over signed/decimal carriers — all of u8-u64
      family("u8", u8) ++ family("u16", u16) ++ family("u32", u32) ++
      family("u64", u64)
  }

  /** Idempotent session-wide registration of the whole family. */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, udf) => spark.udf.register(name, udf) }
}
