package graft.functions

import org.apache.spark.sql.{Encoder, SparkSession, functions}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** A monoid on one JVM element type, the reference's `MonoidOp` trait
  * (reference `src/monoid.rs:23-32`): `identity()`, `combine(a, b)`,
  * `name()`. The typeclass of the test model [[ArrayMonoidReduce]].
  */
trait MonoidOp[T] extends Serializable {
  def identity: T
  def combine(a: T, b: T): T
  def name: String
}

/** The reference's per-type factories (`src/monoid.rs:472-526`), one per
  * element type the SQL names suffix, over the engine's folds in
  * [[Monoid]] — except `u64`, which folds exactly on BigDecimal, so the
  * model does not share the engine's unsigned-Long carrier.
  */
object MonoidOp {
  private def inst[T](id: T, nm: String)(f: (T, T) => T): MonoidOp[T] =
    new MonoidOp[T] {
      val identity: T = id
      def combine(a: T, b: T): T = f(a, b)
      val name: String = nm
    }

  def byte(op: String): MonoidOp[Byte] = Monoid.longFold(op, Byte.MinValue, Byte.MaxValue) match {
    case (id, f) => inst(id.toByte, op)((a, b) => f(a, b).toByte)
  }
  def short(op: String): MonoidOp[Short] = Monoid.longFold(op, Short.MinValue, Short.MaxValue) match {
    case (id, f) => inst(id.toShort, op)((a, b) => f(a, b).toShort)
  }
  private def onInt(op: String, lo: Long, hi: Long): MonoidOp[Int] = Monoid.longFold(op, lo, hi) match {
    case (id, f) => inst(id.toInt, op)((a, b) => f(a, b).toInt)
  }
  def int(op: String): MonoidOp[Int] = onInt(op, Int.MinValue, Int.MaxValue)
  def u8(op: String): MonoidOp[Int] = onInt(op, 0L, 255L)
  def u16(op: String): MonoidOp[Int] = onInt(op, 0L, 65535L)
  private def onLong(op: String, lo: Long, hi: Long): MonoidOp[Long] =
    Monoid.longFold(op, lo, hi) match { case (id, f) => inst(id, op)(f) }
  def long(op: String): MonoidOp[Long] = onLong(op, Long.MinValue, Long.MaxValue)
  def u32(op: String): MonoidOp[Long] = onLong(op, 0L, 4294967295L)
  def double(op: String): MonoidOp[Double] =
    Monoid.doubleFold(op) match { case (id, f) => inst(id, op)(f) }
  def float(op: String): MonoidOp[Float] = Monoid.floatFold(op) match {
    case (id, f) => inst(id.toFloat, op)((a, b) => f(a, b).toFloat)
  }

  // u64 on an exact BigDecimal carrier (Spark DecimalType(38,18): 20
  // integral digits ≥ the 20 digits of u64::MAX), clamped to [0, 2^64-1].
  val maxU64Value: BigDecimal = BigDecimal("18446744073709551615")
  @inline private def clampU64(v: BigDecimal): BigDecimal =
    if (v > maxU64Value) maxU64Value else if (v < 0) BigDecimal(0) else v
  def u64(op: String): MonoidOp[BigDecimal] = op match {
    case "sum" => inst(BigDecimal(0), op)((a, b) => clampU64(a + b))
    case "product" => inst(BigDecimal(1), op)((a, b) => clampU64(a * b))
    case "max" => inst(BigDecimal(0), op)((a, b) => if (a >= b) a else b)
    case "min" => inst(maxU64Value, op)((a, b) => if (a <= b) a else b)
    case _ => throw new IllegalArgumentException(s"no monoid $op")
  }
}

/** The test model of `array_reduce_*`: element-wise reduction of an
  * array-valued column across rows, generic over a [[MonoidOp]], as a
  * public-API `Aggregator[IN, BUF, OUT]` — the reference UDAF
  * `ArrayMonoidReduce` + `ArrayMonoidReduceAccumulator`
  * (reference `src/monoid.rs:226-470`) written as directly as Spark allows.
  * The equality specs pin [[ArrayReduceAgg]] against it.
  *
  * Observable semantics reproduced from the reference:
  *   - null input rows (null arrays) are skipped (`src/monoid.rs:432-434`)
  *   - null *elements* are skipped, i.e. contribute the identity
  *     (`src/monoid.rs:371-373`)
  *   - the accumulator length is fixed by the first non-empty array; longer
  *     arrays are truncated, shorter ones leave the tail at its prior value
  *     (`src/monoid.rs:361-369`, pinned by the varying-lengths test at
  *     `src/monoid.rs:589-639`)
  *   - an empty aggregate (no rows / all null) yields an *empty* array, not
  *     null (`src/monoid.rs:387-393,405-411`)
  *
  * Buffer is a primitive `Array[T]` (the reference's `Vec<T::Native>`,
  * `src/monoid.rs:341`); empty array encodes the "not yet sized" state.
  *
  * Invariant: Spark's encoder passes each `Seq` input as a linked `List`
  * (`scala.collection.immutable.::` of `Some`), so `reduce` traverses it
  * and never indexes it — `arr(j)` would make a width-w row cost O(w²).
  */
class ArrayMonoidReduce[T](val m: MonoidOp[T])(implicit tt: TypeTag[T], ct: ClassTag[T])
    extends Aggregator[Seq[Option[T]], Array[T], Seq[T]] {

  override def zero: Array[T] = Array.empty[T]

  /** `add_array` (reference `src/monoid.rs:360-378`). Mutates and returns the
    * buffer (safe for Aggregator semantics). One forward pass over `arr`'s
    * iterator, stopping at the buffer length (truncation); a shorter `arr`
    * leaves the tail as it was. Elements fold in ascending index order,
    * which keeps `_float` folds bit-exact.
    */
  override def reduce(buf: Array[T], arr: Seq[Option[T]]): Array[T] = {
    if (arr == null) return buf // null row: skip (src/monoid.rs:432-434)
    val b =
      if (buf.length == 0 && arr.nonEmpty) Array.fill(arr.length)(m.identity)
      else buf
    val n = b.length
    val it = arr.iterator
    var j = 0
    while (j < n && it.hasNext) {
      val v = it.next()
      if (v.isDefined) b(j) = m.combine(b(j), v.get) // null element: identity
      j += 1
    }
    b
  }

  /** Re-fold of a peer partial state, same truncation semantics as `reduce`
    * (reference `merge_batch`, `src/monoid.rs:445-465`).
    */
  override def merge(a: Array[T], b: Array[T]): Array[T] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    val n = math.min(a.length, b.length)
    var j = 0
    while (j < n) {
      a(j) = m.combine(a(j), b(j))
      j += 1
    }
    a
  }

  /** Empty buffer → empty list, never null (reference `src/monoid.rs:405-411`). */
  override def finish(buf: Array[T]): Seq[T] = buf.toSeq

  override def bufferEncoder: Encoder[Array[T]] = ExpressionEncoder[Array[T]]()
  override def outputEncoder: Encoder[Seq[T]] = ExpressionEncoder[Seq[T]]()
}

object ArrayMonoidReduce {

  /** Registers the model under its own names, `model_` + each engine name
    * (`model_array_reduce_sum`, `model_array_reduce_sum_u64`, …), through
    * `functions.udaf`.
    */
  def register(spark: SparkSession): Unit = {
    def family[T: TypeTag: ClassTag](elem: String, m: String => MonoidOp[T]): Unit =
      Monoid.ops.foreach(op => spark.udf.register(
        "model_" + ArrayReduceAgg.name(op, elem),
        functions.udaf(new ArrayMonoidReduce[T](m(op)))))
    import MonoidOp._
    family("", int)
    family("byte", byte); family("short", short); family("int", int)
    family("long", long); family("float", float); family("double", double)
    family("u8", u8); family("u16", u16); family("u32", u32); family("u64", u64)
  }
}
