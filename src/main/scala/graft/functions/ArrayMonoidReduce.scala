package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Element-wise reduction of an array-valued column across rows, generic over
  * a [[Monoid]]: `array_reduce_sum(arrays)` over rows `[1,2,3]`, `[4,5,6]`
  * yields `[5,7,9]`.
  *
  * Spark-native rebuild of the reference UDAF `ArrayMonoidReduce` +
  * `ArrayMonoidReduceAccumulator` (reference `src/monoid.rs:226-470`), as an
  * `Aggregator[IN, BUF, OUT]`. Catalyst plans it as a two-phase
  * ObjectHashAggregate (partial per partition → shuffle of the buffer →
  * final merge), which is exactly the reference's `update_batch` /
  * `state` / `merge_batch` protocol; monoid associativity is the contract
  * that makes the cross-partition merge correct at any parallelism.
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
  * Buffer is a primitive `Array[T]` (compact shuffle representation; the
  * reference's `Vec<T::Native>`, `src/monoid.rs:341`); empty array encodes
  * the "not yet sized" state.
  *
  * Invariant: Spark's encoder passes each `Seq` input as a linked `List`
  * (`scala.collection.immutable.::` of `Some`), so `reduce` traverses it
  * and never indexes it — `arr(j)` would make a width-w row cost O(w²).
  */
class ArrayMonoidReduce[T](val m: Monoid[T])(implicit tt: TypeTag[T], ct: ClassTag[T])
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
