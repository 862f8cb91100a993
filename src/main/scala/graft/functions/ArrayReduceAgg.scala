package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

import java.nio.ByteBuffer

/** Mutable accumulator for [[ArrayReduceAgg]]: the reference's
  * `Vec<T::Native>` (reference src/monoid.rs:341), length fixed by the first
  * non-null array (`null` until then). Integral element types fold in
  * `longs`, floating types in `values`.
  */
final class ArrayReduceBuffer(var values: Array[Double], var longs: Array[Long])

/** Engine-grade Catalyst implementation of the reference's
  * `ArrayMonoidReduce` UDAF (reference `src/monoid.rs:226-470`) as a
  * `TypedImperativeAggregate` — the same execution tier the reference's
  * `Accumulator` runs on in DataFusion (object-buffer hash aggregation;
  * `ObjectHashAggregateExec` here), but with no Encoder round-trip per row:
  * values are read straight out of columnar `ArrayData` into a primitive
  * array buffer, and partial states shuffle as flat byte arrays.
  *
  * Semantics match [[ArrayMonoidReduce]] (null rows skipped, null elements =
  * identity, first-array-length truncation, empty aggregate → empty array);
  * `ArrayReduceSpec` pins the two implementations against each other.
  * Both tiers fold through the one op × type table in [[Monoid]]: integral
  * elements on [[Monoid.longFold]] over the element width's range (Rust
  * saturating semantics), floating ones on [[Monoid.doubleFold]]. Float32 folds
  * accumulate in double here (documented deviation of the native variant;
  * the `array_reduce_*_float` Aggregator family keeps bit-exact f32 folds).
  *
  * Element type is resolved from the child at analysis time, so one SQL
  * function name serves every array element type — the ergonomic upgrade
  * over the reference's per-type factories (src/monoid.rs:492-526).
  */
case class ArrayReduceAgg(
    child: Expression,
    opName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayReduceBuffer] {

  @transient private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case t => throw new IllegalArgumentException(
      s"array_reduce_${opName}_native expects array<numeric>, got $t")
  }

  @transient private lazy val integral: Boolean = elemType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case FloatType | DoubleType => false
    case t => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  // The element type's [lo, hi] range on Monoid's Long fold, read straight
  // as a (Long, Long) => Long so the inner loop never boxes (Function2 is
  // @specialized for Long, unlike the generic Monoid trait).
  @transient private lazy val (longIdentity, longCombine): (Long, (Long, Long) => Long) =
    elemType match {
      case ByteType => Monoid.longFold(opName, Byte.MinValue, Byte.MaxValue)
      case ShortType => Monoid.longFold(opName, Short.MinValue, Short.MaxValue)
      case IntegerType => Monoid.longFold(opName, Int.MinValue, Int.MaxValue)
      case _ => Monoid.longFold(opName, Long.MinValue, Long.MaxValue)
    }

  @transient private lazy val (doubleIdentity, doubleCombine): (Double, (Double, Double) => Double) =
    Monoid.doubleFold(opName)

  override def createAggregationBuffer(): ArrayReduceBuffer =
    new ArrayReduceBuffer(null, null)

  override def update(buf: ArrayReduceBuffer, input: InternalRow): ArrayReduceBuffer = {
    val v = child.eval(input)
    if (v == null) return buf // null row skipped (src/monoid.rs:432-434)
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (integral) {
      if (buf.longs == null && n > 0)
        buf.longs = Array.fill(n)(longIdentity)
      if (buf.longs != null) {
        val m = math.min(n, buf.longs.length) // truncate longer arrays
        var j = 0
        while (j < m) {
          if (!arr.isNullAt(j)) // null element = identity (src/monoid.rs:371-373)
            buf.longs(j) = longCombine(buf.longs(j), getLong(arr, j))
          j += 1
        }
      }
    } else {
      if (buf.values == null && n > 0)
        buf.values = Array.fill(n)(doubleIdentity)
      if (buf.values != null) {
        val m = math.min(n, buf.values.length)
        var j = 0
        while (j < m) {
          if (!arr.isNullAt(j))
            buf.values(j) = doubleCombine(buf.values(j), getDouble(arr, j))
          j += 1
        }
      }
    }
    buf
  }

  private def getLong(arr: ArrayData, i: Int): Long = elemType match {
    case ByteType => arr.getByte(i).toLong
    case ShortType => arr.getShort(i).toLong
    case IntegerType => arr.getInt(i).toLong
    case LongType => arr.getLong(i)
    case t => throw new IllegalStateException(t.toString)
  }

  private def getDouble(arr: ArrayData, i: Int): Double = elemType match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case t => throw new IllegalStateException(t.toString)
  }

  override def merge(a: ArrayReduceBuffer, b: ArrayReduceBuffer): ArrayReduceBuffer = {
    if (integral) {
      if (a.longs == null) a.longs = b.longs
      else if (b.longs != null) {
        val m = math.min(a.longs.length, b.longs.length)
        var j = 0
        while (j < m) { a.longs(j) = longCombine(a.longs(j), b.longs(j)); j += 1 }
      }
    } else {
      if (a.values == null) a.values = b.values
      else if (b.values != null) {
        val m = math.min(a.values.length, b.values.length)
        var j = 0
        while (j < m) { a.values(j) = doubleCombine(a.values(j), b.values(j)); j += 1 }
      }
    }
    a
  }

  /** Empty aggregate → empty array, never null (src/monoid.rs:405-411). */
  override def eval(buf: ArrayReduceBuffer): Any =
    if (integral) {
      val vs = if (buf.longs == null) Array.empty[Long] else buf.longs
      elemType match {
        case ByteType => new GenericArrayData(vs.map(_.toByte))
        case ShortType => new GenericArrayData(vs.map(_.toShort))
        case IntegerType => new GenericArrayData(vs.map(_.toInt))
        case _ => new GenericArrayData(vs)
      }
    } else {
      val vs = if (buf.values == null) Array.empty[Double] else buf.values
      elemType match {
        case FloatType => new GenericArrayData(vs.map(_.toFloat))
        case _ => new GenericArrayData(vs)
      }
    }

  override def serialize(buf: ArrayReduceBuffer): Array[Byte] = {
    val (len, put): (Int, ByteBuffer => Unit) =
      if (integral) {
        val vs = buf.longs
        if (vs == null) return Array.emptyByteArray
        (vs.length, bb => vs.foreach(bb.putLong))
      } else {
        val vs = buf.values
        if (vs == null) return Array.emptyByteArray
        (vs.length, bb => vs.foreach(bb.putDouble))
      }
    val bb = ByteBuffer.allocate(len * 8)
    put(bb)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayReduceBuffer = {
    if (bytes.isEmpty) return createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    val n = bytes.length / 8
    if (integral) {
      val vs = new Array[Long](n)
      var i = 0
      while (i < n) { vs(i) = bb.getLong(); i += 1 }
      new ArrayReduceBuffer(null, vs)
    } else {
      val vs = new Array[Double](n)
      var i = 0
      while (i < n) { vs(i) = bb.getDouble(); i += 1 }
      new ArrayReduceBuffer(vs, null)
    }
  }

  override def dataType: DataType = ArrayType(elemType, containsNull = false)
  override def nullable: Boolean = false

  // reject unsupported input types at ANALYSIS time on the driver — without
  // this the lazy `integral` throws from update() inside every executor
  // task (job fails mid-run with retries instead of an AnalysisException)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(ByteType | ShortType | IntegerType | LongType |
          FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<numeric> " +
            s"(byte/short/int/long/float/double elements), got ${t.sql}")
    }
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = s"array_reduce_${opName}_native"

  override def withNewMutableAggBufferOffset(newOffset: Int): ArrayReduceAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArrayReduceAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object ArrayReduceAgg {

  /** Column API: `ArrayReduceAgg.arrayReduce("sum", $"arrays")`. */
  def arrayReduce(op: String, c: Column): Column =
    GraftShim.column(
      ArrayReduceAgg(GraftShim.expression(c), op).toAggregateExpression())

  /** SQL name and builder of `array_reduce_{op}_native(array)` for every
    * op — element type is inferred from the argument at analysis time.
    * Shared by [[register]] and [[graft.GraftExtensions]].
    */
  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] =
    Monoid.ops.map { op =>
      val name = s"array_reduce_${op}_native"
      name -> GraftShim.unary(name)(
        ArrayReduceAgg(_, op).toAggregateExpression())
    }

  /** Register [[sqlBuilders]] in this session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlBuilders.foreach { case (name, build) =>
      GraftShim.registerFunction(spark, name, build)
    }
}
