package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import scala.collection.immutable.ListMap

/** Mutable accumulator for [[ArrayReduceAgg]]: the reference's
  * `Vec<T::Native>` (reference src/monoid.rs:341), length fixed by the first
  * non-null array (`null` until then). Integral element types fold in
  * `longs`, floating types in `values`.
  */
final class ArrayReduceBuffer(var values: Array[Double], var longs: Array[Long])

/** The reference's `ArrayMonoidReduce` UDAF (reference
  * `src/monoid.rs:226-470`) as one Catalyst `TypedImperativeAggregate`, the
  * engine behind every `array_reduce_*` SQL name. It runs on
  * `ObjectHashAggregateExec`, the object-buffer tier DataFusion gives the
  * reference's `Accumulator`: values are read straight out of columnar
  * `ArrayData` into a primitive array buffer, and partial states shuffle as
  * flat byte arrays.
  *
  * Observable semantics of the reference: null rows are skipped
  * (`src/monoid.rs:432-434`), null elements contribute the identity
  * (`src/monoid.rs:371-373`), the first non-empty array fixes the length
  * (longer arrays are truncated, shorter ones leave the tail as it was,
  * `src/monoid.rs:361-369`), and an empty aggregate is an empty array, never
  * null (`src/monoid.rs:405-411`). Elements fold on [[Monoid]]'s carriers:
  * integral ones on [[Monoid.longFold]] over the element's `[lo, hi]`,
  * `u64` on [[Monoid.u64Fold]], `double` on [[Monoid.doubleFold]] and
  * `float` on [[Monoid.floatFold]] (bit-identical to f32 arithmetic).
  *
  * `elem` is the SQL name's element suffix. A reference type
  * ([[ArrayReduceAgg.declaredTypes]], `""` for the Int32 default) declares
  * the element type, and a numeric child is implicitly cast to an array of
  * it at analysis, as Spark casts a UDF's input; `native` takes the
  * child's own element type (byte to double), uncast.
  */
case class ArrayReduceAgg(
    child: Expression,
    opName: String,
    elem: String = "native",
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayReduceBuffer] with ImplicitCastInputTypes {

  private def declared: Option[DataType] = ArrayReduceAgg.declaredTypes.get(elem)

  // only numeric (or null) elements are cast: Spark would otherwise cast
  // strings too and fail in a task, not at analysis
  override def inputTypes: Seq[DataType] = (declared, child.dataType) match {
    case (Some(t), ArrayType(_: NumericType | NullType, _) | NullType) => Seq(ArrayType(t))
    case (_, t) => Seq(t)
  }

  override def checkInputDataTypes(): TypeCheckResult = (declared, child.dataType) match {
    case (Some(t), ArrayType(et, _)) if et == t => TypeCheckResult.TypeCheckSuccess
    case (Some(t), in) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ${ArrayType(t).sql} or a numeric array, got ${in.sql}")
    case (None, ArrayType(ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (None, in) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<numeric> " +
        s"(byte/short/int/long/float/double elements), got ${in.sql}")
  }

  @transient private lazy val elemType: DataType =
    declared.getOrElse(child.dataType.asInstanceOf[ArrayType].elementType)

  @transient private lazy val integral: Boolean =
    elemType != FloatType && elemType != DoubleType

  // The element's fold on Monoid's carriers, read straight as a
  // (Long, Long) => Long or (Double, Double) => Double so the inner loop
  // never boxes.
  @transient private lazy val (longIdentity, longCombine): (Long, (Long, Long) => Long) =
    (elem, elemType) match {
      case ("u8", _) => Monoid.longFold(opName, 0L, 255L)
      case ("u16", _) => Monoid.longFold(opName, 0L, 65535L)
      case ("u32", _) => Monoid.longFold(opName, 0L, 4294967295L)
      case ("u64", _) => Monoid.u64Fold(opName)
      case (_, ByteType) => Monoid.longFold(opName, Byte.MinValue, Byte.MaxValue)
      case (_, ShortType) => Monoid.longFold(opName, Short.MinValue, Short.MaxValue)
      case (_, IntegerType) => Monoid.longFold(opName, Int.MinValue, Int.MaxValue)
      case _ => Monoid.longFold(opName, Long.MinValue, Long.MaxValue)
    }

  @transient private lazy val (doubleIdentity, doubleCombine): (Double, (Double, Double) => Double) =
    if (elemType == FloatType) Monoid.floatFold(opName) else Monoid.doubleFold(opName)

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
    case _ => ArrayReduceAgg.u64Bits(arr.getDecimal(i, 20, 0))
  }

  private def getDouble(arr: ArrayData, i: Int): Double = elemType match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
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
        case LongType => new GenericArrayData(vs)
        case _ => new GenericArrayData(vs.map[Any](ArrayReduceAgg.u64Decimal))
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
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = ArrayReduceAgg.name(opName, elem)

  override def withNewMutableAggBufferOffset(newOffset: Int): ArrayReduceAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArrayReduceAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object ArrayReduceAgg {

  /** The element type each reference-named function declares, by name
    * suffix: the reference's 10 element types (src/monoid.rs:34-37), and
    * `""` for the un-suffixed Int32 defaults (src/monoid.rs:472-489). The
    * JVM has no unsigned primitives: `u8` and `u16` ride on int, `u32` on
    * bigint, `u64` on decimal(20,0), the narrowest exact u64 domain.
    */
  val declaredTypes: ListMap[String, DataType] = ListMap(
    "" -> IntegerType, "byte" -> ByteType, "short" -> ShortType,
    "int" -> IntegerType, "long" -> LongType, "float" -> FloatType,
    "double" -> DoubleType, "u8" -> IntegerType, "u16" -> IntegerType,
    "u32" -> LongType, "u64" -> DecimalType(20, 0))

  /** SQL name of `op` over element suffix `elem`. */
  def name(op: String, elem: String): String =
    if (elem.isEmpty) s"array_reduce_$op" else s"array_reduce_${op}_$elem"

  /** The u64 read: a decimal(20,0) element as the bits of an unsigned
    * Long, clamped to `[0, 2^64-1]` (the reference's u64 column cannot
    * hold a value outside it).
    */
  private def u64Bits(d: Decimal): Long = {
    val v = d.toJavaBigDecimal.toBigInteger
    if (v.signum < 0) 0L else if (v.bitLength > 64) -1L else v.longValue
  }

  /** The u64 bits of a Long as a decimal(20,0). */
  private def u64Decimal(bits: Long): Decimal =
    Decimal(new java.math.BigDecimal(
      new java.math.BigInteger(java.lang.Long.toUnsignedString(bits))), 20, 0)

  /** Column API: `ArrayReduceAgg.arrayReduce("sum", $"arrays")`, the
    * `native` element typing.
    */
  def arrayReduce(op: String, c: Column): Column =
    GraftShim.column(
      ArrayReduceAgg(GraftShim.expression(c), op).toAggregateExpression())

  /** Name and builder of every `array_reduce_*` SQL function: each op over
    * each of [[declaredTypes]] and `native`, 48 in all. The one list that
    * [[register]] and [[graft.GraftExtensions]] read.
    */
  val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] =
    for (elem <- declaredTypes.keys.toSeq :+ "native"; op <- Monoid.ops) yield {
      val fn = name(op, elem)
      fn -> GraftShim.unary(fn)(ArrayReduceAgg(_, op, elem).toAggregateExpression())
    }

  /** Register [[sqlBuilders]] in this session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlBuilders.foreach { case (name, build) =>
      GraftShim.registerFunction(spark, name, build)
    }
}
