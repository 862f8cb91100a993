package graft.functions

/** A monoid: a binary associative operator with an identity element.
  *
  * Mirrors the reference's `MonoidOp` trait (reference `src/monoid.rs:23-32`):
  * `identity()`, `combine(a, b)`, `name()`. Associativity is the contract that
  * makes distributed (partial → shuffle → final) aggregation correct; it is
  * property-tested in `MonoidLawsSpec`.
  *
  * The reference supports 10 Arrow primitive types (`src/monoid.rs:34-37`),
  * including unsigned ints. The JVM has no unsigned primitives, so the
  * unsigned types ride on wider signed carriers (or BigDecimal for u64),
  * clamped to their unsigned range (README §2a).
  */
trait Monoid[T] extends Serializable {
  def identity: T
  def combine(a: T, b: T): T
  /** Short op name used to build the SQL function name `array_reduce_{name}`. */
  def name: String
}

/** The reference's op × type matrix (reference `src/monoid.rs:85-221`), the
  * one table both `array_reduce_*` tiers read:
  *   - sum: identity 0, integers saturate (`saturating_add`), floats plain `+`
  *   - product: identity 1, integers saturate (`saturating_mul`), floats `*`
  *   - max: identity = type minimum (floats: -Infinity)
  *   - min: identity = type maximum (floats: +Infinity)
  *
  * Each integral type is a `[lo, hi]` range on one Long fold, the float
  * types share one Double fold; [[ArrayReduceAgg]] folds on these carriers
  * directly, and the per-type factories wrap them for [[ArrayMonoidReduce]].
  */
object Monoid {

  /** The four reference ops, in registration order. */
  val ops: Seq[String] = Seq("sum", "product", "max", "min")

  @inline private def satAddLong(a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch {
      case _: ArithmeticException =>
        if (a > 0) Long.MaxValue else Long.MinValue
    }

  @inline private def satMulLong(a: Long, b: Long): Long =
    try Math.multiplyExact(a, b)
    catch {
      case _: ArithmeticException =>
        // overflow: result sign = sign(a) xor sign(b) (neither is 0 here)
        if ((a > 0) == (b > 0)) Long.MaxValue else Long.MinValue
    }

  /** `op` on a Long carrier saturating at `[lo, hi]`, exactly Rust's
    * saturating ops at the bounds. Where two in-range values cannot overflow
    * Long, the plain operator and one clamp; elsewhere the checked operator.
    * The combine stays a `(Long, Long) => Long`, which Function2
    * specializes, so a caller's inner loop never boxes.
    */
  def longFold(op: String, lo: Long, hi: Long): (Long, (Long, Long) => Long) = {
    val full = lo == Long.MinValue && hi == Long.MaxValue
    require(full || (lo >= Long.MinValue / 2 && hi <= Long.MaxValue / 2), s"[$lo, $hi]")
    @inline def clamp(v: Long): Long = if (v > hi) hi else if (v < lo) lo else v
    op match {
      case "sum" if full => (0L, satAddLong)
      case "sum" => (0L, (a, b) => clamp(a + b))
      case "product" if full => (1L, satMulLong)
      case "product" if lo >= Int.MinValue && hi <= Int.MaxValue => (1L, (a, b) => clamp(a * b))
      case "product" => (1L, (a, b) => clamp(satMulLong(a, b)))
      case "max" => (lo, math.max)
      case "min" => (hi, math.min)
      case _ => throw new IllegalArgumentException(s"no monoid $op")
    }
  }

  /** `op` on the Double carrier: IEEE `+`/`*`, ±Infinity max/min identities. */
  def doubleFold(op: String): (Double, (Double, Double) => Double) = op match {
    case "sum" => (0.0, _ + _)
    case "product" => (1.0, _ * _)
    case "max" => (Double.NegativeInfinity, math.max)
    case "min" => (Double.PositiveInfinity, math.min)
    case _ => throw new IllegalArgumentException(s"no monoid $op")
  }

  private def inst[T](id: T, nm: String)(f: (T, T) => T): Monoid[T] =
    new Monoid[T] {
      val identity: T = id
      def combine(a: T, b: T): T = f(a, b)
      val name: String = nm
    }

  // Integral carriers. The unsigned types (reference src/monoid.rs
  // supports u8-u64) ride on Int (u8, u16) and Long (u32), clamped to
  // [0, 2^bits-1] — Rust's unsigned saturating_add/mul exactly.
  def byte(op: String): Monoid[Byte] = longFold(op, Byte.MinValue, Byte.MaxValue) match {
    case (id, f) => inst(id.toByte, op)((a, b) => f(a, b).toByte)
  }
  def short(op: String): Monoid[Short] = longFold(op, Short.MinValue, Short.MaxValue) match {
    case (id, f) => inst(id.toShort, op)((a, b) => f(a, b).toShort)
  }
  private def onInt(op: String, lo: Long, hi: Long): Monoid[Int] = longFold(op, lo, hi) match {
    case (id, f) => inst(id.toInt, op)((a, b) => f(a, b).toInt)
  }
  def int(op: String): Monoid[Int] = onInt(op, Int.MinValue, Int.MaxValue)
  def u8(op: String): Monoid[Int] = onInt(op, 0L, 255L)
  def u16(op: String): Monoid[Int] = onInt(op, 0L, 65535L)
  private def onLong(op: String, lo: Long, hi: Long): Monoid[Long] =
    longFold(op, lo, hi) match { case (id, f) => inst(id, op)(f) }
  def long(op: String): Monoid[Long] = onLong(op, Long.MinValue, Long.MaxValue)
  def u32(op: String): Monoid[Long] = onLong(op, 0L, 4294967295L)

  // Float folds in Double and rounds back after every combine: bit-identical
  // to f32 `+`/`*` (53 ≥ 2·24+2 makes the double rounding innocuous), exact
  // for max/min.
  def double(op: String): Monoid[Double] = doubleFold(op) match { case (id, f) => inst(id, op)(f) }
  def float(op: String): Monoid[Float] = doubleFold(op) match {
    case (id, f) => inst(id.toFloat, op)((a, b) => f(a, b).toFloat)
  }

  // u64 on an exact BigDecimal carrier (Spark DecimalType(38,18): 20
  // integral digits ≥ the 20 digits of u64::MAX), clamped to [0, 2^64-1].
  val maxU64Value: BigDecimal = BigDecimal("18446744073709551615")
  @inline private def clampU64(v: BigDecimal): BigDecimal =
    if (v > maxU64Value) maxU64Value else if (v < 0) BigDecimal(0) else v
  def u64(op: String): Monoid[BigDecimal] = op match {
    case "sum" => inst(BigDecimal(0), op)((a, b) => clampU64(a + b))
    case "product" => inst(BigDecimal(1), op)((a, b) => clampU64(a * b))
    case "max" => inst(BigDecimal(0), op)((a, b) => if (a >= b) a else b)
    case "min" => inst(maxU64Value, op)((a, b) => if (a <= b) a else b)
    case _ => throw new IllegalArgumentException(s"no monoid $op")
  }
}
