package graft.functions

/** The reference's op × type matrix (reference `src/monoid.rs:85-221`) as
  * the folds [[ArrayReduceAgg]] runs. A monoid is a binary associative
  * operator with an identity (the reference's `MonoidOp` trait,
  * `src/monoid.rs:23-32`); associativity is the contract that makes
  * distributed (partial → shuffle → final) aggregation correct, and
  * `MonoidLawsSpec` property-tests it on these folds.
  *   - sum: identity 0, integers saturate (`saturating_add`), floats plain `+`
  *   - product: identity 1, integers saturate (`saturating_mul`), floats `*`
  *   - max: identity = type minimum (floats: -Infinity)
  *   - min: identity = type maximum (floats: +Infinity)
  *
  * The reference supports 10 Arrow primitive types (`src/monoid.rs:34-37`).
  * Each signed integral type and the unsigned `u8`, `u16`, `u32` is a
  * `[lo, hi]` range on one Long fold; `u64` folds on the bits of a Long
  * read as unsigned; `double` and `float` share one Double fold, `float`
  * rounding back to f32 after every combine. Each fold is a
  * `(identity, combine)` pair on a primitive carrier, which Function2
  * specializes, so a caller's inner loop never boxes.
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

  /** High 64 bits of the unsigned 128-bit product `a × b`
    * (`Math.unsignedMultiplyHigh` from Java 18 on): the signed high word
    * plus, for each negative factor, the other factor.
    */
  private def unsignedMultiplyHigh(a: Long, b: Long): Long =
    Math.multiplyHigh(a, b) + ((a >> 63) & b) + ((b >> 63) & a)

  /** `op` on u64 values carried as the bits of a Long, saturating at
    * `[0, 2^64-1]` like Rust's `u64` ops: a sum saturates on an unsigned
    * carry, a product when its unsigned high word is non-zero, and max/min
    * compare unsigned. `-1L` is `u64::MAX`.
    */
  def u64Fold(op: String): (Long, (Long, Long) => Long) = op match {
    case "sum" => (0L, (a, b) => {
      val s = a + b
      if (java.lang.Long.compareUnsigned(s, a) < 0) -1L else s
    })
    case "product" => (1L, (a, b) => if (unsignedMultiplyHigh(a, b) != 0L) -1L else a * b)
    case "max" => (0L, (a, b) => if (java.lang.Long.compareUnsigned(a, b) >= 0) a else b)
    case "min" => (-1L, (a, b) => if (java.lang.Long.compareUnsigned(a, b) <= 0) a else b)
    case _ => throw new IllegalArgumentException(s"no monoid $op")
  }

  /** `op` on the Double carrier: IEEE `+`/`*`, ±Infinity max/min identities. */
  def doubleFold(op: String): (Double, (Double, Double) => Double) = op match {
    case "sum" => (0.0, _ + _)
    case "product" => (1.0, _ * _)
    case "max" => (Double.NegativeInfinity, math.max)
    case "min" => (Double.PositiveInfinity, math.min)
    case _ => throw new IllegalArgumentException(s"no monoid $op")
  }

  /** `op` on f32 values in the Double carrier: the Double fold rounded back
    * to f32 after every combine, bit-identical to f32 `+`/`*` (53 ≥ 2·24+2
    * makes the double rounding innocuous) and exact for max/min.
    */
  def floatFold(op: String): (Double, (Double, Double) => Double) = doubleFold(op) match {
    case (id, f) => (id, (a, b) => f(a, b).toFloat.toDouble)
  }
}
