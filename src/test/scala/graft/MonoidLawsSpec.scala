package graft

import graft.functions.Monoid
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests of the monoid laws — identity, associativity, and
  * split-invariance of the fold — on the `(identity, combine)` folds of
  * [[Monoid]] that `ArrayReduceAgg` runs. Associativity is the contract
  * that makes Spark's partial → shuffle → final aggregation correct at any
  * parallelism (SURVEY.md §5c); the reference relies on it implicitly via
  * `merge_batch` (reference src/monoid.rs:445-465).
  */
class MonoidLawsSpec extends AnyFunSuite {

  private type Fold[T] = (T, (T, T) => T)

  /** Run a ScalaCheck property under ScalaTest (scalatestplus bridge is not
    * on the offline classpath, so drive scalacheck's Test runner directly).
    */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def laws[T](name: String, m: Fold[T], gen: Gen[T],
      eq: (T, T) => Boolean = (a: T, b: T) => a == b,
      maxLen: Int = 100): Unit = {
    val (identity, combine) = m
    test(s"$name: identity") {
      check(forAll(gen) { a =>
        eq(combine(a, identity), a) && eq(combine(identity, a), a)
      })
    }
    test(s"$name: associativity") {
      check(forAll(gen, gen, gen) { (a, b, c) =>
        eq(combine(combine(a, b), c), combine(a, combine(b, c)))
      })
    }
    test(s"$name: split-invariance (any partitioning folds equal)") {
      val listGen = Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, gen))
      check(forAll(listGen, Gen.chooseNum(0, 100)) { (xs, cut0) =>
        val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
        val (l, r) = xs.splitAt(cut)
        val whole = xs.foldLeft(identity)(combine)
        val split = combine(
          l.foldLeft(identity)(combine),
          r.foldLeft(identity)(combine))
        eq(whole, split)
      })
    }
  }

  // Integer monoids: lawful everywhere EXCEPT saturating sum/product lose
  // associativity at the type bounds (as in the Rust reference — saturation
  // is a deliberate deviation from the pure monoid). Test int sum/product on
  // ranges where saturation cannot trigger, and the bounds behavior
  // separately in ArrayReduceSpec.
  private def int(op: String): Fold[Long] = Monoid.longFold(op, Int.MinValue, Int.MaxValue)
  private def long(op: String): Fold[Long] = Monoid.longFold(op, Long.MinValue, Long.MaxValue)
  laws("sumInt", int("sum"), Gen.chooseNum(-1000000L, 1000000L))
  // product lists capped at 8 elements: |v| <= 10 and n <= 8 keeps |prod| <=
  // 10^8 < Int.MaxValue, so saturation (which genuinely breaks
  // split-invariance for signed products: [10]*10 :+ -1 folds to -MaxValue
  // whole but MinValue split) cannot trigger — same caveat as the reference's
  // saturating_mul, covered separately in the bounds test below
  laws("productInt", int("product"), Gen.chooseNum(-10L, 10L), maxLen = 8)
  laws("sumLong", long("sum"), Gen.chooseNum(-1000000L, 1000000L))
  laws("maxInt (full range incl. bounds)", int("max"),
    Gen.chooseNum(Int.MinValue.toLong, Int.MaxValue.toLong))
  laws("minInt (full range incl. bounds)", int("min"),
    Gen.chooseNum(Int.MinValue.toLong, Int.MaxValue.toLong))
  laws("maxLong", long("max"), Gen.chooseNum(Long.MinValue, Long.MaxValue))
  laws("minByte", Monoid.longFold("min", Byte.MinValue, Byte.MaxValue),
    Gen.chooseNum(Byte.MinValue.toLong, Byte.MaxValue.toLong))
  laws("maxShort", Monoid.longFold("max", Short.MinValue, Short.MaxValue),
    Gen.chooseNum(Short.MinValue.toLong, Short.MaxValue.toLong))

  // Float max/min are exactly associative (no rounding); NaN excluded —
  // the reference's f32::max propagates NaN asymmetrically, same as JVM.
  laws("maxFloat", Monoid.floatFold("max"), Gen.chooseNum(-1e30f, 1e30f).map(_.toDouble))
  laws("minDouble", Monoid.doubleFold("min"), Gen.chooseNum(-1e300, 1e300))

  // u64 on the unsigned-Long carrier (a Long's bits read as unsigned):
  // lawful in non-saturating ranges; max/min over every bit pattern
  laws("sumU64", Monoid.u64Fold("sum"), Gen.chooseNum(0L, 1000000L))
  laws("maxU64 (full u64 range)", Monoid.u64Fold("max"),
    Gen.chooseNum(Long.MinValue, Long.MaxValue))
  laws("minU64 (full u64 range)", Monoid.u64Fold("min"),
    Gen.chooseNum(Long.MinValue, Long.MaxValue))

  private def unsigned(v: Long): BigInt = BigInt(java.lang.Long.toUnsignedString(v))
  private val maxU64 = BigInt(2).pow(64) - 1

  test("u64 saturation clamps exactly at [0, 2^64-1]") {
    def combine(op: String, a: BigInt, b: BigInt): BigInt =
      unsigned(Monoid.u64Fold(op)._2(a.longValue, b.longValue))
    assert(unsigned(-1L) == maxU64)
    assert(combine("sum", maxU64, 1) == maxU64)
    assert(combine("sum", maxU64 - 1, 1) == maxU64)
    assert(combine("product", maxU64, 2) == maxU64)
    assert(unsigned(Monoid.u64Fold("min")._1) == maxU64) // identity = u64::MAX
    assert(unsigned(Monoid.u64Fold("max")._1) == 0) // identity = u64::MIN
  }

  test("saturation clamps exactly at the Rust bounds") {
    assert(int("sum")._2(Int.MaxValue, 1) == Int.MaxValue)
    assert(int("sum")._2(Int.MinValue, -1) == Int.MinValue)
    assert(int("product")._2(Int.MaxValue, 2) == Int.MaxValue)
    assert(int("product")._2(Int.MaxValue, -2) == Int.MinValue)
    assert(int("product")._2(Int.MinValue, -1) == Int.MaxValue)
    assert(long("sum")._2(Long.MaxValue, 1L) == Long.MaxValue)
    assert(long("sum")._2(Long.MinValue, -1L) == Long.MinValue)
    assert(long("product")._2(Long.MaxValue, 2L) == Long.MaxValue)
    assert(long("product")._2(Long.MinValue, -1L) == Long.MaxValue)
    assert(Monoid.longFold("sum", Byte.MinValue, Byte.MaxValue)._2(127, 1) == 127)
    assert(Monoid.longFold("sum", Short.MinValue, Short.MaxValue)._2(Short.MinValue, -5) ==
      Short.MinValue)
  }

  // --- the op × type table against exact arithmetic: every integral
  // carrier × op, combine = BigInt arithmetic clamped to the carrier's
  // [lo, hi], on random in-range values and on lo, hi, 0, ±1 and 2 (hi × hi
  // overflows Long for u32 product, which must still give hi). Each
  // carrier is the fold ArrayReduceAgg runs for that element type; a
  // carrier value reads as a BigInt through `big` (unsigned for u64) ---
  private case class Carrier(name: String, m: String => Fold[Long],
      lo: BigInt, hi: BigInt, big: Long => BigInt = BigInt(_))

  private def ranged(name: String, lo: Long, hi: Long): Carrier =
    Carrier(name, Monoid.longFold(_, lo, hi), BigInt(lo), BigInt(hi))

  private val carriers = Seq(
    ranged("byte", Byte.MinValue, Byte.MaxValue),
    ranged("short", Short.MinValue, Short.MaxValue),
    ranged("int", Int.MinValue, Int.MaxValue),
    ranged("long", Long.MinValue, Long.MaxValue),
    ranged("u8", 0L, 255L),
    ranged("u16", 0L, 65535L),
    ranged("u32", 0L, 4294967295L),
    Carrier("u64", Monoid.u64Fold, 0, maxU64, unsigned))

  private def exactTable(c: Carrier, op: String): Unit =
    test(s"table: ${c.name} $op is exact arithmetic clamped to [${c.lo}, ${c.hi}]") {
      val (mIdentity, mCombine) = c.m(op)
      val (lo, hi) = (c.lo, c.hi)
      def exact(a: BigInt, b: BigInt): BigInt = {
        val v = op match {
          case "sum" => a + b
          case "product" => a * b
          case "max" => a.max(b)
          case "min" => a.min(b)
        }
        v.max(lo).min(hi)
      }
      val identity = op match {
        case "sum" => BigInt(0)
        case "product" => BigInt(1)
        case "max" => lo
        case "min" => hi
      }
      assert(c.big(mIdentity) == identity)
      def agrees(a: Long, b: Long): Boolean =
        c.big(mCombine(a, b)) == exact(c.big(a), c.big(b))
      // carrier values of lo, hi, 0, ±1, 2 and, for u64, 2^63 and 2^63 - 1
      val specials = (Seq(lo, hi, BigInt(0), BigInt(-1), BigInt(1), BigInt(2)) ++
          (if (c.name == "u64") Seq(BigInt(1) << 63, (BigInt(1) << 63) - 1) else Nil))
        .filter(v => v >= lo && v <= hi).map(_.longValue)
      for (a <- specials; b <- specials)
        assert(agrees(a, b), s"${c.name} $op(${c.big(a)}, ${c.big(b)})")
      // u64: every Long bit pattern is a u64 value
      val gen = Gen.oneOf(Gen.oneOf(specials),
        if (c.name == "u64") Gen.chooseNum(Long.MinValue, Long.MaxValue)
        else Gen.chooseNum(lo.longValue, hi.longValue))
      check(forAll(gen, gen)(agrees))
    }
  for (c <- carriers; op <- Monoid.ops) exactTable(c, op)

  // --- floatFold(op) folds in Double and rounds back: bit-identical to f32 ---
  private def sameFloat(x: Float, y: Float): Boolean =
    if (x.isNaN) y.isNaN
    else java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)

  private val floatSpecials = Seq(0.0f, -0.0f, Float.MinPositiveValue,
    -Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.NaN, 1.0f, -1.0f)

  for (op <- Monoid.ops)
    test(s"table: float $op is bit-identical to f32 arithmetic") {
      val combine = Monoid.floatFold(op)._2
      def folded(a: Float, b: Float): Float = combine(a.toDouble, b.toDouble).toFloat
      val direct: (Float, Float) => Float = op match {
        case "sum" => _ + _
        case "product" => _ * _
        case "max" => math.max
        case "min" => math.min
      }
      for (a <- floatSpecials; b <- floatSpecials)
        assert(sameFloat(folded(a, b), direct(a, b)), s"$op($a, $b)")
      // random bit patterns; pairs whose exponents lie within 30 of each
      // other (a sum then rounds one into the other's mantissa); pairs of
      // moderate exponents (a product then lands in the normal or subnormal
      // range instead of overflowing)
      val rnd = new scala.util.Random(42)
      def bits(): Float = java.lang.Float.intBitsToFloat(rnd.nextInt())
      def withExp(e: Int): Float = java.lang.Float.intBitsToFloat(
        (rnd.nextInt() & 0x807fffff) | (math.max(0, math.min(254, e)) << 23))
      def exp(x: Float): Int = (java.lang.Float.floatToRawIntBits(x) >>> 23) & 0xff
      for (_ <- 0 until 200000) {
        val (a, b) = rnd.nextInt(3) match {
          case 0 => (bits(), bits())
          case 1 => val x = bits(); (x, withExp(exp(x) + rnd.nextInt(61) - 30))
          case _ => (withExp(64 + rnd.nextInt(127)), withExp(64 + rnd.nextInt(127)))
        }
        assert(sameFloat(folded(a, b), direct(a, b)), s"$op($a, $b)")
      }
    }
}
