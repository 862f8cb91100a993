package graft

import graft.functions.Monoid
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests of the monoid laws — identity, associativity, and
  * split-invariance of the fold. Associativity is the contract that makes
  * Spark's partial → shuffle → final aggregation of [[ArrayMonoidReduce]]
  * correct at any parallelism (SURVEY.md §5c); the reference relies on it
  * implicitly via `merge_batch` (reference src/monoid.rs:445-465).
  */
class MonoidLawsSpec extends AnyFunSuite {

  /** Run a ScalaCheck property under ScalaTest (scalatestplus bridge is not
    * on the offline classpath, so drive scalacheck's Test runner directly).
    */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def laws[T](name: String, m: Monoid[T], gen: Gen[T],
      eq: (T, T) => Boolean = (a: T, b: T) => a == b,
      maxLen: Int = 100): Unit = {
    test(s"$name: identity") {
      check(forAll(gen) { a =>
        eq(m.combine(a, m.identity), a) && eq(m.combine(m.identity, a), a)
      })
    }
    test(s"$name: associativity") {
      check(forAll(gen, gen, gen) { (a, b, c) =>
        eq(m.combine(m.combine(a, b), c), m.combine(a, m.combine(b, c)))
      })
    }
    test(s"$name: split-invariance (any partitioning folds equal)") {
      val listGen = Gen.choose(0, maxLen).flatMap(n => Gen.listOfN(n, gen))
      check(forAll(listGen, Gen.chooseNum(0, 100)) { (xs, cut0) =>
        val cut = if (xs.isEmpty) 0 else cut0 % (xs.length + 1)
        val (l, r) = xs.splitAt(cut)
        val whole = xs.foldLeft(m.identity)(m.combine)
        val split = m.combine(
          l.foldLeft(m.identity)(m.combine),
          r.foldLeft(m.identity)(m.combine))
        eq(whole, split)
      })
    }
  }

  // Integer monoids: lawful everywhere EXCEPT saturating sum/product lose
  // associativity at the type bounds (as in the Rust reference — saturation
  // is a deliberate deviation from the pure monoid). Test int sum/product on
  // ranges where saturation cannot trigger, and the bounds behavior
  // separately in ArrayReduceSpec.
  laws("sumInt", Monoid.int("sum"), Gen.chooseNum(-1000000, 1000000))
  // product lists capped at 8 elements: |v| <= 10 and n <= 8 keeps |prod| <=
  // 10^8 < Int.MaxValue, so saturation (which genuinely breaks
  // split-invariance for signed products: [10]*10 :+ -1 folds to -MaxValue
  // whole but MinValue split) cannot trigger — same caveat as the reference's
  // saturating_mul, covered separately in the bounds test below
  laws("productInt", Monoid.int("product"), Gen.chooseNum(-10, 10), maxLen = 8)
  laws("sumLong", Monoid.long("sum"), Gen.chooseNum(-1000000L, 1000000L))
  laws("maxInt (full range incl. bounds)", Monoid.int("max"), Gen.chooseNum(Int.MinValue, Int.MaxValue))
  laws("minInt (full range incl. bounds)", Monoid.int("min"), Gen.chooseNum(Int.MinValue, Int.MaxValue))
  laws("maxLong", Monoid.long("max"), Gen.chooseNum(Long.MinValue, Long.MaxValue))
  laws("minByte", Monoid.byte("min"), Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
  laws("maxShort", Monoid.short("max"), Gen.chooseNum(Short.MinValue, Short.MaxValue))

  // Float max/min are exactly associative (no rounding); NaN excluded —
  // the reference's f32::max propagates NaN asymmetrically, same as JVM.
  laws("maxFloat", Monoid.float("max"), Gen.chooseNum(-1e30f, 1e30f))
  laws("minDouble", Monoid.double("min"), Gen.chooseNum(-1e300, 1e300))

  // u64 on the BigDecimal carrier: lawful in non-saturating ranges, exact
  laws("sumU64", Monoid.u64("sum"),
    Gen.chooseNum(0L, 1000000L).map(BigDecimal(_)))
  laws("maxU64 (full u64 range)", Monoid.u64("max"),
    Gen.chooseNum(0L, Long.MaxValue).map(v => BigDecimal(v) * 2))
  laws("minU64 (full u64 range)", Monoid.u64("min"),
    Gen.chooseNum(0L, Long.MaxValue).map(v => BigDecimal(v) * 2))

  test("u64 saturation clamps exactly at [0, 2^64-1]") {
    val max = Monoid.maxU64Value
    assert(Monoid.u64("sum").combine(max, BigDecimal(1)) == max)
    assert(Monoid.u64("sum").combine(max - 1, BigDecimal(1)) == max)
    assert(Monoid.u64("product").combine(max, BigDecimal(2)) == max)
    assert(Monoid.u64("min").identity == max) // identity = u64::MAX
    assert(Monoid.u64("max").identity == BigDecimal(0)) // identity = u64::MIN
  }

  test("saturation clamps exactly at the Rust bounds") {
    assert(Monoid.int("sum").combine(Int.MaxValue, 1) == Int.MaxValue)
    assert(Monoid.int("sum").combine(Int.MinValue, -1) == Int.MinValue)
    assert(Monoid.int("product").combine(Int.MaxValue, 2) == Int.MaxValue)
    assert(Monoid.int("product").combine(Int.MaxValue, -2) == Int.MinValue)
    assert(Monoid.int("product").combine(Int.MinValue, -1) == Int.MaxValue)
    assert(Monoid.long("sum").combine(Long.MaxValue, 1L) == Long.MaxValue)
    assert(Monoid.long("sum").combine(Long.MinValue, -1L) == Long.MinValue)
    assert(Monoid.long("product").combine(Long.MaxValue, 2L) == Long.MaxValue)
    assert(Monoid.long("product").combine(Long.MinValue, -1L) == Long.MaxValue)
    assert(Monoid.byte("sum").combine(127.toByte, 1.toByte) == 127.toByte)
    assert(Monoid.short("sum").combine(Short.MinValue, (-5).toShort) == Short.MinValue)
  }

  // --- the op × type table against exact arithmetic: every integral
  // carrier × op, combine = BigInt arithmetic clamped to the carrier's
  // [lo, hi], on random in-range values and on lo, hi, 0, ±1 and 2 (hi × hi
  // overflows Long for u32 product, which must still give hi) ---
  private case class Carrier[T](name: String, m: String => Monoid[T],
      lo: Long, hi: Long, of: Long => T, big: T => BigInt)

  private val carriers = Seq(
    Carrier[Byte]("byte", Monoid.byte, Byte.MinValue, Byte.MaxValue, _.toByte, BigInt(_)),
    Carrier[Short]("short", Monoid.short, Short.MinValue, Short.MaxValue, _.toShort, BigInt(_)),
    Carrier[Int]("int", Monoid.int, Int.MinValue, Int.MaxValue, _.toInt, BigInt(_)),
    Carrier[Long]("long", Monoid.long, Long.MinValue, Long.MaxValue, identity, BigInt(_)),
    Carrier[Int]("u8", Monoid.u8, 0L, 255L, _.toInt, BigInt(_)),
    Carrier[Int]("u16", Monoid.u16, 0L, 65535L, _.toInt, BigInt(_)),
    Carrier[Long]("u32", Monoid.u32, 0L, 4294967295L, identity, BigInt(_)))

  private def exactTable[T](c: Carrier[T], op: String): Unit =
    test(s"table: ${c.name} $op is exact arithmetic clamped to [${c.lo}, ${c.hi}]") {
      val m = c.m(op)
      val (lo, hi) = (BigInt(c.lo), BigInt(c.hi))
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
      assert(c.big(m.identity) == identity)
      assert(m.name == op)
      def agrees(a: Long, b: Long): Boolean =
        c.big(m.combine(c.of(a), c.of(b))) == exact(BigInt(a), BigInt(b))
      val specials = Seq(c.lo, c.hi, 0L, -1L, 1L, 2L).filter(v => v >= c.lo && v <= c.hi)
      for (a <- specials; b <- specials)
        assert(agrees(a, b), s"${c.name} $op($a, $b)")
      val gen = Gen.oneOf(Gen.oneOf(specials), Gen.chooseNum(c.lo, c.hi))
      check(forAll(gen, gen)(agrees))
    }
  for (c <- carriers; op <- Monoid.ops) exactTable(c, op)

  // --- float(op) folds in Double and rounds back: bit-identical to f32 ---
  private def sameFloat(x: Float, y: Float): Boolean =
    if (x.isNaN) y.isNaN
    else java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)

  private val floatSpecials = Seq(0.0f, -0.0f, Float.MinPositiveValue,
    -Float.MinPositiveValue, Float.MaxValue, -Float.MaxValue,
    Float.PositiveInfinity, Float.NegativeInfinity, Float.NaN, 1.0f, -1.0f)

  for (op <- Monoid.ops)
    test(s"table: float $op is bit-identical to f32 arithmetic") {
      val m = Monoid.float(op)
      val direct: (Float, Float) => Float = op match {
        case "sum" => _ + _
        case "product" => _ * _
        case "max" => math.max
        case "min" => math.min
      }
      for (a <- floatSpecials; b <- floatSpecials)
        assert(sameFloat(m.combine(a, b), direct(a, b)), s"$op($a, $b)")
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
        assert(sameFloat(m.combine(a, b), direct(a, b)), s"$op($a, $b)")
      }
    }
}
