package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash computation shared by interpreted eval and generated code.
  * Charikar's similarity-preserving fingerprint (STOC 2002, "Similarity
  * estimation techniques from rounding algorithms"): hash each token to 64
  * bits, per-bit majority vote weighted ±1, sign of each vote is the output
  * bit. Near-duplicate documents land within a small Hamming distance.
  */
object SimHashUtil {

  /** FNV-1a 64-bit over UTF-8 bytes with a final avalanche mix. Chosen over
    * JVM String.hashCode for full 64-bit dispersion; stable public
    * algorithm, no engine dependency.
    */
  def hash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    // fmix64 (murmur3 finalizer) to break FNV's weak low bits
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** 64-bit simhash of a string array (null elements skipped). */
  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = hash64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Catalyst expression: `simhash64(array<string>) -> long`. Codegen emits a
  * direct static call (no boxing, stays inside whole-stage codegen), the
  * preferred extension tier after built-in composition (builder prompt:
  * native Expression with doGenCode beats a Scala UDF).
  */
case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    SimHashUtil.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash {
  /** Column-level API. */
  def simhash64(tokens: Column): Column =
    GraftShim.column(SimHash(GraftShim.expression(tokens)))

  /** Column-level scalar: engine-free FNV-1a 64-bit of a string (the hash
    * under simhash/rolling-hash/count-min; exposed for bucket/partition
    * derivations that must match those sketches).
    */
  def fnv64(s: Column): Column =
    GraftShim.column(Fnv64(GraftShim.expression(s)))

  /** Register `simhash64` + `rolling_hash64` + `fnv64` for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftShim.registerFunction(spark, "simhash64",
      GraftShim.unary("simhash64")(SimHash(_)))
    GraftShim.registerFunction(spark, "rolling_hash64",
      GraftShim.unary("rolling_hash64")(RollingHash(_)))
    GraftShim.registerFunction(spark, "fnv64",
      GraftShim.unary("fnv64")(Fnv64(_)))
  }
}

/** Catalyst expression: `fnv64(string) -> long` (codegen'd static call,
  * same tier as [[SimHash]]).
  */
case class Fnv64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "fnv64"

  override def nullSafeEval(v: Any): Any =
    SimHashUtil.hash64(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashUtil.hash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashUtil {
  /** Polynomial (Rabin-Karp) rolling hash of a token sequence in wrapping
    * 64-bit arithmetic: `h = Σ hash64(tok_i) · B^(n-1-i)`. Order-SENSITIVE —
    * unlike set-based fingerprints, reordered documents hash differently —
    * and incrementally updatable (`h' = h·B + hash64(tok)`), the property
    * content-defined chunking and streaming fingerprinters rely on.
    */
  val B = 0x100000001b3L // FNV prime as the polynomial base

  def rollingHash64(arr: ArrayData): Long = {
    var h = 0L
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      h = h * B + (if (arr.isNullAt(i)) 0L else SimHashUtil.hash64(arr.getUTF8String(i)))
      i += 1
    }
    h
  }
}

/** Catalyst expression: `rolling_hash64(array<string>) -> long` (codegen'd
  * static call, same tier as [[SimHash]]).
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"

  override def nullSafeEval(v: Any): Any =
    RollingHashUtil.rollingHash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashUtil.rollingHash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  def rollingHash64(tokens: Column): Column =
    GraftShim.column(RollingHash(GraftShim.expression(tokens)))
}
