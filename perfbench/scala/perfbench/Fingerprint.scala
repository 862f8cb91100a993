package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Full-result consumer for registry calls: one aggregate that reads every
  * output column. A plain `count()` would let Catalyst prune the columns no
  * row count needs and so time less work than a user gets.
  *
  * The fingerprint is the row count, an order-insensitive hash over the
  * columns whose values are exact, and for each floating-point column the
  * sum and the sum of magnitudes, compared within [[RelTol]] of the
  * magnitude because partial sums may merge in any order.
  */
object Fingerprint {
  val RelTol = 1e-6

  private def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => floating(e)
    case StructType(fs) => fs.exists(f => floating(f.dataType))
    case MapType(k, v, _) => floating(k) || floating(v)
    case _ => false
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The aggregate whose single row [[render]] turns into a fingerprint. */
  def of(df: DataFrame): DataFrame = {
    // positional names: registry outputs may repeat a column name
    val cols = df.columns.indices.map(i => s"c$i")
    val in = df.toDF(cols: _*)
    val exact = scala.collection.mutable.ArrayBuffer.empty[Column]
    val sums = scala.collection.mutable.ArrayBuffer.empty[Column]
    in.schema.fields.foreach { f =>
      val c = col(f.name)
      f.dataType match {
        case FloatType | DoubleType =>
          exact += c.isNull
          sums += c.cast("double")
        case ArrayType(FloatType | DoubleType, _) =>
          exact += size(c)
          sums += aggregate(c, lit(0.0), (a, x) => a + coalesce(x.cast("double"), lit(0.0)))
        case t if floating(t) || hasMap(t) =>
          // maps cannot be hashed; nested floats are compared as rendered text
          exact += to_json(struct(c))
        case _ => exact += c
      }
    }
    val h = if (exact.isEmpty) lit(0L) else xxhash64(exact.toSeq: _*)
    val aggs = Seq(count(lit(1)).as("rows"),
      sum(h.bitwiseAND(0xffffffffL)).as("h_lo"),
      sum(shiftrightunsigned(h, 32)).as("h_hi")) ++
      sums.zipWithIndex.flatMap { case (s, i) =>
        Seq(sum(s).as(s"s$i"), sum(abs(s)).as(s"a$i"))
      }
    in.agg(aggs.head, aggs.tail: _*)
  }

  /** `rows=<n>;h=<lo>:<hi>;f=<sum>/<abs>,...` */
  def render(r: Row): String = {
    def num(i: Int): String = if (r.isNullAt(i)) "null" else r.get(i).toString
    val fl = (3 until r.length by 2).map(i => s"${num(i)}/${num(i + 1)}")
    s"rows=${r.getLong(0)};h=${num(1)}:${num(2)};f=${fl.mkString(",")}"
  }

  /** Equal row count and hash; floating sums within tolerance. */
  def matches(expected: String, actual: String): Boolean = {
    def split(s: String) = s.split(";f=", -1) match {
      case Array(head, fl) => (head, if (fl.isEmpty) Array.empty[String] else fl.split(","))
      case _ => (s, Array.empty[String])
    }
    val (eh, ef) = split(expected)
    val (ah, af) = split(actual)
    eh == ah && ef.length == af.length && ef.zip(af).forall { case (e, a) =>
      (e.split("/"), a.split("/")) match {
        case (Array(es, ea), Array(as, aa)) if es != "null" && as != "null" =>
          val (x, y, mag) = (es.toDouble, as.toDouble, math.max(ea.toDouble, aa.toDouble))
          x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= RelTol * math.max(mag, 1.0)
        case (l, r) => l.sameElements(r)
      }
    }
  }
}
