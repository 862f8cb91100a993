package perfbench

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed call into the library: `build` constructs the DataFrame
  * (the `queries` layer), `consumer` wraps it in the full-result reader
  * whose plan is forced (`catalyst`) and collected (`exec`), and `verify`
  * returns an error message when the collected rows are wrong.
  */
final case class Call(name: String, family: String, group: String,
    build: () => DataFrame, consumer: DataFrame => DataFrame,
    verify: Array[Row] => Option[String])

/** A family of calls. With `boundary` set, each pass starts the family by
  * clearing every cache and checkpoint, re-caching the base tables and
  * running the family's `warm`; without it the calls run back to back. */
final case class Family(name: String, boundary: Boolean, warm: Option[() => Unit],
    calls: Seq[Call])

/** A named workload: its families in pass order and its input size. */
final case class Workload(name: String, families: Seq[Family], inputSize: String)

object Workloads {

  /** Registry queries of each registry workload, in call order.
    *
    * graph: `q_graph_hits` fires most of its jobs while it is built (one
    * checkpointed round after another); `q_graph_degree` reads the co-edge
    * table the graph `familyWarm` persists.
    *
    * dedup: the last four share the portable-minhash pair chain
    * (`Dedup.minhashPairsPortable`, persisted and found again by
    * CacheManager's plan matching); `q_dedup_minhash` is the
    * hashing-heavy one with its own signature persists.
    */
  val registry: Map[String, Seq[String]] = Map(
    "graph" -> Seq("q_graph_hits", "q_graph_degree"),
    "dedup" -> Seq("q_dedup_minhash", "q_dedup_minhash_md5", "q_dedup_components",
      "q_dedup_profile", "q_dedup_keep_best"))

  val TablesSize = "sf0.01 fixture tables (60,000 lineitem rows, 15,000 orders, " +
    "10,000 events, 2,000 parts, 1,500 customers, 500 documents, 500 embeddings; 1.9 MB)"

  def family(query: String): String = query.split("_")(1)

  /** A registry workload over the tables in `dir`; fingerprints are
    * compared with `expected` (a missing entry is a failure). */
  def registryWorkload(spark: SparkSession, name: String, dir: String,
      expected: Map[String, String], seen: scala.collection.mutable.Map[String, String]): Workload = {
    val calls = registry(name).map { q =>
      val fn = graft.SparkEntry.queries(q)
      Call(q, family(q), family(q), () => fn(spark, dir), Fingerprint.of, rows => {
        val got = Fingerprint.render(rows.head)
        seen(q) = got
        expected.get(q) match {
          case None => Some(s"no recorded fingerprint (got $got)")
          case Some(e) if !Fingerprint.matches(e, got) => Some(s"fingerprint $got, expected $e")
          case _ => None
        }
      })
    }
    val families = calls.map(_.family).distinct.map { f =>
      Family(f, boundary = true, graft.SparkEntry.familyWarm.get(f).map(w => () => w(spark, dir)),
        calls.filter(_.family == f))
    }
    Workload(name, families, s"${calls.size} registry queries over the $TablesSize")
  }

  // --- monoid: the reference's array_reduce_* UDAF in both tiers ---------

  /** `slice`: the first groups, checked against the posexplode + GROUP BY
    * pos reduction. */
  final case class Shape(name: String, rows: Long, groups: Long, width: Int, slice: Long)

  /** wide: few groups and long arrays, so the per-element fold dominates;
    * narrow: rows/4 groups of 4-element arrays, so per-group buffers,
    * partial-state serialisation and the shuffle dominate. */
  val shapes = Seq(Shape("wide", 262144, 16, 64, 2), Shape("narrow", 240000, 60000, 4, 64))
  val ops = Seq("sum", "product", "max", "min")
  /** sum and max fold the int column, product and min the double one. */
  def integral(op: String): Boolean = op == "sum" || op == "max"
  def column(op: String): String = if (integral(op)) "a_int" else "a_dbl"
  /** Relative tolerance between tiers and against the SQL reduction for
    * double results; integral results must match exactly. */
  val DoubleTol = 1e-9

  def inputView(s: Shape): String = s"monoid_${s.name}"

  private val schema = StructType(Seq(StructField("g", LongType, nullable = false),
    StructField("a_int", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("a_dbl", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Generates `monoid_<shape>` from the seed; row `id` draws from its own
    * generator, so the data does not depend on the partitioning. Integers
    * lie in [-1000, 1000], so no partial sum overflows and both tiers must
    * agree exactly whatever the merge order; doubles lie within 0.001 of 1,
    * so products stay finite. */
  def generateMonoidInputs(spark: SparkSession, seed: Long, partitions: Int): Unit =
    shapes.zipWithIndex.foreach { case (s, k) =>
      val rows = spark.sparkContext.range(0, s.rows, 1, partitions).map { id =>
        val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + k * 0x632BE59BD9B4E019L + id)
        Row(id % s.groups, Array.fill(s.width)(r.nextInt(2001) - 1000),
          Array.fill(s.width)(1.0 + (r.nextInt(2001) - 1000) / 1e6))
      }
      spark.createDataFrame(rows, schema).createOrReplaceTempView(inputView(s))
    }

  /** Per-group reference results on the first `slice` groups of each
    * shape, from posexplode + GROUP BY pos in plain SQL. */
  def monoidReference(spark: SparkSession): Map[(String, String), Map[Long, Seq[Any]]] = {
    def agg(op: String) = op match {
      case "sum" => "cast(sum(a_int) as int)"
      case "product" => "aggregate(collect_list(a_dbl), 1.0d, (a, y) -> a * y)"
      case _ => s"$op(${column(op)})"
    }
    shapes.flatMap { s =>
      val rows = spark.sql(
        s"""SELECT g, pos, ${ops.map(agg).mkString(", ")} FROM (
           |  SELECT g, pos, z.a_int AS a_int, z.a_dbl AS a_dbl
           |  FROM ${inputView(s)}
           |  LATERAL VIEW posexplode(arrays_zip(a_int, a_dbl)) t AS pos, z
           |  WHERE g < ${s.slice}) GROUP BY g, pos""".stripMargin).collect()
      ops.zipWithIndex.map { case (op, i) =>
        (s.name, op) -> rows.groupBy(_.getLong(0)).map { case (g, rs) =>
          g -> rs.sortBy(_.getInt(1)).map(_.get(2 + i)).toSeq
        }
      }
    }.toMap
  }

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= DoubleTol * math.max(math.max(math.abs(x), math.abs(y)), 1.0)
    case _ => a == b
  }

  private def same(a: Seq[Any], b: Seq[Any]): Boolean =
    a != null && b != null && a.length == b.length && a.indices.forall(i => close(a(i), b(i)))

  def monoidWorkload(spark: SparkSession): Workload = {
    val reference = monoidReference(spark)
    // Aggregator-tier result of the current pass, indexed by group, which
    // the native tier's call of the same pass must reproduce
    val partner = scala.collection.mutable.Map.empty[(String, String), Array[Seq[Any]]]
    val calls = for (s <- shapes; op <- ops; tier <- Seq("aggregator", "native")) yield {
      val fn = if (tier == "native") s"array_reduce_${op}_native"
        else s"array_reduce_${op}_${if (integral(op)) "int" else "double"}"
      val key = (s.name, op)
      Call(s"${s.name}.$fn(${column(op)})", "monoid", s"$tier.${s.name}",
        () => spark.sql(s"SELECT g, $fn(${column(op)}) AS r FROM ${inputView(s)} GROUP BY g"),
        identity, rows => {
          val got = new Array[Seq[Any]](s.groups.toInt)
          rows.foreach(r => got(r.getLong(0).toInt) = r.getSeq[Any](1))
          val err =
            if (rows.length != s.groups) Some(s"${rows.length} groups, expected ${s.groups}")
            else reference(key).collectFirst {
              case (g, w) if !same(got(g.toInt), w) =>
                s"group $g differs from the posexplode reduction: ${got(g.toInt).take(4)} vs ${w.take(4)}"
            }.orElse(if (tier == "native") partner.get(key).flatMap { want =>
              want.indices.find(g => !same(got(g), want(g))).map(g =>
                s"group $g: native ${got(g).take(4)} vs aggregator ${want(g).take(4)}")
            } else None)
          if (tier == "aggregator") partner(key) = got else partner.remove(key)
          err
        })
    }
    val size = shapes.map(s => s"${s.name} ${s.rows} rows, ${s.groups} groups, ${s.width}-element arrays")
    Workload("monoid", Seq(Family("monoid", boundary = false, None, calls)), size.mkString("; "))
  }
}
