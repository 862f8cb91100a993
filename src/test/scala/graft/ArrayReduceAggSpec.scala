package graft

import graft.functions.{ArrayReduceAgg, Monoid}
import graft.sources.Tables
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DecimalType}

/** Pins the one `array_reduce_*` engine, the TypedImperativeAggregate
  * [[ArrayReduceAgg]], against the test model `ArrayMonoidReduce` (an
  * Aggregator, registered as `model_array_reduce_*`), and covers the
  * unsigned element types.
  */
class ArrayReduceAggSpec extends SparkSpec {
  import spark.implicits._

  private def sql1(q: String): Seq[Any] = {
    Tables.load(spark, sfDir)
    spark.sql(q).collect()(0).getSeq[Any](0)
  }

  test("native sum/product/max/min equal the Aggregator family (int)") {
    Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, null, 6), null)
      .toDF("arrays").createOrReplaceTempView("t_native")
    for (op <- Seq("sum", "product", "max", "min")) {
      val r = spark.sql(s"SELECT array_reduce_${op}_native(arrays), " +
        s"array_reduce_$op(arrays), model_array_reduce_$op(arrays) FROM t_native")
        .collect()(0)
      val (native, default, model) = (r.getSeq[Int](0), r.getSeq[Int](1), r.getSeq[Int](2))
      assert(native == model, s"op=$op")
      assert(default == model, s"op=$op")
    }
  }

  test("native: empty input yields empty array; truncation; saturation") {
    Seq.empty[Seq[Integer]].toDF("arrays").createOrReplaceTempView("t_empty")
    assert(sql1("SELECT array_reduce_sum_native(arrays) FROM t_empty") == Seq())

    Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6, 7)).toDF("arrays")
      .createOrReplaceTempView("t_trunc")
    assert(sql1("SELECT array_reduce_sum_native(arrays) FROM t_trunc") == Seq(5, 7, 9))

    Seq(Seq[Integer](Int.MaxValue), Seq[Integer](1)).toDF("arrays")
      .createOrReplaceTempView("t_sat")
    assert(sql1("SELECT array_reduce_sum_native(arrays) FROM t_sat") == Seq(Int.MaxValue))
  }

  test("native over long and double element types") {
    Seq(Seq(1L, Long.MaxValue), Seq(2L, 1L)).toDF("arrays")
      .createOrReplaceTempView("t_long")
    assert(sql1("SELECT array_reduce_sum_native(arrays) FROM t_long")
      == Seq(3L, Long.MaxValue))

    Seq(Seq(1.5, 2.0), Seq(0.5, 3.0)).toDF("arrays")
      .createOrReplaceTempView("t_dbl")
    assert(sql1("SELECT array_reduce_max_native(arrays) FROM t_dbl") == Seq(1.5, 3.0))
  }

  test("native multi-partition merge across a shuffle") {
    val batch = Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6), Seq[Integer](100, 100, 100))
    (batch ++ batch ++ batch).toDF("arrays").repartition(3)
      .createOrReplaceTempView("t_parts")
    assert(sql1("SELECT array_reduce_sum_native(arrays) FROM t_parts")
      == Seq(315, 321, 327))
  }

  // Wide rows stress the per-element fold of the engine (ArrayData) and of
  // the model (a linked List). Sums, maxima and
  // minima use mixed-sign ints that never overflow, except slot 0, which
  // is positive so its saturation does not depend on merge order; the
  // product column stays in {-1, 1, 2} for the same reason.
  test("wide arrays with null elements: tiers agree across 4 partitions") {
    val w = 512
    val rows = (0 until 64).map { i =>
      def isNull(j: Int) = (i * 31 + j) % 11 == 0
      val a = (0 until w).map { j =>
        if (isNull(j)) None
        else if (j == 0) Some(Int.MaxValue / 3)
        else Some((i * 7919 + j * 104729) % 2001 - 1000)
      }
      val p = (0 until w).map { j =>
        if (isNull(j)) None
        else if (j == 0) Some(1000)
        else if (i % 16 == j % 16) Some(2)
        else if ((i + j) % 13 == 0) Some(-1)
        else Some(1)
      }
      val d = (0 until w).map { j =>
        if (isNull(j)) None
        else Some(1.0 + ((i * 37 + j * 11) % 2001 - 1000) * 1e-6)
      }
      (a, p, d)
    }
    val df = rows.toDF("a", "p", "d").repartition(4)
    assert(df.rdd.getNumPartitions == 4)
    df.createOrReplaceTempView("t_wide")
    // (native, the typed name, the model of the typed name)
    def engines[T](op: String, c: String, suffix: String): (Seq[T], Seq[T], Seq[T]) = {
      val r = spark.sql(s"SELECT array_reduce_${op}_native($c), " +
        s"array_reduce_${op}_$suffix($c), model_array_reduce_${op}_$suffix($c) " +
        "FROM t_wide").collect()(0)
      (r.getSeq[T](0), r.getSeq[T](1), r.getSeq[T](2))
    }
    for ((op, c) <- Seq("sum" -> "a", "product" -> "p", "max" -> "a", "min" -> "a")) {
      val (native, typed, model) = engines[Int](op, c, "int")
      assert(native.length == w, s"op=$op")
      assert(native == model, s"op=$op")
      assert(typed == model, s"op=$op")
      if (op == "sum" || op == "product")
        assert(native.head == Int.MaxValue, s"op=$op slot 0 saturates")
    }
    for (op <- Seq("sum", "product", "max", "min")) {
      val (native, typed, model) = engines[Double](op, "d", "double")
      assert(native.length == w, s"op=$op")
      for ((name, got) <- Seq("native" -> native, "double" -> typed))
        got.zip(model).zipWithIndex.foreach { case ((n, g), j) =>
          assert(math.abs(n - g) <= 1e-9 * math.max(1.0, math.abs(g)),
            s"op=$op slot $j: $name $n vs model $g")
        }
    }
  }

  // Every slot folds a different order of the type's min, max, -1, 0, 1
  // and 2, so each op saturates at both bounds somewhere. One partition
  // fixes the fold order, which saturating sum/product depend on; both
  // tiers must equal the same row-order fold of exact arithmetic clamped
  // after every step.
  test("native equals the Aggregator family at the byte and short bounds") {
    def check[T](suffix: String, lo: Long, hi: Long, rows: Seq[Seq[T]])(
        view: Seq[Seq[T]] => org.apache.spark.sql.DataFrame): Unit = {
      view(rows).coalesce(1).createOrReplaceTempView(s"t_bounds_$suffix")
      for (op <- Monoid.ops) {
        val r = spark.sql(s"SELECT array_reduce_${op}_native(arrays), " +
          s"array_reduce_${op}_$suffix(arrays), model_array_reduce_${op}_$suffix(arrays) " +
          s"FROM t_bounds_$suffix").collect()(0)
        val (native, typed, agg) = (r.getSeq[T](0), r.getSeq[T](1), r.getSeq[T](2))
        val expected = rows.transpose.map(_.map(v => BigInt(v.toString))
          .foldLeft(op match {
            case "sum" => BigInt(0)
            case "product" => BigInt(1)
            case "max" => BigInt(lo)
            case "min" => BigInt(hi)
          }) { (acc, v) =>
            val x = op match {
              case "sum" => acc + v
              case "product" => acc * v
              case "max" => acc.max(v)
              case "min" => acc.min(v)
            }
            x.max(BigInt(lo)).min(BigInt(hi))
          })
        assert(native == agg, s"$suffix op=$op")
        assert(typed == agg, s"$suffix op=$op")
        assert(native.map(v => BigInt(v.toString)) == expected, s"$suffix op=$op")
      }
    }
    def rows(vs: Seq[Long]): Seq[Seq[Long]] =
      (0 until 8).map(i => (0 until 12).map(j => vs((i * (1 + j / 6) + j) % vs.length)))
    check[Byte]("byte", Byte.MinValue, Byte.MaxValue,
      rows(Seq(Byte.MinValue, Byte.MaxValue, -1, 0, 1, 2)).map(_.map(_.toByte)))(_.toDF("arrays"))
    check[Short]("short", Short.MinValue, Short.MaxValue,
      rows(Seq(Short.MinValue, Short.MaxValue, -1, 0, 1, 2)).map(_.map(_.toShort)))(_.toDF("arrays"))
  }

  test("native GROUP BY + Column API") {
    val df = Seq(("a", Seq(1, 2)), ("a", Seq(10, 20)), ("b", Seq(5, 5))).toDF("k", "arrays")
    val got = df.groupBy(col("k"))
      .agg(ArrayReduceAgg.arrayReduce("sum", col("arrays")).as("s"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getSeq[Int](1)))
    assert(got.toSeq == Seq(("a", Seq(11, 22)), ("b", Seq(5, 5))))
  }

  test("unsigned emulation: u8/u16/u32 clamping and identities") {
    Seq(Seq[Integer](250, 100, 3), Seq[Integer](10, 200, 4)).toDF("arrays")
      .createOrReplaceTempView("t_u8")
    assert(sql1("SELECT array_reduce_sum_u8(arrays) FROM t_u8") == Seq(255, 255, 7))
    assert(sql1("SELECT array_reduce_product_u8(arrays) FROM t_u8") == Seq(255, 255, 12))
    assert(sql1("SELECT array_reduce_min_u8(arrays) FROM t_u8") == Seq(10, 100, 3))
    assert(sql1("SELECT array_reduce_max_u8(arrays) FROM t_u8") == Seq(250, 200, 4))

    Seq(Seq[Integer](65530, 0, 300), Seq[Integer](10, 7, 300)).toDF("arrays")
      .createOrReplaceTempView("t_u16")
    Seq(Seq(4294967290L, 7L), Seq(10L, 8L)).toDF("arrays")
      .createOrReplaceTempView("t_u32")
    assert(sql1("SELECT array_reduce_sum_u32(arrays) FROM t_u32")
      == Seq(4294967295L, 15L))
    // the engine equals the model on every op of the three range types
    for ((elem, view) <- Seq("u8" -> "t_u8", "u16" -> "t_u16", "u32" -> "t_u32");
         op <- Monoid.ops) {
      val r = spark.sql(s"SELECT array_reduce_${op}_$elem(arrays), " +
        s"model_array_reduce_${op}_$elem(arrays) FROM $view").collect()(0)
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"$elem op=$op")
    }
  }

  test("u64: unsigned fold on decimal(20,0), saturating at 2^64-1, clamped on read") {
    val max = BigInt("18446744073709551615")
    def u64(op: String, rows: Seq[Seq[BigInt]], view: String): (Seq[BigInt], Seq[BigInt]) = {
      rows.map(_.map(v => BigDecimal(v).bigDecimal)).toDF("arrays").coalesce(1)
        .createOrReplaceTempView(view)
      val df = spark.sql(s"SELECT array_reduce_${op}_u64(arrays), " +
        s"model_array_reduce_${op}_u64(arrays) FROM $view")
      assert(df.schema.head.dataType == ArrayType(DecimalType(20, 0), containsNull = false))
      val r = df.collect()(0)
      def big(i: Int) = r.getSeq[java.math.BigDecimal](i).map(d => BigInt(d.toBigIntegerExact))
      (big(0), big(1))
    }
    val rows = Seq(
      Seq(max - 5, BigInt(4294967296L), BigInt(0), max, BigInt(7)),
      Seq(BigInt(5), BigInt(4294967296L), BigInt(1), BigInt(1), BigInt(1) << 63),
      Seq(BigInt(9), BigInt(3), max, BigInt(2), BigInt(3)))
    // unsigned carry, unsigned high word, and max/min over the top bit
    val expected = Map(
      "sum" -> Seq(max, BigInt(8589934595L), max, max, (BigInt(1) << 63) + 10),
      "product" -> Seq(max, max, BigInt(0), max, max),
      "max" -> Seq(max - 5, BigInt(4294967296L), max, max, BigInt(1) << 63),
      "min" -> Seq(BigInt(5), BigInt(3), BigInt(0), BigInt(1), BigInt(3)))
    for (op <- Monoid.ops) {
      val (engine, model) = u64(op, rows, "t_u64")
      assert(engine == expected(op), s"op=$op")
      assert(engine == model, s"op=$op")
    }
    // an element outside [0, 2^64-1] is clamped when read: -5 reads as 0
    // and 10^20 - 1 as 2^64-1, so the engine differs from the model, which
    // folds the raw value
    val out = Seq(Seq(BigInt(3), BigInt(1)), Seq(BigInt(-5), BigInt(10).pow(20) - 1))
    assert(u64("sum", out, "t_u64_out")._1 == Seq(BigInt(3), max))
    assert(u64("max", out, "t_u64_out")._1 == Seq(BigInt(3), max))
    assert(u64("min", out, "t_u64_out")._1 == Seq(BigInt(0), BigInt(1)))
    // a numeric array of another type is cast to decimal(20,0)
    assert(sql1("SELECT array_reduce_sum_u64(arrays) FROM VALUES " +
      "(array(1, 2)), (array(3, 4)) AS t(arrays)")
      .map(d => BigInt(d.asInstanceOf[java.math.BigDecimal].toBigIntegerExact)) ==
      Seq(BigInt(4), BigInt(6)))
  }

  private val names: Seq[String] = ArrayReduceAgg.sqlBuilders.map(_._1)

  test("one engine: every array_reduce_* name plans ArrayReduceAgg, no ScalaAggregator") {
    assert(names.size == 48 && names.distinct.size == 48)
    Seq(Seq(1, 2), Seq(3, 4)).toDF("arr").createOrReplaceTempView("t_names")
    for (name <- names) {
      val df = spark.sql(s"SELECT $name(arr) FROM t_names")
      val exprs = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e => e
      }))
      assert(exprs.exists {
        case a: ArrayReduceAgg => a.prettyName == name
        case _ => false
      }, name)
      assert(!exprs.exists(_.getClass.getSimpleName == "ScalaAggregator"), name)
      // prettyName is the registered name, so un-aliased columns keep it
      assert(df.columns.toSeq == Seq(s"$name(arr)"), name)
    }
  }

  test("native rejects non-numeric element types with a clear error") {
    Seq(Seq("a", "b")).toDF("arrays").createOrReplaceTempView("t_str")
    val ex = intercept[Exception] {
      spark.sql("SELECT array_reduce_sum_native(arrays) FROM t_str").collect()
    }
    assert(ex.getMessage.contains("unsupported element type") ||
      ex.getMessage.contains("array<numeric>"))
    // every name, the reference-named ones included, fails at analysis
    // (no job runs), naming the function
    for (name <- names) {
      val ex = intercept[AnalysisException](spark.sql(s"SELECT $name(arrays) FROM t_str"))
      assert(ex.getMessage.contains(name), s"$name: ${ex.getMessage}")
    }
  }

  test("GraftExtensions injects the native aggregates at the standard " +
      "spark.sql.extensions seam") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    // what session bootstrap does with spark.sql.extensions: first against
    // a clone (pure registration check, live session untouched)…
    import org.apache.spark.sql.graftshim.GraftShim
    val live = GraftShim.functionRegistry(spark)
    val cloned = live.clone()
    GraftShim.applyExtensionFunctions(ext, cloned)
    names.foreach { name =>
      assert(cloned.functionExists(FunctionIdentifier(name)),
        s"extension must register $name")
    }
    // …then end-to-end through SQL on the live registry
    GraftShim.applyExtensionFunctions(ext, live)
    for (name <- Seq("array_reduce_sum_native", "array_reduce_sum")) {
      val got = spark.sql(
        s"SELECT $name(arr) AS r FROM VALUES" +
          " (array(1, 2)), (array(3, 4)) AS t(arr)")
        .collect().head.getSeq[Int](0)
      assert(got == Seq(4, 6), name)
    }
  }

  test("SQL builders reject a wrong argument count, naming the function") {
    // all 48 array_reduce_* names (registered per session and injected by
    // GraftExtensions) and the 3 SimHash scalars; each 2-argument call is
    // well-typed, so only the arity check can reject it
    val twoArgs = names.map(_ -> "array(1), array(2)") ++
      Seq("simhash64" -> "array('a'), array('b')",
        "rolling_hash64" -> "array('a'), array('b')",
        "fnv64" -> "'a', 'b'")
    for ((name, two) <- twoArgs; args <- Seq("", two)) {
      val ex = intercept[Exception](spark.sql(s"SELECT $name($args)").collect())
      assert(ex.getMessage.contains("WRONG_NUM_ARGS") &&
        ex.getMessage.contains(name), s"$name($args): ${ex.getMessage}")
    }
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.graftshim.GraftShim
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val registry = GraftShim.functionRegistry(spark).clone()
    GraftShim.applyExtensionFunctions(ext, registry)
    names.foreach { name =>
      val ex = intercept[Exception](
        registry.lookupFunction(FunctionIdentifier(name), Seq.empty))
      assert(ex.getMessage.contains(name), ex.getMessage)
    }
  }

  // max and min are exact in any width, so the f32 engine must equal the
  // model's double fold of the same floats.
  test("native matches Aggregator on real embeddings (floats in double fold ≈)") {
    Tables.load(spark, sfDir)
    for (op <- Seq("max", "min")) {
      val rows = spark.sql(s"SELECT label, array_reduce_${op}_native(embedding), " +
        s"model_array_reduce_${op}_double(CAST(embedding AS array<double>)) " +
        "FROM embeddings GROUP BY label ORDER BY label").collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Float](1) == r.getSeq[Double](2).map(_.toFloat),
          s"op=$op label=${r.get(0)}")
      }
    }
  }

  // One partition fixes the fold order, so the f32 folds of the native and
  // `_float` names (rounded to f32 after every combine) must reproduce the
  // model's f32 arithmetic bit for bit.
  test("native and _float names are bit-equal to the model's f32 folds on real embeddings") {
    spark.read.parquet(s"$sfDir/embeddings.parquet").coalesce(1)
      .createOrReplaceTempView("t_emb1")
    def bits(r: org.apache.spark.sql.Row, i: Int): Seq[Int] =
      r.getSeq[Float](i).map(java.lang.Float.floatToIntBits)
    for (op <- Monoid.ops) {
      val rows = spark.sql(s"SELECT label, array_reduce_${op}_native(embedding), " +
        s"array_reduce_${op}_float(embedding), model_array_reduce_${op}_float(embedding) " +
        "FROM t_emb1 GROUP BY label").collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[Float](3).length == 64, s"op=$op")
        assert(bits(r, 1) == bits(r, 3), s"op=$op label=${r.get(0)}: native vs model")
        assert(bits(r, 2) == bits(r, 3), s"op=$op label=${r.get(0)}: _float vs model")
      }
    }
  }
}
