package graft

import graft.functions.{ArrayMonoidReduce, MonoidOp}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Port of the reference's four integration tests (reference
  * `src/monoid.rs:538-753`) plus the coverage gaps the reference leaves open
  * (SURVEY.md §5): product/max/min, non-Int32 element types, GROUP BY, null
  * rows/elements, empty input, and a forced multi-partition merge across a
  * real shuffle.
  */
class ArrayReduceSpec extends SparkSpec {
  import spark.implicits._

  private def sqlOver(rows: Seq[Seq[Integer]], query: String, partitions: Int = 1): Seq[Seq[Int]] = {
    val df = rows.toDF("arrays").repartition(partitions)
    df.createOrReplaceTempView("test")
    spark.sql(query).collect().toSeq.map(_.getSeq[Int](0))
  }

  // reference test_array_monoid_sum_simple (src/monoid.rs:538-587)
  test("sum simple: [1,2,3] + [4,5,6] = [5,7,9]") {
    val out = sqlOver(
      Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6)),
      "SELECT array_reduce_sum(arrays) AS result FROM test")
    assert(out == Seq(Seq(5, 7, 9)))
  }

  // reference test_array_monoid_sum_varying_lengths (src/monoid.rs:589-639):
  // first array length wins; longer arrays truncated
  test("sum varying lengths: [1,2,3] + [4,5,6,7] = [5,7,9] (len 3)") {
    val out = sqlOver(
      Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6, 7)),
      "SELECT array_reduce_sum(arrays) AS result FROM test")
    assert(out == Seq(Seq(5, 7, 9)))
  }

  // reference test_array_monoid_sum_multiple_arrays (src/monoid.rs:641-696)
  test("sum multiple arrays: +[100,100,100] = [105,107,109]") {
    val out = sqlOver(
      Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6), Seq[Integer](100, 100, 100)),
      "SELECT array_reduce_sum(arrays) AS result FROM test")
    assert(out == Seq(Seq(105, 107, 109)))
  }

  // reference test_array_monoid_sum_multiple_record_batches (src/monoid.rs:698-753):
  // the same 3-row batch three times → [315,321,327]. Multiple RecordBatches
  // ≈ multiple Spark partitions; we use 3 partitions to force real
  // partial-state merges across a shuffle (which the reference's
  // single-partition MemTable never exercises).
  test("sum across batches/partitions: 3x batch = [315,321,327]") {
    val batch = Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6), Seq[Integer](100, 100, 100))
    val out = sqlOver(batch ++ batch ++ batch,
      "SELECT array_reduce_sum(arrays) AS result FROM test", partitions = 3)
    assert(out == Seq(Seq(315, 321, 327)))
  }

  // The reference's multi-batch test (src/monoid.rs:698-753) only covers
  // sum; replay its 3x-batch shape for the OTHER three ops so the
  // merge-path identity of each (product: 1, max: i32::MIN, min: i32::MAX)
  // is pinned across a real 3-partition shuffle — a wrong merge identity
  // is invisible in single-partition tests because the partial state never
  // meets a fresh accumulator.
  private val threeBatches = {
    val batch = Seq(Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6),
      Seq[Integer](100, 100, 100))
    batch ++ batch ++ batch
  }

  test("product across batches/partitions: 3x batch, slot 2 saturates") {
    val out = sqlOver(threeBatches,
      "SELECT array_reduce_product(arrays) AS result FROM test",
      partitions = 3)
    // per slot: (1*4*100)^3 = 64e6, (2*5*100)^3 = 1e9, (3*6*100)^3 =
    // 5.832e9 -> saturates at i32::MAX (products of positives are
    // monotone, so saturation is order-independent across merges)
    assert(out == Seq(Seq(64000000, 1000000000, Int.MaxValue)))
  }

  test("max across batches/partitions: 3x batch = [100,100,100]") {
    val out = sqlOver(threeBatches,
      "SELECT array_reduce_max(arrays) AS result FROM test", partitions = 3)
    assert(out == Seq(Seq(100, 100, 100)))
  }

  test("min across batches/partitions: 3x batch = [1,2,3]") {
    val out = sqlOver(threeBatches,
      "SELECT array_reduce_min(arrays) AS result FROM test", partitions = 3)
    assert(out == Seq(Seq(1, 2, 3)))
  }

  // --- gap matrix beyond the reference's tests ---

  test("product / max / min over ints") {
    val rows = Seq(Seq[Integer](2, 3, -4), Seq[Integer](5, -1, 2))
    assert(sqlOver(rows, "SELECT array_reduce_product(arrays) AS r FROM test")
      == Seq(Seq(10, -3, -8)))
    assert(sqlOver(rows, "SELECT array_reduce_max(arrays) AS r FROM test")
      == Seq(Seq(5, 3, 2)))
    assert(sqlOver(rows, "SELECT array_reduce_min(arrays) AS r FROM test")
      == Seq(Seq(2, -1, -4)))
  }

  test("null rows are skipped; null elements contribute identity") {
    val out = sqlOver(
      Seq(null, Seq[Integer](1, null, 3), Seq[Integer](4, 5, 6), null),
      "SELECT array_reduce_sum(arrays) AS r FROM test")
    assert(out == Seq(Seq(5, 5, 9)))
  }

  test("empty input yields an empty list, not null (src/monoid.rs:405-411)") {
    val out = sqlOver(Seq.empty[Seq[Integer]],
      "SELECT array_reduce_sum(arrays) AS r FROM test")
    assert(out == Seq(Seq.empty[Int]))
  }

  test("all-null input yields an empty list") {
    val out = sqlOver(Seq[Seq[Integer]](null, null),
      "SELECT array_reduce_sum(arrays) AS r FROM test")
    assert(out == Seq(Seq.empty[Int]))
  }

  test("saturating integer arithmetic at type bounds (rust saturating_add/mul)") {
    val rows = Seq(Seq[Integer](Int.MaxValue, Int.MinValue, 2), Seq[Integer](1, -1, Int.MaxValue))
    assert(sqlOver(rows, "SELECT array_reduce_sum(arrays) AS r FROM test")
      == Seq(Seq(Int.MaxValue, Int.MinValue, 2147483647)))
    val prodRows = Seq(Seq[Integer](Int.MaxValue, Int.MinValue), Seq[Integer](2, 3))
    assert(sqlOver(prodRows, "SELECT array_reduce_product(arrays) AS r FROM test")
      == Seq(Seq(Int.MaxValue, Int.MinValue)))
  }

  test("GROUP BY support (untested in reference, free via ObjectHashAggregate)") {
    val df = Seq(
      ("a", Seq(1, 2)), ("a", Seq(10, 20)), ("b", Seq(5, 5)),
    ).toDF("k", "arrays")
    df.createOrReplaceTempView("test_g")
    val out = spark
      .sql("SELECT k, array_reduce_sum(arrays) AS r FROM test_g GROUP BY k ORDER BY k")
      .collect().toSeq.map(r => (r.getString(0), r.getSeq[Int](1)))
    assert(out == Seq(("a", Seq(11, 22)), ("b", Seq(5, 5))))
  }

  test("float/double variants incl. min/max infinity identities") {
    val df = Seq(
      Seq(1.5f, -2.0f), Seq(0.5f, 4.0f),
    ).toDF("arrays")
    df.createOrReplaceTempView("test_f")
    val sums = spark.sql("SELECT array_reduce_sum_float(arrays) AS r FROM test_f")
      .collect()(0).getSeq[Float](0)
    assert(sums == Seq(2.0f, 2.0f))
    val mins = spark.sql("SELECT array_reduce_min_float(arrays) AS r FROM test_f")
      .collect()(0).getSeq[Float](0)
    assert(mins == Seq(0.5f, -2.0f))
  }

  test("long/short/byte variants") {
    val dfL = Seq(Seq(Long.MaxValue, 1L), Seq(1L, 2L)).toDF("arrays")
    dfL.createOrReplaceTempView("test_l")
    assert(spark.sql("SELECT array_reduce_sum_long(arrays) AS r FROM test_l")
      .collect()(0).getSeq[Long](0) == Seq(Long.MaxValue, 3L))

    // an int array is widened to bigint before the fold, so the sum passes
    // Int.MaxValue without saturating
    Seq(Seq(Int.MaxValue, 1), Seq(1, 2)).toDF("arrays").createOrReplaceTempView("test_il")
    val widened = spark.sql("SELECT array_reduce_sum_long(arrays) AS r FROM test_il")
    assert(widened.schema.head.dataType == ArrayType(LongType, containsNull = false))
    assert(widened.collect()(0).getSeq[Long](0) == Seq(2147483648L, 3L))

    val dfS = spark.createDataFrame(
      java.util.List.of(Row(Seq[Short](100, 200)), Row(Seq[Short](32700, 300))),
      StructType(Seq(StructField("arrays", ArrayType(ShortType)))))
    dfS.createOrReplaceTempView("test_s")
    assert(spark.sql("SELECT array_reduce_sum_short(arrays) AS r FROM test_s")
      .collect()(0).getSeq[Short](0) == Seq[Short](32767, 500))
  }

  // Spark hands the model Aggregator each array as a linked List, so `reduce`
  // must walk it once and never index it (an indexed loop is O(width²)
  // per row). A Seq whose `apply` throws pins "traverse, never index".
  test("reduce walks each input once, never indexes it") {
    def noIndex(xs: Seq[Option[Int]]): Seq[Option[Int]] =
      new scala.collection.immutable.AbstractSeq[Option[Int]] {
        def apply(i: Int): Option[Int] = fail(s"reduce indexed element $i")
        def length: Int = xs.length
        def iterator: Iterator[Option[Int]] = xs.iterator
      }
    val agg = new ArrayMonoidReduce[Int](MonoidOp.int("sum"))
    val w = 1024
    val rows: Seq[List[Option[Int]]] = Seq(
      List.tabulate(w)(j => if (j % 7 == 0) None else Some(j)),
      // longer than the buffer: truncated at w
      List.tabulate(w + 300)(j => if (j % 5 == 0) None else Some(2 * j)),
      // shorter than the buffer: the tail keeps its prior value
      List.tabulate(w / 2)(j => Some(-j)),
      null,
    )
    val expected = Array.fill(w)(0)
    rows.filter(_ != null).foreach { r =>
      r.zipWithIndex.foreach { case (v, j) =>
        if (j < w) expected(j) += v.getOrElse(0)
      }
    }
    val viaList = rows.foldLeft(agg.zero)(agg.reduce)
    assert(viaList.toSeq == expected.toSeq)
    val viaNoIndex = rows.foldLeft(agg.zero) { (b, r) =>
      agg.reduce(b, if (r == null) null else noIndex(r))
    }
    assert(viaNoIndex.toSeq == expected.toSeq)
  }

  test("works over real parquet array column (embeddings.embedding)") {
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb")
    val out = spark
      .sql("SELECT label, array_reduce_max_float(embedding) AS mx FROM emb GROUP BY label")
      .collect()
    assert(out.length > 0)
    assert(out.head.getSeq[Float](1).length == 64)
  }
}
