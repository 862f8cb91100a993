package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-checked queries exercising the `array_reduce_*` family over
  * the driver's parquet tables (the reference's whole operator surface,
  * SURVEY.md §2a, driven through SQL exactly like the reference's tests drive
  * DataFusion, reference `src/monoid.rs:569`).
  *
  * Result shape: the aggregate produces an `ArrayType` column (one reduced array
  * per group, reference `src/monoid.rs:402`), which the driver's comparator
  * cannot hash (array cells are unhashable in its pandas sort). Every query
  * therefore `posexplode`s the reduced array into `(group, pos, value)`
  * scalar rows — the aggregate still runs in full; only the dump shape changes.
  * `pos` is 1-based BIGINT to match DuckDB `generate_subscripts`.
  *
  * Oracle notes (SURVEY.md §7 "hard parts"):
  *  - int/integral-double sums are order-independent → hash-checkable vs
  *    DuckDB (`unnest + generate_subscripts → GROUP BY (key, pos)`).
  *  - float32 sum is order-dependent across partitions (FP non-associativity)
  *    → registered rows-only (no oracle SQL), exactly as flagged in SURVEY §7.
  *  - product values are kept small so Rust-style saturation never triggers
  *    (saturation itself is covered by unit tests at the type bounds).
  */
object MonoidQueries {

  private def q(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.load(spark, dir)
    spark.sql(sql)
  }

  /** Wraps an aggregate-to-array subquery so the result is scalar rows.
    * `castTo` optionally re-types the exploded element for the dump only
    * (the aggregate's carrier is untouched) — used by the u64 query, whose
    * decimal dump representation the driver's comparator hashes
    * differently from DuckDB's even when values match.
    */
  private def exploded(key: String, valCol: String, agg: String,
                       castTo: String = ""): String = {
    val elem = if (castTo.isEmpty) "elem" else s"CAST(elem AS $castTo)"
    s"""SELECT $key, CAST(pos + 1 AS BIGINT) AS pos, $elem AS $valCol
       |FROM ($agg) LATERAL VIEW posexplode($valCol) AS pos, elem""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_array_sum_int" -> ((s, d) => q(s, d, exploded("l_orderkey", "arr_sum",
      """SELECT l_orderkey, array_reduce_sum_int(arr) AS arr_sum FROM (
        |  SELECT l_orderkey,
        |         array(l_linenumber, l_linenumber * 2, CAST(l_quantity AS INT)) AS arr
        |  FROM lineitem)
        |GROUP BY l_orderkey""".stripMargin))),

    "q_array_product_int" -> ((s, d) => q(s, d, exploded("l_orderkey", "arr_prod",
      """SELECT l_orderkey, array_reduce_product_int(arr) AS arr_prod FROM (
        |  SELECT l_orderkey, array(1 + l_linenumber % 3, 2) AS arr FROM lineitem)
        |GROUP BY l_orderkey""".stripMargin))),

    "q_array_sum_double" -> ((s, d) => q(s, d, exploded("l_returnflag", "arr_sum",
      """SELECT l_returnflag, array_reduce_sum_double(arr) AS arr_sum FROM (
        |  SELECT l_returnflag, array(l_quantity, CAST(l_linenumber AS DOUBLE)) AS arr
        |  FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin))),

    "q_array_max_float" -> ((s, d) => q(s, d, exploded("label", "mx",
      """SELECT label, array_reduce_max_float(embedding) AS mx
        |FROM embeddings GROUP BY label""".stripMargin))),

    "q_array_min_float" -> ((s, d) => q(s, d, exploded("label", "mn",
      """SELECT label, array_reduce_min_float(embedding) AS mn
        |FROM embeddings GROUP BY label""".stripMargin))),

    // float32 sum: correct but not bit-stable across partition orders →
    // rows-only check (no oracle entry); still exploded so the dump is scalar
    "q_array_sum_float" -> ((s, d) => q(s, d, exploded("label", "sm",
      """SELECT label, array_reduce_sum_float(embedding) AS sm
        |FROM embeddings GROUP BY label""".stripMargin))),

    // the float-sum's deterministic twin (VERDICT r03 item 7): the same
    // per-label element-wise sum over embeddings, but the floats ride the
    // q_embed_centroids FIXED-POINT carrier (×1e6, rounded to long) so the
    // sum is exact and partition-order-proof → hash-checked against DuckDB.
    // The rows-only q_array_sum_float above stays: it pins the float32
    // carrier itself; this entry pins the VALUES the operator computes.
    "q_array_sum_float_fx" -> ((s, d) => q(s, d,
      """SELECT label, CAST(pos + 1 AS BIGINT) AS pos,
        |       ROUND(elem / CAST(1000000 AS DOUBLE), 6) AS sm
        |FROM (
        |  SELECT label,
        |         array_reduce_sum_long(transform(embedding,
        |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))) AS ssum
        |  FROM embeddings GROUP BY label)
        |LATERAL VIEW posexplode(ssum) AS pos, elem""".stripMargin)),

    // u64 (the 10th reference element type; reference src/monoid.rs:34-37):
    // the DECIMAL(38,18) input is cast to the function's decimal(20,0) and
    // folds as unsigned 64-bit Longs. Runs over customer (the smallest keyed
    // table): each element read goes through a decimal, so int/native
    // variants cover throughput on the big table.
    // Dump is CAST to BIGINT (values are small exact integers): a decimal
    // textual form hash-mismatched the DuckDB oracle even with identical
    // values (ADVICE r02).
    "q_array_sum_u64" -> ((s, d) => q(s, d, exploded("c_nationkey", "arr_sum",
      """SELECT c_nationkey, array_reduce_sum_u64(arr) AS arr_sum FROM (
        |  SELECT c_nationkey,
        |         CAST(array(c_custkey % 97, c_custkey % 31)
        |              AS ARRAY<DECIMAL(38,18)>) AS arr
        |  FROM customer)
        |GROUP BY c_nationkey""".stripMargin, castTo = "BIGINT"))),

    // The flagship operator on its natural real data (SURVEY.md §2c:
    // embeddings are "the natural real-data input to array_reduce_*"):
    // per-label embedding CENTROIDS = element-wise array_reduce_sum / n.
    // Float sums are order-dependent, so the floats ride a FIXED-POINT
    // carrier (×1e6, rounded to long) — the standard trick for
    // deterministic distributed float aggregation: long sums are exact and
    // partition-order-proof, so the whole query hash-checks against DuckDB
    // (unlike the rows-only q_array_sum_float). Precision loss is 5e-7 per
    // element, far below embedding noise.
    "q_embed_centroids" -> ((s, d) => q(s, d,
      """SELECT label, CAST(pos + 1 AS BIGINT) AS pos,
        |       ROUND(elem / (n * CAST(1000000 AS DOUBLE)), 6) AS centroid
        |FROM (
        |  SELECT label, count(1) AS n,
        |         array_reduce_sum_long(transform(embedding,
        |           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))) AS csum
        |  FROM embeddings GROUP BY label)
        |LATERAL VIEW posexplode(csum) AS pos, elem""".stripMargin)),

    // the native name (element type taken from the input, no cast)
    "q_array_sum_native" -> ((s, d) => q(s, d, exploded("l_orderkey", "arr_sum",
      """SELECT l_orderkey, array_reduce_sum_native(arr) AS arr_sum FROM (
        |  SELECT l_orderkey,
        |         array(l_linenumber, l_linenumber * 2, CAST(l_quantity AS INT)) AS arr
        |  FROM lineitem)
        |GROUP BY l_orderkey""".stripMargin))),
  )

  /** DuckDB equivalents. Element-wise reduce = unnest with subscripts,
    * per-position aggregate (SURVEY.md §5d); `pos` (1-based BIGINT) comes
    * straight from `generate_subscripts`, matching the Spark-side explode.
    */
  private val sumIntOracle: String =
    """SELECT l_orderkey, pos, sum(v)::INTEGER AS arr_sum FROM (
      |  SELECT l_orderkey,
      |         unnest([l_linenumber, l_linenumber * 2, l_quantity::INTEGER]) AS v,
      |         generate_subscripts([l_linenumber, l_linenumber * 2, l_quantity::INTEGER], 1) AS pos
      |  FROM lineitem)
      |GROUP BY l_orderkey, pos""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_array_sum_native" -> sumIntOracle,
    "q_array_sum_int" -> sumIntOracle,

    "q_embed_centroids" ->
      """WITH f AS (
        |  SELECT label,
        |         round(unnest(embedding::DOUBLE[]) * 1000000)::BIGINT AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |SELECT label, pos::BIGINT AS pos,
        |       round(sum(v)::DOUBLE / (count(*)::DOUBLE * 1000000), 6) AS centroid
        |FROM f GROUP BY label, pos""".stripMargin,

    "q_array_sum_float_fx" ->
      """WITH f AS (
        |  SELECT label,
        |         round(unnest(embedding::DOUBLE[]) * 1000000)::BIGINT AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |SELECT label, pos::BIGINT AS pos,
        |       round(sum(v)::DOUBLE / 1000000, 6) AS sm
        |FROM f GROUP BY label, pos""".stripMargin,

    "q_array_sum_u64" ->
      """SELECT c_nationkey, pos, sum(v)::BIGINT AS arr_sum FROM (
        |  SELECT c_nationkey,
        |         unnest([c_custkey % 97, c_custkey % 31]) AS v,
        |         generate_subscripts([c_custkey % 97, c_custkey % 31], 1) AS pos
        |  FROM customer)
        |GROUP BY c_nationkey, pos""".stripMargin,

    "q_array_product_int" ->
      """SELECT l_orderkey, pos, product(v)::INTEGER AS arr_prod FROM (
        |  SELECT l_orderkey,
        |         unnest([1 + l_linenumber % 3, 2]) AS v,
        |         generate_subscripts([1 + l_linenumber % 3, 2], 1) AS pos
        |  FROM lineitem)
        |GROUP BY l_orderkey, pos""".stripMargin,

    "q_array_sum_double" ->
      """SELECT l_returnflag, pos, sum(v) AS arr_sum FROM (
        |  SELECT l_returnflag,
        |         unnest([l_quantity, l_linenumber::DOUBLE]) AS v,
        |         generate_subscripts([l_quantity, l_linenumber::DOUBLE], 1) AS pos
        |  FROM lineitem)
        |GROUP BY l_returnflag, pos""".stripMargin,

    "q_array_max_float" ->
      """SELECT label, pos, max(v) AS mx FROM (
        |  SELECT label, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |GROUP BY label, pos""".stripMargin,

    "q_array_min_float" ->
      """SELECT label, pos, min(v) AS mn FROM (
        |  SELECT label, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings)
        |GROUP BY label, pos""".stripMargin,
  )
}
