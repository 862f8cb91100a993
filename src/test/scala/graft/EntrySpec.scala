package graft

/** Driver-contract smoke: every SparkEntry query runs at sf0.001 and
  * produces a sane (non-erroring) result; entry returns rows.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("Probe replicate at n=2 doubles the shifted tables and copies the rest") {
    val out = java.nio.file.Files.createTempDirectory("graft-probe").toString
    Probe.replicate(spark, sfDir, 2, out)
    def read(dir: String, t: String) = graft.sources.Tables.table(spark, dir, t)
    // the shifted id of each grown table: no two replicas share one
    val keys = Map("documents" -> "doc_id", "embeddings" -> "vec_id",
      "lineitem" -> "l_orderkey")
    assert(keys.keySet == Probe.shifts.keySet)
    for ((t, key) <- keys) {
      val (in, twice) = (read(sfDir, t), read(out, t))
      assert(twice.count() == 2 * in.count(), t)
      def ids(df: org.apache.spark.sql.DataFrame) = df.select(key).distinct().count()
      assert(ids(twice) == 2 * ids(in), t)
    }
    for (t <- graft.sources.Tables.names.filterNot(keys.contains)) {
      val (in, copy) = (read(sfDir, t), read(out, t))
      assert(copy.count() == in.count(), t)
      assert(copy.exceptAll(in).isEmpty && in.exceptAll(copy).isEmpty, t)
    }
  }

  test("Probe time reports a query's row count and its execution jobs") {
    try {
      val Seq(rep) = Probe.time(spark, sfDir, "^q_array_sum_int$", 1)
      assert(rep.error.isEmpty)
      assert(rep.rows == SparkEntry.queries("q_array_sum_int")(spark, sfDir).count())
      assert(rep.execJobs >= 1)
    } finally spark.catalog.clearCache() // the probe cached the base tables
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
    }
  }
}
