package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-suite query maps (graft.queries.*) into the single
  * `queries` / `oracleSql` surface the driver's Verify/Bench mains consume.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's core operator (element-wise array sum across rows,
    * reference src/monoid.rs:223-225) over real parquet data.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_array_sum_int")(spark, "/root/testdata/sf0.001")

  /** The confs every harness shares (Bench, Verify, Probe, the tests):
    * `local[cpus]`, one shuffle partition per core, UTC session time and no
    * UI. A harness adds its own confs, then calls `getOrCreate()`.
    */
  def session(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The registered queries a harness runs: every one, or those whose name
    * the `filter` regex finds (Bench and Verify pass `SPARK_GRAFT_ONLY`,
    * e.g. `'^q_graph_'` or `'^q_x$'`). A filter that selects nothing is an
    * error that names it, never a silent empty run.
    */
  def selected(filter: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    filter.fold(queries) { f =>
      val re = f.r
      val picked = queries.filter { case (n, _) => re.findFirstIn(n).isDefined }
      require(picked.nonEmpty, s"query filter '$f' selects no registered query")
      picked
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.MonoidQueries.queries ++
      graft.queries.HostQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.ApproxQueries.queries ++
      graft.queries.EmbedQueries.queries ++
      graft.queries.StreamQueries.queries ++
      graft.queries.ScaleQueries.queries ++
      graft.queries.SourceQueries.queries

  /** Untimed per-family warm-ups the bench runs after each family-boundary
    * cache clear: CROSS-family intermediates only, so a query is billed its
    * own work, not the harness's cache policy. Tables shared within one
    * family persist on first use and need no entry.
    */
  def familyWarm: Map[String, (SparkSession, String) => Unit] =
    graft.queries.PipelineQueries.familyWarm

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.MonoidQueries.oracleSql ++
      graft.queries.HostQueries.oracleSql ++
      graft.queries.PipelineQueries.oracleSql ++
      graft.queries.TextQueries.oracleSql ++
      graft.queries.DedupQueries.oracleSql ++
      graft.queries.ApproxQueries.oracleSql ++
      graft.queries.EmbedQueries.oracleSql ++
      graft.queries.StreamQueries.oracleSql ++
      graft.queries.ScaleQueries.oracleSql ++
      graft.queries.SourceQueries.oracleSql
}
