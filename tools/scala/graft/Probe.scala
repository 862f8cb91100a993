package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.GraftShim

/** The dev probe over the registered queries. `<regex>` selects queries
  * as `SPARK_GRAFT_ONLY` does for Bench and Verify; the core count is
  * `SPARK_GRAFT_CPUS` (default 4).
  *
  *  - `runMain graft.Probe explain <sfDir> <regex>`: `explain("formatted")`
  *    of each query in the shared harness session (the plans Verify
  *    checks), each followed by `[probe] <name> nodes=<n> exchanges=<m>`.
  *  - `runMain graft.Probe time <sfDir> <regex> [reps]`: in Bench's session
  *    and family-boundary policy, one line per rep with `construct_s`,
  *    `construct_jobs`, `exec_s`, `exec_jobs` and `rows`. Rep 1 of a
  *    family's first query runs cold in its family; later reps reuse the
  *    family's persists, as later family-mates do in Bench.
  *  - `runMain graft.Probe replicate <sfDir> <n> <outDir>`: an n× copy of a
  *    dataset directory (ids shifted per replica, see [[shifts]]) that any
  *    harness reads as an sf directory, e.g. for 1×/10× scaling runs.
  */
object Probe extends AdaptiveSparkPlanHelper {

  /** One timed rep of one query; `error` is set when it threw. */
  case class Rep(name: String, rep: Int, constructS: Double,
      constructJobs: Long, execS: Double, execJobs: Long, rows: Long,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    lazy val shared = {
      val s = SparkEntry.session(cpus).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    args match {
      case Array("explain", sfDir, re) => explain(shared, sfDir, re)
      case Array("time", sfDir, re, reps @ _*) if reps.size <= 1 =>
        time(Bench.session(cpus), sfDir, re, reps.headOption.fold(2)(_.toInt))
      case Array("replicate", sfDir, n, outDir) =>
        replicate(shared, sfDir, n.toInt, outDir)
      case _ =>
        System.err.println("usage: Probe explain <sfDir> <regex> | " +
          "time <sfDir> <regex> [reps] | replicate <sfDir> <n> <outDir>")
        sys.exit(2)
    }
    SparkSession.active.stop()
  }

  private def sorted(filter: String) =
    SparkEntry.selected(Some(filter)).toSeq.sortBy(_._1)

  def explain(spark: SparkSession, sfDir: String, filter: String): Unit =
    sorted(filter).foreach { case (name, fn) =>
      println(s"===== $name =====")
      try {
        val df = fn(spark, sfDir)
        df.explain("formatted")
        val nodes = collectWithSubqueries(df.queryExecution.executedPlan) {
          case n => n }
        println(s"[probe] $name nodes=${nodes.size} " +
          s"exchanges=${nodes.count(_.isInstanceOf[Exchange])}")
      } catch { case e: Throwable =>
        println(s"[probe] $name failed: ${Bench.describe(e)}") }
    }

  /** Runs `reps` reps of each selected query, printing one line per rep.
    * Each phase starts with a `[probe] <name> rep=<i> <phase>` marker on
    * stderr, so an executor error that names no query falls after the
    * marker of the phase that ran it.
    */
  def time(spark: SparkSession, sfDir: String, filter: String,
      reps: Int): Seq[Rep] = {
    val queries = sorted(filter)
    Bench.warmUp(spark, sfDir)
    var lastFamily = ""
    queries.flatMap { case (name, fn) =>
      val family = name.split("_")(1)
      if (family != lastFamily) Bench.familyBoundary(spark, sfDir, family)(
        e => System.err.println(s"[probe] familyWarm $family: ${Bench.describe(e)}"))
      lastFamily = family
      (1 to reps).map { i =>
        def phase[T](p: String)(f: => T): (T, Double, Long) = {
          System.err.println(s"[probe] $name rep=$i $p")
          val ((r, s), jobs) = GraftShim.jobsDuring(spark) {
            val t0 = System.nanoTime()
            val r = f
            (r, (System.nanoTime() - t0) / 1e9)
          }
          (r, s, jobs)
        }
        val rep =
          try {
            val (df, cs, cj) = phase("construct")(fn(spark, sfDir))
            val (rows, es, ej) = phase("execute")(df.count())
            Rep(name, i, cs, cj, es, ej, rows, None)
          } catch { case e: Throwable =>
            Rep(name, i, 0, 0, 0, 0, -1, Some(Bench.describe(e))) }
        // as Bench: this rep's checkpoints are dead storage from here on
        graft.operators.Caching.releaseCheckpoints(blocking = true)
        println(rep.error.fold(
          f"[probe] $name rep=$i construct_s=${rep.constructS}%.3f " +
            f"construct_jobs=${rep.constructJobs} exec_s=${rep.execS}%.3f " +
            f"exec_jobs=${rep.execJobs} rows=${rep.rows}")(
          e => s"[probe] $name rep=$i failed: $e"))
        rep
      }
    }
  }

  /** Per-replica id shifts of the tables an n× copy grows (replica `i` of
    * n): documents and embeddings stay unique per id, lineitem per order,
    * and its parts spread over three copies of the part range.
    */
  val shifts: Map[String, Long => Map[String, org.apache.spark.sql.Column]] =
    Map(
      "documents" -> (i => Map("doc_id" -> (col("doc_id") + lit(i * 1000000L)))),
      "embeddings" -> (i => Map("vec_id" -> (col("vec_id") + lit(i * 1000000L)))),
      "lineitem" -> (i => Map(
        "l_orderkey" -> (col("l_orderkey") + lit(i * 100000000L)),
        "l_partkey" -> (col("l_partkey") + lit(i % 3 * 10000000L)))))

  /** Writes an n× copy of `sfDir` to `outDir`: the [[shifts]] tables as
    * the union of n shifted replicas, every other table copied unchanged.
    */
  def replicate(spark: SparkSession, sfDir: String, n: Int,
      outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    graft.sources.Tables.names.foreach { t =>
      val (src, dst) = (s"$sfDir/$t.parquet", s"$outDir/$t.parquet")
      shifts.get(t) match {
        case Some(shift) =>
          val base = spark.read.parquet(src)
          (0 until n).map(i => base.withColumns(shift(i.toLong)))
            .reduce(_ union _).write.mode("overwrite").parquet(dst)
        case None => Files.copy(Paths.get(src), Paths.get(dst),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
