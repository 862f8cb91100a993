package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and failed.json
  * (query name → error) naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Optional dev-loop filter, a regex over query names (see
    // SparkEntry.selected). Gate runs leave it unset and dump every query.
    val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    selected.foreach { case (name, fn) =>
      // marks the log: an executor error with no query name falls after
      // the marker of the query that ran it
      System.err.println(s"[verify] start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += ((name, Bench.describe(e)))
      }
      // the parquet write fully materialized this query — its iterative
      // operators' localCheckpoint blocks are dead storage from here on
      // (invisible to clearCache; see Caching.releaseCheckpoints), and a
      // 300-query session would otherwise carry every loop's blocks
      graft.operators.Caching.releaseCheckpoints()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // only the dumped queries' SQL, so a filtered run compares clean
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }))
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      obj(failed.sortBy(_._1)))
    spark.stop()
  }
}
