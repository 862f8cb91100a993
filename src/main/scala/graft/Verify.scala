package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and failed.json
  * (query name → error) naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional dev-loop filter: SPARK_GRAFT_ONLY=q_a,q_b runs a subset.
    // The driver never sets it, so the gate always dumps every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None        => SparkEntry.queries
    }
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
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      obj(failed.sortBy(_._1)))
    spark.stop()
  }
}
