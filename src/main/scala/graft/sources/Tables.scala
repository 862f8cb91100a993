package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet source layer over the driver's TPC-H-ish test data (TESTDATA.md).
  *
  * Registers one temp view per table for SQL-based queries, plus the
  * `array_reduce_*` functions and the sketch UDAFs (≈ the reference's
  * `register_table` + `register_udaf` session setup, reference
  * `src/monoid.rs:540-566`).
  * Idempotent; call at the top of every `SparkEntry.queries` entry.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark) // nanos timestamps need the session conf before the read
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts arrives differently depending on how the driver generated
    // the parquet: TIMESTAMP(NANOS) (no native Spark type — nanosAsLong
    // makes it a Long of ns-since-epoch, truncated here to micros with
    // integer div because ns epoch values exceed 2^53), or TIMESTAMP(MICROS)
    // without UTC adjustment (arrives as TIMESTAMP_NTZ). Both normalize to
    // the same session-UTC TimestampType so every downstream query and
    // oracle sees one shape regardless of the file's physical encoding.
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  /** Session configs needed to read the driver's parquet (nanos timestamps). */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Process-scoped /tmp scratch dir for queries that write live layouts
    * (roundtrips, partitioned/sharded exports): the Spark applicationId in
    * the path means two concurrent drivers — even on the SAME dataset dir —
    * can never overwrite each other's layout mid-read (ADVICE r03). Callers
    * add their own dataset/format tag on top.
    *
    * Every dir is registered for JVM-exit deletion: per-application paths
    * that merely self-overwrote under the old fixed naming would otherwise
    * accumulate one set of layouts per driver run, growing /tmp without
    * bound across repeated bench/gate invocations (ADVICE r04).
    */
  def scratchDir(spark: SparkSession, tag: String): String = {
    val app = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"/tmp/graft_${app}_$tag"
    cleanupOnExit(dir)
    dir
  }

  // one shutdown hook for all scratch dirs (File.deleteOnExit can't remove
  // non-empty directories); idempotent registration per path
  private val scratchPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    sys.addShutdownHook {
      scratchPaths.forEach { p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      }
    }
  private def cleanupOnExit(dir: String): Unit = {
    cleanupHook
    scratchPaths.add(dir)
  }

  // cache the active dir per session: repeated schema inference (a parquet
  // footer read per table) and UDAF re-registration would otherwise run
  // once per query and dominate short benchmarks
  private val activeDir = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register all tables as temp views + the UDAF family in this session.
    * Idempotent while the dir is unchanged; call freely per query.
    * Synchronized: two threads loading DIFFERENT dirs into one session
    * would otherwise interleave createOrReplaceTempView calls and leave the
    * session with views mixing scale factors (while activeDir records only
    * the last writer — the mixed state would never self-repair).
    */
  def load(spark: SparkSession, dir: String): Unit = synchronized {
    if (activeDir.get(spark) != dir) {
      configure(spark)
      graft.functions.ArrayReduceAgg.register(spark)
      graft.functions.SimHash.register(spark)
      graft.functions.ApproxTopK.register(spark)
      graft.functions.CountMin.register(spark)
      graft.functions.KmvBottomK.register(spark)
      graft.functions.HllSketch.register(spark)
      graft.functions.KllSketch.register(spark)
      graft.functions.KllWeightedSketch.register(spark)
      names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
      // only mark loaded after full success — a partial registration (e.g.
      // transient IO failure on one parquet footer) must be retried, not
      // cached as done for the rest of the session
      activeDir.put(spark, dir)
    }
  }
}
