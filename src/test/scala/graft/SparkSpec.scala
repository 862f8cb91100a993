package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.session("4")
      .appName("graft-test")
      // fresh warehouse per JVM: the dir outlives the in-memory catalog, so
      // a fixed path collides with stale table locations on the next run
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.ArrayReduceAgg.register(s)
    graft.functions.ArrayMonoidReduce.register(s) // the test model
    graft.functions.SimHash.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Regular files anywhere under a local directory. */
  def filesUnder(dir: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally walk.close()
  }
}
