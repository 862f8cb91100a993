package perfbench

import org.apache.spark.sql.SparkSession
import perfbench.Main.{Harness, Opts, PassRec}

import scala.collection.mutable

/** Fingerprints recorded from the registry workloads, one `name<TAB>fp`
  * per line. */
object Expected {
  def load(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.contains("\t")).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap
      finally src.close()
    }
  }
}

/** `--record`: runs each registry workload for two passes and writes the
  * fingerprints of the first, after checking that the second agrees. */
object Record {
  def run(spark: SparkSession, o: Opts): Int = {
    val lines = mutable.ArrayBuffer.empty[String]
    var ok = true
    Workloads.registry.keys.toSeq.sorted.foreach { w =>
      val h = new Harness(spark, o.copy(workload = w))
      h.setup()
      h.pass(0, "cold", traced = false)
      val first = h.seen.toMap
      h.pass(1, "warm", traced = false)
      Workloads.registry(w).foreach { q =>
        val (a, b) = (first.get(q), h.seen.get(q))
        val same = a.nonEmpty && b.nonEmpty && Fingerprint.matches(a.get, b.get)
        println(s"$w $q ${a.getOrElse("FAILED")}${if (same) "" else "  (NOT REPEATED: " + b + ")"}")
        if (same) lines += s"$q\t${a.get}" else ok = false
      }
    }
    if (!ok) { println("record: not written, some fingerprints failed or did not repeat"); return 1 }
    Report.writeFile(o.expected, lines.sorted.mkString("", "\n", "\n"))
    println(s"record: wrote ${lines.size} fingerprints to ${o.expected}")
    0
  }
}

/** `--selftest`: one deliberately throwing call, one call checked against
  * a tampered fingerprint, and a family warm-up step whose eager cache
  * throws ride along with the monoid workload. Passes when exactly those
  * three fail in every pass and nothing else does.
  */
object SelfTest {
  val throwing = "selftest.throw"
  val tampered = "selftest.tampered"
  /** The family name, under which its failing warm-up step is listed. */
  val family = "selftest"

  def inject(spark: SparkSession, h: Harness): Seq[String] = {
    val df = () => spark.range(0, 1000, 1, 4).selectExpr("id", "id * 0.5 AS half")
    val good = Fingerprint.render(Fingerprint.of(df()).collect().head)
    val bad = good.replaceFirst("rows=1000", "rows=1001")
    spark.range(0, 10, 1, 2).selectExpr("raise_error(concat('deliberate cache failure ', id)) AS x")
      .createOrReplaceTempView("selftest_broken")
    val warm = () => h.cacheEagerly(Seq("selftest_broken"))
    val calls = Seq(
      Call(throwing, "selftest", "selftest",
        () => throw new IllegalStateException("deliberate failure"), identity, _ => None),
      Call(tampered, "selftest", "selftest", df, Fingerprint.of, rows => {
        val got = Fingerprint.render(rows.head)
        if (Fingerprint.matches(bad, got)) None else Some(s"fingerprint $got, expected $bad")
      }))
    h.workload = h.workload.copy(families =
      h.workload.families :+ Family(family, boundary = true, Some(warm), calls))
    Seq(throwing, tampered, family)
  }

  def judge(passes: Seq[PassRec], injected: Seq[String]): Int = {
    val fails = Report.failures(passes)
    val tries = Report.attempted(passes)
    val byName = fails.groupBy(_.name)
    val others = fails.filterNot(f => injected.contains(f.name))
    val each = injected.forall(n => byName.get(n).exists(_.size == passes.size))
    fails.foreach(f => println(s"  failure: pass ${f.pass} ${f.name}: ${f.error}"))
    println(f"selftest: fail_ratio ${fails.size.toDouble / tries}%.4f (${fails.size} of $tries); " +
      f"without the injected faults ${others.size} of ${tries - injected.size * passes.size}")
    val ok = each && others.isEmpty && fails.nonEmpty
    println(s"selftest: ${if (ok) "ok" else "FAILED"}")
    if (ok) 0 else 1
  }
}
