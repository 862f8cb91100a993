package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's failure accounting: a query that throws is listed apart and
  * never billed to the totals, and its error reaches the detail file as
  * valid JSON.
  */
class BenchSpec extends AnyFunSuite {

  test("a failed query is listed apart and kept out of the totals") {
    val raw = Seq(
      ("q_a_one", 1.0, None),
      ("q_a_boom", 0.01, Some("java.lang.IllegalStateException: boom")),
      ("q_b_two", 2.0, None))
    // probe after query 3 reads 2x the quiet baseline
    val probes = Seq((0, 0.5), (2, 0.5), (3, 1.0))
    val s = Bench.Sweep.account(raw, probes, 0.5, 1.0, Seq.empty, 3.5)
    assert(s.perQuery.map(_._1) == Seq("q_a_one", "q_b_two"))
    assert(s.failed == Seq(("q_a_boom", 0.01,
      "java.lang.IllegalStateException: boom")))
    assert(s.total == 3.0)
    // q_b_two keeps its own position's factor: 2.0 s at load 2 -> 1.0 s
    assert(s.perQuery.map(_._3) == Seq(1.0, 2.0))
    assert(s.normTotal == 2.0)
    assert(s.session == 3.5)
  }

  test("failure keys are valid JSON with the error text escaped") {
    val err = Bench.describe(new RuntimeException("bad \"col\"\nplan dump"))
    assert(err == "java.lang.RuntimeException: bad \"col\"")
    val json = "{" + Bench.failureJson(Seq(("q_a_boom", 0.25, err)),
      Seq("familyWarm graph (attempt 1): x\ty")) + "}"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.path("failed").path("q_a_boom").path("error").asText() == err)
    assert(node.path("failed").path("q_a_boom").path("raw").asDouble() == 0.25)
    assert(node.path("errors").get(0).asText() ==
      "familyWarm graph (attempt 1): x\ty")
  }

  test("the regression gate takes baselines only from the same core count") {
    val sf = "/data/sf0.1"
    def rec(q: Double, cpus: Option[Int]): String = {
      val qs = ("q_x" -> q) +: (1 to 99).map(i => s"q_pad$i" -> 1.0)
      val body = qs.map { case (k, v) =>
        s""""$k":{"raw":$v,"norm":$v}""" }.mkString("{", ",", "}")
      s"""{"sf":"$sf","n_queries":100,"cal_ratio":1.1,"queries":$body""" +
        cpus.map(c => s""","cpus":$c""").getOrElse("") + "}"
    }
    // q_x ran 1.0 s on 32 cores (one record predates the key) and 3.0 s
    // on 4; a 4-core session at 3.1 s is no regression
    val history = Seq(rec(1.0, None), rec(1.0, Some(32)), rec(3.0, Some(4)),
      rec(3.0, Some(4)))
    val current = Map("q_x" -> 3.1)
    assert(Bench.regressionsFor(current, history.iterator, sf, 4).isEmpty)
    // at 32 cores the same 3.1 s is flagged against the 1.0 s baseline
    assert(Bench.regressionsFor(current, history.iterator, sf, 32) ==
      Seq(("q_x", 1.0, 3.1)))
    // the gate itself is unchanged: 1.5x and 0.2 s above the baseline
    assert(Bench.regressionsFor(Map("q_x" -> 4.4), history.iterator, sf, 4)
      .isEmpty)
    assert(Bench.regressionsFor(Map("q_x" -> 4.6), history.iterator, sf, 4)
      .map(_._1) == Seq("q_x"))
    // another sf never serves as a baseline
    assert(Bench.regressionsFor(current, history.iterator, "/data/sf1", 32)
      .isEmpty)
  }

  test("one regex selects the queries of every harness; an empty selection names its filter") {
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
    val graph = SparkEntry.selected(Some("^q_graph_")).keySet
    assert(graph.nonEmpty)
    assert(graph == SparkEntry.queries.keySet.filter(_.startsWith("q_graph_")))
    assert(SparkEntry.selected(Some("^q_array_sum_int$")).keySet ==
      Set("q_array_sum_int"))
    // a comma-separated name list is no filter form: it selects nothing
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q_array_sum_int,q_graph_hits")))
    assert(e.getMessage.contains("'q_array_sum_int,q_graph_hits'"))
  }
}
