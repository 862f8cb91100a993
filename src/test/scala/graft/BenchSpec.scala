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
}
