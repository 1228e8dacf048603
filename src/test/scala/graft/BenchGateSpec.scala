package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s per-query regression gate compares only runs of the same
  * posture: the previous bench.json must record the same `cpus`. */
class BenchGateSpec extends AnyFunSuite {

  private def prev(cpus: Option[String]): Option[String] = Some(
    """{"metric":"total","value":3.000,"unit":"sec",""" +
      """"queries":{"q_a":1.000,"q_b":2.000},"failed":[],"sf":"/data/sf0.1"""" +
      cpus.fold("")(c => s""","cpus":"$c"""") + "}")

  test("same cpus: flags queries over 1.5x and 0.25 s, worst first") {
    val now = Seq("q_a" -> 1.2, "q_b" -> 3.5, "q_new" -> 9.0)
    assert(Bench.regressionGate(prev(Some("8")), now, "8") == Right(Seq(("q_b", 2.0, 3.5))))
    val both = Seq("q_a" -> 2.0, "q_b" -> 3.5)
    assert(Bench.regressionGate(prev(Some("8")), both, "8") ==
      Right(Seq(("q_a", 1.0, 2.0), ("q_b", 2.0, 3.5))))
  }

  test("missing or different cpus: posture differs, not compared") {
    val now = Seq("q_a" -> 5.0)
    for (p <- Seq(prev(None), prev(Some("32")))) {
      val gate = Bench.regressionGate(p, now, "8")
      assert(gate.isLeft, s"$p must not be compared")
      assert(gate.left.exists(_.startsWith("posture differs")))
    }
  }

  test("no previous file: nothing to compare, nothing flagged") {
    assert(Bench.regressionGate(None, Seq("q_a" -> 5.0), "8") == Right(Nil))
  }
}
