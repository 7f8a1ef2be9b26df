package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench sidecar is the variance record a one-number-per-query view
  * lacks: each query carries min AND max of its timed runs so an outlier
  * is attributable (max >> min ⇒ host stall; max ~= min ⇒ real cost),
  * and its cold (warm-up) seconds beside them. This pins the schema.
  */
class BenchSidecarSpec extends AnyFunSuite {

  test("sidecar is one JSON object with min/max per query") {
    // cold is the warm-up's own reading: a failed warm-up leaves the
    // passes' min/max standing
    val line = Bench.sidecarJson(Seq(
      "q_fast" -> Bench.Times(cold = 2.5, min = 0.0861, max = 0.0912),
      "q_stalled" -> Bench.Times(cold = 0.7, min = 0.09, max = 8.4321),
      "q_flaky" -> Bench.Times(cold = -1.0, min = 0.25, max = 0.5)))
    assert(line ==
      """{"q_fast":{"min":0.0861,"max":0.0912,"cold":2.5000},""" +
      """"q_stalled":{"min":0.0900,"max":8.4321,"cold":0.7000},""" +
      """"q_flaky":{"min":0.2500,"max":0.5000,"cold":-1.0000}}""")
  }

  test("a failed query records -1 in both fields, not a fast run") {
    val line = Bench.sidecarJson(Seq("q_bad" -> Bench.Times(-1.0, -1.0, -1.0)))
    assert(line == """{"q_bad":{"min":-1.0000,"max":-1.0000,"cold":-1.0000}}""")
  }

  // The calibration probe is the artifact's host-health defense: fixed
  // work, so its wall time must be positive, finite, and repeatable
  // within the same process to well under the stall magnitudes it
  // exists to flag (the committed history pins the healthy band).
  test("calibration probe is fixed-work and repeatable in-process") {
    Bench.calibrate() // JIT
    val a = Bench.calibrate()
    val b = Bench.calibrate()
    assert(a > 0.01 && b > 0.01, s"probe too fast to measure: $a, $b")
    assert(a.isFinite && b.isFinite)
    assert(math.max(a, b) / math.min(a, b) < 3.0,
      s"probe not repeatable on this host right now: $a vs $b")
  }
}
