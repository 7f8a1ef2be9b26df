package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench sidecar is the variance record the per-round BENCH artifact
  * lacks: each query carries min AND max of its timed runs so an outlier
  * in the driver's one-number-per-query view is attributable (max >> min
  * ⇒ host stall; max ~= min ⇒ real cost). This pins the schema.
  */
class BenchSidecarSpec extends AnyFunSuite {

  test("sidecar is one JSON object with min/max per query") {
    val line = Bench.sidecarJson(Seq(
      "q_fast" -> (0.0861, 0.0912),
      "q_stalled" -> (0.09, 8.4321)))
    assert(line ==
      """{"q_fast":{"min":0.0861,"max":0.0912},""" +
      """"q_stalled":{"min":0.0900,"max":8.4321}}""")
  }

  test("a failed query records -1 in both fields, not a fast run") {
    val line = Bench.sidecarJson(Seq("q_bad" -> (-1.0, -1.0)))
    assert(line == """{"q_bad":{"min":-1.0000,"max":-1.0000}}""")
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

  test("an eviction interval below 1 fails by name before any session starts") {
    assert(Bench.evictInterval(None).isEmpty)
    assert(Bench.evictInterval(Some("3")).contains(3))
    for (bad <- Seq("0", "-1")) {
      val e = intercept[IllegalArgumentException](Bench.evictInterval(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_EVICT must be >= 1"), e.getMessage)
    }
  }
}
