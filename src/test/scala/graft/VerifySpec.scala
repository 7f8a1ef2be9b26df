package graft

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {

  test("a wrong argument count fails with the usage line, not a MatchError") {
    Seq(Array.empty[String], Array("sfDir"), Array("sfDir", "out", "extra")).foreach { args =>
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage.startsWith("usage: graft.Verify"), e.getMessage)
    }
  }
}
