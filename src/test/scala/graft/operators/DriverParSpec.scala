package graft.operators

import org.scalatest.funsuite.AnyFunSuite

class DriverParSpec extends AnyFunSuite {
  test("when both actions fail, b's error rides a's as suppressed") {
    val ea = new IllegalStateException("a")
    val eb = new IllegalArgumentException("b")
    val thrown = intercept[IllegalStateException](
      DriverPar.both[Unit, Unit](throw ea, throw eb))
    assert(thrown eq ea)
    assert(thrown.getSuppressed.toSeq == Seq(eb))
  }

  test("b's failure alone rethrows") {
    val eb = new IllegalArgumentException("b")
    assert(intercept[IllegalArgumentException](
      DriverPar.both[Int, Unit](1, throw eb)) eq eb)
  }
}
