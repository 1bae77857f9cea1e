package perfbench

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("renders nested maps, sequences and options; NaN and infinities become null") {
    assert(Json.render(Map("a" -> Seq(1, 2L), "b" -> Map("x" -> Double.NaN, "y" -> 1.5))) ==
      """{"a":[1,2],"b":{"x":null,"y":1.5}}""")
    assert(Json.render(Map("c" -> None, "d" -> Some(Double.PositiveInfinity), "e" -> "q\"\n")) ==
      """{"c":null,"d":null,"e":"q\"\n"}""")
  }
}
