package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class VerifySpec extends AnyFunSuite {
  test("oracle_sql.json parses back to every oracle and hostile string unchanged") {
    val hostile = Seq(
      "tab" -> "SELECT\t1", "cr" -> "SELECT 1\r\nFROM t",
      "backslash" -> "regexp_matches(x, '\\b\\d{3}')", "quotes" -> "SELECT \"c\", 'x'",
      "control" -> "a\u0000b\u0007c\u001f", "unicode" -> "caf\u00e9 \u4e2d")
    val all = SparkEntry.oracleSql.toSeq ++ hostile
    val back = new ObjectMapper().readValue(Verify.oracleJson(all),
      classOf[java.util.Map[String, String]]).asScala.toMap
    assert(back == all.toMap)
  }
}
