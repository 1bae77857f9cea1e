package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Converter parity tests — the port of the reference's "a service column
  * converter" shared examples (`shared_examples_for_columns.rb:3-30`): each
  * converter is one Catalyst expression checked against golden values,
  * including the full `str2hashconv` golden-vector file. */
class ConvertersSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  test("E7 str2inthash matches all reference golden vectors") {
    val path = getClass.getResource("/str2hashconv_golden.json").getPath
    val golden = spark.read.option("multiLine", true)
      .schema("input STRING, output INT").json(path)
    val n = golden.count()
    assert(n > 2000)
    val mismatches = golden
      .withColumn("got", Converters.str2inthash(col("input")))
      .filter(!(col("got") <=> col("output")))
      .count()
    assert(mismatches == 0)
  }

  test("E1 unix ts: fractional seconds, strings, garbage") {
    assert(one(Converters.unixTs(lit(1560506164L)))
      .asInstanceOf[java.sql.Timestamp].getTime == 1560506164000L)
    assert(one(Converters.unixTs(lit("1560506164.5")))
      .asInstanceOf[java.sql.Timestamp].getTime == 1560506164500L)
    assert(one(Converters.unixTs(lit("garbage"))) == null)
  }

  test("E2 to_i strips quotes") {
    assert(one(Converters.toI(lit("\"42\""))) == 42L)
    assert(one(Converters.toI(lit("17"))) == 17L)
    assert(one(Converters.toI(lit("abc"))) == null)
  }

  test("E6 comma-sep trims and drops empties") {
    assert(one(Converters.commaSep(lit("a, b ,c"))) == Seq("a", "b", "c"))
    assert(one(Converters.commaSep(lit(null).cast(StringType))) == null)
  }

  test("E8 regex capture with cast") {
    assert(one(Converters.fromRegex(lit("ep-123"), "ep-(\\d+)", LongType)) == 123L)
    assert(one(Converters.fromRegex(lit("nope"), "ep-(\\d+)")) == null)
  }

  test("E10/E15 strptime formats") {
    assert(one(Converters.strpdate(lit("03-01-2024"), "dd-MM-yyyy")) ==
      java.sql.Date.valueOf("2024-01-03"))
  }

  test("E11 gsub webcal->https") {
    assert(one(Converters.gsub(lit("webcal://x/feed.ics"), "^webcal", "https")) ==
      "https://x/feed.ics")
  }

  test("E12 array element split (GEO lat;lng)") {
    val got = one(Converters.arrayElement(lit("45.5;-122.6"), ";", 1, DecimalType(10, 4)))
    assert(got.toString.startsWith("-122.6"))
    assert(one(Converters.arrayElement(lit("45.5"), ";", 1, DecimalType(10, 4))) == null)
  }

  test("E13 array pluck from JSON") {
    assert(one(Converters.arrayPluck(lit("""[{"id":"a"},{"id":"b"}]"""), "id")) ==
      Seq("a", "b"))
  }

  test("E14 map lookup passthrough on miss") {
    val m = Map("A" -> "Alpha")
    assert(one(Converters.mapLookup(lit("A"), m)) == "Alpha")
    assert(one(Converters.mapLookup(lit("Z"), m)) == "Z")
  }

  test("E16 compound key") {
    assert(one(Converters.compoundKey(lit("cal-1"), lit("ev1"), lit(3))) == "cal-1-ev1-3")
  }

  test("E19 defaulters") {
    assert(one(Converters.defaultFalse(lit(null).cast(BooleanType))) == false)
    assert(one(Converters.default(lit(null).cast(StringType), lit("d"))) == "d")
  }

  test("NUL scrub strips raw and JSON-escaped NULs, keeps escaped backslashes") {
    val raw = "a" + "\u0000" + "b"
    assert(one(Converters.scrubJsonNulls(lit(raw))) == "ab")
    // the six-char escape backslash-u0000 IS a NUL in JSON text -> removed
    // (base.rb:793-811 gsub)
    assert(one(Converters.scrubJsonNulls(lit("a\\u0000b"))) == "ab")
    // double backslash + u0000 = escaped backslash + literal text -> preserved
    assert(one(Converters.scrubJsonNulls(lit("a\\\\u0000b"))) == "a\\\\u0000b")
    // escaped backslash pair before a real escaped NUL: pair kept, NUL removed
    assert(one(Converters.scrubJsonNulls(lit("a\\\\\\u0000b"))) == "a\\\\b")
  }

  test("NUL scrub: the guarded form equals both regex passes on every input") {
    val nul = "\u0000"
    val esc = "\\" + "u0000" // the six-char escape
    // 0-5 backslashes before u0000, raw NULs, both, and neither
    val escapes = (0 to 5).map(n => "\\" * n + "u0000")
    val fixed = escapes ++ escapes.map(_ + nul) ++ escapes.map(nul + _) ++
      Seq(nul, nul * 2, "", "plain", """{"a":"b"}""", "\\u0041", "u0000", "\\\\") ++
      escapes.flatMap(e => Seq(s"""{"k":"x${e}y"}""", e + e, s"a${e}b${nul}c"))
    val rnd = new scala.util.Random(7)
    val tokens = Seq("a", "\\", "u", "0", "u0000", esc, nul, "\"", "{")
    val generated = Seq.fill(2000)(Seq.fill(rnd.nextInt(9))(tokens(rnd.nextInt(tokens.size))).mkString)
    val inputs = (fixed ++ generated).map(Option(_)) :+ None
    val df = inputs.toDF("s")
    val differing = df
      .select(col("s"), Converters.scrubJsonNulls(col("s")).as("guarded"),
        Converters.scrubJsonNullsAlways(col("s")).as("always"))
      .where(!(col("guarded") <=> col("always")))
      .collect()
    assert(differing.isEmpty, differing.take(5).mkString("; "))
    // both branches ran: some inputs change, others pass through
    val changed = df.where(!(Converters.scrubJsonNulls(col("s")) <=> col("s"))).count()
    assert(changed > 0 && changed < inputs.size)
  }

  test("E19 uuid7 is well-formed and time-ordered") {
    val early = Converters.uuid7At(lit("2024-01-01 00:00:00").cast(TimestampType))
    val late = Converters.uuid7At(lit("2024-06-01 00:00:00").cast(TimestampType))
    val u1 = one(early).toString; val u2 = one(late).toString
    val re = "^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$".r
    assert(re.findFirstIn(u1).isDefined, u1)
    assert(re.findFirstIn(u2).isDefined, u2)
    assert(u1 < u2) // ms-prefix monotonicity
    assert(one(Converters.defaultUuid7(lit("keep"))) == "keep")
  }
}
