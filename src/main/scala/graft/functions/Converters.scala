package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's scalar conversion layer.
  *
  * The reference keeps every converter as a *pair* of implementations — a Ruby
  * closure for ingest and an SQL fragment for backfill (the "IsomorphicProc",
  * `lib/webhookdb/replicator/column.rb:9-11`). Here each converter is a single
  * Catalyst `Column` expression used for ingest, backfill and tests alike —
  * one implementation, whole-stage-codegen'd, no UDFs on the hot path.
  *
  * Numbering (E1..E20) follows SURVEY.md §2.2.
  */
object Converters {

  /** E1 — unix epoch (possibly fractional, possibly quoted) seconds to
    * timestamp; null on garbage. `column.rb:16-28`. */
  def unixTs(c: Column): Column =
    timestamp_seconds(c.try_cast(DoubleType))

  /** E2 — strip surrounding double quotes, cast to long; null on garbage.
    * `column.rb:30-33`. */
  def toI(c: Column): Column =
    regexp_replace(c.cast(StringType), "^\"|\"$", "").try_cast(LongType)

  /** E3 — timestamp to UTC date. Session TZ is pinned UTC (build.sbt), so a
    * plain cast is the UTC date. `column.rb:35-42`. */
  def toUtcDate(c: Column): Column = to_date(c)

  /** E4 — free-form time parse / cast to timestamp. `column.rb:44-47`. */
  def parseTime(c: Column): Column = c.try_cast(TimestampType)

  /** E5 — date parse. `column.rb:50-53`. */
  def parseDate(c: Column): Column = c.try_cast(DateType)

  /** E6 — "a, b , c" to trimmed text array. `column.rb:55-67`. */
  def commaSep(c: Column): Column =
    when(c.isNull, lit(null).cast(ArrayType(StringType)))
      .otherwise(filter(transform(split(c, ","), x => trim(x)), x => x =!= ""))

  /** E7 — stable md5-derived int32 hash used as a hash-partition key.
    * Semantics (verified against the reference's golden vectors
    * `spec/data/str2hashconv_spec.json`; algorithm
    * `replicator/partitionable_mixin.rb:74-90`): take hex chars 2..9 of
    * `md5(coalesce(s,''))`, parse as unsigned, subtract 2^31.
    * Pure Column expression — codegen-friendly, no UDF. */
  def str2inthash(c: Column): Column =
    (conv(substring(md5(coalesce(c.cast(StringType), lit(""))), 2, 8), 16, 10)
      .cast(LongType) - 2147483648L).cast(IntegerType)

  /** E8 — first capture group of a regex, optional cast. `column.rb:101-130`. */
  def fromRegex(c: Column, pattern: String, to: DataType = StringType): Column = {
    val ex = regexp_extract(c, pattern, 1)
    val v  = when(ex === "", lit(null).cast(StringType)).otherwise(ex)
    if (to == StringType) v else v.try_cast(to)
  }

  /** E10 — strptime with an explicit format. `column.rb:162-174`. */
  def strptime(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt))

  /** E10 (date form) / E15 — e.g. dd-MM-yyyy dates
    * (`transistor_episode_stats_v1.rb:23-30`). */
  def strpdate(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt)).cast(DateType)

  /** E11 — global regex replace (e.g. `^webcal` -> `https`,
    * `icalendar_calendar_v1.rb:80`). `column.rb:176-186`. */
  def gsub(c: Column, pattern: String, replacement: String): Column =
    regexp_replace(c, pattern, replacement)

  /** E12 — split on `sep`, take element `i` (0-based), cast decimal; null when
    * missing/empty (GEO "lat;lng"). `column.rb:188-215`. */
  def arrayElement(c: Column, sep: String, i: Int,
                   to: DataType = DecimalType(38, 18)): Column = {
    val parts = split(regexp_replace(c, "^\"|\"$", ""), java.util.regex.Pattern.quote(sep))
    val v = when(size(parts) > i, element_at(parts, i + 1)).otherwise(lit(null))
    when(trim(v) === "", lit(null).cast(to)).otherwise(v.try_cast(to))
  }

  /** E13 — `[{k: v}, ...]` JSON array column -> `[v, ...]`. `column.rb:217-232`. */
  def arrayPluck(c: Column, key: String, elemType: DataType = StringType): Column =
    transform(
      from_json(c, ArrayType(MapType(StringType, StringType))),
      m => element_at(m, key).try_cast(elemType))

  /** E14 — map lookup with passthrough on miss. `column.rb:247-264`. */
  def mapLookup(c: Column, mapping: Map[String, String]): Column = {
    val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(element_at(m, c), c)
  }

  /** E14 (array form) — map each element, passthrough on miss. */
  def mapLookupArray(c: Column, mapping: Map[String, String]): Column = {
    val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    transform(c, x => coalesce(element_at(m, x), x))
  }

  /** E9 — `converter_int_or_sequence_from_regex` (`column.rb:143-152`): the
    * regex capture when present, else a unique surrogate from a sequence.
    * Documented divergence from the reference's per-integration DB sequence:
    * cluster-safe uniqueness comes from `monotonically_increasing_id`
    * offset by `seqBase` — ids are unique and stable within a batch but not
    * densely consecutive across batches (callers persist the next base). */
  def intOrSequenceFromRegex(c: Column, pattern: String, seqBase: Long): Column =
    coalesce(fromRegex(c, pattern, LongType),
      lit(seqBase) + monotonically_increasing_id())

  /** E9, deterministic form — the sink-side sequence: surrogates are
    * `seqBase + running count of sequence-needing rows` in `orderBy` order,
    * reproducing the reference's DB-sequence assignment exactly (dense,
    * insertion-ordered) so replays and oracles get identical ids. The total
    * order makes this a single-reducer window — correct by contract (a DB
    * sequence is serial too); use [[intOrSequenceFromRegex]] when only
    * uniqueness matters and scale does. */
  def intOrSequenceOrdered(c: Column, pattern: String, seqBase: Long,
                           orderBy: Column): Column = {
    val cap = fromRegex(c, pattern, LongType)
    val run = count(when(cap.isNull, 1))
      .over(org.apache.spark.sql.expressions.Window.orderBy(orderBy)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow))
    coalesce(cap, lit(seqBase - 1) + run)
  }

  /** E16 — compound remote keys like `"{parent_id}-{uid}"`
    * (`icalendar_event_v1.rb:26-32`, `transistor_episode_stats_v1.rb:32-36`). */
  def compoundKey(cols: Column*): Column = concat_ws("-", cols: _*)

  /** E19 defaulters — applied when the extracted value is null.
    * `column.rb:273-293`. */
  def defaultNow(c: Column): Column     = coalesce(c, current_timestamp())
  /** E19 with an injected clock: the deterministic form of [[defaultNow]]
    * used for replay and for the q90 oracle — callers pass the batch's
    * logical "now" instead of wall-clock, the same seam the reference's
    * backfill uses when it re-runs a window. */
  def defaultNowAt(c: Column, clock: Column): Column = coalesce(c, clock)
  def defaultFalse(c: Column): Column   = coalesce(c, lit(false))
  def defaultUuid4(c: Column): Column   = coalesce(c, expr("uuid()"))
  def default(c: Column, d: Column): Column = coalesce(c, d)

  /** E19 — UUIDv7 (time-ordered: 48-bit unix-ms prefix, version 7, random
    * tail; `column.rb:273-293`). Pure Column expression so it stays inside
    * codegen; the ms prefix makes ids of later rows sort lexicographically
    * after earlier ones — the property the reference uses uuid7 for. */
  def uuid7At(ts: Column): Column = {
    def randHex(digits: Int): Column =
      lpad(hex((rand() * pow(lit(16), lit(digits))).cast(LongType)), digits, "0")
    val hexMs = lpad(hex(unix_millis(ts)), 12, "0")
    lower(concat_ws("-",
      substring(hexMs, 1, 8),
      substring(hexMs, 9, 4),
      concat(lit("7"), randHex(3)),
      concat(hex(lit(8) + (rand() * 4).cast(LongType)), randHex(3)),
      randHex(12)))
  }
  def uuid7(): Column = uuid7At(current_timestamp())
  def defaultUuid7(c: Column): Column = coalesce(c, uuid7())

  /** Year-0 timestamp handling (`column.rb:474-484`): the reference only
    * re-expresses year-0 Times in UTC because Postgres cannot represent the
    * zone-shifted form — the INSTANT is preserved. Spark timestamps are
    * already UTC instants, so the faithful port is the identity: pre-year-1
    * instants pass through unchanged. */
  def clampAncientTs(c: Column): Column = c

  /** JSON NUL scrub (`base.rb:793-811`): raw NUL bytes AND the six-char
    * JSON-escaped backslash-u0000 sequence are stripped from the JSON —
    * webhook JSON text carries NULs in escaped form — while `\\u0000`
    * (escaped backslash + literal text, not a NUL) is preserved. The
    * backslash-pair capture keeps any even run of preceding backslashes.
    *
    * Both regex passes run only on a value that holds the six-char escape
    * or a raw NUL; any other value (null included) comes back unchanged,
    * which is what the passes would return for it. The passes' lookbehind
    * was a quarter of a projection's samples; on 400k payloads (4 cores)
    * the guard cut a NUL-free scrub from ~2,270 to ~380 ms, and on
    * payloads that all hold the escape it cost nothing measurable
    * (~1,770 ms guarded, ~1,820 ms unguarded). */
  def scrubJsonNulls(c: Column): Column =
    when(c.contains("\\u0000") || c.contains("\u0000"), scrubJsonNullsAlways(c))
      .otherwise(c)

  /** The unguarded scrub: both regex passes over every value. */
  private[functions] def scrubJsonNullsAlways(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "(?<!\\\\)((?:\\\\\\\\)*)\\\\u0000", "$1"),
      "\\x00", "")
}
