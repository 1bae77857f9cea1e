package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent, conditional, event-time-monotonic upsert — the reference's
  * central mutation operator (`INSERT .. ON CONFLICT DO UPDATE .. WHERE`,
  * `lib/webhookdb/replicator/base.rb:762-785`), re-expressed as a snapshot
  * merge: `new = target FULL OUTER JOIN dedup(source) ON key`, resolved
  * per column.
  *
  * Semantics preserved (SURVEY §2.3):
  *  - U1: upsert on the remote-key conflict target;
  *  - U2: `updateWhere(tgt, src)` — late/out-of-order events can never
  *    overwrite newer rows (`base.rb:861-879`); no lateness bound, no drops;
  *  - U3: set-once columns `coalesce(tgt.c, src.c)` (`base.rb:958-974`);
  *  - U4: in-batch duplicate keys collapse last-wins by ingest order
  *    (`backfiller.rb:58-114`) — required since a relational merge forbids
  *    duplicate source keys; a spec with a `versionCol` collapses to what
  *    one-at-a-time application would keep instead, so the result does not
  *    depend on where batch boundaries fall;
  *  - E20/skipNil: never overwrite an existing value with null
  *    (`column.rb:362-366`).
  *
  * Scale shape: one shuffle on the key columns (the join); with the target
  * stored hash-partitioned by `Converters.str2inthash(key)` (U5) the join
  * co-locates and only dirty partitions rewrite. The dedup window reuses the
  * same key partitioning, so dedup + merge is a single exchange.
  */
final case class MergeSpec(
    keyCols: Seq[String],
    /** ingest-order column; larger = later. Drives U4 last-wins dedup. */
    orderCol: String,
    /** U2 — may the matched source row overwrite the matched target row?
      * Receives column resolvers for target and source. Default: always.
      * Derived from [[versionCol]] when that is set. */
    updateWhere: (String => Column, String => Column) => Column = MergeSpec.Always,
    /** U3 — insert-only / set-once columns (e.g. row_created_at). */
    coalesceOnUpdate: Seq[String] = Nil,
    /** E20 — columns whose null in source must not clobber target. */
    skipNilCols: Seq[String] = Nil,
    /** The event-time version column of a strictly monotonic merge. When
      * set, the update condition is `t(v) < s(v)` and the in-batch dedup
      * keeps the greatest `v` (ties: the earliest ingest, then the content
      * hash) — exactly the row that applying the batch's deliveries one at
      * a time in ingest order would leave, so a merge's result does not
      * depend on where microbatch boundaries fall (prefix consistency,
      * Structured Streaming, SIGMOD 2018). Versions are assumed non-null;
      * set-once and skip-nil columns still resolve against the batch's
      * winning row, not per delivery. */
    versionCol: Option[String] = None) {
  require(versionCol.isEmpty || (updateWhere eq MergeSpec.Always),
    "versionCol derives the update condition t(v) < s(v); do not pass updateWhere too")

  /** The effective U2 condition. */
  def condition(t: String => Column, s: String => Column): Column =
    versionCol.fold(updateWhere(t, s))(v => t(v) < s(v))
}

object MergeSpec {
  /** The unconditional update (the default U2 condition). */
  val Always: (String => Column, String => Column) => Column = (_, _) => lit(true)
}

object Merge {

  /** True if `dt` contains a MapType anywhere — Spark's hash functions
    * reject such columns at analysis (maps have no canonical entry order).
    * Shared with KeyedStore's within-delta dedup. */
  private[operators] def containsMapType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case ArrayType(e, _) => containsMapType(e)
      case StructType(fs) => fs.exists(f => containsMapType(f.dataType))
      case _ => false
    }
  }

  /** U4 — collapse duplicate keys within a batch, keeping the row with the
    * greatest `orderCol` (later-position wins is undefined in the reference
    * hash-overwrite; we make it deterministic), or for a versioned spec the
    * row [[MergeSpec.versionCol]] names. Remaining ties break on
    * a content hash of the WHOLE row: row_number over a NON-total order
    * would pick whichever duplicate the shuffle delivered first, and a
    * fetch-failure re-execution could deliver the other one — a retried
    * stage must merge the same payload as the original attempt. Map-typed
    * columns (e.g. the webhook headers map) cannot feed xxhash64 directly
    * (rejected at analysis: no canonical entry order), so they enter the
    * hash as `to_json` — per row that serialization is a pure function of
    * the deterministic lineage that built the map, which is the same
    * assumption every other column already rides on. Dropping them instead
    * would leave rows differing ONLY in a map column unordered — the exact
    * retry nondeterminism this tiebreak exists to prevent. */
  def dedupLastWins(source: DataFrame, spec: MergeSpec): DataFrame = {
    val tiebreakCols = source.schema.fields.toSeq.sortBy(_.name).map { f =>
      if (containsMapType(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    // a versioned spec keeps what a one-at-a-time fold keeps: the greatest
    // version, the earliest delivery among equal versions (a strict t < s
    // never lets a later equal version overwrite)
    val order = spec.versionCol.fold(Seq(col(spec.orderCol).desc))(v =>
      Seq(col(v).desc, col(spec.orderCol).asc))
    val w = Window.partitionBy(spec.keyCols.map(col): _*)
      .orderBy(order :+ xxhash64(tiebreakCols: _*).desc: _*)
    source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The merge. `target` and `source` must share a schema. Returns the new
    * snapshot with an extra `__change` column in {"insert","update","keep"}
    * for side-effect routing (U7) — callers `.drop("__change")` or split on
    * it for the rowupsert notification stream.
    */
  def mergeBatch(target: DataFrame, source: DataFrame, spec: MergeSpec): DataFrame = {
    val cols = target.columns.toSeq
    require(source.columns.toSet == cols.toSet,
      s"schema mismatch: ${cols.mkString(",")} vs ${source.columns.mkString(",")}")

    // column ORDER is normalized to the target's (upstream joins may have
    // reordered either side)
    val src = dedupLastWins(source.select(cols.map(col): _*), spec)
    val t = target.select(cols.map(c => col(c).as(s"t_$c")): _*)
    val s = src.select(cols.map(c => col(c).as(s"s_$c")): _*)
    // plain equality, not null-safe: keys are non-null by contract (the
    // projection drops null remote keys), and === lets the join reuse the
    // dedup window's hash partitioning instead of inserting a second
    // exchange per side (null-safe keys defeat alias-aware partitioning
    // propagation).
    val joinCond = spec.keyCols.map(k => col(s"t_$k") === col(s"s_$k")).reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")

    val tc: String => Column = c => col(s"t_$c")
    val sc: String => Column = c => col(s"s_$c")
    val inTarget = spec.keyCols.map(tc).map(_.isNotNull).reduce(_ || _)
    val inSource = spec.keyCols.map(sc).map(_.isNotNull).reduce(_ || _)
    val doUpdate = spec.condition(tc, sc)

    def resolved(c: String): Column = {
      val updated =
        if (spec.coalesceOnUpdate.contains(c)) coalesce(tc(c), sc(c))
        else if (spec.skipNilCols.contains(c)) coalesce(sc(c), tc(c))
        else sc(c)
      when(!inTarget, sc(c))                       // insert
        .when(inTarget && inSource && doUpdate, updated)
        .otherwise(tc(c))                          // keep
        .as(c)
    }
    val change =
      when(!inTarget, lit("insert"))
        .when(inTarget && inSource && doUpdate, lit("update"))
        .otherwise(lit("keep")).as("__change")
    joined.select(cols.map(resolved) :+ change: _*)
  }

  /** Convenience: merge and drop the change marker. */
  def upsert(target: DataFrame, source: DataFrame, spec: MergeSpec): DataFrame =
    mergeBatch(target, source, spec).drop("__change")

  /** U7 — rows whose upsert changed the table (insert or update), for the
    * rowupsert notification fan-out (`base.rb:813-838`). */
  def changedRows(target: DataFrame, source: DataFrame, spec: MergeSpec): DataFrame =
    mergeBatch(target, source, spec)
      .filter(col("__change") =!= "keep").drop("__change")
}
