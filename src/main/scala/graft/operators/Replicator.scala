package graft.operators

import graft.functions.Converters
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative per-resource schema: the Spark analog of
  * `Webhookdb::Replicator::Column` (`lib/webhookdb/replicator/column.rb:380-411`).
  *
  * The reference keeps each converter twice (Ruby proc + SQL string, the
  * "IsomorphicProc"); here `convert` is ONE Catalyst expression used by
  * streaming ingest, batch backfill AND schema-evolution re-derivation
  * (`Pipeline.backfillColumn`) — the single-expression-layer design win
  * (SURVEY §7.1).
  *
  * @param dataKey   JSON dig path into the resource (nested = Seq of keys),
  *                  `column.rb:493-509`
  * @param eventKey  when the payload arrived event-wrapped, dig this path out
  *                  of the event envelope instead (precedence enrichment >
  *                  event > resource, `column.rb:457-465`)
  * @param defaulter applied when the dug value is null, BEFORE the converter
  *                  (`column.rb:466-467`)
  * @param skipNil   never overwrite an existing row value with null (E20,
  *                  `column.rb:362-366`)
  * @param setOnce   insert-only column (`coalesce(tgt, src)` on update, U3)
  */
final case class ColumnSpec(
    name: String,
    dataType: DataType,
    dataKey: Seq[String],
    eventKey: Seq[String] = Nil,
    fromEnrichment: Boolean = false,
    convert: Column => Column = identity,
    defaulter: Option[Column => Column] = None,
    skipNil: Boolean = false,
    setOnce: Boolean = false,
    /** Escape hatch for values derived from several resource fields (e.g.
      * compound keys, E16): a function of the whole resource JSON column.
      * When set, dataKey/eventKey digs are skipped (converter still runs). */
    resourceExpr: Option[Column => Column] = None)

object ColumnSpec {
  def apply(name: String, dataType: DataType): ColumnSpec =
    ColumnSpec(name, dataType, Seq(name))
  /** JSONPath for a dig; numeric keys index arrays, non-identifier keys
    * bracket-quote (e.g. `georss:point`). */
  def path(keys: Seq[String]): String =
    "$" + keys.map { k =>
      if (k.matches("[0-9]+")) s"[$k]"
      else if (k.matches("[A-Za-z0-9_]+")) s".$k"
      else s"['$k']"
    }.mkString
}

/** Declarative pipeline descriptor — the Spark analog of the replicator
  * `Descriptor` registry entry + schema (`lib/webhookdb/replicator.rb:28-145`,
  * `base.rb:508-528`).
  *
  * @param resourcePath  when `eventPred` holds, the resource lives at this
  *                      path inside the envelope (e.g. Stripe `data.object`,
  *                      `stripe_v1_mixin.rb:6-10`)
  * @param updateWhere   U2 event-time monotonicity; default "data changed"
  *                      (`base.rb:861-879`)
  * @param versionCol    a strictly monotonic version column: the merge
  *                      updates when `t(v) < s(v)` and dedups a batch to
  *                      what one-at-a-time application would keep
  *                      ([[MergeSpec.versionCol]]); replaces `updateWhere`
  */
final case class ReplicatorSpec(
    name: String,
    remoteKeyCol: String,
    columns: Seq[ColumnSpec],
    timestampCol: Option[String] = None,
    updateWhere: (String => Column, String => Column) => Column =
      ReplicatorSpec.DataChanged,
    eventPred: Column => Column = _ => lit(false),
    resourcePath: Seq[String] = Nil,
    partitioned: Boolean = false,
    /** store the fetched enrichment JSON alongside the row (the reference's
      * `enrichment jsonb` column, `base.rb:460-465`). */
    usesEnrichment: Boolean = false,
    dependsOn: Option[String] = None,
    versionCol: Option[String] = None) {
  require(versionCol.isEmpty || (updateWhere eq ReplicatorSpec.DataChanged),
    s"$name: versionCol derives the update condition; do not pass updateWhere too")

  /** Full output schema: declared columns + partition hash (U5, optional) +
    * `data` (scrubbed resource JSON, always last — `base.rb:344-369`). */
  def outputColumns: Seq[String] =
    columns.map(_.name) ++
      (if (partitioned) Seq("part_hash") else Nil) ++
      (if (usesEnrichment) Seq("enrichment") else Nil) :+ "data"

  def mergeSpec: MergeSpec = MergeSpec(
    keyCols = (if (partitioned) Seq("part_hash") else Nil) :+ remoteKeyCol,
    orderCol = Projection.IngestSeqCol,
    updateWhere = if (versionCol.isDefined) MergeSpec.Always else updateWhere,
    coalesceOnUpdate = columns.filter(_.setOnce).map(_.name),
    skipNilCols = columns.filter(_.skipNil).map(_.name),
    versionCol = versionCol)
}

object ReplicatorSpec {
  /** The default U2 condition: the resource JSON changed. */
  val DataChanged: (String => Column, String => Column) => Column =
    (t, s) => !(t("data") <=> s("data"))
}

/** The projection engine: raw webhook body -> wide typed row
  * (`base.rb:747-760` unwrap + `:909-916` prepare-for-insert).
  * Pure Catalyst expressions; used identically for streaming microbatches
  * and batch backfills.
  */
object Projection {

  /** Ingest-order column added by sources; drives last-wins dedup (U4). */
  val IngestSeqCol = "__ingest_seq"

  private def dig(json: Column, keys: Seq[String]): Column =
    get_json_object(json, ColumnSpec.path(keys))

  /** Resolve one ColumnSpec against (resource, event, enrichment) JSON
    * columns: dig with source precedence -> defaulter on null -> converter
    * -> cast. */
  def resolve(spec: ColumnSpec, resource: Column, event: Column,
              enrichment: Column): Column = {
    val raw = spec.resourceExpr match {
      case Some(f) => f(resource)
      case None =>
        if (spec.fromEnrichment) dig(enrichment, spec.dataKey)
        else if (spec.eventKey.nonEmpty)
          when(event.isNotNull, dig(event, spec.eventKey))
            .otherwise(dig(resource, spec.dataKey))
        else dig(resource, spec.dataKey)
    }
    val defaulted = spec.defaulter.fold(raw)(d => d(raw))
    spec.convert(defaulted).try_cast(spec.dataType).as(spec.name)
  }

  /** Project a batch of webhook requests (`body` JSON string column, optional
    * `enrichment`, plus [[IngestSeqCol]]) into the replicator's wide schema.
    * Rows whose resource is null (U6 skip routing) are dropped.
    *
    * Parse discipline (matters at scale): the resource/event JSON strings are
    * materialized ONCE as intermediate columns, and every top-level
    * single-key dig comes out of ONE `json_tuple` pass — not one full JSON
    * parse per projected column. Nested paths and event-envelope digs fall
    * back to `get_json_object` against the materialized strings. */
  def project(spec: ReplicatorSpec, webhooks: DataFrame): DataFrame = {
    val body = col("body")
    val hasEnrichment = webhooks.columns.contains("enrichment")
    val enrichment = if (hasEnrichment) col("enrichment") else lit(null).cast(StringType)
    val isEvent = spec.eventPred(body)
    val resourceExprCol =
      if (spec.resourcePath.isEmpty) body
      else when(isEvent, dig(body, spec.resourcePath)).otherwise(body)
    val eventExprCol = when(isEvent, body).otherwise(lit(null).cast(StringType))

    val staged = webhooks
      .withColumn("__resource", resourceExprCol)
      .withColumn("__event", eventExprCol)

    // one json_tuple pass over all distinct top-level resource keys
    val topKeys = spec.columns
      .filter(c => c.resourceExpr.isEmpty && !c.fromEnrichment && c.dataKey.size == 1)
      .map(_.dataKey.head).distinct
    val jtAliases = topKeys.map(k => s"__jt_$k")
    val tupled =
      if (topKeys.isEmpty) staged
      else staged.select(col("*") +:
        Seq(json_tuple(col("__resource"), topKeys: _*).as(jtAliases)): _*)

    def rawFor(c: ColumnSpec): Column = c.resourceExpr match {
      case Some(f) => f(col("__resource"))
      case None =>
        val fromResource =
          if (!c.fromEnrichment && c.dataKey.size == 1 && topKeys.contains(c.dataKey.head))
            col(s"__jt_${c.dataKey.head}")
          else if (c.fromEnrichment) dig(enrichment, c.dataKey)
          else dig(col("__resource"), c.dataKey)
        if (c.eventKey.nonEmpty)
          when(col("__event").isNotNull, dig(col("__event"), c.eventKey))
            .otherwise(fromResource)
        else fromResource
    }
    def resolved(c: ColumnSpec): Column = {
      val defaulted = c.defaulter.fold(rawFor(c))(d => d(rawFor(c)))
      c.convert(defaulted).try_cast(c.dataType).as(c.name)
    }

    val enrichOut =
      if (spec.usesEnrichment)
        Seq(Converters.scrubJsonNulls(enrichment).as("enrichment")) else Nil
    val projected = tupled.select(
      spec.columns.map(resolved) ++ enrichOut ++ Seq(
        Converters.scrubJsonNulls(col("__resource")).as("data"),
        col(IngestSeqCol)): _*)
    val withPart =
      if (spec.partitioned)
        projected.withColumn("part_hash", Converters.str2inthash(col(spec.remoteKeyCol)))
          .select((spec.columns.map(c => col(c.name)) :+ col("part_hash")) ++
            enrichOut.map(_ => col("enrichment")) ++
            Seq(col("data"), col(IngestSeqCol)): _*)
      else projected
    withPart.filter(col(spec.remoteKeyCol).isNotNull)
  }
}

/** End-to-end upsert pipeline: unwrap -> project -> dedup -> merge — shared
  * by streaming `foreachBatch` and batch backfill (SURVEY §7.1 pillar 3/4).
  */
object Pipeline {

  /** Apply one batch of webhook payloads to the current snapshot. */
  def upsertBatch(spec: ReplicatorSpec, target: DataFrame,
                  webhooks: DataFrame): DataFrame = {
    val projected = Projection.project(spec, webhooks)
    Merge.upsert(target.withColumn(Projection.IngestSeqCol, lit(-1L)),
        projected, spec.mergeSpec)
      .drop(Projection.IngestSeqCol)
  }

  /** Changed-row side output of a batch (U7 rowupsert notifications). */
  def changedBatch(spec: ReplicatorSpec, target: DataFrame,
                   webhooks: DataFrame): DataFrame =
    Merge.changedRows(target.withColumn(Projection.IngestSeqCol, lit(-1L)),
        Projection.project(spec, webhooks), spec.mergeSpec)
      .drop(Projection.IngestSeqCol)

  /** Snapshot AND changed rows from ONE merge (cached), for consumers that
    * need both — e.g. the dependency cascade, which writes the snapshot and
    * fans the changed rows out to children. */
  def applyBatch(spec: ReplicatorSpec, target: DataFrame,
                 webhooks: DataFrame): (DataFrame, DataFrame) = {
    val merged = Merge.mergeBatch(
      target.withColumn(Projection.IngestSeqCol, lit(-1L)),
      Projection.project(spec, webhooks), spec.mergeSpec).cache()
    val snapshot = merged.drop("__change").drop(Projection.IngestSeqCol)
    val changed = merged.filter(col("__change") =!= "keep")
      .drop("__change").drop(Projection.IngestSeqCol)
    (snapshot, changed)
  }

  /** Empty snapshot with the replicator's schema. */
  def emptyTarget(spec: ReplicatorSpec, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val fields = spec.columns.map(c => StructField(c.name, c.dataType)) ++
      (if (spec.partitioned) Seq(StructField("part_hash", IntegerType)) else Nil) ++
      (if (spec.usesEnrichment) Seq(StructField("enrichment", StringType)) else Nil) :+
      StructField("data", StringType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields))
  }

  /** Schema evolution (§1.3): re-derive a (new) column for already-stored
    * rows from the persisted `data` JSON using the SAME ColumnSpec expression
    * as ingest — the reference needs chunked SQL UPDATEs with a second SQL
    * converter implementation (`base.rb:575-643`); here it is one projection.
    */
  def backfillColumn(stored: DataFrame, spec: ColumnSpec,
                     dataCol: String = "data"): DataFrame = {
    val enrichmentCol =
      if (stored.columns.contains("enrichment")) col("enrichment")
      else lit(null).cast(StringType)
    stored.withColumn(spec.name,
      Projection.resolve(spec, col(dataCol), lit(null).cast(StringType), enrichmentCol))
  }
}
