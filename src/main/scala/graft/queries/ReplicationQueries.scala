package graft.queries

import graft.Tables
import graft.functions.Converters
import graft.operators.{ColumnSpec, Merge, MergeSpec, Pipeline, Projection, Reconcile, ReplicatorSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The replication-pipeline operators (SURVEY §2.2/§2.3/§2.5/§2.6) exercised
  * end-to-end over the `events`/`documents` stream tables, each with an
  * independent SQL oracle. The `events` table plays the role of a webhook
  * event stream keyed by `user_id`, with `event_id` as ingest order.
  *
  * Timestamps: source parquet is nanosecond-precision; Spark truncates to
  * micros on read. All cross-engine comparisons and outputs therefore go
  * through epoch-milliseconds (`ts_ms`), which both engines derive by
  * truncation — precision-proof.
  */
object ReplicationQueries {

  private val dec2 = DecimalType(12, 2)
  type Q = (SparkSession, String) => DataFrame

  /** events projected to the merge schema. */
  private def eventsBase(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d).select(
      col("user_id"), col("event_id"),
      col("event_type"),
      unix_millis(col("ts")).as("ts_ms"),
      col("value").cast(dec2).as("v"))

  private val eventsBaseSql =
    """SELECT user_id, event_id, event_type,
      epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
      CAST(value AS DECIMAL(12,2)) AS v FROM events"""

  /** U1+U2+U4 — idempotent conditional upsert: batch 1 (even event_ids) forms
    * the snapshot, batch 2 (odd) merges in under event-time monotonicity
    * (`versionCol` ts: `src.ts > tgt.ts`), with in-batch dedup on the key to
    * the greatest ts (ties: the earliest event_id) — what applying the
    * events one at a time would keep. Late events in batch 2 must NOT
    * overwrite newer snapshot rows. */
  def q10(spark: SparkSession, d: String): DataFrame = {
    val base = eventsBase(spark, d)
    val spec = MergeSpec(
      keyCols = Seq("user_id"), orderCol = "event_id",
      versionCol = Some("ts_ms"))
    val target = Merge.dedupLastWins(base.filter(col("event_id") % 2 === 0), spec)
    val source = base.filter(col("event_id") % 2 === 1)
    Merge.upsert(target, source, spec)
      .withColumn("v", col("v").cast("double")).orderBy(col("user_id"))
  }

  val q10Sql: String = s"""
    WITH base AS ($eventsBaseSql),
    b1 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id) AS rn
           FROM base WHERE event_id % 2 = 0) WHERE rn = 1),
    b2 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id) AS rn
           FROM base WHERE event_id % 2 = 1) WHERE rn = 1)
    SELECT coalesce(b1.user_id, b2.user_id) AS user_id,
      CASE WHEN b1.user_id IS NULL THEN b2.event_id
           WHEN b2.user_id IS NOT NULL AND b2.ts_ms > b1.ts_ms THEN b2.event_id
           ELSE b1.event_id END AS event_id,
      CASE WHEN b1.user_id IS NULL THEN b2.event_type
           WHEN b2.user_id IS NOT NULL AND b2.ts_ms > b1.ts_ms THEN b2.event_type
           ELSE b1.event_type END AS event_type,
      CASE WHEN b1.user_id IS NULL THEN b2.ts_ms
           WHEN b2.user_id IS NOT NULL AND b2.ts_ms > b1.ts_ms THEN b2.ts_ms
           ELSE b1.ts_ms END AS ts_ms,
      CAST(CASE WHEN b1.user_id IS NULL THEN b2.v
           WHEN b2.user_id IS NOT NULL AND b2.ts_ms > b1.ts_ms THEN b2.v
           ELSE b1.v END AS DOUBLE) AS v
    FROM b1 FULL OUTER JOIN b2 ON b1.user_id = b2.user_id
    ORDER BY user_id"""

  /** U3+E20 — set-once (`coalesce(tgt, src)`) and skip-nil
    * (`coalesce(src, tgt)`) column policies in the same merge: the source
    * batch nulls out `v` for small values (partial payload) and must not
    * clobber the snapshot's value; `first_type` is insert-only. */
  def q11(spark: SparkSession, d: String): DataFrame = {
    val base = eventsBase(spark, d).withColumn("first_type", col("event_type"))
    val spec = MergeSpec(
      keyCols = Seq("user_id"), orderCol = "event_id",
      coalesceOnUpdate = Seq("first_type"),
      skipNilCols = Seq("v"))
    val target = Merge.dedupLastWins(base.filter(col("event_id") % 2 === 0), spec)
    val source = base.filter(col("event_id") % 2 === 1)
      .withColumn("v", when(col("v") < 100, lit(null).cast(dec2)).otherwise(col("v")))
    Merge.upsert(target, source, spec)
      .select(col("user_id"), col("event_id"), col("first_type"),
        col("v").cast("double").as("v"))
      .orderBy(col("user_id"))
  }

  val q11Sql: String = s"""
    WITH base AS ($eventsBaseSql),
    b1 AS (SELECT * FROM (SELECT *, event_type AS first_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM base WHERE event_id % 2 = 0) WHERE rn = 1),
    b2 AS (SELECT * FROM (SELECT user_id, event_id, event_type AS first_type,
             CASE WHEN v < 100 THEN NULL ELSE v END AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM base WHERE event_id % 2 = 1) WHERE rn = 1)
    SELECT coalesce(b1.user_id, b2.user_id) AS user_id,
      CASE WHEN b1.user_id IS NULL THEN b2.event_id
           WHEN b2.user_id IS NOT NULL THEN b2.event_id ELSE b1.event_id END AS event_id,
      CASE WHEN b1.user_id IS NULL THEN b2.first_type
           WHEN b2.user_id IS NOT NULL THEN coalesce(b1.first_type, b2.first_type)
           ELSE b1.first_type END AS first_type,
      CAST(CASE WHEN b1.user_id IS NULL THEN b2.v
           WHEN b2.user_id IS NOT NULL THEN coalesce(b2.v, b1.v)
           ELSE b1.v END AS DOUBLE) AS v
    FROM b1 FULL OUTER JOIN b2 ON b1.user_id = b2.user_id
    ORDER BY user_id"""

  /** R1 — cancel-missing full-feed reconciliation: the "feed" contains docs
    * with `doc_id % 3 != 0`; everything else flips to CANCELLED. */
  def q12(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), lit("ACTIVE").as("status"))
    val present = Tables.documents(spark, d)
      .filter(col("doc_id") % 3 =!= 0).select(col("doc_id"))
    Reconcile.cancelMissing(docs, present, "doc_id", "status", "CANCELLED")
      .orderBy(col("doc_id"))
  }

  val q12Sql: String = """
    SELECT doc_id,
      CASE WHEN doc_id % 3 = 0 THEN 'CANCELLED' ELSE 'ACTIVE' END AS status
    FROM documents ORDER BY doc_id"""

  /** R3 — windowed stale-row delete: errors below value 50 inside the stale
    * window are dropped; survivors aggregated per type. */
  def q13(spark: SparkSession, d: String): DataFrame = {
    val e = eventsBase(spark, d)
    val winStart = lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00"))
    val winEnd = lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    Reconcile.staleRowDelete(
        e.withColumn("ts", timestamp_millis(col("ts_ms"))),
        "ts", col("event_type") === "error" && col("v") < 50, winStart, winEnd)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q13Sql: String = s"""
    WITH base AS ($eventsBaseSql)
    SELECT event_type, count(*) AS n_rows, CAST(sum(v) AS DOUBLE) AS sum_value
    FROM base
    WHERE NOT (event_type = 'error' AND v < 50
      AND ts_ms >= epoch_ms(TIMESTAMP '2024-01-05 00:00:00')
      AND ts_ms < epoch_ms(TIMESTAMP '2024-01-20 00:00:00'))
    GROUP BY event_type ORDER BY event_type"""

  /** I1 — sync-target incremental scan: ts window, ordered by the watermark
    * column (the paged-commit contract, `sync_target.rb:435-447`). */
  def q14(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
    Reconcile.incrementalScan(e, "ts",
        lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
        lit(java.sql.Timestamp.valueOf("2024-01-12 00:00:00")))
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
  }

  val q14Sql: String = """
    SELECT event_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, user_id, event_type
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-12 00:00:00'
    ORDER BY ts_ms, event_id"""

  /** E2+E14 — the converter layer over a JSON payload column: dig `$.k` out
    * of `props` (quoted-int strip + cast), map event_type through a lookup
    * with passthrough on miss. */
  def q15(spark: SparkSession, d: String): DataFrame = {
    val mapping = Map("click" -> "engage", "view" -> "engage",
      "purchase" -> "convert", "signup" -> "convert")
    Tables.events(spark, d)
      .select(col("event_id"),
        Converters.toI(get_json_object(col("props"), "$.k")).as("k_int"),
        Converters.mapLookup(col("event_type"), mapping).as("category"))
      .orderBy(col("event_id"))
  }

  val q15Sql: String = """
    SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
      CASE event_type WHEN 'click' THEN 'engage' WHEN 'view' THEN 'engage'
        WHEN 'purchase' THEN 'convert' WHEN 'signup' THEN 'convert'
        ELSE event_type END AS category
    FROM events ORDER BY event_id"""

  /** E7 — str2inthash partition key (golden-vector-verified md5 hash) over
    * customer names, plus the partition histogram it induces (U5). */
  def q16(spark: SparkSession, d: String): DataFrame = {
    Tables.customer(spark, d)
      .select(col("c_custkey"),
        Converters.str2inthash(col("c_name")).as("part_hash"),
        pmod(Converters.str2inthash(col("c_name")), lit(8)).as("partition_8"))
      .orderBy(col("c_custkey"))
  }

  val q16Sql: String = """
    SELECT c_custkey,
      CAST(CAST('0x' || substring(md5(c_name), 2, 8) AS BIGINT) - 2147483648 AS INTEGER) AS part_hash,
      CAST(((CAST('0x' || substring(md5(c_name), 2, 8) AS BIGINT) - 2147483648) % 8 + 8) % 8 AS INTEGER) AS partition_8
    FROM customer ORDER BY c_custkey"""

  /** E16 — compound remote keys (`"{parent}-{date}"`), distinct-count per
    * parent: the active-days per user profile. */
  def q17(spark: SparkSession, d: String): DataFrame = {
    Tables.events(spark, d)
      .select(col("user_id"),
        Converters.compoundKey(col("user_id"), date_format(col("ts"), "yyyy-MM-dd"))
          .as("day_key"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("day_key")).as("n_active_days"))
      .orderBy(col("user_id"))
  }

  val q17Sql: String = """
    SELECT user_id,
      count(DISTINCT user_id || '-' || strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')) AS n_active_days
    FROM events GROUP BY user_id ORDER BY user_id"""

  /** S1+U6+§2.2 — the full replicator ingest pipeline under oracle: events
    * rendered as webhook payloads (half event-wrapped, Stripe style), run
    * through unwrap -> ColumnSpec projection (digs, converters, casts) ->
    * merge into an empty snapshot. The oracle recomputes the final table
    * directly from the source columns — engine JSON round-tripping must be
    * value-neutral. */
  def q18(spark: SparkSession, d: String): DataFrame = {
    val mapping = Map("click" -> "engage", "view" -> "engage",
      "purchase" -> "convert", "signup" -> "convert")
    val spec = ReplicatorSpec(
      name = "measurement_v1",
      remoteKeyCol = "measure_id",
      columns = Seq(
        ColumnSpec("measure_id", StringType, Seq("id")),
        ColumnSpec("user_id", LongType, Seq("user")),
        ColumnSpec("category", StringType, Seq("type"),
          convert = c => Converters.mapLookup(c, mapping)),
        ColumnSpec("created", TimestampType, Seq("created_ms"),
          convert = c => timestamp_millis(Converters.toI(c))),
        ColumnSpec("amount", DecimalType(12, 2), Seq("amount"))),
      timestampCol = Some("created"),
      eventPred = body => get_json_object(body, "$.object") === "event",
      resourcePath = Seq("data", "object"))
    val e = Tables.events(spark, d)
    val plain = to_json(struct(
      concat(lit("ev-"), col("event_id")).as("id"),
      col("user_id").as("user"),
      col("event_type").as("type"),
      unix_millis(col("ts")).as("created_ms"),
      col("value").as("amount")))
    val body = when(col("event_id") % 2 === 1,
      concat(lit("""{"object":"event","data":{"object":"""), plain, lit("}}")))
      .otherwise(plain)
    val webhooks = Tables.parallel(
      e.select(body.as("body"), col("event_id").as(Projection.IngestSeqCol)))
    Pipeline.upsertBatch(spec, Pipeline.emptyTarget(spec, spark), webhooks)
      .select(col("measure_id"), col("user_id"), col("category"),
        unix_millis(col("created")).as("ts_ms"),
        col("amount").cast("double").as("amount"),
        date_format(col("created"), "yyyy-MM-dd").as("day"))
      .orderBy(col("measure_id"))
  }

  val q18Sql: String = """
    SELECT 'ev-' || event_id AS measure_id, user_id,
      CASE event_type WHEN 'click' THEN 'engage' WHEN 'view' THEN 'engage'
        WHEN 'purchase' THEN 'convert' WHEN 'signup' THEN 'convert'
        ELSE event_type END AS category,
      epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
      CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS amount,
      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
    FROM events ORDER BY measure_id"""

  /** §1.3 schema evolution — a column added after the fact is re-derived
    * from the stored `data` JSON with the SAME ColumnSpec expression used at
    * ingest (the reference needs a second SQL converter implementation and
    * chunked UPDATEs, `base.rb:575-643`). */
  def q19(spark: SparkSession, d: String): DataFrame = {
    val stored = Tables.events(spark, d)
      .select(col("event_id"), col("props").as("data"))
    val kInt = ColumnSpec("k_int", LongType, Seq("k"), convert = Converters.toI)
    val kBucket = ColumnSpec("k_bucket", LongType, Seq("k"),
      convert = c => pmod(Converters.toI(c), lit(10)))
    Pipeline.backfillColumn(Pipeline.backfillColumn(stored, kInt), kBucket)
      .select(col("event_id"), col("k_int"), col("k_bucket"))
      .orderBy(col("event_id"))
  }

  val q19Sql: String = """
    SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
      CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events ORDER BY event_id"""

  /** U7 — the rowupsert side-effect stream: the rows of the q10 merge whose
    * upsert actually changed the table (insert or monotonic update), i.e.
    * exactly what `Notify.enqueueDeliveries` fans out. */
  def q86(spark: SparkSession, d: String): DataFrame = {
    val base = eventsBase(spark, d)
    val spec = MergeSpec(
      keyCols = Seq("user_id"), orderCol = "event_id",
      versionCol = Some("ts_ms"))
    val target = Merge.dedupLastWins(base.filter(col("event_id") % 2 === 0), spec)
    val source = base.filter(col("event_id") % 2 === 1)
    Merge.changedRows(target, source, spec)
      .withColumn("v", col("v").cast("double")).orderBy(col("user_id"))
  }

  val q86Sql: String = s"""
    WITH base AS ($eventsBaseSql),
    b1 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id) AS rn
           FROM base WHERE event_id % 2 = 0) WHERE rn = 1),
    b2 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id) AS rn
           FROM base WHERE event_id % 2 = 1) WHERE rn = 1)
    SELECT b2.user_id, b2.event_id, b2.event_type, b2.ts_ms,
      CAST(b2.v AS DOUBLE) AS v
    FROM b2 LEFT JOIN b1 ON b1.user_id = b2.user_id
    WHERE b1.user_id IS NULL OR b2.ts_ms > b1.ts_ms
    ORDER BY b2.user_id"""

  val defs: Map[String, Q] = Map(
    "q86_changed_rows" -> (q86 _),
    "q10_upsert_monotonic" -> (q10 _),
    "q11_upsert_setonce_skipnil" -> (q11 _),
    "q12_reconcile_cancel_missing" -> (q12 _),
    "q13_stale_row_delete" -> (q13 _),
    "q14_incremental_scan" -> (q14 _),
    "q15_json_converters" -> (q15 _),
    "q16_str2inthash_partition" -> (q16 _),
    "q17_compound_key_days" -> (q17 _),
    "q18_replicator_pipeline" -> (q18 _),
    "q19_schema_evolution_backfill" -> (q19 _))

  val oracles: Map[String, String] = Map(
    "q86_changed_rows" -> q86Sql,
    "q10_upsert_monotonic" -> q10Sql,
    "q11_upsert_setonce_skipnil" -> q11Sql,
    "q12_reconcile_cancel_missing" -> q12Sql,
    "q13_stale_row_delete" -> q13Sql,
    "q14_incremental_scan" -> q14Sql,
    "q15_json_converters" -> q15Sql,
    "q16_str2inthash_partition" -> q16Sql,
    "q17_compound_key_days" -> q17Sql,
    "q18_replicator_pipeline" -> q18Sql,
    "q19_schema_evolution_backfill" -> q19Sql)
}
