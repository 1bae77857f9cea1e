package graft.streaming

import graft.operators.KeyedStore
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The shared replay-safety core every streaming maintenance loop in this
  * library rides on — extracted from three independently-correct copies
  * (DedupStream, SketchStream, CmsStream) so the fourth stream cannot get
  * it wrong.
  *
  * The discipline, in one place:
  *
  *  - every store is a parquet dir PARTITIONED BY `ingest_batch`;
  *  - a microbatch writes ONLY its own partition, via dynamic partition
  *    overwrite — a replayed batch (Structured Streaming foreachBatch is
  *    at-least-once) REPLACES its own prior output instead of doubling it,
  *    which is what turns at-least-once delivery into exactly-once state
  *    even for non-idempotent merges (CMS sums);
  *  - reads `recover()` first: a compaction that crashed between its
  *    delete and rename leaves a `.rewrite` sibling that must be healed
  *    BEFORE any read, or the reader sees an empty store and the next
  *    recover discards the compacted rewrite as stale;
  *  - a missing dir is an EMPTY table (first microbatch), never an error;
  *  - compaction rewrites the whole dir through `KeyedStore.rewriteSwap`
  *    (build `.rewrite` sibling, delete, rename — single-writer, crash
  *    window healed by recover), so reads before and after are equivalent
  *    while the partition count the per-read merge scans stays bounded.
  *
  * Stream modules keep their domain logic (what a delta is, how partitions
  * merge on read, what compaction collapses to) and delegate every
  * replay/crash concern here.
  */
object BatchStore {

  /** Read a batch-partitioned store that may not exist yet: missing dir =
    * empty table of `schema`. Does NOT recover — use `read` unless the
    * caller already recovered this dir in the same pass. */
  def readOr(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Heal any crashed rewrite, then read (empty if missing). */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    KeyedStore.recover(spark, dir)
    readOr(spark, dir, schema)
  }

  /** Stamp `df` with this batch id and replace exactly that partition:
    * the write half of the replay discipline. Recovers FIRST — a write
    * into the crash window of an interrupted rewrite swap (dir deleted,
    * completed `.rewrite` sibling waiting) would recreate the dir with
    * one partition and make the next recover discard the sibling (the
    * whole pre-crash history) as stale. Structural here so no stream can
    * forget it. */
  def writePartition(df: DataFrame, batchId: Long, dir: String): Unit = {
    KeyedStore.recover(df.sparkSession, dir)
    writePartitioned(df.withColumn("ingest_batch", lit(batchId)), dir)
  }

  /** Dynamic-overwrite write of an already-stamped frame (used by writers
    * that carry rows for several batches, e.g. compaction keeping original
    * stamps). */
  def writePartitioned(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(dir)

  /** Compact `dir` by rewriting it from its own live contents: `rewrite`
    * receives (current reader, tmp path) and must write the replacement
    * table there, partitioned by `ingest_batch`. No-op on a missing or
    * empty store. Handles recover + existence + the crash-safe swap; the
    * caller supplies only the collapse semantics. Single-writer: run from
    * the stream's own foreachBatch (or under the store's TableLock from
    * other processes). */
  def compactWith(spark: SparkSession, dir: String, schema: StructType)(
      rewrite: (DataFrame, String) => Unit): Unit =
    compactImpl(spark, dir)(d => Some(readOr(spark, d, schema)))(rewrite)

  /** Schema-inferring variant: the live reader carries the store's own
    * on-disk schema. Use when one maintenance pass compacts stores of
    * DIFFERENT schemas — passing store A's declared schema while
    * rewriting store B would silently mis-read B. A dir holding no
    * visible data yet (e.g. only a writer-lease sidecar, before the
    * first microbatch lands) is skipped — nothing to compact, and
    * schema inference would fail on it. */
  def compactWith(spark: SparkSession, dir: String)(
      rewrite: (DataFrame, String) => Unit): Unit =
    compactImpl(spark, dir) { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val hasData = fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (hasData) Some(spark.read.parquet(d)) else None
    }(rewrite)

  private def compactImpl(spark: SparkSession, dir: String)(
      read: String => Option[DataFrame])(
      rewrite: (DataFrame, String) => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    KeyedStore.recover(spark, dir)
    if (fs.exists(p))
      read(dir).foreach { live =>
        KeyedStore.rewriteSwap(spark, dir) { tmp =>
          rewrite(live, tmp)
        }
      }
  }

  /** Reserved partition id for compacted history: strictly LOWER than any
    * real batch id (Structured Streaming batch ids are >= 0), so reads
    * that merge in batch-id order still replay history before any live
    * batch. */
  val HistoryBatch: Long = -1L

  /** The common sketch-store compaction: collapse every partition EXCEPT
    * the current max batch (including any prior sentinel) with `collapse`
    * (a read-equivalent merge — MAX registers, SUM cells, ...) into ONE
    * partition stamped with the reserved [[HistoryBatch]] sentinel, and
    * keep the max batch's own partition untouched.
    *
    * Why the sentinel, not the max batch id: foreachBatch is
    * at-least-once, and the one redeliverable batch at any moment is the
    * CURRENT max (batch N exists only after N-1's checkpoint commit). If
    * compaction stamped the merged history with that id — as this method
    * originally did — a crash between foreachBatch and checkpoint commit
    * would redeliver the batch and its dynamic partition overwrite would
    * replace the collapsed partition with only that batch's delta,
    * silently discarding all pre-compaction history. With history under
    * the sentinel, the redelivered batch replaces only its own identical
    * delta. No-op on an empty store. */
  def collapseHistory(spark: SparkSession, dir: String, schema: StructType)(
      collapse: DataFrame => DataFrame): Unit = {
    // recover BEFORE the existence check and the maxBatch read: in the
    // crashed-swap state the live dir is absent and the `.rewrite`
    // sibling holds the data — unrecovered, this maintenance pass would
    // silently no-op (or compute keepBatch from a post-crash remnant)
    KeyedStore.recover(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val maxBatch = readOr(spark, dir, schema).agg(max(col("ingest_batch"))).head()
    if (maxBatch.isNullAt(0)) return
    val keepBatch = maxBatch.getLong(0)
    // only the sentinel left (or a degenerate all-history store): nothing
    // newer to protect, and re-collapsing one partition is a no-op
    if (keepBatch == HistoryBatch) return
    compactWith(spark, dir, schema) { (live, tmp) =>
      val latest = live.filter(col("ingest_batch") === keepBatch)
      collapse(live.filter(col("ingest_batch") =!= keepBatch))
        .withColumn("ingest_batch", lit(HistoryBatch))
        .coalesce(1)
        .unionByName(latest)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("ingest_batch").parquet(tmp)
    }
  }

  /** Wire a streaming Dataset into the maintenance loop: `onBatch` runs
    * per microbatch (under the at-least-once contract — it must write only
    * through this module), and `onCompact` runs after every
    * `compactEvery`-th batch (counting from the first: batch ids
    * compactEvery-1, 2*compactEvery-1, ... — i.e. after N NEW batches),
    * inside foreachBatch so the stream's single-writer serialization
    * covers the swap. Both run under the session of `docs` (see
    * WebhookStream on why not under the batch's own session). */
  def loop(docs: DataFrame, checkpointDir: String, compactEvery: Int)(
      onBatch: (SparkSession, DataFrame, Long) => Unit)(
      onCompact: SparkSession => Unit): StreamingQuery = {
    val spark = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(spark, GraftColumnBridge.onSession(spark, batch), batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          onCompact(spark)
      }
      .start()
  }
}
