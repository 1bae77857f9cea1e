package graft.streaming

import graft.operators.{ParquetLayout, Pipeline, Projection, ReplicatorSpec}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Structured Streaming ingest (S1, §3.1): a landed-webhook log (JSON files /
  * any streaming source) drives `foreachBatch(Pipeline.upsertBatch)` into a
  * versioned parquet snapshot store.
  *
  * Streaming semantics preserved (SURVEY §2.11): at-least-once ingest with
  * exactly-once effect via the idempotent merge; out-of-order data handled by
  * `updateWhere` monotonicity, NOT watermark drops — no state store needed,
  * the snapshot itself is the state. A spec with a `versionCol` merges to
  * the same table wherever the microbatch boundaries fall.
  *
  * Each microbatch's jobs run under the CALLER's session, not under
  * `batch.sparkSession` ([[org.apache.spark.sql.GraftColumnBridge.onSession]]).
  * Every `start` call makes a new `StreamingQuery`, and Spark runs each one
  * on a clone of the session; with artifact isolation
  * (`spark.sql.artifact.isolation.enabled`, on by default) the clone's id
  * reaches the executors, which build a fresh classloader for it. The
  * codegen cache is keyed by that classloader, so a back-to-back
  * AvailableNow drain under the clone recompiled the same 54-74 classes on
  * every drain; under the caller's session the second drain compiles none.
  */
object WebhookStream {

  /** Schema of a landed webhook request (`webhook_request.rb:3-23`). */
  val requestSchema: StructType = StructType(Seq(
    StructField("body", StringType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("path", StringType),
    StructField("method", StringType),
    StructField(Projection.IngestSeqCol, LongType)))

  /** Default bucket count for partitioned specs routed through [[start]]. */
  val DefaultBuckets = 32

  /** Start ingesting `sourceDir` (json-lines files of webhook requests).
    *
    * Routing (the scale-correct default): a `spec.partitioned` replicator —
    * the reference marks exactly its very large tables partitioned
    * (`partitionable_mixin.rb:62-70`) — streams into the hash-partitioned
    * store where each microbatch rewrites ONLY the buckets it touches
    * (O(batch)). The plain [[SnapshotStore]] path rewrites the whole
    * snapshot per microbatch (O(table)) and is reserved for small tables. */
  def start(spark: SparkSession, spec: ReplicatorSpec, sourceDir: String,
            snapshotDir: String, checkpointDir: String,
            buckets: Int = DefaultBuckets): StreamingQuery = {
    if (spec.partitioned)
      return startPartitioned(spark, spec, sourceDir, snapshotDir,
        checkpointDir, buckets)
    val store = new SnapshotStore(snapshotDir, spark = spark)
    spark.readStream
      .schema(requestSchema)
      .json(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (streamed: DataFrame, batchId: Long) =>
        val batch = GraftColumnBridge.onSession(spark, streamed)
        // Read the PREDECESSOR version for batchId > 0, never LATEST (the
        // same recovery rule as RollupStream): a crash after the pointer
        // flip but before the checkpoint commit replays this batch, and
        // reading LATEST would both merge onto already-merged state AND
        // overwrite v{batchId} while reading it — Spark refuses
        // ("Cannot overwrite a path that is also being read from") and the
        // stream wedges on every retry. Batch 0 bootstraps from LATEST so a
        // fresh checkpoint can continue an existing snapshot.
        val target =
          if (batchId == 0) {
            val t = store.readOr(Pipeline.emptyTarget(spec, spark))
            // Replay detection: LATEST already pointing at v0 means batch 0
            // crashed after the pointer flip but before the checkpoint
            // commit. Reading LATEST lazily would make write() overwrite v0
            // while reading it ("Cannot overwrite a path that is also being
            // read from") — the same wedge the predecessor-read rule avoids
            // for batchId > 0. Eagerly materialize the read to break the
            // read-write cycle; the merge stays idempotent either way.
            if (store.latestVersion.contains("v0")) t.localCheckpoint(eager = true)
            else t
          }
          else store.readVersion(batchId - 1).getOrElse(
            sys.error(s"snapshot v${batchId - 1} missing for batch $batchId — " +
              "snapshot dir and checkpoint are out of sync"))
        val merged = Pipeline.upsertBatch(spec, target, batch)
        store.write(merged, batchId)
        ()
      }
      .start()
  }

  /** The at-scale variant: stream into a hash-partitioned table
    * (`operators.PartitionedStore`) — each microbatch merges into ONLY the
    * buckets it touches instead of rewriting the snapshot. This is the
    * layout for very large replica tables (U5). */
  def startPartitioned(spark: SparkSession, spec: ReplicatorSpec, sourceDir: String,
                       tableDir: String, checkpointDir: String,
                       buckets: Int): StreamingQuery = {
    import graft.operators.{Merge, PartitionedStore, Projection => P}
    // "initialized" means a COMMITTED snapshot exists (manifest present) —
    // a non-empty directory is not enough: a crash between epoch-data write
    // and manifest publish leaves orphan files, and routing the retry to
    // mergeInto would wedge the stream on "no committed snapshot".
    val initialized = new java.util.concurrent.atomic.AtomicBoolean(
      graft.operators.PartitionedStore.currentManifest(tableDir).isDefined)
    spark.readStream
      .schema(requestSchema)
      .json(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the ingest seq column stays in the stored table: it is the merge
        // order for subsequent microbatches
        val projected = P.project(spec, GraftColumnBridge.onSession(spark, batch))
        if (initialized.compareAndSet(false, true))
          PartitionedStore.write(Merge.dedupLastWins(projected, spec.mergeSpec),
            tableDir, spec.remoteKeyCol, buckets)
        else
          PartitionedStore.mergeInto(spark, tableDir, projected,
            spec.mergeSpec, spec.remoteKeyCol, buckets)
        ()
      }
      .start()
  }
}

/** Versioned parquet snapshot with an atomic LATEST pointer — the minimal
  * local stand-in for a transactional table format: each microbatch writes
  * `v{batchId}` and flips the pointer, so readers never see a partial merge
  * and replayed batches (failure recovery) are idempotent overwrites.
  *
  * Versions older than `retain` behind the pointer are pruned after each
  * flip: replay only ever needs the current and predecessor versions, and
  * an unpruned store grows O(batches x table size) — unbounded disk for a
  * long-running stream.
  *
  * Reads run under `spark` (default: the session active at construction).
  */
final class SnapshotStore(dir: String, retain: Int = 2,
                          spark: SparkSession = SparkSession.active) {
  require(retain >= 2, "must retain current + predecessor for replay")
  private val pointer = Paths.get(dir, "LATEST")
  Files.createDirectories(Paths.get(dir))

  def latestVersion: Option[String] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim) else None

  def readOr(empty: => DataFrame): DataFrame = latestVersion match {
    case Some(v) => spark.read.parquet(s"$dir/$v")
    case None => empty
  }

  /** A specific committed version, for replay-safe predecessor reads. */
  def readVersion(batchId: Long): Option[DataFrame] = {
    val p = Paths.get(dir, s"v$batchId")
    if (Files.isDirectory(p))
      Some(spark.read.parquet(p.toString))
    else None
  }

  def write(df: DataFrame, batchId: Long): Unit =
    // same advisory-lock discipline as the partitioned store: a streaming
    // microbatch and any other writer on this snapshot dir take turns
    graft.operators.TableLock.withLock(dir) {
      val v = s"v$batchId"
      ParquetLayout.writer(df).mode("overwrite").parquet(s"$dir/$v")
      // write-then-rename: a reader (or a crash) never sees a truncated
      // pointer, only the previous version or this one
      val tmp = Paths.get(dir, ".LATEST.tmp")
      Files.writeString(tmp, v)
      Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      prune(batchId)
    }

  private def prune(current: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    val old = try {
      s.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+"))
        .filter(_.getFileName.toString.stripPrefix("v").toLong <= current - retain)
        .toList
    } finally s.close()
    old.foreach { p =>
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))
      finally walk.close()
    }
  }
}
