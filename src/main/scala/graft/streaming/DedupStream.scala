package graft.streaming

import graft.operators.{IncrementalDedup, KeyedStore, Pins, TableLock}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}

/** Streaming face of incremental dedup: a stream of (doc_id, text) docs is
  * near-dup-checked against everything that arrived before it, one
  * microbatch at a time — the continuous form of the daily-ingest
  * signature-store loop (see IncrementalDedup's scaladoc for the scale
  * shape: per batch O(delta + candidates), store x store impossible).
  *
  * Crash/replay discipline: every write — doc archive, verified pairs,
  * appended signatures — is partitioned by `ingest_batch` and dynamically
  * overwritten, and the store read excludes the current batch's partition.
  * A replayed microbatch therefore REPLACES its own prior output instead
  * of doubling it, and never sees its own half-written signatures as
  * "store": idempotent under Structured Streaming's at-least-once
  * foreachBatch contract.
  */
object DedupStream {

  private val sigSchema = new StructType()
    .add("doc_id", LongType).add("sig", ArrayType(LongType))
    .add("ingest_batch", LongType)
  private val docSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("ingest_batch", LongType)

  /** Latest delivery wins: collapse a batch-stamped table to one row per
    * doc_id, keeping the highest ingest_batch. A doc_id redelivered in a
    * later batch (edited content) would otherwise keep BOTH rows — the
    * store would band the doc under its stale signature forever, and
    * verifyPairs would join both archived texts, emitting contradictory
    * jaccard rows for one pair. Rank-1-per-key compiles to
    * WindowGroupLimit, so the filter pushes into the scan side. */
  private def latestPerDoc(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ingest_batch").desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** One microbatch: archive the docs, dedup the delta against all prior
    * batches plus itself, persist pairs, append signatures. Public so the
    * replay-idempotence contract is testable without a streaming harness.
    *
    * Redelivery semantics: a doc_id that reappears in a LATER batch is
    * treated as re-ingested content — its latest text/signature supersedes
    * the old one on every read (`latestPerDoc`), so future candidates band
    * against current content and each verified pair carries exactly one
    * jaccard value. The superseded rows stay in their original partitions
    * (append-only, replay-safe); readers resolve, writers never rewrite
    * other batches' partitions. */
  def runBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
               storeDir: String, archiveDir: String, pairsDir: String,
               threshold: Double = 0.5,
               bandIndexDir: Option[String] = None): Unit = {
    // Heal a compaction that crashed between its delete and rename BEFORE
    // any read: without this, a batch running inside that window would see
    // an empty store, write a fresh partition, and the next recover would
    // discard the orphaned `.rewrite` (the whole compacted store) as stale.
    KeyedStore.recover(spark, storeDir)
    KeyedStore.recover(spark, archiveDir)
    // Within-batch duplicates resolve CONTENT-deterministically before
    // anything is written: a microbatch is an unordered set (no arrival
    // order exists to make "last" meaningful), and latestPerDoc's
    // ingest_batch ordering cannot break a same-batch tie — an arbitrary
    // pick would flip between contents run to run and across replays.
    val winner = Window.partitionBy(col("doc_id"))
      .orderBy(xxhash64(col("text")).desc, col("text").desc)
    val delta = batch.select(col("doc_id"), col("text"))
      .withColumn("rn", row_number().over(winner))
      .filter(col("rn") === 1).drop("rn")
      .localCheckpoint(true)
    BatchStore.writePartition(delta, batchId, archiveDir)
    // Store = signatures of strictly-earlier batches; a replayed batch's
    // own partition (from the crashed attempt) is excluded, then
    // overwritten below. A doc the current delta redelivers is ALSO
    // excluded from the store leg: its old signature must not surface it
    // as an "other" doc (the pair (doc, doc) is meaningless and the stale
    // sketch no longer describes any live content).
    val storeSigs = latestPerDoc(BatchStore.readOr(spark, storeDir, sigSchema)
        .filter(col("ingest_batch") < batchId))
      .join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("sig"))
    val deltaSigs = IncrementalDedup.signatures(delta).cache()
    // Candidates first, THEN latest-wins over the archive: a semi-join
    // cannot push through a window, so `latestPerDoc(full archive)` would
    // window the whole corpus text every microbatch. Pinning the (small)
    // candidate set lets the doc_id restriction reach the archive scan,
    // and the window runs over candidate docs only — per-batch text work
    // stays O(candidates), not O(corpus).
    val cand = IncrementalDedup.candidatePairs(storeSigs, deltaSigs)
      .localCheckpoint(eager = true)
    val needed = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val corpus = latestPerDoc(BatchStore.readOr(spark, archiveDir, docSchema)
        .filter(col("ingest_batch") <= batchId)
        .join(needed, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("text"))
    val pairs = IncrementalDedup.verifyPairs(cand, corpus, threshold, storeDir)
      .localCheckpoint(true)
    BatchStore.writePartition(pairs, batchId, pairsDir)
    BatchStore.writePartition(deltaSigs, batchId, storeDir)
    // optional: keep the band-partitioned LSH index live for the ONLINE
    // admission probe (BandIndexStream.probe) — replay-idempotent via the
    // same (batch, bucket) dynamic overwrite, unlike the batch path's
    // plain append. The MEASURED bloat trigger runs in-loop (round-13):
    // content-changing redeliveries strand stale bands in old batch
    // partitions, and waiting for the compactEvery cadence let them
    // accumulate unboundedly on redelivery-heavy streams.
    bandIndexDir.foreach { d =>
      BandIndexStream.appendBatch(spark, deltaSigs, batchId, d)
      BandIndexStream.maybeCompact(spark, d, storeDir)
    }
    deltaSigs.unpersist()
    // the batch's own pins are dead once its partitions are written
    Seq(delta, cand, pairs).foreach(Pins.free)
  }

  /** Maintenance pass: collapse a batch-stamped doc_id-keyed table (the
    * signature store or the doc archive) to its latest row per doc_id.
    *
    * The streaming loop appends one partition per microbatch forever and
    * every batch re-windows `latestPerDoc` over the whole table — correct,
    * but the window input grows with TOTAL DELIVERIES, not live docs.
    * Compaction restores the one-row-per-doc bound (the invariant the
    * batch-path KeyedStore.fold maintains continuously), so the
    * per-microbatch window input is O(live docs) again and superseded
    * versions stop occupying scan bytes.
    *
    * Every surviving row KEEPS its original `ingest_batch` stamp and the
    * output stays partitioned by it — a replayed microbatch's partition
    * exclusion (`< batchId`) and dynamic partition overwrite behave
    * identically on a compacted table, so compaction commutes with crash
    * replay. The swap itself is KeyedStore.rewriteSwap (build `.rewrite`
    * sibling, delete, rename — recover() heals the crash window; runBatch
    * recovers both dirs before reading). Run it from the same single
    * writer that owns the stream (e.g. between microbatches or every N
    * batches via `start(compactEvery = N)`); cross-process callers take
    * the store's TableLock first. */
  def compact(spark: SparkSession, dir: String): Unit =
    // the rewrite write streams from the live dir (the delete happens only
    // after the sibling completes) — no in-memory materialization of what
    // can be a corpus-sized archive. Surviving rows KEEP their original
    // ingest_batch stamps (unlike the sketch stores' collapseHistory),
    // because the dedup loop's partition-exclusion reads depend on them.
    BatchStore.compactWith(spark, dir) { (live, tmp) =>
      latestPerDoc(live)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("ingest_batch").parquet(tmp)
    }

  /** Cross-process variant of [[runBatch]]: the whole microbatch (store
    * read through partition write) runs under the writer locks of every
    * dir it touches, in TableLock's sorted-order multi-acquire. Use this
    * as the foreachBatch body when an EXTERNAL maintenance process (a
    * separate driver running [[maintain]]) shares the storage — without
    * the locks, a partition written between maintenance's rewrite-build
    * and its swap would be silently dropped by the swap. When the stream
    * is the only writer (maintenance folded into its own foreachBatch via
    * `start(compactEvery = N)`), plain runBatch needs no locks. */
  def runBatchLocked(spark: SparkSession, batch: DataFrame, batchId: Long,
                     storeDir: String, archiveDir: String, pairsDir: String,
                     threshold: Double = 0.5): Unit =
    TableLock.withLocks(Seq(storeDir, archiveDir, pairsDir)) {
      runBatch(spark, batch, batchId, storeDir, archiveDir, pairsDir, threshold)
    }

  /** External maintenance entry point: compact the store and archive from
    * OUTSIDE the stream's foreachBatch — a separate maintenance driver on
    * shared storage — serialized against live microbatches by the same
    * per-dir writer locks [[runBatchLocked]] takes. Compaction is
    * read-equivalent (latestPerDoc resolves identically before and
    * after), so the only coordination needed is mutual exclusion of the
    * swap against concurrent partition writes, which the locks provide.
    * Each dir is compacted under its own lock (no need to freeze the pair
    * store while the sig store rewrites). */
  def maintain(spark: SparkSession, storeDir: String, archiveDir: String): Unit = {
    TableLock.withLocks(Seq(storeDir))(compact(spark, storeDir))
    TableLock.withLocks(Seq(archiveDir))(compact(spark, archiveDir))
  }

  /** Attach the dedup loop to a streaming Dataset of (doc_id, text).
    * `compactEvery` > 0 folds the maintenance pass into the loop: after
    * every Nth microbatch the store and archive are compacted to one row
    * per doc_id (inside foreachBatch, so the stream's own single-writer
    * serialization covers the swap). */
  def start(docs: DataFrame, storeDir: String, archiveDir: String,
            pairsDir: String, checkpointDir: String,
            threshold: Double = 0.5, compactEvery: Int = 0,
            bandIndexDir: Option[String] = None): StreamingQuery =
    BatchStore.loop(docs, checkpointDir, compactEvery) { (s, batch, batchId) =>
      runBatch(s, batch, batchId, storeDir, archiveDir, pairsDir, threshold,
        bandIndexDir)
    } { s =>
      compact(s, storeDir)
      compact(s, archiveDir)
      // same maintenance cadence: drop superseded docs' stale bands and
      // collapse per-batch file accumulation
      bandIndexDir.foreach(d => BandIndexStream.compact(s, d, storeDir))
    }
}
