package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Incremental CLUSTER-REPRESENTATIVE maintenance for leakage-free split
  * assignment (the incremental form of q194, reference analog: the batch
  * split recompute a curation pipeline would otherwise re-pay per crawl
  * snapshot). Three persisted stores under one root:
  *
  *  - `sigs/`  — the MinHash signature store ([[IncrementalDedup]]'s,
  *    folded with latest-content-wins [[KeyedStore]] semantics);
  *  - `pairs/` — the verified near-dup pair LEDGER (append-only; replay
  *    of a crashed round can duplicate rows, so reads go through
  *    `distinct` — pairs are value-identical under replay);
  *  - `reps/`  — (doc_id, rep): the cluster representative of every doc
  *    that appears in some verified pair (docs in no pair are their own
  *    representative implicitly — the store stays corpus-SPARSE).
  *
  * Per ingest round the work is O(delta + candidates + touched clusters),
  * never O(corpus): the delta is signatured and LSH-joined against the
  * signature store ([[IncrementalDedup.candidatePairs]] — store x store
  * pairs are structurally impossible), verified pairs are mapped to
  * REP-level edges through the current store, and only that merge graph —
  * clusters actually touched by the delta — is contracted
  * ([[DupClusters.assignStar]], O(log^2) rounds). Store rows whose
  * representative changed are rewritten through [[KeyedStore.fold]]'s
  * crash-recoverable swap.
  *
  * EQUIVALENCE (the q101/q105 gate discipline): after any ingest
  * sequence, `assignments` equals the batch recompute over the full
  * corpus — accumulated pairs are exactly the batch pair set (every pair
  * is discovered in the round its later endpoint arrives; banding/
  * verification share [[graft.functions.Hashing]] with the batch path),
  * and min-representative merging is associative: the min doc id of a
  * merged component is the min over its parts' minima. q201 gates this
  * against q194's oracle on a grown corpus.
  *
  * A doc's SPLIT can legitimately FLIP between refreshes (its cluster
  * gained a smaller-id representative) — that is a leakage event the
  * flip audit (q202) reports, not a bug here: assignment follows the
  * cluster structure, and the audit is how a pipeline decides to pin.
  */
object IncrementalSplit {

  private def sigDir(root: String) = s"$root/sigs"
  private def pairsDir(root: String) = s"$root/pairs"
  private def repDir(root: String) = s"$root/reps"
  private def bandDir(root: String) = s"$root/bandidx"

  private val pairsSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType),
    StructField("jaccard", DoubleType)))
  private val repSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("rep", LongType)))

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The accumulated verified-pair ledger (batch-equivalent pair set). */
  def pairs(spark: SparkSession, root: String): DataFrame =
    if (exists(spark, pairsDir(root)))
      spark.read.schema(pairsSchema).parquet(pairsDir(root))
        .select(col("doc_a"), col("doc_b")).distinct()
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pairsSchema)
      .select(col("doc_a"), col("doc_b"))

  private def reps(spark: SparkSession, root: String): DataFrame =
    if (exists(spark, repDir(root)))
      spark.read.schema(repSchema).parquet(repDir(root))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], repSchema)

  /** Representative of every doc in `docs` (self when unpaired). */
  def assignments(spark: SparkSession, root: String, docs: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(reps(spark, root), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))

  /** Online admission check against this root's stores: LSH candidates
    * of `probeDocs` (a handful of incoming documents) via the
    * band-partitioned index the ingests maintain (`maintainIndex` must
    * have been true). Reads <= LshBands/Buckets of the index — see
    * [[BandIndex.probe]]. Replayed appends can leave duplicate band rows
    * in the index as extra CANDIDATES only — probe results are distinct,
    * and the ingest path compacts the index ([[BandIndex.maybeCompact]])
    * once the bloat crosses its threshold. */
  def probe(spark: SparkSession, root: String, probeDocs: DataFrame): DataFrame =
    BandIndex.probe(spark, bandDir(root),
      IncrementalDedup.signatures(probeDocs))

  /** One ingest round: signature the delta, find its verified near-dups
    * against the store + itself, merge touched clusters, persist. Returns
    * this round's verified pairs. `corpus` must serve the text of every
    * doc the store has signatures for, plus the delta (shingle sets are
    * fetched on demand for candidate endpoints only — see
    * [[IncrementalDedup.verifyPairs]]).
    *
    * INSERT-ONLY by content: a delta doc_id already in the store must
    * carry IDENTICAL content (the crashed-round replay case — idempotent
    * by construction). A delta whose signature CHANGED for a stored
    * doc_id is REJECTED with an error before anything mutates: the pair
    * ledger is append-only and min-rep merging is monotone, so pairs
    * verified against a doc's old text would keep clusters merged that a
    * batch recompute over current text would split — silently breaking
    * the EQUIVALENCE guarantee above. Re-ingest under a new doc_id, or
    * rebuild the root, to change a document's content.
    *
    * With `maintainIndex = true` (or once the root has an index — the
    * index, once created, is maintained by EVERY subsequent ingest so it
    * always covers the whole store) the store-side candidate join can
    * route through the band-partitioned [[BandIndex]] instead of
    * scanning the signature store. The routing is ADAPTIVE on byte
    * arithmetic: the index holds the store's bands pre-exploded
    * ([[graft.functions.Hashing.LshBands]] string rows per doc, ~4x the
    * signature store's bytes), so a probe reading `f` of the buckets
    * costs ~`f * 4` signature-store scans — it wins only when the
    * delta's bands touch fewer than ~Buckets/4 buckets, i.e.
    * single-document admission-sized deltas (default
    * `indexProbeMaxFrac` = 1/16 = 4 buckets ~= one doc). Anything wider
    * falls back to the store scan, which is map-side already (the delta
    * leg broadcasts). MEASURED at 100x (BENCH_sf1_inc_split_100x.json):
    * force-probing a 500-doc delta costs 13.1 s vs 10.4 s scanned, and
    * even a 4-doc delta loses (10.1 vs 8.2) because at sandbox scale
    * ~2 s of fixed probe orchestration (bucket listing, checkpoint,
    * pruning subquery) dominates — the byte arithmetic only pays at
    * store sizes where scan bytes, not job count, are the bill. The
    * STANDALONE online admission probe is a different regime (no locked
    * ingest, no folds): see [[probe]] and BENCH_sf1_probe.json (0.5 s
    * flat over a 2M-row index). Candidates are IDENTICAL either way
    * (same banding, [[graft.functions.Hashing]] is the single source of
    * truth — gated by `IncrementalSplitSpec` and, force-routed, by
    * q201's oracle); verification stays exact.
    *
    * Returns the round's new pairs, valid until the next ingest on the
    * same root ([[Pins]]). */
  def ingest(spark: SparkSession, root: String, corpus: DataFrame,
             delta: DataFrame, threshold: Double = 0.5,
             maintainIndex: Boolean = false,
             indexProbeMaxFrac: Double = 1.0 / 16,
             indexBuckets: Int = 0): DataFrame =
    // whole-round writer lock: pairs are discovered against ONE store
    // state and folded back into the same one — two interleaved rounds
    // would band against signatures mid-fold and fold reps computed from
    // different snapshots (KeyedStore's single-writer discipline is the
    // caller's job; this is the caller). Serialized rounds stay exactly
    // batch-equivalent in ANY order: a pair between two concurrent
    // deltas is discovered in whichever round runs second.
    TableLock.withLock(root) {
      ingestLocked(spark, root, corpus, delta, threshold, maintainIndex,
        indexProbeMaxFrac, indexBuckets)
    }

  private val profile = sys.env.contains("GRAFT_PROF_SPLIT")
  private def prof[A](tag: String)(f: => A): A =
    if (!profile) f else {
      val t0 = System.nanoTime(); val r = f
      println(f"PROFS   $tag%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  private def ingestLocked(spark: SparkSession, root: String, corpus: DataFrame,
                           delta: DataFrame, threshold: Double,
                           maintainIndex: Boolean,
                           indexProbeMaxFrac: Double,
                           indexBuckets: Int): DataFrame = {
    // ONE pinned signature computation (the r14b job-trace finding): the
    // delta's signatures feed the guard, the router, both candidate legs
    // and the fold — under AQE each leg materializes independently, and a
    // .cache() does NOT dedupe CONCURRENT first computations, so the
    // un-pinned shape race-computed the MinHash pass once per leg
    // (measured: ten parallel single-task copies per q201 round). The
    // eager checkpoint runs it exactly once — spread first when the
    // delta's scan is narrower than the session (the one-file sandbox /
    // small-delta shape, guide §2.5 input skew): the exchange moves delta
    // text once into a pinned frame, and a warehouse-scale delta whose
    // scan is already wide skips it.
    val spread = spark.sparkContext.defaultParallelism
    val deltaSrc =
      if (delta.rdd.getNumPartitions < spread) delta.repartition(spread)
      else delta
    val deltaSigs = prof("delta signatures pin")(
      IncrementalDedup.signatures(deltaSrc).localCheckpoint(true))
    val hasStore = exists(spark, sigDir(root))
    val storeSigs =
      if (hasStore) {
        KeyedStore.recover(spark, sigDir(root))
        spark.read.parquet(sigDir(root))
      } else deltaSigs.limit(0)
    // the insert-only guard and the index router are BOTH read-only
    // decisions over the pinned signatures — independent, overlapped on a
    // driver thread (guide §2.6); nothing mutates until both return.
    val useIndex = maintainIndex || exists(spark, bandDir(root))
    val (changed, probeBuckets) = DriverPar.both(
      if (hasStore) {
        // insert-only guard (see ingest's scaladoc): a stored doc_id whose
        // delta signature differs is a content-changing re-ingest the
        // append-only pair ledger cannot represent — reject BEFORE any
        // store mutates. Map-side: the delta leg is broadcast, the store
        // scan is the same narrow read the fold below pays anyway.
        prof("changed guard")(storeSigs
          .join(broadcast(deltaSigs.select(col("doc_id"), col("sig").as("__sig_new"))),
            Seq("doc_id"))
          .filter(!(col("sig") <=> col("__sig_new")))
          .select(col("doc_id")).limit(3).collect().map(_.getLong(0)))
      } else Array.empty[Long],
      if (useIndex && hasStore)
        prof("probe bucket count")(
          BandIndex.probeBucketCount(spark, bandDir(root), deltaSigs))
      else Long.MaxValue)
    if (changed.nonEmpty)
      sys.error(s"IncrementalSplit.ingest at $root: delta re-ingests stored " +
        s"doc_ids with CHANGED content (e.g. ${changed.mkString(", ")}); the " +
        "pair ledger is append-only, so superseding content would break the " +
        "batch-equivalence guarantee. Ingest changed documents under a new " +
        "doc_id, or rebuild the root.")
    // index routing: once a root has a band index, every ingest maintains
    // it (so it always covers the whole store). The store-side candidate
    // join probes it only when pruning bites — the delta's bands touch at
    // most indexProbeMaxFrac of the buckets (see ingest's scaladoc for
    // the measured crossover); delta-internal candidates band the
    // (broadcast-sized) delta alone. Candidate sets are identical either
    // way (IncrementalSplitSpec + BandIndexSpec gate it).
    val viaProbe = useIndex && hasStore && probeBuckets <=
      (BandIndex.bucketWidth(spark, bandDir(root)) * indexProbeMaxFrac).toLong
    val candidates =
      if (viaProbe) {
        if (!exists(spark, bandDir(root)))
          // one-time catch-up (explicit width honored at creation)
          BandIndex.build(spark, bandDir(root), storeSigs, indexBuckets)
        val storeCands = BandIndex.probe(spark, bandDir(root), deltaSigs)
          .select(least(col("q_id"), col("cand_id")).as("doc_a"),
            greatest(col("q_id"), col("cand_id")).as("doc_b"))
        val deltaCands = IncrementalDedup.candidatePairs(deltaSigs.limit(0), deltaSigs)
        storeCands.unionByName(deltaCands).distinct()
      } else IncrementalDedup.candidatePairs(storeSigs, deltaSigs)
    // pin BEFORE the stores mutate under the lineage — LAZY: the pairs
    // append right below is the round's first action on it and
    // materializes (and truncates) the pin in the same job; every later
    // consumer (repEdges, endpoint rows) reads the cached blocks. One
    // verify pass, no dedicated checkpoint job (r13-verdict item 1). The
    // returned frame is this pin: parked until the root's next ingest.
    val newPairs = IncrementalDedup.verifyPairs(candidates, corpus, threshold, root)
      .localCheckpoint(false)
    Pins.park(s"ingest:$root", newPairs)
    prof("verify + pairs append")(
      newPairs.write.mode(SaveMode.Append).parquet(pairsDir(root)))

    // rep-level merge graph: each new pair connects its endpoints' CURRENT
    // clusters (self for first-seen docs). Contracting only this graph —
    // not the corpus, not the accumulated pair set — is what makes the
    // refresh O(touched clusters); assignStar handles within-round chains.
    val cur = reps(spark, root)
    val repEdges = newPairs
      .join(cur.select(col("doc_id").as("doc_a"), col("rep").as("ra")), Seq("doc_a"), "left")
      .join(cur.select(col("doc_id").as("doc_b"), col("rep").as("rb")), Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // The rep-store fold and the {signature fold -> index maintenance}
    // chain mutate DISJOINT stores from already-pinned inputs (newPairs,
    // deltaSigs, each store's own pre-state), so they overlap on a driver
    // thread (guide §2.6). Replay safety is unchanged by the ordering:
    // every piece is individually idempotent under the round's replay —
    // pairs re-append value-identically (reads distinct), both folds skip
    // identical rows — and a crash leaving EITHER subset complete replays
    // to the same final stores (a delta already folded into sigs/ only
    // adds delta-vs-delta candidate orientations the distinct collapses;
    // a rep fold against pre-round sigs re-derives the same merge).
    // StoreFuzzSpec's crash grid covers both interleavings.
    val repFold: () => Unit =
      if (!prof("repEdges isEmpty")(repEdges.isEmpty)) {
        val relabel = prof("assignStar")(DupClusters.assignStar(repEdges))
          .select(col("doc_id").as("rep"), col("cluster_id").as("new_rep"))
          .filter(col("rep") =!= col("new_rep"))
        // upserts: ONLY touched rows — store rows whose rep merged away,
        // plus this round's pair endpoints (first-seen docs enter; the legs
        // agree where they overlap, collapsed by the keyed min)
        val changedStore = cur.join(relabel, Seq("rep"))
          .select(col("doc_id"), col("new_rep").as("rep"))
        val endpointRows = newPairs.select(col("doc_a").as("doc_id"))
          .unionByName(newPairs.select(col("doc_b").as("doc_id"))).distinct()
          .join(cur, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
          .join(relabel, Seq("rep"), "left")
          .select(col("doc_id"), coalesce(col("new_rep"), col("rep")).as("rep"))
        val upserts = changedStore.unionByName(endpointRows)
          .groupBy(col("doc_id")).agg(min(col("rep")).as("rep"))
        () => prof("rep fold")(if (exists(spark, repDir(root)))
          KeyedStore.fold(spark, repDir(root), upserts, "doc_id")
        else upserts.write.parquet(repDir(root)))
      } else () => ()
    DriverPar.both(
      repFold(),
      {
        prof("sig fold")(if (hasStore)
          KeyedStore.fold(spark, sigDir(root), deltaSigs, "doc_id")
        else deltaSigs.write.parquet(sigDir(root)))
        if (useIndex) {
          if (!exists(spark, bandDir(root)))
            // first index-carrying round (or catch-up skipped by a wide
            // delta): build from the POST-FOLD store so coverage is total
            prof("index build")(
              BandIndex.build(spark, bandDir(root), spark.read.parquet(sigDir(root)),
                indexBuckets))
          else {
            prof("index append")(BandIndex.append(spark, bandDir(root), deltaSigs))
            // replay bloat trigger: footer-count check (no job); rebuilds
            // from the just-folded signature store through the atomic swap
            prof("index compact?")(
              BandIndex.maybeCompact(spark, bandDir(root), sigDir(root),
              spark.read.parquet(sigDir(root))))
          }
        }
      })
    Pins.free(deltaSigs)
    newPairs
  }
}
