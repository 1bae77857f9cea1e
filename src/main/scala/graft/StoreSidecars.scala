package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.Sidecars.{Ctx, Measured, Spec, checksum, keyedCopies, median, obj, scaledDocs, secRows, timed}
import graft.functions.Hashing
import graft.operators.{BandIndex, DupClusters, HllSketch, IncrementalDedup, IncrementalSplit, IncrementalSubstr, InvIndex, PartitionedStore}
import graft.replicators.Replicators
import graft.sinks.SyncTarget
import graft.sources.{Backfiller, DistributedBackfill}
import graft.streaming.{DedupStream, WebhookStream}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Sidecars for the stateful operators — stores, indexes, streams and
  * protocol paths. Most separate a store's SUNK cost (init, build) from
  * its recurring one (a fixed-size delta, a probe) under a growing
  * corpus: the claim-carrying axis is a fixed delta while the corpus
  * scales, one point per axis. */
object StoreSidecars {

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Incremental dedup: one fixed 500-doc delta (near-copies of 500 base
    * docs, re-keyed past every scaled id, so each pairs with its source
    * clique) against signature stores of 1x and `copies`x the corpus. Per
    * round the cost is O(store signatures + delta + candidates), not
    * O(corpus text), so a grown store moves the delta's wall far less than
    * its size. The store is re-initialized before every run, so each
    * timed round does the full append path. */
  private def inc(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.documents(spark, sfDir)
    val delta = base.filter(col("doc_id") % 10 === 0 && col("doc_id") < 5000)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"),
        concat(col("text"), lit(" deltacopy")).as("text"))
      .localCheckpoint(true)
    val nDelta = delta.count()
    val rounds = Seq(1, copies).map { c =>
      val corpusPath = s"$scratch/docs_${c}x.parquet"
      scaledDocs(base, c).select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(corpusPath)
      val store = spark.read.parquet(corpusPath)
      val corpus = store.unionByName(delta)
      val storeDir = s"$scratch/sigs_${c}x"
      val m = median(reps, before = {
        IncrementalDedup.initStore(storeDir, store)
        spark.catalog.clearCache()
      })(IncrementalDedup.processDelta(spark, storeDir, corpus, delta).count())
      (c, store.count(), m)
    }
    obj("metric" -> "incremental_dedup_scale", "unit" -> "sec", "base_sf" -> sfDir,
      "rounds" -> rounds.map { case (c, n, m) =>
        obj("copies" -> c, "store_docs" -> n, "delta_docs" -> nDelta,
          "sec" -> m, "pairs" -> m.value)
      },
      "store_growth" -> rounds.last._2 / math.max(1L, rounds.head._2),
      "delta_time_growth" -> rounds.last._3.sec / rounds.head._3.sec)
  }

  /** The incremental split refresh (q201): a refresh on a grown corpus
    * costs the delta, not the corpus.
    *  - corpus axis: a fixed ~500-doc delta (`pmod(doc_id, 10*c) = 0`)
    *    at 1x and `copies`x, against the batch recompute (q194); each
    *    point both through the store-scanning candidate join and through
    *    the band index (`_idx`, probe forced with frac 1.0 — the measured
    *    evidence for IncrementalSplit's single-doc-sized default);
    *  - micro axis: a ~4-doc delta, where the probe's pruning bites;
    *  - delta axis (beyond 1x): a proportional 10% delta.
    * Report rows are hashed so the work cannot be pruned to a count. */
  private def incSplit(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.documents(spark, sfDir)
    def splitOf(c: Column) = {
      val b = Hashing.splitBucket(c)
      when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    }

    final case class Refresh(delta: Long, init: Measured[Any],
                             refresh: Measured[Long], pairs: Long)
    def refresh(root: String, docs: DataFrame, deltaMod: Long,
                viaIndex: Boolean = false, frac: Double = 1.0 / 16): Refresh = {
      val v1 = docs.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0L)
      val delta = docs.filter(pmod(col("doc_id"), lit(deltaMod)) === 0L)
      val nDelta = delta.count()
      val init = timed {
        IncrementalSplit.ingest(spark, root, v1, v1, maintainIndex = viaIndex,
          indexProbeMaxFrac = frac)
      }
      val ref = timed {
        IncrementalSplit.ingest(spark, root, docs, delta, maintainIndex = viaIndex,
          indexProbeMaxFrac = frac)
        val assigned = IncrementalSplit
          .assignments(spark, root, docs.select(col("doc_id")))
          .select(col("doc_id"), col("rep"), splitOf(col("rep")).as("split"))
        checksum(assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("rep")).as("n_clusters"))
          .orderBy(col("split")))._1
      }
      Refresh(nDelta, init, ref, IncrementalSplit.pairs(spark, root).count())
    }
    def fields(r: Refresh, pairs: Long, withInit: Boolean) = obj(
      Seq("delta_docs" -> r.delta) ++ (if (withInit) Seq("init" -> r.init) else Nil) ++
        Seq("refresh" -> r.refresh, "pairs" -> pairs): _*)
    /** A point measured both ways; the index route must find the same pairs. */
    def bothWays(key: String, dir: String, docs: DataFrame, deltaMod: Long,
                 withInit: Boolean): Seq[(String, ObjectNode)] = {
      val scan = refresh(s"$dir/stores_$key", docs, deltaMod)
      val idx = refresh(s"$dir/stores_${key}_idx", docs, deltaMod, viaIndex = true, frac = 1.0)
      require(idx.pairs == scan.pairs,
        s"index-routed $key refresh diverged: ${idx.pairs} pairs vs ${scan.pairs}")
      Seq(s"${key}_delta" -> fields(scan, scan.pairs, withInit),
        s"${key}_delta_idx" -> fields(idx, scan.pairs, withInit))
    }

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scratch/${c}x"
      scaledDocs(base, c).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count()
      MemoRegistry.resetAll(); spark.catalog.clearCache()
      val batch = timed(checksum(queries.CurationQueries.q194(spark, dir)))
      val points = bothWays("fixed", dir, docs, 10L * c, withInit = true) ++
        bothWays("micro", dir, docs, 1250L * c, withInit = false) ++
        (if (c > 1) bothWays("prop", dir, docs, 10L, withInit = true) else Nil)
      s"${c}x" -> obj(Seq("docs" -> nDocs, "batch" -> batch) ++ points: _*)
    }
    obj(Seq("metric" -> "inc_split_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** The persisted inverted index (q213/q214) at `copies`x: the sunk
    * `init` (the whole corpus as one batch), a fixed 500-doc `delta`
    * round (O(delta + pruned dup-check), near-flat as the corpus grows),
    * BM25 `search` served from the store (reads the terms' posting
    * buckets, so it tracks their mass, not the corpus), and the q183
    * `batch` recompute it is measured against. */
  private def invidx(ctx: Ctx): ObjectNode = {
    import ctx._
    scaledDocs(Tables.documents(spark, sfDir), copies)
      .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
    val docs = Tables.parallel(Tables.documents(spark, scratch))
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val root = s"$scratch/store"
    val init = timed(InvIndex.ingest(spark, root, docs, 0L))
    // fixed-size delta with fresh ids past the max (j = 0 keeps originals)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val delta = docs.orderBy(col("doc_id")).limit(500)
      .select((col("doc_id") + maxId + 1L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val deltaRound = timed(InvIndex.ingest(spark, root, delta, 1L))
    val search = median(reps)(InvIndex.search(spark, root, Seq("join", "hash", "filter"), 20).count())
    val stats = timed(InvIndex.stats(spark, root).count())
    val batch = median(reps)(queries.PipelineQueries.q183(spark, scratch).count())
    obj("metric" -> "invidx_scale", "unit" -> "sec", "n_docs" -> nDocs,
      "copies" -> copies, "base_sf" -> sfDir,
      "init" -> init.sec, "delta" -> deltaRound.sec,
      "search" -> secRows(search), "stats" -> secRows(stats), "batch" -> secRows(batch))
  }

  /** The band-partitioned LSH index (BandIndex): probing ONE unseen
    * near-dup of a stored doc reads only the matching bucket partitions
    * (~LshBands/Buckets of the index records at every scale — the fraction
    * is the invariant) and stays milliseconds-flat, while the full band
    * join (IncrementalDedup.candidatePairs) pays a corpus-wide scan. */
  private def probe(ctx: Ctx): ObjectNode = {
    import ctx._
    import spark.implicits._
    val base = Tables.documents(spark, sfDir)
    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scratch/${c}x"
      scaledDocs(base, c).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count()
      val sigs = IncrementalDedup.signatures(
        docs.select(col("doc_id"), col("text"))).localCheckpoint(true)
      val idxDir = s"$dir/bandidx"
      val build = timed(BandIndex.build(spark, idxDir, sigs))
      val idxRecords = spark.read.parquet(idxDir).count()
      // an UNSEEN near-dup of stored doc 0 (the admission-check case)
      val probeText = docs.filter(col("doc_id") === 0L)
        .select(col("text")).head().getString(0) + " probe suffix token"
      val probeSigs = IncrementalDedup.signatures(
        Seq((-1L, probeText)).toDF("doc_id", "text")).localCheckpoint(true)
      val probe = median(reps)(BandIndex.probe(spark, idxDir, probeSigs).count())
      val full = median(reps)(IncrementalDedup.candidatePairs(sigs, probeSigs).count())
      val recs = probe.work.inputRecords
      s"${c}x" -> obj("docs" -> nDocs, "build" -> build, "index_records" -> idxRecords,
        "probe" -> probe, "probe_records" -> recs,
        "probe_frac" -> (if (idxRecords > 0) recs.toDouble / idxRecords else 0.0),
        "cands" -> full.value, "full_band_join" -> full)
    }
    obj(Seq("metric" -> "probe_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** HLL distinct estimation on three paths: `exact` countDistinct (its
    * shuffle grows with the distinct shingles), the full register `build`
    * (scan-bound, exchange bounded at sources x m per task), and `fold`
    * of a fixed 500-doc delta into pre-built registers (tracks the delta,
    * registers are sources x 64 rows at any scale). */
  private def sketch(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.documents(spark, sfDir)
    val delta = base.select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("source"),
        concat(col("text"), lit(" sketchdelta")).as("text"))
      .localCheckpoint(true)
    val nDelta = delta.count()
    def med(f: => Long) = median(reps, before = spark.catalog.clearCache())(f)
    val rounds = Seq(1, copies).map { c =>
      val docs = scaledDocs(base, c)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(true)
      val n = docs.count()
      val ranked = HllSketch.ranked(docs)
      val exact = med(ranked.groupBy(col("source"))
        .agg(countDistinct(col("s")).as("d")).count())
      val build = med(HllSketch.registers(ranked).count())
      // pre-built registers (the persisted store analog), then fold a delta
      val regs = HllSketch.registers(ranked).localCheckpoint(true)
      val nRegs = regs.count()
      val fold = med(HllSketch.registers(
        regs.withColumnRenamed("m", "rho").unionByName(
          HllSketch.ranked(delta).select(col("source"), col("idx"), col("rho"))),
        valueCol = "rho").count())
      s"${c}x" -> obj("docs" -> n, "registers" -> nRegs,
        "exact_sec" -> exact, "build_sec" -> build, "fold_sec" -> fold)
    }
    obj(Seq("metric" -> "hll_sketch_scale", "unit" -> "sec", "delta_docs" -> nDelta) ++
      rounds: _*)
  }

  /** The incremental substring refresh (q211): a report refresh on a
    * grown salted corpus costs the delta plus the affected holders. Per
    * point: the sunk init ingest, the refresh (delta ingest + report
    * consumption) by both routes from identical pre-states, and the batch
    * recompute — whose row hash is REQUIRED equal to the refresh's. */
  private def substrInc(ctx: Ctx): ObjectNode = {
    import ctx._
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val nBase = base.count()
    val hfs = fs(spark)
    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scratch/${c}x"
      keyedCopies(base, nBase, c, salted = true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // spread the few scaled parquet files before the per-row window
      // work on BOTH legs (q208 does the same), or the batch leg pays a
      // single-task scan and the comparison flatters the refresh
      val docs = Tables.parallel(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"))
      val nDocs = docs.count()
      val deltaMod = 10L * c
      val v1 = docs.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0L)
      val delta = docs.filter(pmod(col("doc_id"), lit(deltaMod)) === 0L)
      val nDelta = delta.count()
      MemoRegistry.resetAll(); spark.catalog.clearCache()
      // refresh-only roots (q211's shape): no bloom sidecar in the timing
      val root = s"$dir/store"
      val init = timed(IncrementalSubstr.ingest(spark, root, v1, v1,
        maintainBloom = false, buckets = 64))
      // identical pre-state for the second route: a copy of the root
      val root2 = s"$dir/store2"
      FileUtil.copy(hfs, new Path(root), hfs, new Path(root2), false,
        spark.sparkContext.hadoopConfiguration)
      val preBytes = hfs.getContentSummary(new Path(s"$root/wins")).getLength
      val refresh = timed {
        IncrementalSubstr.ingest(spark, root, docs, delta,
          maintainBloom = false, buckets = 64, route = "refresh")
        checksum(IncrementalSubstr.report(spark, root))._2
      }
      val recompute = timed {
        IncrementalSubstr.ingest(spark, root2, docs, delta,
          maintainBloom = false, buckets = 64, route = "recompute")
        require(checksum(IncrementalSubstr.report(spark, root2))._2 == refresh.value,
          s"recompute route diverged from refresh at ${c}x")
      }
      // what the shipping router would have picked for this point
      val postBytes = hfs.getContentSummary(new Path(s"$root/wins")).getLength
      val routed = IncrementalSubstr.routeFor(preBytes, postBytes - preBytes)
      val batchDocs = docs.select(col("doc_id"), col("text"), length(col("text")).as("len"))
      val batch = timed {
        require(checksum(IncrementalSubstr.batchReport(batchDocs))._2 == refresh.value,
          s"incremental report diverged from batch at ${c}x")
      }
      s"${c}x" -> obj("docs" -> nDocs, "delta_docs" -> nDelta, "init" -> init,
        "refresh" -> refresh, "recompute" -> recompute, "batch" -> batch,
        "routed" -> routed)
    }
    obj(Seq("metric" -> "substr_inc_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** The online exact-substring admission probe (q212) on its three
    * ledger tiers: a `clean` doc (the bloom answers with zero ledger IO,
    * flat as the ledger grows), a `dup` doc sharing one stored span
    * (bloom-positive windows prune the ledger read), and both again with
    * the bloom moved aside (`_nobloom`, the full semi-joined scan). */
  private def substrProbe(ctx: Ctx): ObjectNode = {
    import ctx._
    import spark.implicits._
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val nBase = base.count()
    val hfs = fs(spark)
    val cleanDoc = Seq(900000001L ->
      ("qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz " +
        "xx cc vv bb nn mm q1 w2 e3 r4 t5 y6 u7 i8 o9 p0")).toDF("doc_id", "text")
    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scratch/${c}x"
      keyedCopies(base, nBase, c, salted = true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.parallel(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"))
      val root = s"$dir/store"
      IncrementalSubstr.ingest(spark, root, docs, docs)
      // a 60-char slice of a STORED (salted) text: one shared span
      val donor = docs.orderBy(col("doc_id")).select(col("text")).head().getString(0)
      val dupDoc = Seq(900000002L ->
        s"unique head material ${donor.substring(0, 60)} unique tail material")
        .toDF("doc_id", "text")
      def probe(d: DataFrame) = median(reps)(IncrementalSubstr.probe(spark, root, d).collect())
      val clean = probe(cleanDoc)
      val dup = probe(dupDoc)
      val bloom = new Path(s"$root/bloom/filter.bin")
      val aside = new Path(s"$root/bloom/filter.aside")
      require(hfs.rename(bloom, aside), "could not move bloom aside")
      val cleanNb = probe(cleanDoc)
      val dupNb = probe(dupDoc)
      require(hfs.rename(aside, bloom), "could not restore bloom")
      s"${c}x" -> obj("docs" -> c * nBase,
        "ledger_rows" -> spark.read.parquet(s"$root/wins").count(),
        "clean" -> clean, "dup" -> dup, "clean_nobloom" -> cleanNb, "dup_nobloom" -> dupNb)
    }
    obj(Seq("metric" -> "substr_probe_scale", "unit" -> "sec") ++ rounds: _*)
  }

  /** Batch `b` of the stream workload: ids [0, 3*perBatch/4) are
    * redelivered every batch with batch-salted content, the rest are new.
    * Token i is a degree-2 polynomial in i mixing id and b, so two distinct
    * (id, batch) docs share at most 2 of 30 tokens (a linear formula once
    * made whole docs collide and the verify leg grew quadratically). ids
    * < 10 carry static per-group content: a small planted clique keeps the
    * candidate/verify path exercised at a constant per-batch rate. */
  private def streamDocs(spark: SparkSession, b: Int, perBatch: Int): DataFrame =
    spark.range(perBatch.toLong).select(
      when(col("id") < 3 * perBatch / 4, col("id"))
        .otherwise(col("id") + b.toLong * perBatch).as("doc_id"),
      when(col("id") < 10,
        concat(lit("dup group g"), col("id") % 5,
          lit(" " + (0 until 28).map(i => s"filler$i").mkString(" "))))
      .otherwise(concat_ws(" ",
        (0 until 30).map(i =>
          concat(lit(s"w$i"), pmod(
            (col("id") * 1009 + b) * (i * 31 + 7) + col("id") * (i * i),
            lit(99991)))): _*))
        .as("text"))

  /** The streaming dedup loop's store growth: per-microbatch READ work
    * (input records) over 16 batches in which 75% of each batch redelivers
    * earlier doc_ids, without compaction (store and archive hold one row
    * per delivery, so every batch's latest-per-doc window re-reads a
    * growing pile) and with compaction every 3 batches (~one row per live
    * doc). Records are the honest metric at local scale, where a fixed
    * per-batch overhead dominates wall; compaction is timed apart. The
    * default point delivers 2,000 docs per batch; `--copies N` delivers N
    * times the sf0.1 corpus size (5,000 docs) over the 16 batches. */
  private def stream(ctx: Ctx): ObjectNode = {
    import ctx._
    val nBatches = 16
    val perBatch = if (copies == 1) 2000 else copies * 5000 / nBatches
    def run(compactEvery: Int): ObjectNode = {
      val root = s"$scratch/compact_every_$compactEvery"
      val (sigs, archive, pairs) = (s"$root/sigs", s"$root/archive", s"$root/pairs")
      var compactSec = 0.0
      val batches = (0 until nBatches).map { b =>
        val docs = streamDocs(spark, b, perBatch).localCheckpoint(true)
        val m = timed(DedupStream.runBatch(spark, docs, b.toLong, sigs, archive, pairs))
        if (compactEvery > 0 && (b + 1) % compactEvery == 0)
          compactSec += timed {
            DedupStream.compact(spark, sigs)
            DedupStream.compact(spark, archive)
          }.sec
        m
      }
      obj("batch_input_records" -> batches.map(_.work.inputRecords),
        "per_batch_sec" -> batches.map(_.sec),
        "compact_sec" -> compactSec,
        "store_rows" -> spark.read.parquet(sigs).count(),
        "live_docs" -> spark.read.parquet(sigs).select("doc_id").distinct().count())
    }
    val plain = run(compactEvery = 0)
    val comp = run(compactEvery = 3)
    def lastRecords(n: ObjectNode) = {
      val a = n.get("batch_input_records"); a.get(a.size - 1).asLong
    }
    obj("metric" -> "stream_compaction_scale", "unit" -> "records",
      "batches" -> nBatches, "docs_per_batch" -> perBatch,
      "no_compaction" -> plain, "compact_every_3" -> comp,
      "last_batch_records_ratio" ->
        lastRecords(plain).toDouble / math.max(1L, lastRecords(comp)))
  }

  /** End-to-end replication throughput through the real streaming entry
    * point: landed webhook deliveries -> projection -> last-wins dedup +
    * monotonic merge into the hash-partitioned store -> paged sync-target
    * export, at 1x/10x/100x of 20,000 deliveries over D/2 keys in 4
    * microbatches (1-2 insert, 3-4 update with newer event times). Per
    * point: deliveries/sec (files pre-staged: the window is project +
    * dedup + merge + bucket rewrite), rows written and write amplification
    * (from task output metrics), a trailing 10-delivery `small_batch`
    * against the full table (rows written track the touched buckets), and
    * the `sync` export through a counting sink (8 senders, ordered
    * commit). */
  private def replication(ctx: Ctx): ObjectNode = {
    import ctx._
    val buckets = 64
    val batchCount = 4
    val spec = Replicators.stripeChargeV1

    /** One landed-webhook request line (the requestSchema shape) for
      * delivery i over a k-key space. */
    def deliveries(from: Long, n: Long, k: Long) =
      spark.range(from, from + n).select(
        to_json(struct(
          format_string(
            "{\"object\":\"event\",\"created\":%d,\"data\":{\"object\":" +
              "{\"id\":\"ch_%d\",\"object\":\"charge\",\"amount\":%d," +
              "\"created\":%d,\"status\":\"ok\"}}}",
            lit(1000000L) + col("id"), pmod(col("id"), lit(k)), col("id"),
            lit(1000000L) + col("id")).as("body"),
          typedLit(Map.empty[String, String]).as("headers"),
          lit("/v1").as("path"), lit("POST").as("method"),
          col("id").as("__ingest_seq"))))

    val points = parts.map { key =>
      val c = key.stripSuffix("x").toInt
      val d = 20000L * c
      val k = d / 2
      val root = s"$scratch/$key"
      val src = s"$root/src"
      Files.createDirectories(Paths.get(src))

      // pre-stage every batch file OUTSIDE the measured window
      val perBatch = d / batchCount
      val staged = (0 until batchCount).map { b =>
        val stage = s"$root/stage$b"
        deliveries(b * perBatch, perBatch, k).write.mode("overwrite").text(stage)
        stage
      }
      // trailing small batch: 10 updates of existing keys, newest times
      val smallStage = s"$root/stageS"
      deliveries(d, 10, 10).write.mode("overwrite").text(smallStage)

      def publish(stage: String, tag: String): Unit = {
        import scala.jdk.CollectionConverters._
        Files.list(Paths.get(stage)).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .zipWithIndex.foreach { case (p, i) =>
            Files.move(p, Paths.get(src, s"$tag-$i.json"))
          }
      }
      val table = s"$root/table"
      def runBatch(stage: String, tag: String): Unit = {
        publish(stage, tag)
        WebhookStream.startPartitioned(spark, spec, src, table,
          s"$root/chk", buckets = buckets).awaitTermination()
      }

      // every parquet row the merge path writes (an exclusive run, so the
      // context-wide listener sees only this pipeline's tasks)
      val written = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) written.addAndGet(t.taskMetrics.outputMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      val (ingest, ingestWritten, small) = try {
        val ingest = timed {
          staged.zipWithIndex.foreach { case (s, b) => runBatch(s, s"b$b") }
          org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
        }
        val ingestWritten = written.get()
        // trailing small batch against the full table: bucket pruning
        val small = timed {
          runBatch(smallStage, "bS")
          org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
        }
        (ingest, ingestWritten, small)
      } finally spark.sparkContext.removeSparkListener(listener)
      val smallWritten = written.get() - ingestWritten

      val tableDf = PartitionedStore.read(spark, table)
      val tableRows = tableDf.count()
      require(tableRows == k, s"expected $k merged rows, got $tableRows")

      // sync-target export: checksum sink, parallel ordered commit
      val rowSum = new java.util.concurrent.atomic.AtomicLong(0)
      val sink = new SyncTarget.PageSink {
        def writePage(page: Seq[Row], pageIdx: Long): Unit = {
          val amtIdx = page.head.fieldIndex("amount")
          page.foreach(r => rowSum.addAndGet(r.getLong(amtIdx)))
        }
      }
      val sync = timed(SyncTarget.syncParallel(tableDf, "updated",
        new java.sql.Timestamp(0L), new java.sql.Timestamp(4102444800000L),
        pageSize = 500, sink = sink, parallelism = 8))
      val res = sync.value
      require(res.rowsDelivered == tableRows && res.failure.isEmpty,
        s"sync delivered ${res.rowsDelivered} of $tableRows: ${res.failure}")

      key -> obj("deliveries" -> d, "keys" -> k, "ingest_sec" -> ingest,
        "deliveries_per_sec" -> d / ingest.sec,
        "rows_written" -> ingestWritten,
        "write_amplification" -> ingestWritten.toDouble / d,
        "small_batch" -> obj("deliveries" -> 10, "rows_written" -> smallWritten,
          "table_rows" -> tableRows, "sec" -> small),
        "sync" -> obj("rows" -> res.rowsDelivered, "pages" -> res.pagesDelivered,
          "sec" -> sync, "rows_per_sec" -> res.rowsDelivered / sync.sec))
    }
    obj(Seq("metric" -> "replication_scale", "unit" -> "sec",
      "buckets" -> buckets, "batches" -> batchCount) ++ points: _*)
  }

  /** Connected components over path graphs (worst-case diameter for a
    * dup-pair graph, e.g. chained crawl revisions): star contraction's
    * rounds stay ~log(diameter) while label propagation pays one round per
    * hop — run only up to diameter 256, where it already shows, and
    * cross-checked label for label against the star result. */
  private def cc(ctx: Ctx): ObjectNode = {
    import ctx._
    import spark.implicits._
    val points = parts.map { key =>
      val n = key.stripPrefix("d").toInt
      val pairs = spark.range(0, n.toLong)
        .selectExpr("id AS doc_a", "id + 1 AS doc_b")
        .repartition(32)
      pairs.cache().count()
      // force the distributed tier: the claim is about the contraction,
      // not the driver union-find fast path
      val star = timed {
        val (labels, rounds) = DupClusters.assignStarWithRounds(pairs, driverMaxEdges = 0)
        (labels.as[(Long, Long)].collect().sortBy(_._1), rounds)
      }
      val starRows = star.value._1
      require(starRows.length == n + 1 && starRows.forall(_._2 == 0L),
        s"star contraction mislabeled the $n-path")
      val labelProp = if (n > 256) Nil else {
        val lp = timed(DupClusters.assign(pairs, maxIters = n + 2)
          .as[(Long, Long)].collect().sortBy(_._1))
        require(lp.value.sameElements(starRows), "algorithms disagreed on labels")
        // label prop moves min-labels one hop per round: rounds = diameter
        Seq("label_rounds" -> n, "label_sec" -> lp)
      }
      pairs.unpersist()
      key -> obj(Seq("star_rounds" -> star.value._2, "star_sec" -> star) ++ labelProp: _*)
    }
    obj("metric" -> "cc_scale", "unit" -> "sec", "graph" -> "path",
      "points" -> obj(points: _*))
  }

  /** Deterministic synthetic pages: `pages` pages of `perPage` items. */
  private def fetcher(cursor: Long, pages: Int, perPage: Int,
                      latencyMs: Long): DistributedBackfill.PageFetcher =
    new DistributedBackfill.PageFetcher {
      def fetchPage(token: Option[String]): (Seq[String], Option[String]) = {
        if (latencyMs > 0) Thread.sleep(latencyMs)
        val p = token.map(_.toInt).getOrElse(0)
        val page = (0 until perPage).map { i =>
          val id = cursor * 1000000L + p.toLong * perPage + i
          s"""{"id":$id,"cursor":$cursor,"page":$p,"i":$i}"""
        }
        (page, if (p + 1 < pages) Some((p + 1).toString) else None)
      }
    }

  /** The DataSourceV2 distributed backfill (q88/q89): pages/sec as the
    * cursor count grows from 150 to 150 x `copies`. Each cursor is one
    * InputPartition whose whole pagination loop runs in a task, so
    * concurrency is bounded by executor slots. `cpu` mode (zero-latency
    * fetchers) measures the source's own ceiling; `latency` mode (2 ms per
    * page) the realistic regime, ideally pages * 2 ms / slots. */
  private def backfill(ctx: Ctx): ObjectNode = {
    import ctx._
    val pagesPerCursor = 20
    val perPage = 25
    val rounds = for {
      c <- Seq(150, 150 * copies)
      (mode, latency) <- Seq(("cpu", 0L), ("latency", 2L))
    } yield {
      val fetchers: Seq[Backfiller.PageFetcher with Serializable] =
        (0 until c).map(i => fetcher(i.toLong, pagesPerCursor, perPage, latency))
      val m = median(reps)(DistributedBackfill.read(spark, fetchers).count())
      val pages = c.toLong * pagesPerCursor
      require(m.value == pages * perPage, s"expected ${pages * perPage} items, got ${m.value}")
      obj("cursors" -> c, "mode" -> mode, "pages" -> pages, "items" -> m.value,
        "sec" -> m, "pages_per_sec" -> pages / m.sec)
    }
    obj("metric" -> "backfill_scale", "unit" -> "sec", "rounds" -> rounds)
  }

  val specs: Seq[Spec] = Seq(
    Spec("inc", "BENCH_sf1_inc", Some(10), Nil, inc),
    Spec("inc_split", "BENCH_sf1_inc_split", Some(10), Nil, incSplit),
    Spec("invidx", "BENCH_sf1_invidx", Some(10), Nil, invidx),
    Spec("probe", "BENCH_sf1_probe", Some(10), Nil, probe),
    Spec("sketch", "BENCH_sf1_sketch", Some(10), Nil, sketch),
    Spec("substr_inc", "BENCH_sf1_substr_inc", Some(10), Nil, substrInc),
    Spec("substr_probe", "BENCH_sf1_substr_probe", Some(100), Nil, substrProbe),
    Spec("stream", "BENCH_sf1_stream", Some(1), Nil, stream),
    Spec("replication", "BENCH_sf1_replication", None, Seq("1x", "10x", "100x"), replication),
    Spec("cc", "BENCH_sf1_cc", None, Seq("d64", "d256", "d1024", "d4096"), cc),
    Spec("backfill", "BENCH_sf1_backfill", Some(10), Nil, backfill))
}
