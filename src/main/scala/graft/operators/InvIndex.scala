package graft.operators

import graft.functions.{Hashing, Text}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted INVERTED INDEX with incremental maintenance and
  * bucket-pruned online search — the retrieval family's STORE, completing
  * the same batch / incremental / online / streaming matrix the LSH
  * family ([[BandIndex]], `streaming/BandIndexStream`) and the
  * exact-substring family ([[IncrementalSubstr]], `streaming/SubstrStream`)
  * already have: batch statistics (q181) and BM25 ranking (q183) are the
  * batch legs; this store is the incremental leg (q213 — gated under
  * q181's oracle VERBATIM, the q101/q201/q211 equivalence discipline) and
  * the online leg (q214 — BM25 served from the store, gated under q183's
  * oracle verbatim); `streaming/IndexStream` is the streaming leg.
  *
  * Reference scope: the reference's saved-query surface exposes full-table
  * text filtering only (`lib/webhookdb/customer.rb`-style LIKE scans);
  * ranked retrieval over indexed postings is part of this library's
  * LLM-pipeline extension surface (SURVEY §2.12 family).
  *
  * Layout — three parquet stores under one root, every partition stamped
  * by `ingest_batch`:
  *
  *  - `post/` (word, doc_id, tf), partitioned by (ingest_batch, bucket)
  *    where bucket = [[Hashing.hash32]](word) % the root's bucket width —
  *    a query's terms prune the postings read to their own buckets (the
  *    [[BandIndex]] partition-prune discipline), so a k-term search reads
  *    at most k/width of the postings regardless of corpus size;
  *  - `dl/` (doc_id, dl), partitioned by (ingest_batch, dbucket) with
  *    dbucket = doc_id % width — BM25's length normalization joins
  *    only the candidate docs' buckets;
  *  - `meta/` one (t, n) totals row per batch — corpus token/doc counts
  *    are a per-batch SUM, never a corpus rescan.
  *
  * Bucket width is STORE-LEVEL GEOMETRY, fixed at root creation and
  * persisted under `_buckets` (the [[IncrementalSubstr]] meta discipline;
  * underscore-prefixed, so Spark's file source never reads it as data).
  * It is SIZED FROM THE FIRST DELTA ([[autoBuckets]]): a sandbox-scale
  * corpus gets few buckets (one ~MB-scale file per partition instead of a
  * 64-way spray of KB slivers — guide §6's output-file-sizing rule), a
  * warehouse-scale first batch gets up to 4096 (sharper pruning than the
  * old fixed 64). Every reader resolves the persisted width, so pruning
  * math stays consistent across the root's life; a meta-less root that
  * already has postings predates this change and pins the legacy 64.
  *
  * Commit protocol — MARKER-based, not rename-based: a batch is visible
  * iff its `meta/ingest_batch=N` partition exists, and ingest writes meta
  * LAST (uncommitting first: delete meta, rewrite post/dl, re-commit).
  * Readers take committed batches from the meta listing and prune every
  * scan to them, so a crash at ANY point inside ingest leaves the batch
  * merely invisible — never half-indexed — and the healing move is a
  * plain redelivery. Unlike the rename-committed stores (the SCALE.md
  * "durable-commit primitives" note), nothing here depends on atomic
  * directory rename for DATA (the one rename is the tiny `_buckets`
  * sidecar, whose loss merely re-derives the same value), which makes
  * this the layout to copy onto object stores where rename is
  * copy+delete.
  *
  * Correctness under the family's contracts:
  *  - every index statistic is a commutative monoid over DISJOINT doc
  *    sets (df/cf/t/n sum, postings checksum xor), so merged partials
  *    equal the batch build bit-for-bit (q186's property, here persisted);
  *  - batches must carry disjoint doc_ids: a doc_id already committed
  *    under a DIFFERENT batch is rejected before any mutation (the
  *    insert-only contract of [[IncrementalSubstr]]/[[IncrementalSplit]];
  *    re-index changed content under a new doc_id). The check prunes the
  *    dl read by the delta's dbuckets — admission-sized deltas touch a
  *    few directories, never O(store);
  *  - a redelivered batch (same id) REPLACES its own partitions — the
  *    uncommit-first sequence means even a content-CHANGING redelivery
  *    cannot strand stale buckets (the [[BandIndexStream]] bloat source
  *    this layout closes by construction).
  */
object InvIndex {

  /** Legacy / fallback partition width — the pre-geometry constant, still
    * pinned for meta-less roots that already carry postings. New roots
    * size their width from the first delta ([[autoBuckets]]). */
  val DefaultBuckets = 64

  private def postDir(root: String) = s"$root/post"
  private def dlDir(root: String) = s"$root/dl"
  private def metaDir(root: String) = s"$root/meta"
  private def bucketsFile(root: String) = s"$root/_buckets"

  private val postSchema = new StructType()
    .add("word", StringType).add("doc_id", LongType).add("tf", LongType)
    .add("ingest_batch", LongType).add("bucket", IntegerType)
  private val dlSchema = new StructType()
    .add("doc_id", LongType).add("dl", LongType)
    .add("ingest_batch", LongType).add("dbucket", IntegerType)
  private val metaSchema = new StructType()
    .add("t", LongType).add("n", LongType).add("ingest_batch", LongType)

  /** Creation-time width from the first delta's text bytes: ~1 MiB of
    * source text per bucket (postings compress below that), power of two,
    * clamped to [8, 4096]. Scale-adaptive in BOTH directions (guide §2.5/
    * §6): a sandbox corpus writes 8 well-filled files per store instead
    * of 64 slivers; a warehouse-scale first batch gets finer pruning than
    * the old fixed 64. */
  private[operators] def autoBuckets(textBytes: Long): Int = {
    val targetPerBucket = 1L << 20
    var b = 8
    while (b < 4096 && b.toLong * targetPerBucket < textBytes) b <<= 1
    b
  }

  /** Writer-task fanout per bucket for the postings write (guide §2.5
    * hot-key salting, applied to the WRITE side): `repartition(bucket)`
    * alone funnels each bucket — including a hot word's, which is hot at
    * any modulus — through ONE writer task, so a Zipfian head word makes
    * its bucket's writer the straggler of every ingest at scale. The salt
    * is deterministic ((word, doc_id) hash — guide §2.5's rand() retry
    * warning) and splits each bucket across up to `spread` tasks, sized
    * so an AVERAGE task carries ~64 MiB of source text with the cap
    * keeping per-bucket file counts bounded; 1 at sandbox scale (the
    * write path is byte-identical there). Read-side pruning is untouched:
    * the salt never reaches the layout — files still land under their
    * bucket directory, just several per bucket from distinct tasks. */
  private[operators] def writerSpread(textBytes: Long, nb: Int): Int = {
    val targetPerTask = 64L << 20
    var s = 1
    while (s < 32 && s.toLong * nb * targetPerTask < textBytes) s <<= 1
    s
  }

  private def readBuckets(spark: SparkSession, root: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(bucketsFile(root))
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    try Some(raw.trim.toInt)
    catch {
      case _: NumberFormatException =>
        sys.error(s"InvIndex at $root: bucket meta $p is unparsable " +
          s"(${raw.trim.take(32)}); it is written atomically, so this " +
          "indicates external corruption — restore it or rebuild the root")
    }
  }

  private def writeBucketsMeta(spark: SparkSession, root: String, b: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(bucketsFile(root))
    val tmp = new org.apache.hadoop.fs.Path(bucketsFile(root) + ".tmp")
    val fs = fsOf(spark, root)
    val out = fs.create(tmp, true)
    try out.write(s"$b\n".getBytes("UTF-8")) finally out.close()
    if (fs.exists(p) && !fs.delete(p, false))
      sys.error(s"bucket meta: could not replace $p")
    if (!fs.rename(tmp, p))
      sys.error(s"bucket meta: rename $tmp -> $p failed")
  }

  /** The root's persisted width; for a meta-less root, the legacy
    * [[DefaultBuckets]] when postings already exist (those can only be
    * laid out at the old hardcoded width), else the `create` choice —
    * persisted only when `create` is given (ingest), never by readers. */
  private def bucketsOf(spark: SparkSession, root: String,
                        create: Option[Int] = None): Int =
    readBuckets(spark, root).getOrElse {
      val legacy = {
        val p = new org.apache.hadoop.fs.Path(postDir(root))
        fsOf(spark, root).exists(p)
      }
      val b = if (legacy) DefaultBuckets else create.getOrElse(DefaultBuckets)
      create.foreach(_ => writeBucketsMeta(spark, root, b))
      b
    }

  private[operators] def bucketOfWord(c: Column, nb: Int): Column =
    pmod(Hashing.hash32(c), lit(nb.toLong)).cast(IntegerType)

  /** Driver-side mirror of [[bucketOfWord]] for partition pruning from
    * literal query terms (spec-gated equal to the executor expression):
    * Spark's `md5` is lowercase hex over UTF-8 bytes, `conv(_, 16, 10)`
    * parses the first 8 chars — both reproduced exactly here. */
  private[operators] def bucketOfWordDriver(s: String, nb: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => "%02x".format(b & 0xff)).mkString
    (java.lang.Long.parseLong(hex, 16) % nb).toInt
  }

  private def dbucketOf(c: Column, nb: Int): Column =
    pmod(c, lit(nb.toLong)).cast(IntegerType)

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readOr(spark: SparkSession, dir: String,
                     schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (fsOf(spark, dir).exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Batch ids with a commit marker — a DRIVER-SIDE listing of `meta/`'s
    * partition directories (no Spark job; bounded by rounds, not data). */
  def committedBatches(spark: SparkSession, root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(metaDir(root))
    val fs = fsOf(spark, metaDir(root))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .map(_.stripPrefix("ingest_batch=").toLong).sorted
  }

  private def committedFilter(committed: Seq[Long]): Column =
    if (committed.isEmpty) lit(false)
    else col("ingest_batch").isin(committed: _*)

  /** Index `delta` (doc_id, text) as batch `batchId`. Idempotent per
    * batch id (redelivery replaces); insert-only across batches (a
    * doc_id committed under another batch rejects — re-index changed
    * content under a NEW doc_id, the family contract). Tokenization is
    * [[Text.tokens]], identical to the batch q181/q183 legs — the
    * equivalence gates compare against those oracles verbatim. */
  def ingest(spark: SparkSession, root: String, delta: DataFrame,
             batchId: Long, rejectDuplicates: Boolean = true,
             buckets: Int = 0, spread: Int = 0): Unit =
    TableLock.withLock(root) {
      ingestLocked(spark, root, delta, batchId, rejectDuplicates, buckets,
        spread)
    }

  private val profile = sys.env.contains("GRAFT_PROF_INVIDX")
  private def prof[A](tag: String)(f: => A): A =
    if (!profile) f else {
      val t0 = System.nanoTime(); val r = f
      println(f"PROFX   $tag%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  private def ingestLocked(spark: SparkSession, root: String, delta: DataFrame,
                           batchId: Long, rejectDuplicates: Boolean,
                           buckets: Int, spread: Int): Unit = {
    // ONE delta pass, pinned (the IncrementalSubstr cls discipline, r14b):
    // the deduplicated delta feeds the admission agg, the dup check's key
    // side AND the postings tokenize — un-pinned, each leg re-ran the
    // delta scan + dedup exchange. LAZY: the admission agg right below is
    // the round's first action and materializes the pin in the same job;
    // freed before return.
    val d0 = delta.select(col("doc_id").cast(LongType).as("doc_id"),
      col("text")).dropDuplicates("doc_id", "text")
      .localCheckpoint(false)
    // width BEFORE the admission agg so the delta's dbuckets ride along in
    // the same pass; None exactly when no prior batch can exist (fresh
    // root), where the dup check below never fires
    val nbPre: Option[Int] = readBuckets(spark, root).orElse {
      val p = new org.apache.hadoop.fs.Path(postDir(root))
      if (fsOf(spark, root).exists(p)) Some(DefaultBuckets) else None
    }
    // ONE admission pass: empty deltas no-op (zero-row sums read NULL —
    // the IncrementalSubstr ADVICE lesson), conflicting in-delta texts
    // (one doc_id, two texts after the pair-distinct) reject, the text
    // byte count feeds creation-time geometry, and the delta's dbucket
    // list (<= width ints, summary-sized) feeds the dup check's partition
    // prune without its own job
    val st = prof("admission")(d0.agg(count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("nid"),
      coalesce(sum(length(col("text"))), lit(0L)).as("bytes"),
      collect_set(dbucketOf(col("doc_id"), nbPre.getOrElse(1)))
        .as("dbuckets")).head())
    if (st.getLong(0) == 0L) { Pins.free(d0); return }
    if (st.getLong(0) != st.getLong(1))
      sys.error(s"InvIndex.ingest at $root: delta carries one doc_id with " +
        "multiple texts — ambiguous; collapse the delta before ingesting")
    // geometry: persisted at creation — an explicit caller width (specs
    // gating the pruning claim; operators matching a known workload) or
    // the delta-sized default — read back, and the creation choice
    // ignored, on every later round
    val nb = bucketsOf(spark, root, create =
      Some(if (buckets > 0) buckets else autoBuckets(st.getLong(2))))

    if (rejectDuplicates) {
      val others = committedBatches(spark, root).filterNot(_ == batchId)
      if (others.nonEmpty) {
        // prune the ledger read to the delta's dbuckets (collected in the
        // admission pass above) — admission-sized deltas touch a few
        // directories, never O(store)
        val dbuckets = st.getSeq[Int](3)
        val taken = prof("dup check")(readOr(spark, dlDir(root), dlSchema)
          .filter(committedFilter(others) && col("dbucket").isin(dbuckets: _*))
          .join(d0.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id")).limit(3).collect().map(_.getLong(0)))
        if (taken.nonEmpty)
          sys.error(s"InvIndex.ingest at $root: doc_ids already committed " +
            s"under another batch (e.g. ${taken.mkString(", ")}) — the " +
            "store is insert-only across batches; re-index changed " +
            "content under a new doc_id")
      }
    }

    val fs = fsOf(spark, root)
    def drop(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/ingest_batch=$batchId")
      if (fs.exists(p) && !fs.delete(p, true))
        sys.error(s"InvIndex.ingest at $root: delete $p failed")
    }
    // UNCOMMIT first: the marker goes away before any partition rewrite,
    // so readers never see a half-rewritten batch and a content-changing
    // redelivery cannot strand stale bucket directories
    drop(metaDir(root)); drop(postDir(root)); drop(dlDir(root))

    // postings: tf per (word, doc_id), landed bucket-partitioned; the
    // repartition keeps it to one file per bucket per owning task
    // (the BandIndex small-files lesson). explode_outer + isNotNull is
    // the InferFiltersFromGenerate discipline (q179/q181).
    // (measured r14b: a freshWide-style re-spread of the tokenize leg was
    // a wash here — the pass is ~0.1 s CPU at sandbox scale, below the
    // exchange it would add; IncrementalSubstr keeps the spread because
    // its window explode is ~7x heavier)
    val toks = d0.select(col("doc_id"),
      explode_outer(Text.tokens(col("text"))).as("word"))
      .filter(col("word").isNotNull)
    val postRows = toks.groupBy(col("word"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("ingest_batch", lit(batchId))
      .withColumn("bucket", bucketOfWord(col("word"), nb))
    // hot-word skew (guide §2.5): a head word is hot at ANY modulus, so
    // repartition(bucket) alone makes its bucket's single writer task the
    // ingest straggler at scale — salt the write shuffle (deterministic,
    // see writerSpread; spread stays 1 at sandbox scale, where the plan
    // is unchanged). The layout itself keeps one directory per bucket:
    // partition pruning, the driver-side bucket mirror and every reader
    // are untouched, so there is no hot-word sidecar to lose.
    val sp = if (spread > 0) spread else writerSpread(st.getLong(2), nb)
    val placed =
      if (sp > 1) postRows.repartition(col("bucket"),
        pmod(xxhash64(col("word"), col("doc_id")), lit(sp.toLong)))
      else postRows.repartition(col("bucket"))
    // word-sorted within each writer task (guide §6: sort by the filtered
    // high-cardinality column so parquet row-group min/max prune): a
    // probe for a word co-bucketed with a Zipfian head word skips the hot
    // word's row groups instead of decoding the whole bucket
    prof("post write")(placed
      .sortWithinPartitions(col("bucket"), col("word"))
      .write.mode(SaveMode.Append)
      .partitionBy("ingest_batch", "bucket").parquet(postDir(root)))

    // doc lengths DERIVED FROM the landed postings partition — the staged
    // write is the spill (the IncrementalSubstr bulk-delta discipline:
    // never re-run or pin a corpus-sized tokenization lineage). The
    // per-doc rollup is checkpointed ONCE (doc-count-sized rows) and
    // feeds BOTH the dl write and the commit totals, replacing the old
    // second read of the just-written dl partition (guide §1.2: one pass,
    // not two reads of the same tiny table).
    val landed = spark.read.schema(postSchema).parquet(postDir(root))
      .filter(col("ingest_batch") === batchId)
    // LAZY pin: the dl write below is the first action and materializes
    // the rollup in the same job; the commit totals then read the cached
    // doc-count-sized rows (one job, not a checkpoint job + a write job)
    val dl0 = landed.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl")).localCheckpoint(false)
    prof("dl write")(dl0
      .withColumn("ingest_batch", lit(batchId))
      .withColumn("dbucket", dbucketOf(col("doc_id"), nb))
      .repartition(col("dbucket"))
      .write.mode(SaveMode.Append)
      .partitionBy("ingest_batch", "dbucket").parquet(dlDir(root)))

    // COMMIT: the totals row is the marker, written last. Summary-sized
    // by construction (one row per batch); the sums come off the pinned
    // rollup, not a re-read of the dl store.
    val tot = prof("totals")(dl0
      .agg(coalesce(sum(col("dl")), lit(0L)).as("t"),
        count(lit(1)).as("n")).head())
    Pins.free(dl0)
    Pins.free(d0)
    prof("meta write")(writeMetaRow(spark, root, batchId,
      tot.getLong(0), tot.getLong(1)))
  }

  /** The commit marker: ONE (t, n) parquet row under
    * `meta/ingest_batch=<id>`, written DRIVER-SIDE (parquet-hadoop rides
    * Spark's own classpath) — a whole Spark job per ingest round was spent
    * writing a single summary row (r14b job trace: ~0.15-0.2 s of pure
    * scheduling per batch, at any scale). The marker protocol is
    * unchanged-or-better: the row lands in a `.stage-<id>` sibling first
    * and the PARTITION DIRECTORY renames in whole, so the marker appears
    * atomically — the old job commit's mkdir-then-move window (dir listed
    * by committedBatches before its totals row lands) is gone. Layout and
    * schema are byte-compatible with the job-written files (optional
    * int64 t/n, snappy), so roots written by either path read identically. */
  private def writeMetaRow(spark: SparkSession, root: String, batchId: Long,
                           t: Long, n: Long): Unit = {
    val fs = fsOf(spark, root)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message meta { optional int64 t; optional int64 n; }")
    val stage = new org.apache.hadoop.fs.Path(s"${metaDir(root)}/.stage-$batchId")
    fs.delete(stage, true)
    val file = new org.apache.hadoop.fs.Path(stage, "part-00000.parquet")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup()
      g.add("t", t)
      g.add("n", n)
      writer.write(g)
    } finally writer.close()
    val dest = new org.apache.hadoop.fs.Path(s"${metaDir(root)}/ingest_batch=$batchId")
    fs.mkdirs(new org.apache.hadoop.fs.Path(metaDir(root)))
    if (fs.exists(dest) && !fs.delete(dest, true))
      sys.error(s"InvIndex.ingest at $root: could not replace $dest")
    if (!fs.rename(stage, dest))
      sys.error(s"InvIndex.ingest at $root: rename $stage -> $dest failed")
  }

  /** Index statistics from the store — q181's report (word, df, cf,
    * postings_sig), equal to the batch build bit-for-bit because every
    * statistic is a commutative monoid over the committed batches'
    * disjoint doc sets. The postings checksum keeps q181's scale
    * decision: an xor fold, map-side-combinable, constant reducer state
    * per word at any corpus size. */
  def stats(spark: SparkSession, root: String): DataFrame = {
    val committed = committedBatches(spark, root)
    readOr(spark, postDir(root), postSchema)
      .filter(committedFilter(committed))
      .select(col("word"), col("tf"),
        Hashing.hash32(concat_ws(":", col("doc_id"), col("tf"))).as("sig"))
      .groupBy(col("word"))
      .agg(count(lit(1)).cast(LongType).as("df"),
        sum(col("tf")).cast(LongType).as("cf"),
        expr("bit_xor(sig)").cast(LongType).as("postings_sig"))
  }

  private def ilog64(x: String) =
    s"64 * (length(bin($x)) - 1) + ($x * 64) DIV CAST(pow(2.0D, length(bin($x)) - 1) AS BIGINT) - 64"

  /** BM25 top-k served FROM the store — q183's exact integer scoring
    * (same rationals, same ilog64 idf quantizer, same overflow ordering),
    * with the reads the store's layout buys:
    *
    *  - postings prune to the query terms' buckets (<= terms/width
    *    of the store, any corpus size) via partition filter from the
    *    driver-side bucket mirror at the root's persisted width;
    *  - totals are a sum over meta's per-batch rows — no corpus scan;
    *  - doc lengths prune to the CANDIDATE docs' dbuckets (<= width
    *    ints collected) before the per-doc join.
    *
    * The query-sized df/idf frame broadcasts, exactly as in the batch
    * leg. The returned frame stays valid until the root's next search
    * ([[Pins]]). */
  def search(spark: SparkSession, root: String, terms: Seq[String],
             k: Int): DataFrame = {
    val committed = committedBatches(spark, root)
    val nb = bucketsOf(spark, root)
    // LAZY pin (r14b): the pruned query-term postings feed the df/idf
    // frame, the candidate-dbucket listing and the scoring join — three
    // AQE legs that otherwise each re-ran the pruned scan. The dbucket
    // collect right below is the first action and materializes the pin;
    // the returned frame reads it, so it is parked under `search:<root>`.
    val qtf = queryPostings(spark, root, terms, committed, nb)
      .localCheckpoint(false)
    Pins.park(s"search:$root", qtf)
    // corpus totals as DRIVER SCALARS: read through parquet-hadoop (no
    // Spark job, no broadcast build) when the committed-batch count is
    // small — one tiny summary row per batch — with a one-row Spark
    // aggregation standing past the bound. Bit-identical either way (both
    // are plain Long sums over the same rows; spec-gated), and the idf /
    // score expressions then fold the totals as literals instead of
    // riding two broadcast cross-joins through the plan.
    val (t, n): (Long, Long) =
      totalsDriver(spark, root, committed).getOrElse {
        val row = readOr(spark, metaDir(root), metaSchema)
          .filter(committedFilter(committed))
          .agg(coalesce(sum(col("t")), lit(0L)).as("t"),
            coalesce(sum(col("n")), lit(0L)).as("n")).head()
        (row.getLong(0), row.getLong(1))
      }
    val df_ = qtf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val idf = df_
      .withColumn("x",
        expr(s"greatest(((2*${n}L - 2*df + 1) * 1048576) DIV (2*df + 1), 1)"))
      .select(col("word"), expr(ilog64("x")).as("idf"))
    val dbuckets = qtf.select(dbucketOf(col("doc_id"), nb).as("dbucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val dl = readOr(spark, dlDir(root), dlSchema)
      .filter(committedFilter(committed) && col("dbucket").isin(dbuckets: _*))
      .select(col("doc_id"), col("dl"))
    qtf.join(broadcast(idf), Seq("word"))
      .join(dl, Seq("doc_id"))
      // q183's overflow ordering: divide the corpus-sized product through
      // FIRST, then scale by the small idf — headroom to ~1e12-token
      // corpora (q188's documented bound)
      .withColumn("term_score",
        expr(s"idf * ((44 * ${t}L * tf * 1000) DIV " +
          s"(20 * ${t}L * tf + 6 * ${t}L + 18 * dl * ${n}L))"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).cast(LongType).as("score"),
        count(lit(1)).cast(LongType).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The committed postings of `terms`, read pruned: partition filters on
    * the committed batches and the terms' buckets (at the root's width
    * `nb`), and the word list pushed into the parquet scan. */
  private[operators] def queryPostings(spark: SparkSession, root: String,
                                       terms: Seq[String], committed: Seq[Long],
                                       nb: Int): DataFrame = {
    val termBuckets = terms.map(bucketOfWordDriver(_, nb)).distinct
    readOr(spark, postDir(root), postSchema)
      .filter(committedFilter(committed) &&
        col("bucket").isin(termBuckets: _*) && col("word").isin(terms: _*))
      .select(col("word"), col("doc_id"), col("tf"))
  }

  /** Driver-side sum of the per-batch (t, n) meta rows — the search path's
    * totals without a Spark job. Bounded by batch count (each batch's
    * marker holds ONE summary row); None past the bound or on any
    * unreadable file, where the Spark aggregation stands. */
  private[operators] val DriverMetaReadMaxBatches = 256
  private[operators] def totalsDriver(spark: SparkSession, root: String,
                                      committed: Seq[Long]): Option[(Long, Long)] = {
    if (committed.isEmpty) return Some((0L, 0L))
    if (committed.size > DriverMetaReadMaxBatches) return None
    val fs = fsOf(spark, metaDir(root))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    var t = 0L; var n = 0L
    try {
      committed.foreach { b =>
        val dir = new org.apache.hadoop.fs.Path(s"${metaDir(root)}/ingest_batch=$b")
        fs.listStatus(dir).filter { s =>
          val nm = s.getPath.getName
          s.isFile && !nm.startsWith("_") && !nm.startsWith(".")
        }.foreach { s =>
          val reader = org.apache.parquet.hadoop.ParquetReader
            .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
              s.getPath)
            .withConf(conf).build()
          try {
            var g = reader.read()
            while (g != null) {
              t += g.getLong("t", 0)
              n += g.getLong("n", 0)
              g = reader.read()
            }
          } finally reader.close()
        }
      }
      Some((t, n))
    } catch { case _: Exception => None }
  }
}
