package perfbench

import graft.operators.{Merge, PartitionedStore, Pipeline, Projection}
import graft.plans.{ReadonlyGuard, ResultCache, SavedQueries}
import graft.replicators.Replicators
import graft.sinks.SyncTarget
import graft.sources.Backfiller
import graft.streaming.WebhookStream
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import BackfillSync.{Pass, Read}

/** `backfill_sync`: the batch use of the merge/store layer. Set-up creates
  * the replica table; every pass then re-backfills it: a full paginated
  * backfill (a transient fetch failure on every 37th page served,
  * retried), project -> dedup -> partitioned write, a 10% incremental
  * merge (plus 1% older versions that must lose), and a parallel sync of
  * the whole table into a checksumming in-process sink. After the passes,
  * a read step resolves the catalog and runs one query of each class
  * through the read-only guard over the final table, and a saved query
  * twice through the result cache. */
final class BackfillSync(seed: Long) extends Workload {
  val Keys = 10000
  val Customers = 1000
  val PageSize = 500
  val FailEvery = 37
  val SyncPage = 200
  val Senders = 3
  private val spec = Replicators.stripeChargeV1Partitioned

  val gen = new BackfillGen(seed, Keys, Customers)
  private val fullBodies = gen.bodies(gen.full)
  private val incBodies = gen.bodies(gen.newer ++ gen.older)
  private val expectedFinal = gen.afterIncremental
  val reads = new ReadGen(seed ^ 0x7eadL, expectedFinal, Customers)
  private var dir: Path = _
  private def table: Path = dir.resolve("stripe_charge_v1")
  private var passes = 0
  private val problems = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var saved: SavedQueries = _
  private var cache: ResultCache = _

  /** Create the (empty) replica table the passes backfill into, the saved
    * query and the result cache of the read step. */
  def setup(spark: SparkSession, base: Path): Unit = {
    dir = base
    Files.createDirectories(dir)
    Files2.delete(table)
    PartitionedStore.write(Pipeline.emptyTarget(spec, spark), table.toString,
      spec.remoteKeyCol, WebhookStream.DefaultBuckets)
    saved = new SavedQueries(spark)
    saved.save(reads.saved._1, reads.saved._2)
    Files2.delete(dir.resolve("result-cache"))
    cache = new ResultCache(spark, dir.resolve("result-cache").toString)
  }

  // pages served by every fetcher of the run: a pass fetches only ~24, so
  // the failure period runs across passes
  private var served = 0

  /** Pages over `items`; the first attempt at every `FailEvery`-th page the
    * run serves throws. Time spent inside fetchPage is the source's, not
    * the loop's. */
  private final class Fetcher(items: Vector[String], tracer: Tracer) extends Backfiller.PageFetcher {
    var fetchNs = 0L
    var pages = 0
    var retries = 0
    private val failedOnce = scala.collection.mutable.Set.empty[Int]
    def fetchPage(token: Option[String]): (Seq[String], Option[String]) = {
      val t0 = System.nanoTime()
      try tracer.span("source", "fetchPage") {
        val p = token.map(_.toInt).getOrElse(0)
        if ((served + 1) % FailEvery == 0 && failedOnce.add(p)) {
          retries += 1
          throw new java.io.IOException(s"transient failure fetching page $p")
        }
        pages += 1
        served += 1
        val from = p * PageSize
        val next = if (from + PageSize < items.size) Some((p + 1).toString) else None
        (items.slice(from, from + PageSize), next)
      } finally fetchNs += System.nanoTime() - t0
    }
  }

  /** Receives synced pages; checks order and sums a checksum. */
  private final class Sink(tracer: Tracer, parent: Long, t0: Long) extends SyncTarget.PageSink {
    val pages = new ConcurrentHashMap[Long, (Long, Long, Long, Int)]()
    val sinkNs = new java.util.concurrent.atomic.AtomicLong(0)
    val firstPageNs = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val unordered = new java.util.concurrent.atomic.AtomicInteger(0)
    def writePage(page: Seq[Row], pageIdx: Long): Unit = {
      val s0 = System.nanoTime()
      firstPageNs.accumulateAndGet(s0 - t0, math.min)
      val ts = page.map(r => r.getAs[Timestamp]("updated").getTime / 1000)
      if (ts.zip(ts.drop(1)).exists { case (a, b) => a > b }) unordered.incrementAndGet()
      val sum = page.map(r => Checksum.mix(r.getAs[String]("stripe_id"),
        r.getAs[Timestamp]("updated").getTime / 1000, r.getAs[Long]("amount"))).sum
      pages.put(pageIdx, (ts.head, ts.last, sum, page.size))
      val s1 = System.nanoTime()
      sinkNs.addAndGet(s1 - s0)
      tracer.record("sink", "writePage", parent, s0, s1, Map("page" -> pageIdx))
    }
  }

  /** Project `raw` and materialise the result inside the projection span:
    * the projection is lazy, and left so it would run, uncounted, inside
    * the store call that first evaluates it. The store then reads the
    * materialised rows. Returns the frame and the projection's wall ms. */
  private def project(raw: DataFrame, tracer: Tracer): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val df = tracer.span("projection", "project") {
      Projection.project(spec, raw).localCheckpoint(eager = true)
    }
    (df, Ms.since(t0))
  }

  private def pass(spark: SparkSession, tracer: Tracer, counters: Counters): Pass = {
    passes += 1
    val t = table.toString
    val w0 = counters.now
    val t0 = System.nanoTime()
    val f = new Fetcher(fullBodies, tracer)
    val raw = tracer.span("backfill", "run")(Backfiller.run(spark, f, maxAttempts = 3))
    val t1 = System.nanoTime()
    val (projected, projMs) = project(raw, tracer)
    val ww0 = counters.now
    val tw = System.nanoTime()
    tracer.span("store", "write") {
      PartitionedStore.write(Merge.dedupLastWins(projected, spec.mergeSpec), t,
        spec.remoteKeyCol, WebhookStream.DefaultBuckets)
    }
    val t2 = System.nanoTime()
    val ww1 = counters.now
    val inc = new Fetcher(incBodies, tracer)
    val rawInc = tracer.span("backfill", "incremental")(Backfiller.run(spark, inc, maxAttempts = 3))
    val t2b = System.nanoTime()
    val (projectedInc, projIncMs) = project(rawInc, tracer)
    val mw0 = counters.now
    val tm = System.nanoTime()
    tracer.span("store", "mergeInto") {
      PartitionedStore.mergeInto(spark, t, projectedInc, spec.mergeSpec, spec.remoteKeyCol,
        WebhookStream.DefaultBuckets)
    }
    val t3 = System.nanoTime()
    val mw1 = counters.now
    val res = tracer.span("sync", "syncParallel") {
      val sink = new Sink(tracer, tracer.current, System.nanoTime())
      val r = SyncTarget.syncParallel(PartitionedStore.read(spark, t), "updated",
        new Timestamp(0L), new Timestamp(4102444800000L), SyncPage, sink, Senders)
      (r, sink)
    }
    val t4 = System.nanoTime()
    val w1 = counters.now
    val (r, sink) = res
    verifySync(r, sink)
    val items = fullBodies.size
    Pass(Ms.of(t4 - t0), (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
      items, Ms.of(f.fetchNs + inc.fetchNs), Ms.of((t1 - t0) - f.fetchNs + (t2b - t2) - inc.fetchNs),
      f.pages + inc.pages, f.retries + inc.retries,
      projMs + projIncMs, fullBodies.size + incBodies.size, ww1 - ww0, mw1 - mw0,
      Ms.of(t2 - tw), Ms.of(t3 - tm), sink.firstPageNs.get / 1e6, sink.sinkNs.get / 1e6,
      r.pagesDelivered, r.rowsDelivered, w1 - w0)
  }

  /** The synced stream must be the model's final table exactly: row count,
    * checksum, ordered pages and the committed watermark. */
  private def verifySync(r: SyncTarget.SyncResult, sink: Sink): Unit = {
    attempted += 1
    val before = problems.size
    val exp = expectedFinal.values
    val pages = sink.pages.asScala.toSeq.sortBy(_._1).map(_._2)
    if (r.failure.isDefined) problems += s"sync failed: ${r.failure.get}"
    if (r.rowsDelivered != exp.size) problems += s"synced ${r.rowsDelivered} rows, expected ${exp.size}"
    if (pages.map(_._3).sum != Checksum.of(exp)) problems += "synced checksum differs from the model"
    if (sink.unordered.get > 0 || pages.zip(pages.drop(1)).exists { case (a, b) => a._2 > b._1 })
      problems += "synced pages are not ordered by updated"
    val maxT = exp.map(_.updated).max
    if (!r.committedThrough.contains(new Timestamp(maxT * 1000)))
      problems += s"committedThrough ${r.committedThrough} != max updated $maxT"
    if (problems.size > before) failed += 1
  }

  /** Resolve the catalog, then run the read step's queries one after the
    * other and check each against the model. */
  private def readStep(spark: SparkSession, tracer: Tracer): Read = {
    val c0 = System.nanoTime()
    tracer.span("catalog", "refresh") {
      PartitionedStore.read(spark, table.toString).createOrReplaceTempView(ReadGen.View)
    }
    val catalogMs = Ms.since(c0)
    val done = reads.step().map { q =>
      val h0 = cache.hits.get
      val t0 = System.nanoTime()
      var inputBytes = 0L
      val outcome: Either[String, (Seq[String], Boolean)] =
        try q.cls match {
          case "saved" =>
            val r = tracer.span("saved", "runCached")(saved.runCached(q.sql, cache))
            Right((render(r.df), r.maxRowsReached))
          case _ =>
            val (r, m) = tracer.span("guard", q.cls)(ReadonlyGuard.runMetered(spark, q.sql))
            inputBytes = m.inputBytes
            Right((render(r.df), r.maxRowsReached))
        } catch {
          case e: ReadonlyGuard.RejectedSql => Left(s"rejected: ${e.getMessage}")
        }
      val ms = Ms.since(t0)
      val problem = reads.judge(q, outcome)
      attempted += 1
      problem.foreach { p => problems += p; failed += 1 }
      val (rows, capped) = outcome.map(o => (o._1.size.toLong, o._2)).getOrElse((0L, false))
      Read.Query(q.cls, ms, problem.isEmpty, rows, capped, inputBytes, cache.hits.get > h0)
    }
    Read(catalogMs, done)
  }

  private def render(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case t: Timestamp => (t.getTime / 1000).toString
    case null => "null"
    case x => x.toString
  }.mkString("|"))

  /** A pass, the read step, and a pass again. The read step's plans push
    * some of the pass's generated classes out of Spark's codegen cache, so
    * the second pass compiles them again; and a fresh JVM's passes get
    * faster for several passes (JIT): with one warm-up pass, the second
    * measured pass (the median of three) was still 10-25% slower than the
    * third. */
  def warm(spark: SparkSession): Unit = {
    val counters = new Counters(spark)
    try {
      pass(spark, new Tracer(false), counters)
      readStep(spark, new Tracer(false))
      pass(spark, new Tracer(false), counters)
    } finally counters.close()
  }

  def segment(spark: SparkSession, seconds: Int, tracer: Tracer, counters: Counters): Segment = {
    val runs = ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    tracer.span("bench", "backfill_sync") {
      while (runs.size < 3 || System.nanoTime() - t0 < seconds * 1000000000L)
        runs += tracer.span("bench", "pass")(pass(spark, tracer, counters))
    }
    val read = tracer.span("bench", "reads")(readStep(spark, tracer))
    val answered = read.queries.filter(_.cls != "rejected")
    val savedCalls = read.queries.filter(_.cls == "saved")
    def classMs(cls: String): Double = Stats.median(read.queries.filter(_.cls == cls).map(_.ms))
    def p50(f: Pass => Double): Double = Stats.median(runs.map(f).toSeq)
    val itemsPerS = p50(p => p.items / (p.backfillS + p.writeS))
    val live = StoreFacts.liveBytes(table)
    Segment(
      e2e = Map(
        "latency_p50_ms" -> p50(_.ms),
        "throughput_per_s" -> itemsPerS,
        "bytes_per_row" -> live.toDouble / Keys),
      named = Map(
        "backfill.items_per_s" -> (itemsPerS, "1/s"),
        "backfill.incremental_s" -> (p50(_.incS), "s"),
        "sync.rows_per_s" -> (p50(p => p.syncRows / p.syncS), "1/s"),
        "read.p50_ms" -> (Stats.median(answered.map(_.ms)), "ms"),
        "store.bytes_per_row" -> (live.toDouble / Keys, "B/row")),
      layers = Map(
        "backfill.pages" -> p50(_.pages.toDouble),
        "backfill.retries" -> runs.map(_.retries).sum.toDouble, // per segment: 0 or 1 per pass
        "backfill.fetch_ms" -> p50(_.fetchMs),
        "backfill.loop_ms" -> p50(_.loopMs),
        "projection.ms" -> p50(_.projectionMs),
        "projection.rows" -> p50(_.projectionRows.toDouble),
        "store.write_ms" -> p50(_.writeMs),
        "store.merge_ms" -> p50(_.mergeMs),
        "store.rows_written" -> p50(p => (p.writeWork.outputRows + p.mergeWork.outputRows).toDouble),
        "store.bytes_written" -> p50(p => (p.writeWork.outputBytes + p.mergeWork.outputBytes).toDouble),
        "sync.first_page_ms" -> p50(_.firstPageMs),
        "sync.sink_ms" -> p50(_.sinkMs),
        "sync.pages" -> p50(_.syncPages.toDouble),
        "sync.rows" -> p50(_.syncRows.toDouble),
        "spark.jobs_per_op" -> p50(_.work.jobs.toDouble),
        "spark.task_ms_per_op" -> p50(_.work.taskMs.toDouble),
        "spark.codegen_ms_per_op" -> p50(_.work.codegenMs),
        "catalog.refresh_ms_p50" -> read.catalogMs,
        "catalog.files_listed" -> StoreFacts.liveFiles(table).toDouble,
        "guard.point_ms_p50" -> classMs("point"),
        "guard.range_ms_p50" -> classMs("range"),
        "guard.aggregate_ms_p50" -> classMs("aggregate"),
        "guard.capped_ms_p50" -> classMs("capped"),
        "guard.rejected_ms_p50" -> classMs("rejected"),
        "guard.rejected" -> read.queries.count(q => q.cls == "rejected" && q.ok).toDouble,
        "guard.capped" -> read.queries.count(_.capped).toDouble,
        "guard.input_bytes" -> read.queries.map(_.inputBytes).sum.toDouble,
        "guard.result_rows" -> read.queries.map(_.rows).sum.toDouble,
        "saved.calls" -> savedCalls.size.toDouble,
        "saved.hit_ratio" -> savedCalls.count(_.hit).toDouble / savedCalls.size,
        "saved.cached_ms_p50" -> Stats.medianOr0(savedCalls.filter(_.hit).map(_.ms))),
      detail = Map("passes" -> runs.map(p => Map("ms" -> p.ms, "backfill_s" -> p.backfillS,
        "write_s" -> p.writeS, "incremental_s" -> p.incS, "sync_s" -> p.syncS,
        "work" -> p.work.toMap)),
        "reads" -> Map("catalog_ms" -> read.catalogMs, "queries" -> read.queries.map(q =>
          Map("class" -> q.cls, "ms" -> q.ms, "rows" -> q.rows, "hit" -> q.hit)))))
  }

  def check(spark: SparkSession): Checked = {
    // the last pass's table, row for row
    val stored = PartitionedStore.read(spark, table.toString)
      .select("stripe_id", "updated", "amount", "status").collect()
      .map { r =>
        val k = r.getString(0).stripPrefix("ch_").toInt
        k -> Stripe.Row(k, r.getTimestamp(1).getTime / 1000, r.getLong(2), r.getString(3))
      }
    val all = problems.clone()
    if (stored.length != expectedFinal.size) all += s"table has ${stored.length} rows, expected ${expectedFinal.size}"
    val diff = stored.count { case (k, row) => !expectedFinal.get(k).contains(row) }
    if (diff > 0) all += s"$diff stored rows differ from the model"
    Checked(all.isEmpty, attempted, failed + (if (diff > 0 || stored.length != expectedFinal.size) 1 else 0),
      all.toSeq, Map.empty,
      Map("store.live_epochs" -> StoreFacts.liveEpochs(table).toDouble,
        "store.manifest_versions" -> StoreFacts.manifestVersions(table).toDouble,
        "store.live_bytes" -> StoreFacts.liveBytes(table).toDouble,
        "store.dir_bytes" -> Files2.bytes(table).toDouble))
  }
}

object BackfillSync {
  final case class Pass(ms: Double, backfillS: Double, writeS: Double, incS: Double,
                                syncS: Double, items: Int, fetchMs: Double, loopMs: Double,
                                pages: Int, retries: Int, projectionMs: Double,
                                projectionRows: Long, writeWork: Work, mergeWork: Work,
                                writeMs: Double, mergeMs: Double, firstPageMs: Double,
                                sinkMs: Double, syncPages: Long, syncRows: Long, work: Work)

  /** One read step: the catalog refresh, then each query in order. */
  final case class Read(catalogMs: Double, queries: Seq[Read.Query])
  object Read {
    final case class Query(cls: String, ms: Double, ok: Boolean, rows: Long, capped: Boolean,
                           inputBytes: Long, hit: Boolean)
  }
}
