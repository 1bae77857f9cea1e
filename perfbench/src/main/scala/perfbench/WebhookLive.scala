package perfbench

import graft.operators.{Merge, PartitionedStore, Projection}
import graft.plans.ReadonlyGuard
import graft.replicators.Replicators
import graft.sources.{Backfiller, WebhookAuth}
import graft.streaming.{WebhookReceiver, WebhookStream}
import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import WebhookLive.Drain

/** `webhook_live`: Stripe-signed POSTs to the receiver, back-to-back
  * AvailableNow drains of the partitioned stream into a preloaded table,
  * and a probe through the read-only guard after every drain.
  *
  * A segment is an open-loop phase at `Rate` deliveries/s for 70% of the
  * run, then a burst of `Burst` deliveries sent as fast as `Lanes`
  * connections allow; drains continue until every fresh delivery is
  * visible. The burst starts the moment a drain has started, so it always
  * just misses one drain: `ingest.burst_s` is then the cost of absorbing a
  * burst in the worst alignment, not a draw over where in the drain cycle
  * it happened to land. */
final class WebhookLive(seed: Long) extends Workload {
  val Keys = 10000
  val Customers = 1000
  val Rate = 8.0
  val Burst = 100
  val Lanes = 2
  private val Secret = "whsec_perfbench"
  private val OpaqueId = "svi_stripe_charges"
  private val View = "stripe_charge_v1_partitioned"
  private val spec = Replicators.stripeChargeV1Partitioned

  val gen = new WebhookGen(seed, Keys, Customers)
  private val preload = gen.preloadBodies.toVector
  private var dir: Path = _
  private def table = dir.resolve("table").toString
  private var receiver: WebhookReceiver.Started = _
  private var round = 0
  private var notVisibleTotal = 0

  // every POST of the run, with the status it got
  private val posted = ArrayBuffer.empty[(Delivery, Int)]
  // auth timings of the current segment (us), and its traced spans
  private val authUs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile private var tracer: Tracer = new Tracer(false)

  private def verify(headers: Map[String, String], body: String): WebhookAuth.Verdict = {
    val t0 = System.nanoTime()
    val v = WebhookAuth.verifySignedHeader(headers.get("stripe-signature"), body, Secret,
      System.currentTimeMillis() / 1000)
    val t1 = System.nanoTime()
    authUs.add((t1 - t0) / 1e3)
    if (tracer.enabled) tracer.record("auth", "verify", 0L, t0, t1, Map("delivery" -> eventIdOf(body)))
    v
  }

  private def eventIdOf(body: String): String = {
    val i = body.indexOf("\"id\":\"") + 6
    body.substring(i, body.indexOf('"', i))
  }

  /** The preload: every key's first version, through the same project ->
    * dedup -> write path as the stream's first microbatch. */
  override def load(spark: SparkSession, base: Path): Unit = {
    dir = base
    Files.createDirectories(dir)
    val raw = Backfiller.toWebhookDf(spark, preload)
    PartitionedStore.write(Merge.dedupLastWins(Projection.project(spec, raw), spec.mergeSpec),
      table, spec.remoteKeyCol, WebhookStream.DefaultBuckets)
  }

  /** Start the receiver and register the table with the catalog. */
  def setup(spark: SparkSession, base: Path): Unit = {
    dir = base
    receiver = WebhookReceiver.start(
      Map(OpaqueId -> WebhookReceiver.Route((h, b) => verify(h, b))),
      dir.resolve("landing"), dir.resolve("audit.jsonl"))
    PartitionedStore.read(spark, table).createOrReplaceTempView(View)
  }

  override def teardown(): Unit = if (receiver != null) { receiver.close(); receiver = null }

  private def post(d: Delivery): Int = {
    val ts = System.currentTimeMillis() / 1000
    val key = if (d.goodSignature) Secret else "whsec_wrong"
    val sig = s"t=$ts,v1=${WebhookAuth.hmacSha256Hex(key, s"$ts.${d.body}")}"
    val c = java.net.URI.create(receiver.url(OpaqueId)).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    c.setRequestProperty("Content-Type", "application/json")
    c.setRequestProperty("Stripe-Signature", sig)
    val out = c.getOutputStream
    out.write(d.body.getBytes(UTF_8))
    out.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    if (in != null) { in.readAllBytes(); in.close() }
    code
  }

  /** Fresh deliveries sent but not yet seen by a probe, by delivery idx. */
  private val pending = new ConcurrentHashMap[Int, Delivery]()
  private val visibleAt = new ConcurrentHashMap[Int, java.lang.Long]()

  private def drainOnce(spark: SparkSession, counters: Counters): Drain = {
    val w0 = counters.now
    val m0 = PartitionedStore.currentManifest(table)
    val t0 = System.nanoTime()
    drainStarts.incrementAndGet()
    val q = WebhookStream.startPartitioned(spark, spec, dir.resolve("landing").toString,
      table, dir.resolve("checkpoint").toString, WebhookStream.DefaultBuckets)
    q.awaitTermination()
    val t1 = System.nanoTime()
    val progress = q.recentProgress.toSeq
    val durations = progress.flatMap(_.durationMs.asScala.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.longValue).sum }
    val rows = progress.map(_.numInputRows).sum
    val w1 = counters.now
    val buckets = StoreFacts.bucketsChanged(m0, PartitionedStore.currentManifest(table))
    val drainSpan = tracer.record("drain", "availableNow", tracer.current, t0, t1,
      Map("rows" -> rows))
    if (tracer.enabled && durations.contains("addBatch")) {
      // the batch write sits at the end of the trigger, before the commit
      val end = t1 - durations.getOrElse("commitOffsets", 0L) * 1000000L
      tracer.record("store", "mergeInto", drainSpan,
        math.max(t0, end - durations("addBatch") * 1000000L), end)
    }
    val c0 = System.nanoTime()
    tracer.span("catalog", "refresh") {
      PartitionedStore.read(spark, table).createOrReplaceTempView(View)
    }
    val c1 = System.nanoTime()
    val waiting = pending.values().asScala.toSeq
    val keys = waiting.map(_.key).distinct.sorted
    var bytes = 0L; var nRows = 0L
    val seen: Map[Int, Long] =
      if (keys.isEmpty) Map.empty
      else tracer.span("guard", "probe", Map("keys" -> keys.size)) {
        val (res, m) = ReadonlyGuard.runMetered(spark,
          s"SELECT stripe_id, updated FROM $View WHERE stripe_id IN (" +
            keys.map(k => s"'${Stripe.chargeId(k)}'").mkString(",") + ")", maxRows = 10000)
        bytes = m.inputBytes; nRows = m.resultRows
        res.df.collect().map(r => r.getString(0).stripPrefix("ch_").toInt ->
          r.getTimestamp(1).getTime / 1000).toMap
      }
    val c2 = System.nanoTime()
    val madeVisible = waiting.filter(d => seen.get(d.key).exists(_ >= d.t)).map(_.idx)
    madeVisible.foreach { i => pending.remove(i); visibleAt.put(i, c2) }
    if (tracer.enabled && madeVisible.nonEmpty)
      tracer.record("bench", "visible", drainSpan, c2, c2, Map("deliveries" -> madeVisible))
    Drain(t0, t1, (t1 - t0) / 1e6, durations, rows, w1 - w0, buckets,
      (c1 - c0) / 1e6, (c2 - c1) / 1e6, keys.nonEmpty, bytes, nRows, madeVisible)
  }

  private val drainStarts = new java.util.concurrent.atomic.AtomicLong(0)

  /** Send `ds` open-loop while draining back-to-back, then (once the next
    * drain has started) `burst`; returns the sends and the drains. Drains
    * stop once every send is done and every fresh delivery is visible (or
    * 120 s after the last send). */
  private def drive(spark: SparkSession, counters: Counters, ds: Vector[Delivery],
                    burst: Vector[Delivery] = Vector.empty): (Seq[Sent[Int]], Seq[Drain]) = {
    val sendsDone = new AtomicBoolean(false)
    val drains = ArrayBuffer.empty[Drain]
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val parentSpan = tracer.current
    val drainer = new Thread(() => {
      try tracer.span("bench", "drain-loop", under = parentSpan) {
        var deadline = Long.MaxValue
        while (!(sendsDone.get() && pending.isEmpty) && System.nanoTime() < deadline) {
          if (sendsDone.get() && deadline == Long.MaxValue)
            deadline = System.nanoTime() + 120000000000L
          drains += tracer.span("bench", "cycle")(drainOnce(spark, counters))
        }
      } catch { case t: Throwable => failure.set(t) }
    }, "drainer")
    drainer.start()
    def send(xs: Vector[Delivery], t0: Long): Seq[Sent[Int]] =
      new OpenLoop[Int](SystemClock, Lanes).run(xs.map(d => t0 + d.dueMs * 1000000L),
        i => xs(i).key) { i =>
        val d = xs(i)
        if (d.kind == Kind.Fresh) pending.put(d.idx, d)
        tracer.span("receiver", "post", Map("delivery" -> d.eventId), parentSpan)(post(d))
      }
    val sends = try {
      val first = send(ds, System.nanoTime() + 200000000L)
      val second = if (burst.isEmpty) Nil else {
        val seen = drainStarts.get()
        while (drainStarts.get() == seen && failure.get() == null) Thread.sleep(1)
        send(burst, System.nanoTime() - burst.head.dueMs * 1000000L)
      }
      first ++ second.map(s => s.copy(index = s.index + ds.size))
    } finally sendsDone.set(true)
    drainer.join()
    Option(failure.get()).foreach(t => throw t)
    val all = ds ++ burst
    posted ++= sends.map(s => all(s.index) -> s.result)
    // a fresh delivery refused by HTTP can never become visible
    sends.filter(s => s.result != 202).foreach(s => pending.remove(all(s.index).idx))
    (sends, drains.toSeq)
  }

  def warm(spark: SparkSession): Unit = {
    val counters = new Counters(spark)
    try {
      round += 1
      drive(spark, counters, gen.round(round, 4, 0, 100))
    } finally counters.close()
  }

  def segment(spark: SparkSession, seconds: Int, tr: Tracer, counters: Counters): Segment = {
    tracer = tr
    authUs.clear()
    round += 1
    val landed0 = landingFiles
    val audit0 = auditLines
    val p1Ms = seconds * 700L
    val p1 = gen.round(round, math.max(1, (Rate * p1Ms / 1000).toInt), 0, 1000 / Rate)
    val burst = gen.round(round, Burst, p1Ms, 0)
    val all = p1 ++ burst
    val (sends, drains) = tracer.span("bench", "webhook_live")(drive(spark, counters, p1, burst))
    val sent = sends.map(s => all(s.index) -> s)
    val p1Idx = p1.map(_.idx).toSet
    val p1Sends = sent.filter { case (d, _) => p1Idx(d.idx) }
    val ackMs = p1Sends.map(_._2.latencyNs / 1e6)
    val lagMs = p1Sends.map(_._2.lagNs / 1e6)
    val visibleMs = p1Sends.collect { case (d, s) if d.kind == Kind.Fresh && visibleAt.containsKey(d.idx) =>
      (visibleAt.get(d.idx) - s.dueNs) / 1e6 }
    val burstSends = sent.filterNot { case (d, _) => p1Idx(d.idx) }
    val burstFresh = burstSends.collect { case (d, _) if d.kind == Kind.Fresh => d.idx }
    val burstStart = burstSends.map(_._2.startNs).min
    val burstEnd = burstFresh.flatMap(i => Option(visibleAt.get(i)).map(_.longValue)) match {
      case Seq() => System.nanoTime()
      case xs => xs.max
    }
    val burstS = (burstEnd - burstStart) / 1e9
    // the receiver's own share of the burst: first burst POST to last reply
    val burstAckS = (burstSends.map(_._2.endNs).max - burstStart) / 1e9
    // replies per second summed over the connections, each over its own
    // span: lanes are split by key, so their sizes differ from seed to seed
    val burstAcksPerS = burstSends.groupBy(_._1.key % Lanes).values.map { xs =>
      xs.size / ((xs.map(_._2.endNs).max - xs.map(_._2.startNs).min) / 1e9)
    }.sum
    val notVisible = sent.count { case (d, s) => d.kind == Kind.Fresh && s.result == 202 && !visibleAt.containsKey(d.idx) }
    val wrongStatus = sent.count { case (d, s) => s.result != d.expectedStatus }
    notVisibleTotal += notVisible
    val withRows = drains.filter(_.rows > 0)
    def p50(xs: Seq[Double]): Double = Stats.medianOr0(xs)
    def dur(k: String): Double = p50(withRows.map(_.durations.getOrElse(k, 0L).toDouble))
    val rowsWritten = drains.map(_.work.outputRows).sum
    val deliveredRows = drains.map(_.rows).sum
    val live = StoreFacts.liveBytes(dir.resolve("table"))
    val bytesPerRow = live.toDouble / Keys
    val visSummary = Stats.summary(visibleMs)
    val ackSummary = Stats.summary(ackMs)
    Segment(
      e2e = Map(
        "latency_p50_ms" -> Stats.median(visibleMs),
        "throughput_per_s" -> burstAcksPerS,
        "bytes_per_row" -> bytesPerRow),
      named = Map(
        "ingest.ack_p50_ms" -> (Stats.median(ackMs), "ms"),
        "ingest.ack_p95_ms" -> (Stats.tail(ackMs).map(_._2).getOrElse(Double.NaN), "ms"),
        "ingest.visible_p50_ms" -> (Stats.median(visibleMs), "ms"),
        "ingest.visible_p95_ms" -> (Stats.tail(visibleMs).map(_._2).getOrElse(Double.NaN), "ms"),
        "ingest.burst_s" -> (burstS, "s"),
        "ingest.burst_ack_s" -> (burstAckS, "s"),
        "ingest.burst_acks_per_s" -> (burstAcksPerS, "1/s"),
        "store.bytes_per_row" -> (bytesPerRow, "B/row")),
      layers = Map(
        "receiver.posts" -> sends.size.toDouble,
        "receiver.accepted" -> sends.count(_.result == 202).toDouble,
        "receiver.rejected" -> sends.count(_.result == 401).toDouble,
        "receiver.sender_lag_p95_ms" -> Stats.tail(lagMs).map(_._2).getOrElse(lagMs.max),
        "receiver.landing_files" -> (landingFiles - landed0).toDouble,
        "receiver.audit_lines" -> (auditLines - audit0).toDouble,
        "auth.verify_calls" -> authUs.size.toDouble,
        "auth.verify_us_p50" -> p50(authUs.asScala.toSeq),
        "drain.count" -> drains.size.toDouble,
        "drain.ms_p50" -> p50(withRows.map(_.drainMs)),
        "drain.deliveries_p50" -> p50(withRows.map(_.rows.toDouble)),
        "drain.overhead_ms_p50" -> p50(withRows.map(d =>
          (d.durations.getOrElse("triggerExecution", 0L) - d.durations.getOrElse("addBatch", 0L)).toDouble)),
        "drain.addBatch_ms_p50" -> dur("addBatch"),
        "drain.latestOffset_ms_p50" -> dur("latestOffset"),
        "drain.queryPlanning_ms_p50" -> dur("queryPlanning"),
        "drain.walCommit_ms_p50" -> dur("walCommit"),
        "drain.commitOffsets_ms_p50" -> dur("commitOffsets"),
        "store.rows_written" -> rowsWritten.toDouble,
        "store.rows_written_per_delivery" -> (if (deliveredRows == 0) 0.0 else rowsWritten.toDouble / deliveredRows),
        "store.bytes_written" -> drains.map(_.work.outputBytes).sum.toDouble,
        "store.buckets_touched_p50" -> p50(withRows.map(_.buckets.toDouble)),
        "store.merge_ms" -> withRows.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble,
        "catalog.refresh_ms_p50" -> p50(drains.map(_.catalogMs)),
        "catalog.files_listed" -> StoreFacts.liveFiles(dir.resolve("table")).toDouble,
        "guard.probe_ms_p50" -> p50(drains.filter(_.probed).map(_.probeMs)),
        "guard.input_bytes" -> drains.map(_.probeBytes).sum.toDouble,
        "guard.result_rows" -> drains.map(_.probeRows).sum.toDouble,
        "spark.jobs_per_op" -> p50(drains.map(_.work.jobs.toDouble)),
        "spark.task_ms_per_op" -> p50(drains.map(_.work.taskMs.toDouble)),
        "spark.codegen_ms_per_op" -> p50(drains.map(_.work.codegenMs))),
      detail = Map(
        "visible_ms" -> visSummary, "ack_ms" -> ackSummary,
        "sender_lag_ms" -> Stats.summary(lagMs),
        "burst" -> Map("deliveries" -> burstSends.size, "fresh" -> burstFresh.size, "s" -> burstS,
          "ack_s" -> burstAckS, "ack_ms" -> Stats.summary(burstSends.map(_._2.latencyNs / 1e6))),
        "not_visible" -> notVisible, "wrong_status" -> wrongStatus,
        "drains" -> drains.map(d => Map("ms" -> d.drainMs, "rows" -> d.rows,
          "durationMs" -> d.durations, "buckets" -> d.buckets, "catalog_ms" -> d.catalogMs,
          "probe_ms" -> d.probeMs, "visible" -> d.visible.size, "work" -> d.work.toMap))))
  }

  private def landingFiles: Int =
    Files2.list(dir.resolve("landing")).count(_.getFileName.toString.matches("req-\\d+\\.json"))
  private def auditLines: Int = {
    val f = dir.resolve("audit.jsonl")
    if (Files.exists(f)) Files.readAllLines(f).size else 0
  }

  /** Relink each auth span (recorded on the receiver's thread) under the
    * POST span of the same delivery that encloses it. */
  def relink(spans: Seq[Span]): Seq[Span] = {
    val posts = spans.filter(s => s.layer == "receiver").groupBy(_.attrs.get("delivery"))
    spans.map { s =>
      if (s.layer != "auth") s
      else posts.getOrElse(s.attrs.get("delivery"), Nil)
        .find(p => p.startNs <= s.startNs && s.endNs <= p.endNs)
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
  }

  def check(spark: SparkSession): Checked = {
    val stored = PartitionedStore.read(spark, table)
      .select("stripe_id", "updated", "amount", "status").collect()
      .map { r =>
        val k = r.getString(0).stripPrefix("ch_").toInt
        val t = r.getTimestamp(1).getTime / 1000
        k -> Stripe.Row(k, t, r.getLong(2), r.getString(3))
      }
    val storedMap = stored.toMap
    val sent = posted.map(_._1).toSeq
    val verdicts = WebhookModel.judge(gen, sent, storedMap)
    val stale = verdicts.count(_._2 == WebhookModel.StalePair)
    val wrong = verdicts.collect { case (k, w: WebhookModel.Wrong) => s"key $k: $w" }.toSeq.sorted
    val problems = ArrayBuffer.empty[String]
    if (stored.length != storedMap.size) problems += s"${stored.length - storedMap.size} duplicate keys stored"
    problems ++= wrong.take(5)
    if (wrong.size > 5) problems += s"... ${wrong.size} keys differ from the model"
    val wrongStatus = posted.count { case (d, s) => s != d.expectedStatus }
    if (wrongStatus > 0) problems += s"$wrongStatus deliveries got the wrong HTTP status"
    if (auditLines != posted.size) problems += s"audit lines $auditLines != POSTs ${posted.size}"
    val landed = Files2.list(dir.resolve("landing"))
      .filter(_.getFileName.toString.matches("req-\\d+\\.json"))
    val accepted = posted.count(_._2 == 202)
    if (landed.size != accepted) problems += s"landing files ${landed.size} != accepted $accepted"
    val badIds = posted.collect { case (d, _) if !d.goodSignature => d.eventId }.toSet
    val landedText = landed.iterator.map(p => Files.readString(p))
    val badLanded = landedText.count(t => badIds.exists(id => t.contains(s"""\\"id\\":\\"$id\\"""")))
    if (badLanded > 0) problems += s"$badLanded bad-signature bodies were landed"
    val pairs = sent.count(_.kind == Kind.PairOlder)
    Checked(problems.isEmpty, posted.size, stale + wrongStatus + wrong.size + notVisibleTotal,
      problems.toSeq,
      named = Map("ingest.stale_rows" -> (stale.toDouble, "count")),
      layers = Map("ingest.stale_rows" -> stale.toDouble, "ingest.reordered_pairs" -> pairs.toDouble,
        "store.live_epochs" -> StoreFacts.liveEpochs(dir.resolve("table")).toDouble,
        "store.manifest_versions" -> StoreFacts.manifestVersions(dir.resolve("table")).toDouble,
        "store.live_bytes" -> StoreFacts.liveBytes(dir.resolve("table")).toDouble,
        "store.dir_bytes" -> Files2.bytes(dir.resolve("table")).toDouble))
  }
}

object WebhookLive {
  /** One drain and its probe. */
  final case class Drain(startNs: Long, endNs: Long, drainMs: Double,
                                 durations: Map[String, Long], rows: Long, work: Work,
                                 buckets: Int, catalogMs: Double, probeMs: Double,
                                 probed: Boolean, probeBytes: Long, probeRows: Long,
                                 visible: Seq[Int])
}
