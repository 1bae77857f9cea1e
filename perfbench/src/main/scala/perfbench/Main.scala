package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's entry point. One run: build the session and load the
  * workload's tables, then set the workload up `SetupReps` times, each on
  * a new session (the median is `setup_s`; the first includes the load and
  * the cold JVM), warm up once untimed, measure one segment untraced, and with `--trace 1` a second,
  * traced segment; then check every output against the reference model.
  *
  * Output, on stdout: a `stamp` line (machine, sources, seed, effective
  * Spark conf), a `named` line (the workload's metrics under their own
  * names, with units), and as the last line the result object. The full
  * record goes to `<out>/results/`, spans to `<out>/traces/`. Exit code 1
  * when an output check fails. */
object Main {

  /** With the cold first set-up the slowest, the (lower) median of four is
    * the third set-up, past the first warm one that JIT state swings most. */
  val SetupReps = 4

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "heap_live_mb" -> "MB", "bytes_per_row" -> "B/row")

  /** Span layers, named after the modules the spans wrap ("source" is the
    * benchmark's page fetcher, "sink" its sync consumer, "bench" its own
    * time between calls). */
  val Layers: Seq[String] = Seq("receiver", "auth", "drain", "store", "projection", "backfill",
    "source", "sync", "sink", "catalog", "guard", "saved", "bench")

  /** Every per-layer metric with its unit. The result line needs a number
    * for each, so a metric of a layer the workload does not reach reads 0
    * there; the `named` line lists those under `unmeasured`. */
  val PerLayer: Seq[(String, String)] = {
    def c(ns: String*) = ns.map(_ -> "count")
    def ms(ns: String*) = ns.map(_ -> "ms")
    def b(ns: String*) = ns.map(_ -> "B")
    c("receiver.posts", "receiver.accepted", "receiver.rejected") ++
      ms("receiver.sender_lag_p95_ms") ++ c("receiver.landing_files", "receiver.audit_lines",
      "auth.verify_calls") ++ Seq("auth.verify_us_p50" -> "us") ++
      c("drain.count") ++ ms("drain.ms_p50") ++ c("drain.deliveries_p50") ++
      ms("drain.overhead_ms_p50", "drain.addBatch_ms_p50", "drain.latestOffset_ms_p50",
        "drain.queryPlanning_ms_p50", "drain.walCommit_ms_p50", "drain.commitOffsets_ms_p50") ++
      c("store.rows_written") ++ Seq("store.rows_written_per_delivery" -> "ratio") ++
      b("store.bytes_written") ++ c("store.buckets_touched_p50", "store.live_epochs",
      "store.manifest_versions") ++ b("store.live_bytes", "store.dir_bytes") ++
      ms("store.write_ms", "store.merge_ms") ++ c("ingest.stale_rows", "ingest.reordered_pairs") ++
      ms("projection.ms") ++ c("projection.rows", "backfill.pages", "backfill.retries") ++
      ms("backfill.fetch_ms", "backfill.loop_ms", "sync.first_page_ms", "sync.sink_ms") ++
      c("sync.pages", "sync.rows") ++ ms("catalog.refresh_ms_p50") ++ c("catalog.files_listed") ++
      ms("guard.probe_ms_p50", "guard.point_ms_p50", "guard.range_ms_p50", "guard.aggregate_ms_p50",
        "guard.capped_ms_p50", "guard.rejected_ms_p50") ++
      c("guard.rejected", "guard.capped") ++ b("guard.input_bytes") ++ c("guard.result_rows",
      "saved.calls") ++ Seq("saved.hit_ratio" -> "ratio") ++ ms("saved.cached_ms_p50") ++
      c("spark.jobs", "spark.stages", "spark.tasks") ++ ms("spark.task_ms", "spark.cpu_ms",
      "spark.gc_ms", "spark.deserialize_ms") ++ b("spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes") ++
      ms("spark.codegen_compile_ms") ++ c("spark.codegen_classes", "spark.jobs_per_op") ++
      ms("spark.task_ms_per_op", "spark.codegen_ms_per_op", "jvm.gc_ms") ++
      Seq("jvm.heap_peak_mb" -> "MB", "jvm.heap_live_mb" -> "MB") ++ Layers.map(l => s"self_ms.$l" -> "ms") ++
      ms("trace.wall_ms") ++ c("trace.spans", "trace.roots") ++
      Seq("trace.accounted_frac" -> "ratio", "trace.overhead_frac" -> "ratio")
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, stamp: Map[String, String])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(kv.getOrElse("out", ".bench_build")),
      kv.collect { case (k, v) if k.startsWith("stamp.") => k.stripPrefix("stamp.") -> v })
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "webhook_live" => new WebhookLive(seed)
    case "backfill_sync" => new BackfillSync(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The session as production gets it: all local cores, shuffle
    * partitions = cores, UTC, no UI; Spark defaults otherwise. The two
    * directory settings only keep temporary files inside the work dir. */
  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private final case class Measured(seg: Segment, heapMb: Double, liveMb: Double, work: Work, gcMs: Long,
                                    wallMs: Double, spans: Seq[Span])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = a.out.resolve("work").resolve(s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}")
    Files2.delete(work)
    Files.createDirectories(work)
    val w = workload(a.workload, a.seed)

    val data = work.resolve("data")
    var loadS = 0.0
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val spark = session(cpus, work)
      if (rep == 1) {
        w.load(spark, data)
        loadS = (System.nanoTime() - t0) / 1e9
      }
      w.setup(spark, data)
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) {
        w.teardown()
        stop(spark)
      }
      s
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("WARN")
    w.warm(spark)

    val jvm = new JvmWatch
    val counters = new Counters(spark)
    def measure(tracer: Tracer): Measured = {
      val gc0 = jvm.gcMs
      val w0 = counters.now
      jvm.start()
      val t0 = System.nanoTime()
      val seg = w.segment(spark, a.seconds, tracer, counters)
      val wall = Ms.since(t0)
      val (heap, live) = jvm.stop()
      Measured(seg, heap, live, counters.now - w0, jvm.gcMs - gc0, wall, tracer.all)
    }
    // the traced segment takes the untraced one's place right after the
    // warm-up; the untraced segment after it only serves the overhead
    // comparison (being warmer, it overstates the overhead if anything)
    val traced = if (a.trace) Some(measure(new Tracer(true))) else None
    val untraced = measure(new Tracer(false))
    val checked = w.check(spark)
    val conf = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app.")).filterNot(_._1 == "spark.driver.port")
    val sparkVersion = spark.version
    w.teardown()
    counters.close()
    stop(spark)

    val e2e = untraced.seg.e2e ++ Map(
      "setup_s" -> Stats.median(setupS), "heap_live_mb" -> untraced.liveMb)
    val layered = traced.getOrElse(untraced)
    val spans = w match {
      case live: WebhookLive => live.relink(layered.spans)
      case _ => layered.spans
    }
    val self = Tracer.selfMsByLayer(spans)
    val roots = spans.filter(_.parent == 0)
    val measured: Map[String, Double] =
      layered.work.toMap.collect { case (k, v: Long) => s"spark.$k" -> v.toDouble
                                   case (k, v: Double) => s"spark.$k" -> v } ++
      layered.seg.layers ++ checked.layers ++ Map(
        "jvm.gc_ms" -> layered.gcMs.toDouble, "jvm.heap_peak_mb" -> layered.heapMb,
        "jvm.heap_live_mb" -> layered.liveMb) ++
      self.map { case (l, ms) => s"self_ms.$l" -> ms } ++
      traced.map(t => Map(
        "trace.wall_ms" -> t.wallMs, "trace.spans" -> spans.size.toDouble,
        // self times of concurrent threads add up, so this exceeds 1 when
        // spans overlap in time (see the README)
        "trace.accounted_frac" -> self.values.sum / roots.map(s => Ms.of(s.durNs)).sum,
        "trace.roots" -> roots.size.toDouble,
        "trace.overhead_frac" ->
          (t.seg.e2e("latency_p50_ms") / untraced.seg.e2e("latency_p50_ms") - 1))).getOrElse(Map.empty)
    val unmeasured = PerLayer.map(_._1).filterNot(measured.contains)
    val layers = unmeasured.map(_ -> 0.0).toMap ++ measured

    val results = a.out.resolve("results")
    Files.createDirectories(results)
    val tag = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}"
    if (a.trace) {
      val traces = a.out.resolve("traces")
      Files.createDirectories(traces)
      val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
      Files.write(traces.resolve(s"$tag.jsonl"), Tracer.toJsonLines(spans, t0).toSeq.asJava)
    }
    val stamp = Map("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> cpus, "spark_version" -> sparkVersion,
      "java" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576) ++ a.stamp ++
      Map("spark_conf" -> conf.toMap)
    val named = untraced.seg.named ++ checked.named ++ Map(
      "setup_s" -> (Stats.median(setupS), "s"), "load_s" -> (loadS, "s"),
      "heap_peak_mb" -> (untraced.heapMb, "MB"), "heap_live_mb" -> (untraced.liveMb, "MB"),
      "failed_frac" -> (checked.failed.toDouble / math.max(1, checked.attempted), "ratio"))
    def valued(m: Iterable[(String, (Double, String))]) =
      m.toSeq.sortBy(_._1).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    val reported =
      if (a.trace) PerLayer.map { case (k, u) => k -> (layers(k), u) }
      else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val result = Map("correct" -> checked.correct, "attempted" -> checked.attempted,
      "failed" -> checked.failed, "metrics" -> valued(reported))
    Files.writeString(results.resolve(s"$tag.json"), Json.render(Map(
      "stamp" -> stamp, "result" -> result, "named" -> valued(named),
      "per_layer" -> layers, "unmeasured" -> unmeasured, "setup_s" -> setupS, "problems" -> checked.problems,
      "untraced" -> untraced.seg.detail, "traced" -> traced.map(_.seg.detail))) + "\n")
    Files2.delete(work)

    checked.problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    println(Json.render(Map("stamp" -> stamp)))
    println(Json.render(Map("named" -> valued(named), "unmeasured" -> unmeasured)))
    println(Json.render(result))
    System.out.flush()
    sys.exit(if (checked.correct) 0 else 1)
  }
}
