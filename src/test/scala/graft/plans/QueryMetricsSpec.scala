package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Metrics capture: tagging each measurement's jobs makes attribution EXACT
  * even though the suite harness runs specs in parallel on one shared
  * SparkContext — these assertions are deliberately strict to prove it. */
class QueryMetricsSpec extends SparkSpec {

  test("a parquet scan reports exactly its own input bytes and records") {
    val m = QueryMetrics.measure(Tables.lineitem(spark, sfDir))
    assert(m.resultRows > 0)
    assert(m.inputBytes > 0)
    assert(m.inputRecords == m.resultRows)
    assert(m.wallMs >= 0)
    assert(QueryMetrics.render(m).contains(s"rows=${m.resultRows}"))
  }

  test("an aggregation's shuffle dwarfs a scan's count-only shuffle") {
    val agg = QueryMetrics.measure(
      Tables.lineitem(spark, sfDir)
        .repartition(8, col("l_returnflag"))
        .groupBy("l_returnflag").agg(sum("l_quantity")))
    assert(agg.shuffleWriteBytes > 0)
    assert(agg.shuffleReadBytes > 0)
    assert(agg.resultRows == 3)
    // count() itself shuffles its partial counts (a few dozen bytes);
    // the repartition+groupBy above must be visibly larger than that floor
    val scan = QueryMetrics.measure(Tables.region(spark, sfDir))
    assert(scan.shuffleWriteBytes < 1024,
      s"scan window captured foreign shuffle: ${scan.shuffleWriteBytes}")
    assert(agg.shuffleWriteBytes > scan.shuffleWriteBytes * 4)
  }

  test("sequential measurements attribute to their own run only") {
    val first = QueryMetrics.measure(Tables.nation(spark, sfDir))
    val second = QueryMetrics.measure(Tables.region(spark, sfDir))
    assert(first.resultRows == 25 && first.inputRecords == 25)
    assert(second.resultRows == 5 && second.inputRecords == 5)
  }

  private def twoStageAgg() = Tables.lineitem(spark, sfDir)
    .repartition(8, col("l_returnflag"))
    .groupBy("l_returnflag").agg(sum("l_quantity"))

  test("a two-stage aggregate reports its jobs, stages, tasks and task time") {
    val m = QueryMetrics.measure(twoStageAgg())
    assert(m.jobs >= 1, QueryMetrics.render(m))
    assert(m.stages >= 2 && m.tasks >= m.stages, QueryMetrics.render(m))
    assert(m.taskTimeMs > 0 && m.cpuMs >= 0 && m.gcMs >= 0, QueryMetrics.render(m))
  }

  test("a query in another job group on another thread adds no layer counts") {
    val alone = QueryMetrics.measure(twoStageAgg())
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val other = new Thread(() => {
      spark.sparkContext.setJobGroup("QueryMetricsSpec-other", "noise")
      while (!stop.get())
        Tables.orders(spark, sfDir).repartition(8).groupBy("o_orderstatus").count().collect()
    })
    other.start()
    val shared = try QueryMetrics.measure(twoStageAgg())
      finally { stop.set(true); other.join(60000L) }
    assert(!other.isAlive)
    assert((shared.jobs, shared.stages, shared.tasks) == (alone.jobs, alone.stages, alone.tasks),
      s"alone: ${QueryMetrics.render(alone)}; shared: ${QueryMetrics.render(shared)}")
  }

  test("a nested measurement restores the caller's job group") {
    val sc = spark.sparkContext
    def a() = Tables.nation(spark, sfDir).count()
    def c() = Tables.region(spark, sfDir).count()
    val (_, alone) = QueryMetrics.measureAction(spark) { a(); c() }
    // built outside: reading a table's footers is a job of whoever builds it
    val orders = Tables.orders(spark, sfDir)
    val (_, outer) = QueryMetrics.measureAction(spark) {
      a()
      val inner = QueryMetrics.measure(orders)
      assert(inner.jobs >= 1 && inner.resultRows > 0)
      c() // runs after the inner call returned: still the outer's
    }
    assert(outer.jobs == alone.jobs, s"alone: ${QueryMetrics.render(alone)}; " +
      s"outer: ${QueryMetrics.render(outer)}")
    sc.setJobGroup("QueryMetricsSpec-caller", "caller", interruptOnCancel = true)
    try {
      QueryMetrics.measure(Tables.region(spark, sfDir))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "QueryMetricsSpec-caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == "true")
    } finally sc.clearJobGroup()
    QueryMetrics.measure(Tables.region(spark, sfDir))
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("deserialize time and this action's codegen compiles are reported") {
    // a literal no other plan carries: its whole-stage code is new
    val k = System.nanoTime() % 1000000L + 1000003L
    def q() = spark.range(1000).selectExpr(s"id * $k + 7 AS x").where(s"x % $k = 7")
    val first = QueryMetrics.measure(q())
    assert(first.resultRows == 1000)
    assert(first.codegenClasses >= 1 && first.codegenMs >= 0, QueryMetrics.render(first))
    assert(first.deserializeMs >= 0 && first.tasks >= 1, QueryMetrics.render(first))
    assert(QueryMetrics.render(first).contains(s"codegen=${first.codegenClasses}/"))
    // the same plan again hits the codegen cache
    val again = QueryMetrics.measure(q())
    assert(again.codegenClasses < first.codegenClasses,
      s"first: ${QueryMetrics.render(first)}; again: ${QueryMetrics.render(again)}")
  }

  /** A landing dir holding one request file of `n` charge deliveries. */
  private def landing(n: Int): Path = {
    val dir = Files.createTempDirectory("qm-stream")
    val src = Files.createDirectories(dir.resolve("landing"))
    Files.writeString(src.resolve("req-1.json"), (1 to n).map { i =>
      val body = s"""{"object":"event","created":$i,"data":{"object":""" +
        s"""{"id":"ch_$i","object":"charge","amount":$i,"created":$i,"status":"ok"}}}"""
      s"""{"body":"${body.replace("\"", "\\\"")}","headers":{},"path":"/v1",""" +
        s""""method":"POST","__ingest_seq":$i}"""
    }.mkString("\n"))
    dir
  }

  private def drain(dir: Path): Unit =
    graft.streaming.WebhookStream.startPartitioned(spark,
      graft.replicators.Replicators.stripeChargeV1Partitioned, s"$dir/landing",
      s"$dir/table", s"$dir/chk", buckets = 4).awaitTermination()

  test("a streaming query started inside the measured action counts its microbatches") {
    val (_, m) = QueryMetrics.measureAction(spark)(drain(landing(5)))
    assert(m.jobs >= 1 && m.tasks >= 1, QueryMetrics.render(m))

    // a thread that existed before the measurement carries no measurement id
    val dir = landing(5)
    val go = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => { go.await(); drain(dir) })
    other.start()
    val (_, none) = QueryMetrics.measureAction(spark) { go.countDown(); other.join(120000L) }
    assert(!other.isAlive)
    assert(graft.operators.PartitionedStore.currentManifest(s"$dir/table").isDefined)
    assert(none.jobs == 0 && none.tasks == 0, QueryMetrics.render(none))
  }
}
