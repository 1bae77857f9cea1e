package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Metrics capture: job-group scoping makes attribution EXACT even though
  * the suite harness runs specs in parallel on one shared SparkContext —
  * these assertions are deliberately strict to prove it. */
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
}
