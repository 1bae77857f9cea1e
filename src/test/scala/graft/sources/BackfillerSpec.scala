package graft.sources

import graft.SparkSpec
import graft.operators.{Pipeline, Projection}
import graft.replicators.Replicators
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** S2-S4 contract ("can backfill", "ignores HTTP errors during backfill"):
  * token pagination, per-page retry, 401 abort, incremental watermarks. */
class BackfillerSpec extends SparkSpec {

  private def item(id: String, amount: Int) =
    s"""{"id":"$id","amount":$amount,"created":1000,"status":"ok"}"""

  test("paginates until the token runs out and lands all pages") {
    val fetcher = new Backfiller.PageFetcher {
      def fetchPage(token: Option[String]) = token match {
        case None => (Seq(item("a", 1), item("b", 2)), Some("p2"))
        case Some("p2") => (Seq(item("c", 3)), Some("p3"))
        case Some("p3") => (Seq(item("d", 4)), None)
        case other => fail(s"unexpected token $other")
      }
    }
    val df = Backfiller.run(spark, fetcher)
    assert(df.count() == 4)
    val spec = Replicators.stripeChargeV1
    val merged = Pipeline.upsertBatch(spec, Pipeline.emptyTarget(spec, spark), df)
    assert(merged.count() == 4)
  }

  test("the backfill frame stays distributed: no projection runs in the planner") {
    import spark.implicits._
    val items = (0 until 300).map(i => item(s"ch_${i % 250}", i)) :+ "not json"
    val spec = Replicators.stripeChargeV1Partitioned
    val projected = Projection.project(spec, Backfiller.toWebhookDf(spark, items))
    // over a local relation, ConvertToLocalRelation evaluates the first
    // projection (the __resource/__event digs) on the driver while optimizing
    val leaves = projected.queryExecution.optimizedPlan.collectLeaves()
    assert(!leaves.exists(_.isInstanceOf[LocalRelation]), leaves.mkString("; "))
    assert(Backfiller.toWebhookDf(spark, items).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // a small batch gets no empty slices; an empty one stays local
    assert(Backfiller.toWebhookDf(spark, items.take(2)).rdd.getNumPartitions ==
      math.min(2, spark.sparkContext.defaultParallelism))
    val empty = Backfiller.toWebhookDf(spark, Nil)
    assert(empty.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(empty.count() == 0)
    // the same rows as the local-relation frame, ingest numbering included
    val local = items.zipWithIndex.map { case (b, i) => (b, i.toLong) }
      .toDF("body", Projection.IngestSeqCol)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(Backfiller.toWebhookDf(spark, items).schema == local.schema)
    assert(rows(projected) == rows(Projection.project(spec, local)))
    assert(rows(projected).size == 300)
  }

  test("retries flaky pages up to maxAttempts with backoff") {
    var calls = 0
    val backoffs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val fetcher = new Backfiller.PageFetcher {
      def fetchPage(token: Option[String]) = {
        calls += 1
        if (calls < 3) throw new RuntimeException("503")
        (Seq(item("a", 1)), None)
      }
    }
    val df = Backfiller.run(spark, fetcher, maxAttempts = 3, backoff = backoffs += _)
    assert(df.count() == 1)
    assert(calls == 3)
    assert(backoffs.toSeq == Seq(1, 2))
  }

  test("gives up after maxAttempts") {
    val fetcher = new Backfiller.PageFetcher {
      def fetchPage(token: Option[String]) = throw new RuntimeException("503")
    }
    assertThrows[RuntimeException](Backfiller.run(spark, fetcher, maxAttempts = 2))
  }

  test("401 aborts the run without retry, keeping prior pages") {
    var calls = 0
    val fetcher = new Backfiller.PageFetcher {
      def fetchPage(token: Option[String]) = {
        calls += 1
        token match {
          case None => (Seq(item("a", 1)), Some("p2"))
          case _ => throw new Backfiller.FatalFetchError("401")
        }
      }
    }
    val df = Backfiller.run(spark, fetcher)
    assert(df.count() == 1) // first page kept
    assert(calls == 2)      // no retry of the fatal page
  }

  test("parallel backfill pool: all fetchers land; failures fail fast (S12)") {
    def fetcher(prefix: String, pages: Int) = new Backfiller.PageFetcher {
      def fetchPage(token: Option[String]) = {
        val n = token.map(_.toInt).getOrElse(0)
        (Seq(item(s"$prefix-$n", n)), if (n + 1 < pages) Some((n + 1).toString) else None)
      }
    }
    val df = Backfiller.runParallel(spark,
      Seq(fetcher("a", 3), fetcher("b", 2), fetcher("c", 1)), parallelism = 3)
    assert(df.count() == 6)

    val bad = new Backfiller.PageFetcher {
      def fetchPage(token: Option[String]) = throw new RuntimeException("500")
    }
    assertThrows[RuntimeException] {
      Backfiller.runParallel(spark, Seq(fetcher("a", 2), bad), parallelism = 2,
        maxAttempts = 1)
    }
  }

  test("per-parent incremental watermarks (S8) via grouped max") {
    import spark.implicits._
    val stats = Seq(
      ("ep-1", java.sql.Date.valueOf("2024-01-10")),
      ("ep-1", java.sql.Date.valueOf("2024-01-12")),
      ("ep-2", java.sql.Date.valueOf("2024-02-01"))).toDF("episode_id", "date")
    val wm = Backfiller.perParentWatermarks(stats, "episode_id", "date", 2)
      .orderBy("episode_id").collect()
    assert(wm(0).getAs[java.sql.Date]("backfill_start").toString == "2024-01-10")
    assert(wm(1).getAs[java.sql.Date]("backfill_start").toString == "2024-01-30")
  }
}
