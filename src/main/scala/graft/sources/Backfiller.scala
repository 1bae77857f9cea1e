package graft.sources

import graft.operators.Projection
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Paginated backfill framework (S2-S4, `lib/webhookdb/backfiller.rb:13-56`):
  * a driver-side pagination loop (the page protocol is inherently serial —
  * each token comes from the previous response) that lands pages into a
  * DataFrame for the SAME distributed projection+merge path as streaming.
  *
  * Retry contract: up to `maxAttempts` per page; 401 aborts the page
  * without retry (`backfiller.rb:37-56`); the backoff hook is injectable so
  * tests run without sleeping.
  */
object Backfiller {

  /** One page: (raw item payloads, next page token). End = token None. */
  trait PageFetcher {
    def fetchPage(token: Option[String]): (Seq[String], Option[String])
  }

  final class FatalFetchError(msg: String) extends RuntimeException(msg)

  /** Run the pagination loop, returning webhook-shaped rows
    * (`body`, ingest seq) ready for `Pipeline.upsertBatch`. */
  def run(spark: SparkSession, fetcher: PageFetcher, maxAttempts: Int = 3,
          backoff: Int => Unit = _ => (), maxPages: Int = 100000): DataFrame = {
    val items = Seq.newBuilder[String]
    var token: Option[String] = None
    var pages = 0
    var done = false
    while (!done && pages < maxPages) {
      fetchWithRetry(fetcher, token, maxAttempts, backoff) match {
        case Some((pageItems, next)) =>
          items ++= pageItems
          token = next
          pages += 1
          done = next.isEmpty
        case None => // page skipped (auth error): stop the run
          done = true
      }
    }
    toWebhookDf(spark, items.result())
  }

  private[sources] def fetchWithRetry(fetcher: PageFetcher, token: Option[String],
                                      maxAttempts: Int, backoff: Int => Unit)
      : Option[(Seq[String], Option[String])] = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return Some(fetcher.fetchPage(token))
      catch {
        case _: FatalFetchError => return None // 401: do not retry
        case e: Exception =>
          if (attempt >= maxAttempts) throw e
          backoff(attempt)
      }
    }
    None // unreachable
  }

  /** Items -> distributed webhook batch with a deterministic ingest order
    * (page arrival order drives last-wins dedup, U4).
    *
    * The rows are sliced over up to `defaultParallelism` partitions, no
    * more than one per item, rather than held as a local relation: Spark's
    * optimizer folds the first projection over a local relation into the
    * plan (`ConvertToLocalRelation`), so the projection's JSON digs of
    * every item would run on the driver, interpreted and single-threaded,
    * inside query planning. An empty batch (a first-page 401, an
    * incremental run with nothing new) stays local: it has no digs, and a
    * distributed one would launch a task for nothing. */
  def toWebhookDf(spark: SparkSession, items: Seq[String]): DataFrame = {
    import spark.implicits._
    val rows = items.zipWithIndex.map { case (b, i) => (b, i.toLong) }
    val slices = math.min(rows.size, spark.sparkContext.defaultParallelism)
    if (rows.isEmpty) rows.toDF("body", Projection.IngestSeqCol)
    else spark.sparkContext.parallelize(rows, slices).toDF("body", Projection.IngestSeqCol)
  }

  /** S12 — parallel backfill pool (`base.rb:1134-1166`): replicator-chosen
    * thread parallelism across independent backfillers (e.g. one per parent
    * row), fail-fast on the first error; successful pages from other
    * backfillers are kept (they land idempotently via the merge). */
  def runParallel(spark: SparkSession, fetchers: Seq[PageFetcher],
                  parallelism: Int, maxAttempts: Int = 3,
                  backoff: Int => Unit = _ => ()): DataFrame = {
    import java.util.concurrent.{Executors, TimeUnit}
    import scala.jdk.CollectionConverters._
    val pool = Executors.newFixedThreadPool(parallelism.max(1))
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    try {
      val tasks = fetchers.map { f =>
        pool.submit(new Runnable {
          def run(): Unit =
            if (failure.get() == null) { // fail-fast: skip queued work after an error
              try {
                val items = Seq.newBuilder[String]
                var token: Option[String] = None
                var done = false
                while (!done && failure.get() == null) {
                  fetchWithRetry(f, token, maxAttempts, backoff) match {
                    case Some((pageItems, next)) =>
                      items ++= pageItems; token = next; done = next.isEmpty
                    case None => done = true
                  }
                }
                results.add(items.result())
              } catch { case t: Throwable => failure.compareAndSet(null, t) }
            }
        })
      }
      tasks.foreach(_.get())
      Option(failure.get()).foreach(t => throw t)
      toWebhookDf(spark, results.asScala.toSeq.flatten)
    } finally {
      pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS); ()
    }
  }

  /** I2 — incremental watermark: resume token for the next run. The caller
    * persists it per integration (`last_backfilled_at`, `base.rb:1101-1131`). */
  def incrementalStart(table: DataFrame, tsCol: String): Option[java.sql.Timestamp] =
    table.agg(max(col(tsCol))).collect()(0).get(0) match {
      case t: java.sql.Timestamp => Some(t)
      case _ => None
    }

  /** S8 — per-parent fan-out watermarks: one backfill start per parent row,
    * e.g. episode stats resume from `max(date) - margin` per episode
    * (`transistor_episode_stats_v1.rb:110-134`). A grouped aggregation, NOT a
    * driver loop — scales to any number of parents. */
  def perParentWatermarks(table: DataFrame, parentCol: String, tsCol: String,
                          marginDays: Int): DataFrame =
    table.groupBy(col(parentCol))
      .agg(date_sub(max(col(tsCol)), marginDays).as("backfill_start"))
}
