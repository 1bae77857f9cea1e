package graft

import graft.operators.PartitionedStore
import graft.replicators.Replicators
import graft.sinks.SyncTarget
import graft.streaming.WebhookStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end replication throughput sidecar: the full engine path —
  * landed webhook deliveries -> projection (`Pipeline.project`) ->
  * last-wins dedup + monotonic merge into the hash-partitioned store ->
  * paged sync-target export — measured as ONE pipeline at 1x/10x/100x
  * delivery volume, where the per-operator contract tests only cover each
  * stage in isolation.
  *
  * Workload: D deliveries of the stripe-charge shape over K = D/2 distinct
  * keys split into 4 microbatches (batches 1-2 insert, 3-4 update the same
  * keys with newer event times), driven through the REAL streaming entry
  * point (`WebhookStream.startPartitioned`, AvailableNow per batch file,
  * shared checkpoint). Recorded per scale:
  *
  *  - `deliveries_per_sec`: D / ingest wall (files pre-staged; the window
  *    measures project + dedup + merge + bucket rewrite only);
  *  - `rows_written` and `write_amplification` (= rows_written / D): every
  *    parquet row the merge path physically wrote, from task
  *    OutputMetrics — the measured cost of snapshot-rewrite semantics;
  *  - `small_batch`: a trailing 10-delivery update batch against the full
  *    table — the bucket-pruned merge claim made measurable (rows written
  *    track the <=10 touched buckets of 64, not the table);
  *  - `sync`: paged export of the final table through a counting
  *    `PageSink` (`SyncTarget.syncParallel`, ordered commit, 8 senders).
  *
  * Emits ONE JSON line and writes `BENCH_sf1_replication.json` in the cwd.
  */
object BenchReplicationScale {

  private val Buckets = 64
  private val BatchCount = 4

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DELIVERIES", "20000").toLong
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_rep")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALE_POINTS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    val spec = Replicators.stripeChargeV1

    /** One landed-webhook request line (the requestSchema shape) for
      * delivery i over a K-key space: batches 1-2 insert distinct keys,
      * 3-4 redeliver them with strictly newer event times. */
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

    val rounds = scales.map { c =>
      val d = base * c
      val k = d / 2
      val root = s"$scaleDir/${c}x"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val src = s"$root/src"
      Files.createDirectories(Paths.get(src))

      // pre-stage every batch file OUTSIDE the measured window
      val perBatch = d / BatchCount
      val staged = (0 until BatchCount).map { b =>
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

      // measure every parquet row the merge path writes (exclusive run, so
      // the global listener sees only this pipeline's tasks)
      val written = new java.util.concurrent.atomic.AtomicLong(0)
      val writtenBytes = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            written.addAndGet(m.outputMetrics.recordsWritten)
            writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
          }
        }
      }

      val table = s"$root/table"
      def runBatch(stage: String, tag: String): Unit = {
        publish(stage, tag)
        val q = WebhookStream.startPartitioned(spark, spec, src, table,
          s"$root/chk", buckets = Buckets)
        q.awaitTermination()
      }

      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      staged.zipWithIndex.foreach { case (s, b) => runBatch(s, s"b$b") }
      org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
      val ingestSec = (System.nanoTime() - t0) / 1e9
      val ingestWritten = written.get()

      // trailing small batch against the full table: bucket pruning
      val t1 = System.nanoTime()
      runBatch(smallStage, "bS")
      org.apache.spark.GraftListenerBridge.drainListeners(spark.sparkContext)
      val smallSec = (System.nanoTime() - t1) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      val smallWritten = written.get() - ingestWritten

      val tableDf = PartitionedStore.read(spark, table)
      val tableRows = tableDf.count()
      assert(tableRows == k, s"expected $k merged rows, got $tableRows")

      // sync-target export: count + checksum sink, parallel ordered commit
      val rowSum = new java.util.concurrent.atomic.AtomicLong(0)
      val sink = new SyncTarget.PageSink {
        def writePage(page: Seq[Row], pageIdx: Long): Unit = {
          val amtIdx = page.head.fieldIndex("amount")
          page.foreach(r => rowSum.addAndGet(r.getLong(amtIdx)))
        }
      }
      val t2 = System.nanoTime()
      val res = SyncTarget.syncParallel(tableDf, "updated",
        new java.sql.Timestamp(0L), new java.sql.Timestamp(4102444800000L),
        pageSize = 500, sink = sink, parallelism = 8)
      val syncSec = (System.nanoTime() - t2) / 1e9
      assert(res.rowsDelivered == tableRows && res.failure.isEmpty,
        s"sync delivered ${res.rowsDelivered} of $tableRows: ${res.failure}")

      s""""${c}x":{"deliveries":$d,"keys":$k,"ingest_sec":${fmt(ingestSec)},""" +
        s""""deliveries_per_sec":${fmt(d / ingestSec)},""" +
        s""""rows_written":$ingestWritten,""" +
        s""""write_amplification":${fmt(ingestWritten.toDouble / d)},""" +
        s""""small_batch":{"deliveries":10,"rows_written":$smallWritten,""" +
        s""""table_rows":$tableRows,"sec":${fmt(smallSec)}},""" +
        s""""sync":{"rows":${res.rowsDelivered},"pages":${res.pagesDelivered},""" +
        s""""sec":${fmt(syncSec)},"rows_per_sec":${fmt(res.rowsDelivered / syncSec)}}}"""
    }

    val line = s"""{"metric":"replication_scale","unit":"sec",""" +
      s""""buckets":$Buckets,"batches":$BatchCount,${rounds.mkString(",")}}"""
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_replication.json")
    Files.write(Paths.get(outFile), (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
