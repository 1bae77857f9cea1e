package graft

import graft.plans.QueryMetrics
import graft.streaming.DedupStream
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the STREAMING dedup loop's store growth:
  * per-microbatch READ WORK (input records, via the QueryMetrics
  * listener) as batches accumulate, with and without the round-7
  * compaction pass.
  *
  * Workload: every batch delivers the same number of docs and 75% of
  * them are re-deliveries of earlier doc_ids with new content — the
  * regime where superseded rows pile up. Without compaction the
  * store/archive hold one row per DELIVERY, so every batch's
  * latestPerDoc window re-reads a linearly-growing pile; with
  * compaction every 3 batches they hold ~one row per LIVE doc. Input
  * records are the honest metric at local scale (a ~2 s fixed per-batch
  * overhead dominates wall time at 2k docs/batch; at production row
  * counts the record growth IS the wall growth). Compaction itself is
  * timed separately — it is amortizable maintenance, not batch cost.
  * Emits ONE JSON line and writes `BENCH_sf1_stream.json`.
  */
object BenchStreamScale {

  private def batchDocs(spark: org.apache.spark.sql.SparkSession,
                        b: Int, perBatch: Int) = {
    // ids [0, 3*perBatch/4): redelivered every batch with batch-salted
    // content; the rest: genuinely new docs. Token i is a degree-2
    // polynomial in i whose coefficients mix id and b, so two DISTINCT
    // (id, batch) docs can share at most 2 of 30 tokens (two roots of the
    // difference polynomial) — no accidental near-dup cliques. (A linear
    // formula here once made whole docs collide on a single congruence
    // and the verify leg grew quadratically with the horizon.) ids < 10
    // carry STATIC per-group content: a small planted clique so the
    // candidate/verify path stays exercised at a constant per-batch rate.
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
  }

  def main(args: Array[String]): Unit = {
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCHES", "16").toInt
    val perBatch = sys.env.getOrElse("SPARK_GRAFT_STREAM_DOCS", "2000").toInt
    val spark = EngineSession.create()

    final case class Run(recs: Seq[Long], secs: Seq[Double], compactSec: Double,
                         storeRows: Long, liveDocs: Long)
    def run(compactEvery: Int): Run = {
      val root = java.nio.file.Files.createTempDirectory("streamscale").toString
      val (sigs, archive, pairs) = (s"$root/sigs", s"$root/archive", s"$root/pairs")
      var compactSec = 0.0
      val measured = (0 until nBatches).map { b =>
        val docs = batchDocs(spark, b, perBatch).localCheckpoint(true)
        val t0 = System.nanoTime()
        val (_, m) = QueryMetrics.measureAction(spark)(
          DedupStream.runBatch(spark, docs, b.toLong, sigs, archive, pairs))
        val sec = (System.nanoTime() - t0) / 1e9
        if (compactEvery > 0 && (b + 1) % compactEvery == 0) {
          val c0 = System.nanoTime()
          DedupStream.compact(spark, sigs)
          DedupStream.compact(spark, archive)
          compactSec += (System.nanoTime() - c0) / 1e9
        }
        (m.inputRecords, sec)
      }
      Run(measured.map(_._1), measured.map(_._2), compactSec,
        spark.read.parquet(sigs).count(),
        spark.read.parquet(sigs).select("doc_id").distinct().count())
    }

    val plain = run(compactEvery = 0)
    val comp = run(compactEvery = 3)
    def dArr(ts: Seq[Double]) = ts.map(ScaleCorpus.fmt).mkString("[", ",", "]")
    def lArr(ts: Seq[Long]) = ts.mkString("[", ",", "]")
    def side(r: Run) =
      s"""{"batch_input_records":${lArr(r.recs)},"per_batch_sec":${dArr(r.secs)},""" +
        s""""compact_sec":${ScaleCorpus.fmt(r.compactSec)},""" +
        s""""store_rows":${r.storeRows},"live_docs":${r.liveDocs}}"""
    val line =
      s"""{"metric":"stream_compaction_scale","unit":"records","batches":$nBatches,""" +
        s""""docs_per_batch":$perBatch,"no_compaction":${side(plain)},""" +
        s""""compact_every_3":${side(comp)},""" +
        s""""last_batch_records_ratio":${ScaleCorpus.fmt(
          plain.recs.last.toDouble / math.max(1L, comp.recs.last))}}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_stream.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
