package graft

import graft.operators.{BandIndex, IncrementalDedup}
import graft.plans.QueryMetrics
import org.apache.spark.sql.functions._

/** Scale evidence for the band-partitioned LSH index (BandIndex): the
  * ONLINE near-dup probe — one incoming document against a stored corpus
  * — must read the matching bucket partitions only (<= LshBands/Buckets
  * of the index), at 1x and `COPIES`x the sf0.1 document count.
  *
  * Per scale: build the index from the corpus signatures (reported, the
  * sunk cost), then probe ONE unseen near-dup of a stored document
  * (median of 3) through the pruned index, and through the unpartitioned
  * band join (IncrementalDedup.candidatePairs) for comparison. Claims
  * the numbers carry: the pruned probe reads ~LshBands/Buckets of the
  * index records at every scale (the FRACTION is the invariant; absolute
  * records grow with the store), and probe wall stays milliseconds-flat
  * while the full band join pays a corpus-wide scan.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_probe.json` in the cwd. */
object BenchProbeScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_probe")
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    val base = Tables.documents(spark, sfDir)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scaleDir/${c}x"
      ScaleCorpus.scaledDocs(base, c)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count()
      val sigs = IncrementalDedup.signatures(
        docs.select(col("doc_id"), col("text"))).localCheckpoint(true)
      val idxDir = s"$dir/bandidx"
      val buildSec = timed { BandIndex.build(spark, idxDir, sigs) }
      val idxRecords = spark.read.parquet(idxDir).count()

      // the probe: an UNSEEN near-dup of stored doc 0 (suffix-perturbed,
      // same trigram mass — the admission-check case)
      val probeText = docs.filter(col("doc_id") === 0L)
        .select(col("text")).head().getString(0) + " probe suffix token"
      import spark.implicits._
      val probeSigs = IncrementalDedup.signatures(
        Seq((-1L, probeText)).toDF("doc_id", "text")).localCheckpoint(true)

      var cands = 0L
      var recs = 0L
      def onceProbe(): Double = timed {
        val (n, m) = QueryMetrics.measureAction(spark) {
          BandIndex.probe(spark, idxDir, probeSigs).count()
        }
        cands = n; recs = m.inputRecords
      }
      onceProbe()
      val probeSec = Seq(onceProbe(), onceProbe(), onceProbe()).sorted.apply(1)

      def onceFull(): Double = timed {
        cands = IncrementalDedup.candidatePairs(sigs, probeSigs).count()
      }
      onceFull()
      val fullSec = Seq(onceFull(), onceFull(), onceFull()).sorted.apply(1)
      (c, nDocs, buildSec, idxRecords, probeSec, recs, cands, fullSec)
    }

    val parts = rounds.map { case (c, n, b, ir, ps, pr, pc, fs) =>
      val frac = if (ir > 0) pr.toDouble / ir else 0.0
      s""""${c}x":{"docs":$n,"build":${fmt(b)},"index_records":$ir,""" +
        s""""probe":${fmt(ps)},"probe_records":$pr,"probe_frac":${fmt(frac)},""" +
        s""""cands":$pc,"full_band_join":${fmt(fs)}}"""
    }
    val line =
      s"""{"metric":"probe_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_probe.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
