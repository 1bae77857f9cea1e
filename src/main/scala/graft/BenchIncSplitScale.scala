package graft

import graft.functions.Hashing
import graft.operators.IncrementalSplit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale evidence for the round-11 incremental split refresh (q201): a
  * split REFRESH on a grown corpus must cost the DELTA, not the corpus.
  * Two axes, one point per claim (the r10 two-axis discipline):
  *
  *  - CORPUS axis (fixed ~500-doc delta, corpus 1x -> COPIESx): batch
  *    recompute grows with the corpus while refresh stays near-flat.
  *    Each point is measured BOTH ways: `fixed_delta` is the r11
  *    store-scanning candidate join (bands the whole signature store per
  *    round); `fixed_delta_idx` routes candidates through the maintained
  *    [[graft.operators.BandIndex]] (bucket-pruned probe, broadcast
  *    delta side — the round-12 default for index-carrying roots), so
  *    the routing's win is a measured delta, not prose.
  *  - DELTA axis (fixed COPIESx corpus, delta 500 -> 10%): refresh grows
  *    with the delta — the signature/verify work is delta-proportional.
  *    (A 10% delta's bands touch every bucket, so the index buys the
  *    banding compute but not partition pruning — also measured.)
  *
  * Corpus geometry is ScaleCorpus's (known pair structure, unique
  * material dominating distinct rows); the fixed delta is
  * `pmod(doc_id, 10*copies) = 0` (~500 docs at every scale), the
  * proportional delta `pmod(doc_id, 10) = 0` (10%). Report rows are
  * hashed (bit_xor of xxhash64) so Catalyst cannot prune the work to a
  * row count (round-8 lesson).
  *
  * Emits ONE JSON line and writes `BENCH_sf1_inc_split.json` in the cwd. */
object BenchIncSplitScale {

  private def splitOf(c: org.apache.spark.sql.Column) = {
    val b = Hashing.splitBucket(c)
    when(b < 80, "train").when(b < 90, "valid").otherwise("test")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_incsplit")
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    val base = Tables.documents(spark, sfDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

    def consume(df: DataFrame): Long =
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect().head.getLong(0)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    /** init (untimed-claim sunk cost, still reported) + timed refresh +
      * report consumption for one (corpus, delta) point. */
    /** Every `_idx` point passes frac = 1.0 to FORCE the probe path —
      * these rows measure what probing costs at each delta size, i.e.
      * they are the measured evidence FOR IncrementalSplit's
      * single-doc-sized default threshold (see its scaladoc: the index's
      * band rows are ~4x the signature bytes, so probing loses for any
      * delta wide enough to touch more than ~1/4 of the buckets, and at
      * sandbox scale fixed probe orchestration dominates even below
      * that). Non-_idx points use the adaptive default. */
    def refreshPoint(root: String, docs: DataFrame, deltaMod: Long,
                     viaIndex: Boolean = false,
                     frac: Double = 1.0 / 16): (Long, Double, Double, Long) = {
      val v1 = docs.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0L)
      val delta = docs.filter(pmod(col("doc_id"), lit(deltaMod)) === 0L)
      val nDelta = delta.count()
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val initSec = timed {
        IncrementalSplit.ingest(spark, root, v1, v1, maintainIndex = viaIndex,
          indexProbeMaxFrac = frac)
      }
      val refreshSec = timed {
        IncrementalSplit.ingest(spark, root, docs, delta, maintainIndex = viaIndex,
          indexProbeMaxFrac = frac)
        val assigned = IncrementalSplit
          .assignments(spark, root, docs.select(col("doc_id")))
          .select(col("doc_id"), col("rep"), splitOf(col("rep")).as("split"))
        consume(assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("rep")).as("n_clusters"))
          .orderBy(col("split")))
      }
      val pairsRows = IncrementalSplit.pairs(spark, root).count()
      (nDelta, initSec, refreshSec, pairsRows)
    }

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scaleDir/${c}x"
      ScaleCorpus.scaledDocs(base, c)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count()

      // batch: the full-corpus recompute a non-incremental snapshot pays
      MemoRegistry.resetAll(); spark.catalog.clearCache()
      val batchSec = timed { consume(queries.CurationQueries.q194(spark, dir)) }

      // corpus axis: fixed ~500-doc delta at every scale, candidate join
      // measured both ways (store scan vs band-index probe)
      val (fd, fInit, fRefresh, fPairs) =
        refreshPoint(s"$dir/stores_fixed", docs, 10L * c)
      val (_, fInitIdx, fRefreshIdx, fPairsIdx) =
        refreshPoint(s"$dir/stores_fixed_idx", docs, 10L * c,
          viaIndex = true, frac = 1.0)
      require(fPairsIdx == fPairs,
        s"index-routed refresh diverged: $fPairsIdx pairs vs $fPairs")
      // MICRO axis: a ~4-doc delta (the admission-sized refresh) — the
      // regime where the adaptive routing picks the probe and partition
      // pruning actually bites
      val (md, _, mRefresh, mPairs) =
        refreshPoint(s"$dir/stores_micro", docs, 1250L * c)
      val (_, _, mRefreshIdx, mPairsIdx) =
        refreshPoint(s"$dir/stores_micro_idx", docs, 1250L * c,
          viaIndex = true, frac = 1.0)
      require(mPairsIdx == mPairs,
        s"micro index-routed refresh diverged: $mPairsIdx pairs vs $mPairs")
      // delta axis: proportional 10% delta (only meaningful beyond 1x,
      // where it coincides with the fixed point)
      val prop = if (c > 1) Some((refreshPoint(s"$dir/stores_prop", docs, 10L),
        refreshPoint(s"$dir/stores_prop_idx", docs, 10L, viaIndex = true, frac = 1.0)))
      else None
      (c, nDocs, batchSec,
        (fd, fInit, fRefresh, fPairs, fInitIdx, fRefreshIdx),
        (md, mRefresh, mRefreshIdx, mPairs), prop)
    }

    val parts = rounds.map { case (c, n, b, (fd, fi, fr, fp, fii, fri),
        (md, mr, mri, mp), prop) =>
      val fixed =
        s""""fixed_delta":{"delta_docs":$fd,"init":${fmt(fi)},"refresh":${fmt(fr)},"pairs":$fp}""" +
          s""","fixed_delta_idx":{"delta_docs":$fd,"init":${fmt(fii)},"refresh":${fmt(fri)},"pairs":$fp}""" +
          s""","micro_delta":{"delta_docs":$md,"refresh":${fmt(mr)},"pairs":$mp}""" +
          s""","micro_delta_idx":{"delta_docs":$md,"refresh":${fmt(mri)},"pairs":$mp}"""
      val propPart = prop.map { case ((pd, pi, pr, pp), (_, pii, pri, ppi)) =>
        require(ppi == pp, s"index-routed prop refresh diverged: $ppi vs $pp")
        s""","prop_delta":{"delta_docs":$pd,"init":${fmt(pi)},"refresh":${fmt(pr)},"pairs":$pp}""" +
          s""","prop_delta_idx":{"delta_docs":$pd,"init":${fmt(pii)},"refresh":${fmt(pri)},"pairs":$pp}"""
      }.getOrElse("")
      s""""${c}x":{"docs":$n,"batch":${fmt(b)},$fixed$propPart}"""
    }
    val line =
      s"""{"metric":"inc_split_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_inc_split.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
