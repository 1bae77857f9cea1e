package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the dedup family (r5 VERDICT item 6): runs
  * q20-q25 + q49 against a synthetic corpus `COPIES`x the sf0.1 documents
  * table and records wall time AND result cardinalities — converting
  * SCALE.md's shape arguments (band-keyed shuffles only, in-bucket pairwise
  * work) into one measured point above the bench scale factor.
  *
  * Corpus construction: `ScaleCorpus.scaledDocs` (deterministic near-dup
  * cliques of size <= 4 per source doc, everything else singleton — see
  * there). A pair count exploding superlinearly would indict the banding,
  * not the corpus.
  *
  * Emits ONE JSON line and writes `BENCH_sf1.json` in the cwd.
  */
object BenchDedupScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_docs")
    // subset filter (comma-separated qNN prefixes) + rep count: the 100x
    // point runs q20/q22/q23 once each (warmup + 1 timed) — a decade above
    // the routine 10x sidecar, where median-of-3 over the full family
    // would take most of an hour for one datum
    val only = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val outFile = if (copies == 10) "BENCH_sf1.json" else s"BENCH_sf1_${copies}x.json"
    val spark = EngineSession.create()

    val base = Tables.documents(spark, sfDir)
    val scaled = ScaleCorpus.scaledDocs(base, copies)
    scaled.write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
    val nDocs = spark.read.parquet(s"$scaleDir/documents.parquet").count()

    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q20_dedup_exact" -> (DedupQueries.q20 _),
      "q21_minhash_signatures" -> (DedupQueries.q21 _),
      "q22_lsh_candidate_pairs" -> (DedupQueries.q22 _),
      "q23_jaccard_near_dups" -> (DedupQueries.q23 _),
      "q24_simhash" -> (DedupQueries.q24 _),
      "q25_simhash_near_dups" -> (DedupQueries.q25 _),
      "q49_corpus_ngram_dedup" -> (graft.queries.PipelineQueries.q49 _),
      "q106_segment_dedup" -> (DedupQueries.q106 _),
      "q107_bloom_decontaminate" -> (DedupQueries.q107 _),
      "q108_bpe_merges" -> (graft.queries.TextQueries.q108 _),
      // r7 eighth batch: overlap matrix rows stay 190 (pair count is
      // source-bounded, not corpus-bounded) and CDC chunk rows track the
      // corpus linearly — both asserted by the recorded cardinalities
      "q133_source_overlap" -> (DedupQueries.q133 _),
      "q134_cdc_chunk_dedup" -> (DedupQueries.q134 _))

    val results = qs
      .filter { case (name, _) => only.forall(_.contains(name.takeWhile(_ != '_'))) }
      .map { case (name, fn) =>
        MemoRegistry.resetAll()
        spark.catalog.clearCache()
        var rows = 0L
        def once(): Double = {
          val t0 = System.nanoTime()
          rows = fn(spark, scaleDir).count()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warmup (builds + caches this query's own signature tables)
        val sec = (1 to reps).map(_ => once()).sorted.apply((reps - 1) / 2)
        (name, sec, rows)
      }

    val qJson = results.map { case (n, s, r) =>
      s""""${n.takeWhile(_ != '_')}":{"sec":${ScaleCorpus.fmt(s)},"rows":$r}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"dedup_scale","unit":"sec","n_docs":$nDocs,""" +
      s""""copies":$copies,"base_sf":"$sfDir","queries":$qJson,""" +
      s""""total":${ScaleCorpus.fmt(results.map(_._2).sum)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
