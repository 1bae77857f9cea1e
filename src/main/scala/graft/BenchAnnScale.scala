package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

/** Scale-evidence sidecar for the ANN/vector family — the embeddings
  * counterpart of BenchDedupScale: runs the four ANN variants (brute-force
  * MIPS, IVF label-pruned, LSH-bucketed, PQ-ADC) plus k-means against a
  * synthetic corpus `COPIES`x the sf0.1 embeddings table, recording wall
  * time and result cardinalities. The claims under test: the query side
  * stays broadcast (10 query vectors regardless of corpus size), the IVF /
  * LSH variants' scored-candidate counts grow linearly with the corpus
  * (cell membership is preserved by construction), and nothing all-pairs
  * sneaks in (brute-force grows linearly too — it IS the linear scan).
  *
  * Corpus construction (deterministic, content-derived — no RNG): each
  * source vector expands to `COPIES` rows keyed `vec_id + j * N_BASE` —
  * j = 0 keeps the ORIGINAL id, so the id-threshold roles inside the
  * queries (query vectors vec_id < 10, PQ codebook seeds, k-means seeds)
  * still select the original distinct vectors rather than perturbed
  * copies of vector 0. j >= 1 adds a tiny per-element deterministic
  * perturbation (index-derived, <= 3e-4) so the copies are distinct
  * vectors in the same cluster cell — the labels keep their IVF meaning
  * and every cell grows exactly `COPIES`x.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_ann.json` in the cwd.
  */
object BenchAnnScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_ann")
    val spark = EngineSession.create()

    val base = Tables.embeddings(spark, sfDir)
    // Key stride must clear every EXISTING id, not just the row count —
    // max+1 stays collision-free even if ids were sparse or non-zero-based.
    val nBase = base.agg(max(col("vec_id"))).head().getLong(0) + 1
    val j = explode(sequence(lit(0), lit(copies - 1))).as("j")
    val newId = col("vec_id") + col("j") * lit(nBase)
    val scaled = base.select(col("vec_id"), col("embedding"), col("label"), j)
      .select(
        newId.as("vec_id"),
        when(col("j") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              ((newId * 31 + i) % 7 - 3).cast("double") * lit(1e-4))
              .cast(FloatType)))
          .as("embedding"),
        col("label"))
    scaled.write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
    // the pipeline queries also read documents for doc-joined variants; the
    // ANN set here only touches embeddings, but q54 reads embeddings only.
    val nVecs = spark.read.parquet(s"$scaleDir/embeddings.parquet").count()

    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q30_knn_bruteforce_mips" -> (queries.VectorQueries.q30 _),
      "q31_ivf_label_pruned_ann" -> (queries.VectorQueries.q31 _),
      "q39_lsh_bucket_ann" -> (queries.VectorQueries.q39 _),
      "q58_pq_ann" -> (queries.PipelineQueries.q58 _),
      "q118_ivfpq_ann" -> (queries.PipelineQueries.q118 _),
      "q54_kmeans" -> (queries.PipelineQueries.q54 _),
      // prototypicality pruning rides the same k-means chain; its extra
      // cost must stay the k-row cut aggregate + broadcast filter
      "q180_prototype_prune" -> (queries.PipelineQueries.q180 _))

    val results = qs.map { case (name, fn) =>
      spark.catalog.clearCache()
      var rows = 0L
      def once(): Double = {
        val t0 = System.nanoTime()
        rows = fn(spark, scaleDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val sec = Seq(once(), once(), once()).sorted.apply(1)
      (name, sec, rows)
    }

    val qJson = results.map { case (n, s, r) =>
      s""""${n.takeWhile(_ != '_')}":{"sec":${ScaleCorpus.fmt(s)},"rows":$r}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"ann_scale","unit":"sec","n_vectors":$nVecs,""" +
      s""""copies":$copies,"base_sf":"$sfDir","queries":$qJson,""" +
      s""""total":${ScaleCorpus.fmt(results.map(_._2).sum)}}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_ann.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
