package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the retrieval/graph family (q177-q183): runs
  * the star-contraction clusters, PPS sampler, Misra-Gries heavy hitters,
  * inverted-index stats, BM25 top-k, and integer PageRank against a corpus
  * `COPIES`x the sf0.1 tables, recording wall + result cardinality.
  *
  * Expected shapes, asserted by the recorded numbers: q178 rows stay ~k
  * (sample-size-bounded), q181 rows track the scaled vocabulary, q183 rows
  * stay exactly top-k, q182 rows track nodes linearly (the scaled graph is
  * `copies` disjoint copies — key-offset re-keying, the ScaleCorpus id
  * discipline). q179's heavy-hitter set SHRINKS at scale by construction:
  * ScaleCorpus's distinct-copy filler tokens dilute every real token's
  * share below n/k — the honest outcome for a share-threshold operator on
  * a share-diluted corpus (wall still measures the full MG pass).
  *
  * Emits ONE JSON line and writes `BENCH_sf1_retrieval.json` in the cwd.
  */
object BenchRetrievalScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_retrieval")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "3").toInt
    val outFile =
      if (copies == 10) "BENCH_sf1_retrieval.json" else s"BENCH_sf1_retrieval_${copies}x.json"
    val spark = EngineSession.create()

    ScaleCorpus.scaledDocs(Tables.documents(spark, sfDir), copies)
      .write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
    // graph scale: `copies` disjoint copies of the co-supply graph via
    // key-offset re-keying (j * max-key offsets keep j = 0 ids intact)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val maxO = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1
    val maxS = li.agg(max(col("l_suppkey"))).head().getLong(0) + 1
    li.select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"),
        explode(sequence(lit(0), lit(copies - 1))).as("j"))
      .select((col("l_orderkey") + col("j") * maxO).as("l_orderkey"),
        (col("l_suppkey") + col("j") * maxS).as("l_suppkey"),
        col("l_quantity"))
      .write.mode("overwrite").parquet(s"$scaleDir/lineitem.parquet")
    val nDocs = spark.read.parquet(s"$scaleDir/documents.parquet").count()

    val qs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q177_star_clusters" -> (queries.DedupQueries.q177 _),
      "q178_pps_sample" -> (queries.PipelineQueries.q178 _),
      "q179_mg_heavy_hitters" -> (queries.SketchQueries.q179 _),
      "q181_inverted_index" -> (queries.PipelineQueries.q181 _),
      "q182_graph_importance" -> (queries.PipelineQueries.q182 _),
      "q183_bm25_search" -> (queries.PipelineQueries.q183 _))

    val results = qs.map { case (name, fn) =>
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
    val line = s"""{"metric":"retrieval_scale","unit":"sec","n_docs":$nDocs,""" +
      s""""copies":$copies,"base_sf":"$sfDir","queries":$qJson,""" +
      s""""total":${ScaleCorpus.fmt(results.map(_._2).sum)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
