package graft

import graft.plans.QueryMetrics
import org.apache.spark.sql.functions._

/** Class-count sidecar for the trained language-ID: runs q138 (split
  * eval, grouped scoring frame) and q158 (corpus-wide deployment via
  * map-side literal weights) on the sf0.1 corpus relabeled with 5 vs 50
  * SYNTHETIC languages (hash-assigned, so per-class data shrinks but the
  * model grows 10x), recording wall, shuffle, and input records.
  *
  * The claims under test (the r8 verdict's "class-count axis"):
  *
  *  - q158's scoring is a pure projection over the literal model — input
  *    records and shuffle bytes must be class-count INDEPENDENT (the 10x
  *    class growth may cost per-row arithmetic, never a wider frame);
  *  - q138's widest frame is distinct-(doc, bigram) x classes AFTER the
  *    occurrence aggregation — shuffle may grow with the class count but
  *    only on that post-shrink frame, never occurrences x classes (the
  *    pre-fix shape this sidecar exists to keep dead).
  *
  * Emits ONE JSON line and writes `BENCH_sf1_langid.json` in the cwd.
  */
object BenchLangidScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_langid")
    val spark = EngineSession.create()

    val rounds = Seq(5, 50).map { nLangs =>
      val dir = s"$scaleDir/${nLangs}langs"
      Tables.documents(spark, sfDir)
        .withColumn("lang", concat(lit("lang_"),
          lpad(pmod(xxhash64(col("doc_id")), lit(nLangs)).cast("string"), 2, "0")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val results = Seq("q138_langid_v2", "q158_langid_deploy").map { name =>
        val fn = SparkEntry.queries(name)
        MemoRegistry.resetAll()
        spark.catalog.clearCache()
        var rows = 0L
        def once(): (Double, QueryMetrics.Metrics) = {
          val t0 = System.nanoTime()
          val (_, m) = QueryMetrics.measureAction(spark) {
            // checksum every output column: force honest evaluation
            val df = fn(spark, dir)
            val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
              .agg(count(lit(1)), expr("bit_xor(h)")).collect()
            rows = r.head.getLong(0)
          }
          ((System.nanoTime() - t0) / 1e9, m)
        }
        once() // warmup
        val (sec, m) = Seq(once(), once(), once()).sortBy(_._1).apply(1)
        (name, sec, rows, m)
      }
      (nLangs, results)
    }

    import ScaleCorpus.fmt
    val parts = rounds.map { case (l, rs) =>
      val qj = rs.map { case (name, s, r, m) =>
        s""""${name.takeWhile(_ != '_')}":{"sec":${fmt(s)},"rows":$r,""" +
          s""""inputRecords":${m.inputRecords},"shuffleWriteBytes":${m.shuffleWriteBytes}}"""
      }.mkString(",")
      s""""${l}_langs":{$qj}"""
    }
    val line =
      s"""{"metric":"langid_class_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_langid.json"),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
