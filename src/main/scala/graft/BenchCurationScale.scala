package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the round-10 curation family (q194
  * cluster-aware splits, q195 snapshot diff, q196 drop audit, q197 phrase
  * search, q198 budget apportionment, q199 boilerplate removal) at 1x and
  * `COPIES`x the sf0.1 document count.
  *
  * The shapes these points test: every query is one or two corpus scans
  * feeding keyed aggregates/joins — no window over the corpus, no
  * doc x doc frame — so wall should track the document count ~linearly
  * and the governance outputs stay dimension-sized (splits, sources,
  * source x status) regardless of corpus size. Copies are keyed
  * `doc_id + j * n_base` (j=0 preserves every original id — the round-6
  * lesson) with text untouched, so per-source structure replicates
  * exactly.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_curation.json` in the cwd. */
object BenchCurationScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_cur")
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    val qs: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q194_cluster_split", "q195_snapshot_diff",
        "q196_drop_audit", "q197_phrase_search", "q198_token_budget",
        "q199_boilerplate"))

    val base = Tables.documents(spark, sfDir)
    val nBase = base.count()

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scaleDir/${c}x"
      base.select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), explode(sequence(lit(0L), lit(c - 1L))).as("j"))
        .select((col("doc_id") + col("j") * nBase).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val results = qs.map { name =>
        val fn: (SparkSession, String) => DataFrame = SparkEntry.queries(name)
        MemoRegistry.resetAll()
        spark.catalog.clearCache()
        var rows = 0L
        def once(): Double = {
          val t0 = System.nanoTime()
          // hash every output column so Catalyst cannot prune the work
          // down to a row count (the round-8 lesson)
          val df = fn(spark, dir)
          val r = df
            .select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
            .agg(count(lit(1)), expr("bit_xor(h)")).collect()
          rows = r.head.getLong(0)
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val sec = Seq(once(), once(), once()).sorted.apply(1)
        (name, sec, rows)
      }
      (c, nDocs, results)
    }

    val parts = rounds.map { case (c, n, rs) =>
      val qj = rs.map { case (name, s, r) =>
        s""""${name.takeWhile(_ != '_')}":{"sec":${fmt(s)},"rows":$r}"""
      }.mkString(",")
      s""""${c}x":{"docs":$n,$qj}"""
    }
    val line =
      s"""{"metric":"curation_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_curation.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
