package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the round-8 eval/governance family: runs the
  * trained language-ID (q138), classifier AUC (q139), OOV drift (q142),
  * dataset card (q143), pipeline funnel (q148), and HTML extraction (q147)
  * against corpora 1x and `COPIES`x sf0.1, recording wall and output rows.
  *
  * The SCALE.md claims these sidecar points test: model/vocabulary state is
  * dim-sized and broadcast (q138's lang x bigram table, q142's top-N
  * vocabulary), report outputs are corpus-size INDEPENDENT (q143: one row
  * per source; q148: five stages; q139: one row), and the corpus pays
  * map-side passes plus one keyed aggregate — so wall should track the
  * corpus linearly while output cardinality stays flat.
  *
  * Scaled docs re-key `doc_id * copies + j` (no id-threshold roles here:
  * the hash splits re-randomize membership but pin no roles). Emits ONE
  * JSON line and writes `BENCH_sf1_eval.json` in the cwd.
  */
object BenchEvalScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_eval")
    val spark = EngineSession.create()

    // SPARK_GRAFT_SCALE_QUERIES narrows the set (comma-separated names)
    // for deep-scale runs where the full family would be hours
    val qs: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(
        "q138_langid_v2", "q139_classifier_auc", "q142_oov_rate",
        "q143_dataset_card", "q147_html_extract", "q148_pipeline_funnel"))

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scaleDir/${c}x"
      ScaleCorpus.scaledDocs(Tables.documents(spark, sfDir), c)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val results = qs.map { name =>
        val fn: (SparkSession, String) => DataFrame = SparkEntry.queries(name)
        MemoRegistry.resetAll()
        spark.catalog.clearCache()
        var rows = 0L
        def once(): Double = {
          val t0 = System.nanoTime()
          // checksum EVERY output column: a bare count() lets Catalyst
          // prune pure per-doc projections down to a parquet row count
          // (q147's extraction measured corpus-size-independent "work"
          // that way) — hashing the full row forces honest evaluation
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

    import ScaleCorpus.fmt
    val parts = rounds.map { case (c, n, rs) =>
      val qj = rs.map { case (name, s, r) =>
        s""""${name.takeWhile(_ != '_')}":{"sec":${fmt(s)},"rows":$r}"""
      }.mkString(",")
      s""""${c}x":{"docs":$n,$qj}"""
    }
    val line =
      s"""{"metric":"eval_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_eval.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
