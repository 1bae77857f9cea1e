package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the multimodal family: image exact-dedup
  * (q121), image near-dup banding (q144), audio content dedup (q128) and
  * video shared-frame near-dup (q168) at 1x and `COPIES`x the sf0.1
  * document count.
  *
  * The SCALE.md claims these points test: decode cost is one codec pass
  * per payload (embarrassingly parallel, so wall tracks payload count
  * linearly), and candidate pairs form only inside content-key buckets
  * (fingerprint / band / frame-signature equi-joins), never payload x
  * payload. Pair COUNTS track the data's true duplicate structure, which
  * here is superlinear past 1x: the pixel/sample generators are periodic
  * in the group id (mod 256 channel arithmetic x mod 7/5 dims), so a
  * larger id range contains genuine cross-group exact dups. The 10x q168
  * count was confirmed EXACTLY against a DuckDB replay of the signature
  * arithmetic over the scaled ids (131,718 pairs) — the engine finds the
  * full structure without ever joining payload x payload, and wall stays
  * ~linear in payloads even as pairs grow 17-23x.
  *
  * Scaled ids are keyed `doc_id + j * n_base` (NOT `* copies`): the
  * multimodal generators derive content from doc_id group arithmetic
  * (id DIV 4 / id % 4), and n_base = 5000 is divisible by 4, so every
  * copy preserves the planted group structure exactly — the j-th copy is
  * a fresh corpus, not a perturbation. Only doc_id matters to these
  * queries; the other columns ride along unchanged. Emits ONE JSON line
  * and writes `BENCH_sf1_multimodal.json` in the cwd.
  */
object BenchMultimodalScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_mm")
    val spark = EngineSession.create()

    val qs: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(
        "q121_image_dedup", "q144_image_neardup", "q128_audio_dedup",
        "q168_video_neardup", "q176_audio_neardup"))

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
          // hash every output column (bare count() lets Catalyst prune
          // the decode projection away — the round-8 lesson)
          val df = fn(spark, dir)
          val r = df
            .select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
            .agg(count(lit(1)), expr("bit_xor(h)")).collect()
          rows = r.head.getLong(0)
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val sec = Seq(once(), once(), once()).sorted.apply(1)
        // near-dup legs: record the CANDIDATE volume next to the verified
        // rows — the quadratic-blowup risk lives in the candidate frame,
        // and "rows" alone can't show a collision-prone band key
        val cand =
          if (name == "q176_audio_neardup")
            queries.MultimodalQueries.q176Candidates(spark, dir)._2.count()
          else -1L
        (name, sec, rows, cand)
      }
      (c, nDocs, results)
    }

    import ScaleCorpus.fmt
    val parts = rounds.map { case (c, n, rs) =>
      val qj = rs.map { case (name, s, r, cand) =>
        val candJ = if (cand >= 0) s""","cand_pairs":$cand""" else ""
        s""""${name.takeWhile(_ != '_')}":{"sec":${fmt(s)},"rows":$r$candJ}"""
      }.mkString(",")
      s""""${c}x":{"docs":$n,$qj}"""
    }
    val line =
      s"""{"metric":"multimodal_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_multimodal.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
