package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the q47-vs-q166 repetition-signal pair: the
  * SAME Gopher top-unigram/top-bigram signals, computed with in-row array
  * HOFs (q47 — O(tokens^2) PER DOCUMENT, zero shuffles) versus an
  * explode + (doc, gram)-keyed aggregate (q166 — O(tokens) per document,
  * two shuffles). The claim under test: at a FIXED total token budget,
  * q47's wall grows linearly with document LENGTH (docs x L^2 = total x L)
  * while q166's stays flat — so the HOF shape is right for bounded web
  * pages and the keyed shape is right for heavy-tailed book/code corpora.
  *
  * Corpora are derived deterministically from sf0.1 documents at constant
  * total tokens: length factor k keeps every doc_id % k == 0 and repeats
  * its text k times (token count x k, doc count / k — total tokens
  * constant across rounds, so wall differences are attributable to the
  * length distribution alone, not corpus size). Emits ONE JSON line and
  * writes `BENCH_sf1_longdoc.json` in the cwd.
  */
object BenchLongdocScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_longdoc")
    // Default ladder stops at 64x: a k=256 attempt left ONE straggler
    // document (the longest base doc x256) alone on a core for >30 min in
    // the HOF leg — the quadratic per-doc blowup this sidecar exists to
    // demonstrate, already conclusive (and boundable) at the 64x point.
    val ks: Seq[Int] = sys.env.get("SPARK_GRAFT_LONGDOC_KS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 8, 64))
    val spark = EngineSession.create()
    val qs = Seq("q47_repetition_signals", "q166_repetition_linear")

    val rounds = ks.map { k =>
      val dir = s"$scaleDir/${k}x"
      Tables.documents(spark, sfDir)
        .where(col("doc_id") % k === 0)
        .select(col("doc_id"),
          array_join(array_repeat(col("text"), k), " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val stats = spark.read.parquet(s"$dir/documents.parquet")
        .agg(count(lit(1)), sum(size(split(col("text"), " ")))).collect().head
      val (nDocs, nTokens) = (stats.getLong(0), stats.getLong(1))
      val results = qs.map { name =>
        val fn: (SparkSession, String) => DataFrame = SparkEntry.queries(name)
        MemoRegistry.resetAll()
        spark.catalog.clearCache()
        var rows = 0L
        def once(): Double = {
          val t0 = System.nanoTime()
          // hash every output column — a bare count() lets Catalyst prune
          // pure per-doc projections to a parquet row count (r8 gotcha)
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
      (k, nDocs, nTokens, results)
    }

    import ScaleCorpus.fmt
    val parts = rounds.map { case (k, nd, nt, rs) =>
      val qj = rs.map { case (name, s, r) =>
        s""""${name.takeWhile(_ != '_')}":{"sec":${fmt(s)},"rows":$r}"""
      }.mkString(",")
      s""""${k}x":{"docs":$nd,"tokens":$nt,$qj}"""
    }
    val line =
      s"""{"metric":"longdoc_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_longdoc.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
