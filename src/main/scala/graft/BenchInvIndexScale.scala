package graft

import graft.operators.InvIndex
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the persisted inverted index (q213/q214):
  * at 1x and COPIESx the sf0.1 corpus it separates the store's SUNK cost
  * from its recurring ones —
  *
  *  - `init`: the whole corpus ingested as one marker-committed batch
  *    (O(corpus) by construction, paid once per store life);
  *  - `delta`: a FIXED-SIZE 500-doc ingest round against the grown store
  *    (the r11 sidecar discipline: fixed delta under a growing corpus) —
  *    the claim is O(delta + pruned dup-check), so this wall must stay
  *    near-flat while the corpus scales 100x;
  *  - `search`: BM25 top-k served FROM the store (median of three after
  *    one warmup; read-only) — reads the query terms' 3/64 postings
  *    buckets plus candidate dl buckets, so it tracks the TERMS' posting
  *    mass, not the corpus;
  *  - `batch`: the q183 batch recompute over the same corpus — the
  *    no-store baseline `search` is measured against (it re-tokenizes
  *    the corpus every query).
  *
  * Emits ONE JSON line; writes `BENCH_sf1_invidx[_<copies>x].json`. */
object BenchInvIndexScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_invidx")
    val outFile =
      if (copies == 10) "BENCH_sf1_invidx.json" else s"BENCH_sf1_invidx_${copies}x.json"
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    ScaleCorpus.scaledDocs(Tables.documents(spark, sfDir), copies)
      .write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
    val docs = Tables.parallel(Tables.documents(spark, scaleDir))
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = s"$scaleDir/store"
    fs.delete(new org.apache.hadoop.fs.Path(root), true)

    def once(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median3(f: => Unit): Double = {
      f // warmup
      Seq.fill(3)(once(f)).sorted.apply(1)
    }

    val tInit = once { InvIndex.ingest(spark, root, docs, 0L) }

    // fixed-size delta with fresh ids (the key-offset discipline: j = 0
    // originals keep their ids; the delta takes ids past the max)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val delta = docs.orderBy(col("doc_id")).limit(500)
      .select((col("doc_id") + maxId + 1L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val tDelta = once { InvIndex.ingest(spark, root, delta, 1L) }

    val terms = Seq("join", "hash", "filter")
    var searchRows = 0L
    val tSearch = median3 {
      searchRows = InvIndex.search(spark, root, terms, 20).count()
    }
    var statsRows = 0L
    val tStats = once { statsRows = InvIndex.stats(spark, root).count() }
    var batchRows = 0L
    val tBatch = median3 {
      batchRows = queries.PipelineQueries.q183(spark, scaleDir).count()
    }

    val line = s"""{"metric":"invidx_scale","unit":"sec","n_docs":$nDocs,""" +
      s""""copies":$copies,"base_sf":"$sfDir",""" +
      s""""init":${fmt(tInit)},"delta":${fmt(tDelta)},""" +
      s""""search":{"sec":${fmt(tSearch)},"rows":$searchRows},""" +
      s""""stats":{"sec":${fmt(tStats)},"rows":$statsRows},""" +
      s""""batch":{"sec":${fmt(tBatch)},"rows":$batchRows}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
