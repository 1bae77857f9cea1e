package graft

import graft.operators.IncrementalDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for INCREMENTAL dedup: measures one fixed-size
  * delta round against signature stores 1x and `COPIES`x the sf0.1 corpus.
  * The claim under test is the operator's whole point — per-round cost is
  * O(store signatures + delta + candidates), NOT O(corpus text): the store
  * side participates only through its few-longs signature rows (banded
  * map-side, shuffled as 4 short band keys per doc), and corpus text is
  * re-shingled only for docs that land in a candidate pair. So a 10x store
  * should move a fixed delta's wall time far less than 10x, and the pair
  * count should track the delta's construction, not the store size.
  *
  * Protocol per store size: build the store fresh (initStore over the
  * scaled corpus), then run the SAME 500-doc delta (near-copies of 500
  * original base docs, re-keyed into a disjoint id range, so each delta
  * doc pairs with its source clique in the store), median of 3 — the store
  * is re-initialized before every reprise so each measured round does the
  * full append path, not a no-op replay.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_inc.json` in the cwd.
  */
object BenchIncrementalScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val workDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_inc")
    val spark = EngineSession.create()

    val base = Tables.documents(spark, sfDir)
    // The delta: near-copies of 500 base docs, re-keyed past every scaled
    // id (scaled ids < n_base * copies * copies). Deterministic; each delta
    // doc near-dups its source doc's clique in the store.
    val delta = base.filter(col("doc_id") % 10 === 0 && col("doc_id") < 5000)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"),
        concat(col("text"), lit(" deltacopy")).as("text"))
      .localCheckpoint(true)
    val nDelta = delta.count() // 500 at the default sf0.1; measured, not assumed

    val rounds = Seq(1, copies).map { c =>
      val corpusPath = s"$workDir/docs_${c}x.parquet"
      ScaleCorpus.scaledDocs(base, c)
        .select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(corpusPath)
      val store = spark.read.parquet(corpusPath)
      val corpus = store.unionByName(delta)
      val nStore = store.count()
      var pairs = 0L
      def once(): Double = {
        val storeDir = s"$workDir/sigs_${c}x"
        IncrementalDedup.initStore(storeDir, store) // fresh store per rep
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        pairs = IncrementalDedup.processDelta(spark, storeDir, corpus, delta).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val sec = Seq(once(), once(), once()).sorted.apply(1)
      (c, nStore, sec, pairs)
    }

    val rJson = rounds.map { case (c, n, s, p) =>
      s"""{"copies":$c,"store_docs":$n,"delta_docs":$nDelta,"sec":${ScaleCorpus.fmt(s)},"pairs":$p}"""
    }.mkString("[", ",", "]")
    val (s1, sN) = (rounds.head._3, rounds.last._3)
    val line = s"""{"metric":"incremental_dedup_scale","unit":"sec",""" +
      s""""base_sf":"$sfDir","rounds":$rJson,""" +
      s""""store_growth":${rounds.last._2 / math.max(1L, rounds.head._2)},""" +
      s""""delta_time_growth":${ScaleCorpus.fmt(sN / s1)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_inc.json"),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
