package graft

import graft.operators.IncrementalSubstr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale evidence for the round-12 incremental substring refresh (q211):
  * a span-report REFRESH on a grown corpus must cost the delta plus the
  * affected holders, not the corpus. Corpus axis only (the r11 lesson:
  * the claim-carrying axis is a FIXED-size delta under a growing corpus;
  * a proportional delta's refresh legitimately tracks the batch) —
  * corpus 1x -> COPIESx salted copies ([[BenchSubstrScale.copiedDocs]],
  * the sparse regime q208 is designed for), delta fixed at ~500 docs
  * (`doc_id % (10*c) = 0`).
  *
  * Each point reports: the sunk init ingest (the store build the refresh
  * amortizes), the timed refresh (delta ingest + report consumption),
  * and the batch recompute wall over the same corpus. The incremental
  * report's row hash is REQUIRED equal to the batch's at every point —
  * the sidecar re-gates equivalence at scale, not just at the q211
  * oracle's SF.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_substr_inc.json` in cwd. */
object BenchSubstrIncScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_substrinc")
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    val base = Tables.documents(spark, sfDir)
    val nBase = base.count()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

    def consume(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scaleDir/${c}x"
      BenchSubstrScale.copiedDocs(base, nBase, c, salted = true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // the scaled corpus lands as few parquet files — spread it before
      // the per-row window work on BOTH legs (q208 does the same via
      // Tables.parallel; without it the batch leg pays a single-task
      // scan and the comparison flatters the refresh)
      val docs = Tables.parallel(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"))
      val nDocs = docs.count()
      val deltaMod = 10L * c
      val v1 = docs.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0L)
      val delta = docs.filter(pmod(col("doc_id"), lit(deltaMod)) === 0L)
      val nDelta = delta.count()

      MemoRegistry.resetAll(); spark.catalog.clearCache()
      val root = s"$dir/store"
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      // refresh-only root (q211's shape): no bloom sidecar in the timing
      // (a 500-doc delta touches every ledger bucket, so the screen could
      // not prune IO and the fold would be pure overhead)
      val initSec = timed {
        IncrementalSubstr.ingest(spark, root, v1, v1, maintainBloom = false,
          buckets = 64)
      }
      // identical pre-state for the second route: a filesystem copy of
      // the initialized root (deterministic re-init would cost another
      // full init at 100x; the copy is ledger IO only)
      val root2 = s"$dir/store2"
      fs.delete(new org.apache.hadoop.fs.Path(root2), true)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
        fs, new org.apache.hadoop.fs.Path(root2), false,
        spark.sparkContext.hadoopConfiguration)
      val preBytes = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$root/wins")).getLength
      var repHash = 0L
      val refreshSec = timed {
        IncrementalSubstr.ingest(spark, root, docs, delta,
          maintainBloom = false, buckets = 64, route = "refresh")
        repHash = consume(IncrementalSubstr.report(spark, root))._2
      }
      val recomputeSec = timed {
        IncrementalSubstr.ingest(spark, root2, docs, delta,
          maintainBloom = false, buckets = 64, route = "recompute")
        val rHash = consume(IncrementalSubstr.report(spark, root2))._2
        require(rHash == repHash,
          s"recompute route diverged from refresh at ${c}x")
      }
      // what the shipping router would have picked for this point (the
      // delta's staged bytes = the ledger growth this round caused)
      val postBytes = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$root/wins")).getLength
      val routed = IncrementalSubstr.routeFor(preBytes, postBytes - preBytes)
      val batchDocs = docs.select(col("doc_id"), col("text"),
        length(col("text")).as("len"))
      val batchSec = timed {
        val (_, bHash) = consume(IncrementalSubstr.batchReport(batchDocs))
        require(bHash == repHash,
          s"incremental report diverged from batch at ${c}x")
      }
      (c, nDocs, nDelta, initSec, refreshSec, recomputeSec, batchSec, routed)
    }

    val parts = rounds.map { case (c, n, d, i, r, rc, b, routed) =>
      s""""${c}x":{"docs":$n,"delta_docs":$d,"init":${fmt(i)},""" +
        s""""refresh":${fmt(r)},"recompute":${fmt(rc)},"batch":${fmt(b)},""" +
        s""""routed":"$routed"}"""
    }
    val line =
      s"""{"metric":"substr_inc_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_substr_inc.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
