package graft

import graft.operators.IncrementalSubstr
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale evidence for the round-12 online exact-substring admission
  * probe (q212): at 1x and COPIESx the salted sf0.1 corpus, a one-doc
  * probe is timed in its three ledger tiers —
  *
  *  - `clean`: a document sharing nothing with the store (the common
  *    admission case) — the BLOOM fast-negative answers with zero
  *    ledger IO, so this wall must stay FLAT as the ledger grows;
  *  - `dup`: a document sharing one stored span — bloom-positive
  *    windows prune the ledger read to their bucket sub-partitions;
  *  - `clean_nobloom` / `dup_nobloom`: the same probes with the bloom
  *    sidecar moved aside (the pre-bloom full semi-joined ledger scan)
  *    — the baseline the tiers are measured against.
  *
  * Probes are read-only, so each point is a median of three after one
  * warmup. Emits ONE JSON line; writes `BENCH_sf1_substr_probe.json`. */
object BenchSubstrProbeScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "100").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_substrprobe")
    val spark = EngineSession.create()
    import ScaleCorpus.fmt
    import spark.implicits._

    val base = Tables.documents(spark, sfDir)
    val nBase = base.count()
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

    val cleanDoc = Seq(900000001L ->
      ("qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll zz " +
        "xx cc vv bb nn mm q1 w2 e3 r4 t5 y6 u7 i8 o9 p0")).toDF("doc_id", "text")

    def median3(f: => Unit): Double = {
      f // warmup
      Seq.fill(3) {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }

    val rounds = Seq(1, copies).map { c =>
      val dir = s"$scaleDir/${c}x"
      BenchSubstrScale.copiedDocs(base, nBase, c, salted = true)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.parallel(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"))
      val root = s"$dir/store"
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      IncrementalSubstr.ingest(spark, root, docs, docs)
      // the dup probe carries a 60-char slice of a STORED (salted) text,
      // so exactly one shared span should come back
      val donor = docs.orderBy(col("doc_id")).select(col("text"))
        .head().getString(0)
      val dupDoc = Seq(900000002L ->
        s"unique head material ${donor.substring(0, 60)} unique tail material")
        .toDF("doc_id", "text")
      def runProbe(d: DataFrame): Double =
        median3 { IncrementalSubstr.probe(spark, root, d).collect() }
      val clean = runProbe(cleanDoc)
      val dup = runProbe(dupDoc)
      // baseline: same probes without the bloom (full semi-joined scan)
      val bp = new org.apache.hadoop.fs.Path(s"$root/bloom/filter.bin")
      val bpAside = new org.apache.hadoop.fs.Path(s"$root/bloom/filter.aside")
      require(fs.rename(bp, bpAside), "could not move bloom aside")
      val cleanNb = runProbe(cleanDoc)
      val dupNb = runProbe(dupDoc)
      require(fs.rename(bpAside, bp), "could not restore bloom")
      val ledgerRows = spark.read.parquet(s"$root/wins").count()
      (c, c * nBase, ledgerRows, clean, dup, cleanNb, dupNb)
    }

    val parts = rounds.map { case (c, n, lr, cl, du, clNb, duNb) =>
      s""""${c}x":{"docs":$n,"ledger_rows":$lr,"clean":${fmt(cl)},""" +
        s""""dup":${fmt(du)},"clean_nobloom":${fmt(clNb)},"dup_nobloom":${fmt(duNb)}}"""
    }
    val line =
      s"""{"metric":"substr_probe_scale","unit":"sec",${parts.mkString(",")},"sf":"$sfDir"}"""
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_substr_probe.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
