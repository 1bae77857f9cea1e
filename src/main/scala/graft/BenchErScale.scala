package graft

import graft.operators.DupClusters
import graft.queries.ExtraQueries
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the entity-resolution family (q184 fuzzy
  * join, q191 canonical ids): the design claim — FastSS
  * deletion-neighborhood cost tracks the NAME DICTIONARY, never the
  * record table — measured instead of prose.
  *
  * Two axes:
  *  - `records`: the part table grows 1x/10x/100x with the SAME 64-name
  *    dictionary (copies re-key p_partkey only). Signatures, candidate
  *    pairs, verified pairs, and star-contraction rounds must stay FLAT;
  *    only the dictionary-extraction scan sees the extra rows.
  *  - `dict`: the dictionary itself grows 1x/8x/26x (each copy j prefixes
  *    every name with a 4-char block `repeat(letter_j, 4)`, so copies sit
  *    >= 4 edits apart and cross-copy pairs stay out of the lev<=3
  *    radius). Signatures and pairs must grow ~linearly in names —
  *    per-name deletion neighborhoods are O(len^3) and independent.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_er.json` in the cwd.
  */
object BenchErScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_er")
    val spark = EngineSession.create()
    import ScaleCorpus.fmt

    val base = Tables.part(spark, sfDir)
    val nBase = base.count()

    /** Time q184 end-to-end (hash-forced output), then count each blocking
      * stage and run the contraction with its round counter. */
    def measure(dir: String): String = {
      spark.catalog.clearCache()
      var rows = 0L
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = ExtraQueries.q184(spark, dir)
        val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(count(lit(1)), expr("bit_xor(h)")).collect()
        rows = r.head.getLong(0)
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val sec184 = Seq(once(), once(), once()).sorted.apply(1)
      val nRecords = Tables.part(spark, dir).count()
      val names = Tables.part(spark, dir).select(col("p_name").as("name")).distinct()
      val (sigs, cands, ver) = ExtraQueries.fuzzyNameStages(names)
      val nNames = names.count()
      val nSigs = sigs.count()
      val nCands = cands.count()
      val pairs = ver.select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
      val t1 = System.nanoTime()
      // force the distributed tier: this sidecar's star_rounds field IS
      // the log^2 evidence, which the driver union-find tier would absorb
      val (labels, rounds) =
        DupClusters.assignStarWithRounds(pairs, driverMaxEdges = 0)
      val nEntities = labels.select(col("cluster_id")).distinct().count()
      val sec191 = (System.nanoTime() - t1) / 1e9
      s"""{"records":$nRecords,"names":$nNames,"sigs":$nSigs,""" +
        s""""cand_pairs":$nCands,"verified_pairs":$rows,""" +
        s""""entities":$nEntities,"star_rounds":$rounds,""" +
        s""""sec_q184":${fmt(sec184)},"sec_q191":${fmt(sec191)}}"""
    }

    // records axis: same dictionary, 1x/10x/100x record rows
    val recPoints = Seq(1, 10, 100).map { c =>
      val dir = s"$scaleDir/rec${c}x"
      base.select(base.columns.map(col): _*)
        .withColumn("j", explode(sequence(lit(0L), lit(c - 1L))))
        .withColumn("p_partkey", col("p_partkey") + col("j") * nBase)
        .drop("j")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      s""""${c}x":${measure(dir)}"""
    }

    // dictionary axis: 1x/8x/26x distinct names over a fixed record count
    val dictPoints = Seq(1, 8, 26).map { dcopies =>
      val dir = s"$scaleDir/dict${dcopies}x"
      base.select(base.columns.map(col): _*)
        .withColumn("j", explode(sequence(lit(0L), lit(dcopies - 1L))))
        .withColumn("p_partkey", col("p_partkey") + col("j") * nBase)
        .withColumn("p_name",
          concat(expr("repeat(substring('abcdefghijklmnopqrstuvwxyz', " +
            "CAST(j AS INT) + 1, 1), 4)"), lit(" "), col("p_name")))
        .drop("j")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      s""""${dcopies}x":${measure(dir)}"""
    }

    val line = s"""{"metric":"er_scale","unit":"sec",""" +
      s""""records":{${recPoints.mkString(",")}},""" +
      s""""dict":{${dictPoints.mkString(",")}},"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_sf1_er.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
