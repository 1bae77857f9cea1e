package graft

import graft.operators.HllSketch
import org.apache.spark.sql.functions._

/** Scale-evidence sidecar for the mergeable-sketch family: measures HLL
  * distinct-estimation against corpora 1x and `COPIES`x sf0.1, on three
  * paths whose scaling the SCALE.md claims predict:
  *
  *  - `exact`: countDistinct per source — the truth path whose shuffle
  *    grows with the distinct-shingle count (the thing sketches replace);
  *  - `build`: full register build — scan-bound (one corpus pass), but the
  *    EXCHANGE is bounded at sources x m rows per task regardless of
  *    corpus size (the partial-agg-is-the-sketch claim);
  *  - `fold`: incremental maintenance — a fixed 500-doc delta max-merged
  *    into pre-built registers; cost must track the DELTA, not the corpus
  *    (registers are sources x 64 rows at any scale).
  *
  * Scaled docs keep every original doc at j=0 and clones carry perturbed
  * text (`ScaleCorpus.scaledDocs`; no id-threshold roles exist here, so
  * the id*copies+j re-keying is safe), which grows the distinct-shingle
  * population with copies — the exact path gets genuinely harder while
  * register state stays constant-size.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_sketch.json` in the cwd.
  */
object BenchSketchScale {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = EngineSession.create()

    val base = Tables.documents(spark, sfDir)
    val delta = base.select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("source"),
        concat(col("text"), lit(" sketchdelta")).as("text"))
      .localCheckpoint(true)
    val nDelta = delta.count()

    def medianOf3(f: () => Double): Double =
      Seq(f(), f(), f()).sorted.apply(1)

    val rounds = Seq(1, copies).map { c =>
      val docs = ScaleCorpus.scaledDocs(base, c)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint(true)
      val n = docs.count()
      val ranked = HllSketch.ranked(docs)

      val exactSec = medianOf3 { () =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        ranked.groupBy(col("source"))
          .agg(countDistinct(col("s")).as("d")).count()
        (System.nanoTime() - t0) / 1e9
      }
      val buildSec = medianOf3 { () =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        HllSketch.registers(ranked).count()
        (System.nanoTime() - t0) / 1e9
      }
      // pre-built registers (the persisted store analog), then fold a delta
      val regs = HllSketch.registers(ranked).localCheckpoint(true)
      val nRegs = regs.count()
      val foldSec = medianOf3 { () =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        HllSketch.registers(
          regs.withColumnRenamed("m", "rho").unionByName(
            HllSketch.ranked(delta).select(col("source"), col("idx"), col("rho"))),
          valueCol = "rho").count()
        (System.nanoTime() - t0) / 1e9
      }
      (c, n, nRegs, exactSec, buildSec, foldSec)
    }

    import ScaleCorpus.fmt
    val parts = rounds.map { case (c, n, nRegs, ex, b, f) =>
      s""""${c}x":{"docs":$n,"registers":$nRegs,"exact_sec":${fmt(ex)},"build_sec":${fmt(b)},"fold_sec":${fmt(f)}}"""
    }
    val line =
      s"""{"metric":"hll_sketch_scale","unit":"sec","delta_docs":$nDelta,${parts.mkString(",")},"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_sketch.json"),
      (line + "\n").getBytes)
    println(line)
    spark.stop()
  }
}
