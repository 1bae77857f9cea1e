package graft

import graft.operators.DupClusters
import org.apache.spark.sql.SparkSession

/** Scale-evidence sidecar for connected components: star contraction's
  * round count must stay ~log(diameter) while label propagation pays one
  * round per hop. Runs both algorithms over path graphs (worst-case
  * diameter for a dup-pair graph — e.g. chained crawl revisions where each
  * snapshot near-dups only its neighbors), records rounds + wall, and
  * cross-checks labels between the two algorithms where both run.
  *
  * Path of n edges = component diameter n: label propagation needs n
  * rounds (run only at the small diameters — it IS the quadratic-ish
  * baseline), star contraction a handful at every size.
  *
  * Emits ONE JSON line and writes `BENCH_sf1_cc.json` in the cwd.
  */
object BenchCcScale {

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = EngineSession.create()
    import spark.implicits._

    // label-prop cap: beyond this diameter only star contraction runs
    // (label-prop's cost is rounds * per-round job overhead — measuring
    // 4096 sequential Spark jobs tells us nothing new about the shape)
    val labelPropMaxDiameter = 256

    case class Point(diameter: Int, starRounds: Int, starSec: Double,
      labelRounds: Int, labelSec: Double, labelsAgree: Boolean)

    val points = Seq(64, 256, 1024, 4096).map { n =>
      val pairs = spark.range(0, n.toLong)
        .selectExpr("id AS doc_a", "id + 1 AS doc_b")
        .repartition(32)
      pairs.cache().count()

      val t0 = System.nanoTime()
      // force the distributed tier: the rounds-vs-diameter claim is about
      // the star contraction, not the driver union-find fast path
      val (starLabels, starRounds) =
        DupClusters.assignStarWithRounds(pairs, driverMaxEdges = 0)
      val starRows = starLabels.as[(Long, Long)].collect().sortBy(_._1)
      val starSec = (System.nanoTime() - t0) / 1e9
      require(starRows.length == n + 1 && starRows.forall(_._2 == 0L),
        s"star contraction mislabeled the $n-path")

      val (labelRounds, labelSec, agree) =
        if (n <= labelPropMaxDiameter) {
          val t1 = System.nanoTime()
          val lp = DupClusters.assign(pairs, maxIters = n + 2)
            .as[(Long, Long)].collect().sortBy(_._1)
          val sec = (System.nanoTime() - t1) / 1e9
          // label prop moves min-labels one hop per round: rounds = diameter
          (n, sec, lp.sameElements(starRows))
        } else (-1, -1.0, true)

      pairs.unpersist()
      Point(n, starRounds, starSec, labelRounds, labelSec, agree)
    }

    require(points.forall(_.labelsAgree), "algorithms disagreed on labels")
    val pJson = points.map { p =>
      val lp = if (p.labelRounds >= 0)
        s""","label_rounds":${p.labelRounds},"label_sec":${ScaleCorpus.fmt(p.labelSec)}"""
      else ""
      s""""d${p.diameter}":{"star_rounds":${p.starRounds},"star_sec":${ScaleCorpus.fmt(p.starSec)}$lp}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"cc_scale","unit":"sec","graph":"path",""" +
      s""""points":$pJson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_sf1_cc.json"),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
