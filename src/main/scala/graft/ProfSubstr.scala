package graft

import org.apache.spark.sql.functions._

/** Scratch profiler for the q211/q212 substring stores — per-round wall
  * clocks at the bench SF. Not part of the bench surface. */
object ProfSubstr {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.create()
    def timed(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"PROF $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // q211 shape
    timed("q211 total") {
      val root = java.nio.file.Files.createTempDirectory("profsubstr").toString
      val docs = Tables.documents(spark, d)
      Seq(1L, 2L, 0L).foreach { k =>
        timed(s"  ingest k=$k") {
          graft.operators.IncrementalSubstr.ingest(spark, root, docs,
            docs.filter(pmod(col("doc_id"), lit(3L)) === k),
            maintainBloom = false)
        }
      }
      timed("  report") {
        graft.operators.IncrementalSubstr.report(spark, root)
          .orderBy(col("doc_id")).collect()
      }
    }

    // q212 shape
    timed("q212 total") {
      val root = java.nio.file.Files.createTempDirectory("profprobe").toString
      val docs = Tables.documents(spark, d)
      val store = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      Seq(1L, 0L).foreach { k =>
        timed(s"  ingest k=$k") {
          graft.operators.IncrementalSubstr.ingest(spark, root, store,
            store.filter(pmod(col("doc_id"), lit(2L)) === k))
        }
      }
      timed("  probe") {
        graft.operators.IncrementalSubstr
          .probe(spark, root, docs.filter(pmod(col("doc_id"), lit(7L)) === 0L))
          .orderBy(col("doc_id")).collect()
      }
    }
    spark.stop()
  }
}
