package graft

import org.apache.spark.sql.functions._

/** Dev probe for the BPE trainer's hostile-vocab scale shape: trains 10
  * merges on the 10x ScaleCorpus (unique token interleaved after every
  * filler word => ~50x vocab), warmup + best-of-2, printing per-rep wall
  * time. Used to attribute the BENCH_sf1 q108 number; not part of the
  * driver bench surface. */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = EngineSession.create()
    val docs = ScaleCorpus.scaledDocs(Tables.documents(spark, sfDir), 10)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    println(s"docs=${docs.count()}")
    def once(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val m = graft.operators.BpeTrainer.train(graft.Tables.parallel(docs), 10)
      val s = (System.nanoTime() - t0) / 1e9
      println(s"merges=${m.size} last=${m.last} sec=$s")
      s
    }
    once(); val sec = Seq(once(), once()).min
    println(f"BPE_HOSTILE_10MERGES_SEC=$sec%.2f")
    spark.stop()
  }
}
